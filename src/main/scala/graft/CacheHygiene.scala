package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.ColumnBridge

/** Release the storage behind eager `localCheckpoint(true)` frames.
  *
  * A local checkpoint truncates lineage, so its blocks are immortal until
  * explicitly unpersisted — in a long-lived session (a 150-query bench run,
  * a streaming driver running for days) every ingest/Lloyd-pass checkpoint
  * accumulates as an un-collectable cached RDD. Builders that checkpoint
  * intermediates release them as soon as their last consumer has run;
  * frames returned to callers are released by the caller via [[release]]
  * once fully consumed.
  *
  * Near-root-only on purpose: matching follows single-source wrappers
  * (Project/Filter chains — a checkpoint a builder returned with a final
  * column tacked on is still "the checkpoint" to its caller) down to a
  * `LogicalRDD`, and nothing else. Walking the whole tree would also hit
  * checkpoints *embedded* in derived plans (e.g. a join of two
  * checkpointed frames) and unpersist frames still in use.
  */
object CacheHygiene {
  /** Session flag selecting [[materialize]]'s and [[materializeLazy]]'s
    * mode — the cluster-posture seam (r19), the one switch for every
    * lineage-truncating family: `false` (default) =
    * `localCheckpoint` into executor block storage (zero infrastructure,
    * fastest — right for local/bench, but losing an executor loses its
    * blocks and fails the JOB, since truncated lineage cannot recompute);
    * `true` = `checkpoint()` to the session's checkpoint dir (HDFS/object
    * store), where executor loss re-reads the lost partitions instead.
    * A session conf rather than a parameter on every operator because the
    * choice is a DEPLOYMENT property, not a per-call one: a preemptible
    * fleet wants every truncation reliable, a laptop wants none of them.
    * See docs/TUNING.md "Materialization posture at cluster scale".
    */
  val ReliableFlag = "spark.graft.reliableCheckpoints"

  /** Materialize `df` once with truncated lineage, honoring
    * [[ReliableFlag]]. Eager in both modes (the operators that call this
    * need the frame frozen NOW — range boundaries, bucket widths, batch
    * snapshots — and a lazy checkpoint racing two consumers would
    * recompute the expensive lineage). Loud when the reliable mode has
    * no checkpoint dir: silently falling back to local blocks would keep
    * the exact failure mode the flag exists to remove. [[release]] /
    * [[releaseTree]] work on both modes (reliable checkpoint files live
    * under the dir until application end — set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` to reap
    * them with their RDDs).
    */
  def materialize(df: DataFrame, what: String = "materialized frame"): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.get(ReliableFlag, "false").toBoolean) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$what: $ReliableFlag=true needs a checkpoint dir — call " +
          "spark.sparkContext.setCheckpointDir(<HDFS/object-store path>). " +
          "Reliable materialization re-reads lost partitions from the " +
          "checkpoint instead of failing the job on executor loss; " +
          "without a dir there is nothing to re-read from")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }

  /** [[materialize]] fused into the frame's first action. Local mode
    * takes a LAZY `localCheckpoint`: the caller's next action computes,
    * persists and lineage-truncates the frame in ONE job, where the
    * eager form paid a materialize job plus that action (r21/r22: the
    * connected-components rounds, the global rank, the BPE rounds).
    * Only for a frame whose plan is deterministic under task retry
    * (keyed aggs and joins, a range sort whose boundaries the
    * partitioner holds): a retried partition must be bit-identical to
    * the persisted one. Under [[ReliableFlag]] this is [[materialize]]:
    * a lazy reliable checkpoint recomputes the frame to write it, the
    * wrong trade on the cluster path the flag serves.
    */
  def materializeLazy(df: DataFrame, what: String): DataFrame =
    if (df.sparkSession.conf.get(ReliableFlag, "false").toBoolean) materialize(df, what)
    else df.localCheckpoint(eager = false)

  /** Unpersist the block-backed RDD behind checkpointed frames. No-op for
    * frames that are not themselves (possibly projected/filtered)
    * checkpoints. After release the frame must not be read again
    * (lineage is gone — a re-read fails loudly rather than recomputing).
    */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    unwrap(ColumnBridge.analyzed(df)).foreach(_.rdd.unpersist(blocking = false))
  }

  /** Unpersist EVERY checkpoint-backed leaf anywhere under the frames'
    * plans — joins, unions, aggregates included. The deliberate opposite
    * of [[release]]'s near-root discipline, for the one situation the
    * near-root walk cannot serve: a returned frame (e.g.
    * [[graft.operators.ConnectedComponents.run]]'s labels, a join of two
    * checkpoints minted inside the call) whose backing checkpoints the
    * caller owns EXCLUSIVELY and has fully consumed. Calling this on a
    * frame that shares a checkpoint with any still-live frame kills that
    * frame too (lineage is truncated — the next read fails loudly), so:
    * only after the final consumer, only on exclusively-owned plans.
    * Verify invokes it after materializing each query; Bench instead
    * blanket-unpersists ALL persistent RDDs between timings
    * (Bench.scala), which subsumes it — either way, long sessions don't
    * accumulate immortal checkpoint blocks.
    */
  def releaseTree(dfs: DataFrame*): Unit = dfs.foreach { df =>
    ColumnBridge.analyzed(df).foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  @annotation.tailrec
  private def unwrap(plan: LogicalPlan): Option[LogicalRDD] = plan match {
    case lr: LogicalRDD => Some(lr)
    case p: Project => unwrap(p.child)
    case f: Filter => unwrap(f.child)
    case _ => None
  }
}
