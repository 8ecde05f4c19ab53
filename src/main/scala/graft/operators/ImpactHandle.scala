package graft.operators

import java.io.FileNotFoundException
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.ColumnBridge

import graft.sources.CommitStore

/** An OPENED impact-index store ([[TextOps.writeImpactIndex]]'s layout):
  * the serve path's pinned metadata. `postings`, `df` and `ids` are the
  * store's resolved relations — their file listings and schemas were
  * discovered once, at open — kept as analyzed plans, so any session
  * derives its frames from them with no discovery; the frozen scoring
  * context is five driver scalars, so no request reads `stats/` or
  * cross-joins it. Nothing corpus- or vocabulary-sized lives here: file
  * listings, schemas and five numbers.
  *
  * `version` is the store's stamp at open. [[ImpactHandle.of]] serves a
  * handle only while the stamp on disk still equals it.
  */
private[graft] final case class ImpactHandle(version: String,
    postingsPlan: LogicalPlan, dfPlan: LogicalPlan, idsPlan: LogicalPlan,
    k1: Double, b: Double, nd: Long, avgl: Double, topPerTerm: Int) {
  /** The (term, c_id, score_u, rk, tb) posting heads, in `spark`. */
  def postings(spark: SparkSession): DataFrame = ColumnBridge.ofRows(spark, postingsPlan)
  /** The (term, df, tb) table, in `spark`. */
  def df(spark: SparkSession): DataFrame = ColumnBridge.ofRows(spark, dfPlan)
  /** The (c_id, ib) indexed-doc-id registry, in `spark`. */
  def ids(spark: SparkSession): DataFrame = ColumnBridge.ofRows(spark, idsPlan)
}

/** The handle registry and the store's version stamp.
  *
  * Every write to a store ([[TextOps.writeImpactIndex]],
  * [[TextOps.impactIndexAppend]]) ends by writing `_version`: one line
  * holding a fresh UUID. Every read ([[of]]) first reads that line on
  * the driver — one small file read, no Spark job — and reuses the
  * registered handle only when the versions agree. Any other write,
  * including files copied over the store out of band, changes the
  * stamp, so the next request reopens: a handle is never served stale.
  * A store without a stamp (a crashed freeze, a partial copy) is
  * refused loudly.
  *
  * Handles are keyed by the qualified store path alone, so every
  * session — a streaming query's per-run clone included — shares one
  * open per store version, and the registry holds one entry per store.
  * A pinned relation keeps a reference to the session that opened it
  * (Spark's file index does): one session per store, not one per
  * request or drain. The registry is shared driver state; two threads
  * racing a reopen both open and the last one registers, which costs
  * one redundant open, never a stale serve. Writers follow the store's
  * single-writer contract.
  */
private[graft] object ImpactHandle {
  private val StampFile = "_version"

  private val registry = new ConcurrentHashMap[String, ImpactHandle]()
  private val openCount = new AtomicLong()

  private def key(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  private def stampPath(path: String) = new Path(path, StampFile)

  /** How many stores have a registered handle. */
  def size: Int = registry.size

  /** How many opens (store discoveries) this driver has run. */
  def opens: Long = openCount.get

  /** The store's current stamp; LOUD when absent. */
  def stamp(spark: SparkSession, path: String): String =
    try CommitStore.forSession(spark).read(stampPath(path))
    catch {
      case _: FileNotFoundException => throw new IllegalArgumentException(
        s"impact index: no version stamp at $path — freeze one with " +
          "writeImpactIndex (a store without its stamp is partial, was " +
          "torn by a crashed freeze, or predates stamping; serving it " +
          "could silently mis-rank)")
    }

  /** The open handle for the store's current version, opening (listing
    * and inferring `postings/`, `df/` and `ids/`, reading `stats/`) only
    * when no handle is registered at that version.
    */
  def of(spark: SparkSession, path: String): ImpactHandle = {
    val k = key(spark, path)
    val v = stamp(spark, path) // before the open: a write during it re-stamps
    val cur = registry.get(k)
    if (cur != null && cur.version == v) cur
    else {
      val h = open(spark, path, v)
      registry.put(k, h)
      h
    }
  }

  private def open(spark: SparkSession, path: String, version: String): ImpactHandle = {
    openCount.incrementAndGet()
    val (postings, df, stats) = TextOps.readImpactIndex(spark, path)
    val ids = TextOps.impactRegisteredIds(spark, path)
    val st = stats.head() // 1 row: the frozen context
    ImpactHandle(version, ColumnBridge.analyzed(postings), ColumnBridge.analyzed(df),
      ColumnBridge.analyzed(ids),
      k1 = st.getAs[Double]("k1"), b = st.getAs[Double]("b"),
      nd = st.getAs[Long]("nd"), avgl = st.getAs[Double]("avgl"),
      topPerTerm = st.getAs[Int]("top_per_term"))
  }

  /** Drop the stamp — the first step of a freeze, so a serve racing the
    * rewrite, or a freeze that crashes, is refused rather than served.
    */
  def unstamp(spark: SparkSession, path: String): Unit =
    CommitStore.forSession(spark).delete(stampPath(path))

  /** Publish a fresh stamp — the last step of every write. */
  def restamp(spark: SparkSession, path: String): String = {
    val v = UUID.randomUUID().toString
    CommitStore.forSession(spark).putOverwrite(stampPath(path), v)
    v
  }

  /** An append's hand-off: publish the version it committed and register
    * `h` at that version. The frozen context and the `df` relation carry
    * over; `ids/` is re-listed, and `postings/` too when the append
    * rewrote some of its partitions — both with their pinned schemas, so
    * nothing is inferred.
    */
  def appended(spark: SparkSession, path: String, h: ImpactHandle,
      postingsRewritten: Boolean): Unit = {
    // stamp before the re-list: if the re-list fails, every handle of the
    // store, this one included, is already stale
    val v = restamp(spark, path)
    def relist(table: String, plan: LogicalPlan): LogicalPlan =
      ColumnBridge.analyzed(spark.read.schema(plan.schema).parquet(s"$path/$table"))
    registry.put(key(spark, path), h.copy(version = v,
      postingsPlan = if (postingsRewritten) relist("postings", h.postingsPlan) else h.postingsPlan,
      idsPlan = relist("ids", h.idsPlan)))
  }
}
