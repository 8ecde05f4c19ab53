package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

/** Cross-batch NORMALIZED-content dedup gate for streaming ingest — the
  * persistent form of [[TextOps.bloomGate]]. Placement among the gates:
  * `MetadataStore`'s etag (md5 of the raw payload) already catches
  * byte-identical content whatever id it arrives under, and
  * [[IncrementalDedup]] catches reworded near-dups; what THIS gate adds
  * is (a) the normalized fingerprint — whitespace/case/reformatting
  * variants the byte-exact etag misses but that are not "near" dups
  * either — and (b) the admission PRICE: Bloom negatives skip every
  * downstream join, so at corpus scale the expensive gates see a
  * pre-shrunk batch instead of re-verifying mostly-fresh rows.
  *
  * State is two-layered, and only one layer is the truth:
  *
  *   - a parquet fingerprint store (`fp` per ingested doc) — the durable
  *     corpus record; every admit decision is exact against it;
  *   - a driver-held Bloom filter over the same fingerprints — a PRICE
  *     optimization only. Per batch the suspect fingerprints (the rows
  *     the filter cannot rule out: true dups + fpp·batch) are collected
  *     once; only when there are any is the store scanned, under an
  *     IN-set filter, and the hits among them collected once. The
  *     returned frame filters the batch by that hit set: no join, and
  *     no re-run of the suspect check however many actions read it.
  *
  * The filter is always a SUPERSET of the store, which is what makes a
  * Bloom negative safe to admit. It covers the store files it has
  * folded in; every [[gate]] first lists the store on the driver (no
  * Spark job) and folds in any file it has not seen — a second writer's
  * append, a restore — before it trusts a negative. [[record]] puts the
  * batch's fingerprints in on the driver (they were collected to write
  * them) and marks the one file it wrote as seen. When inserts outgrow
  * the filter's sizing it saturates (correctness unaffected — everything
  * routes to verification); the gate detects that and rebuilds from the
  * store at `headroom` × the new cardinality, so rebuilds amortize to
  * O(log n) store scans over the corpus's life.
  *
  * Construction scans the store; [[BloomDedupGate.forStore]] keeps one
  * gate per store path on the driver, so a stream that restarts its
  * query every drain builds the filter once per session. A new session
  * (a restarted driver) rebuilds from the store: the filter is never
  * the record.
  */
class BloomDedupGate(spark: SparkSession, storePath: String,
    fpp: Double = 0.01, headroom: Double = 4.0) {

  require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
  require(headroom > 1, s"headroom must exceed 1: $headroom")

  private val storeDir = new Path(storePath)
  private def fs = storeDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private var capacity: Long = 0L
  private var inserted: Long = 0L
  // master is driver-owned and only ever GROWS (puts and merges add
  // bits); the broadcast re-snapshots it after every mutation. A superset
  // filter only turns admits into verifications - exactness is untouched.
  private var master: BloomFilter = _
  private var bc: Broadcast[BloomFilter] = _
  // the store files whose fingerprints `master` holds
  private var folded: Set[String] = Set.empty
  rebuildFromStore()

  /** The store's data files, listed on the driver: no Spark job. */
  private def storeFiles(): Set[String] =
    if (!fs.exists(storeDir)) Set.empty
    else fs.listStatus(storeDir).iterator.map(_.getPath).filter { f =>
      val n = f.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.map(_.toString).toSet

  private def read(paths: Seq[String]): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], BloomDedupGate.schema)
    else spark.read.schema(BloomDedupGate.schema).parquet(paths: _*)

  /** The whole store, read as one directory: no listing job however
    * many files it holds. */
  private def storeFps(): DataFrame =
    read(if (fs.exists(storeDir)) Seq(storePath) else Nil)

  /** One store scan: size for the CURRENT corpus × headroom and rebuild.
    * Called at construction (restart recovery) and on saturation.
    */
  def rebuildFromStore(): Unit = synchronized {
    val files = storeFiles() // listed first: a file landing mid-scan is folded twice, never missed
    val fps = storeFps()
    val n = fps.count()
    capacity = math.max(1024L, (n * headroom).toLong)
    master = BloomDedupGate.buildFilter(fps, capacity, fpp)
    inserted = n
    folded = files
    refreshBroadcast()
  }

  /** Fold in the store files written since the filter last looked — by
    * anyone but this gate's [[record]]. The common case lists one
    * directory and reads nothing.
    */
  private def foldInUnseen(): Unit = {
    val files = storeFiles()
    val unseen = (files -- folded).toSeq
    if (unseen.nonEmpty) {
      val delta = BloomDedupGate.buildFilter(read(unseen), capacity, fpp)
      master.mergeInPlace(delta)
      inserted += delta.cardinality()
      refreshBroadcast()
    }
    folded = files
  }

  private def refreshBroadcast(): Unit = {
    if (bc != null) bc.unpersist(blocking = false)
    bc = spark.sparkContext.broadcast(master)
  }

  /** Admit exactly the batch rows whose normalized fingerprint is absent
    * from the store. All input columns ride through. Dedup WITHIN the
    * batch is q30's job — two copies arriving together both pass here.
    *
    * Runs the suspect collect now (and the store probe, when anything is
    * suspect), and returns the batch under a filter by the hit set: the
    * decision is made once, against the store as it is at this call, and
    * later actions on the result re-run only the batch's own plan — so
    * materialize an expensive batch first (`BronzePipeline.ingest` does).
    */
  def gate(batch: DataFrame, textCol: String = "text"): DataFrame = synchronized {
    if (inserted > capacity) rebuildFromStore() // saturated: resize first
    else foldInUnseen()
    val fp = TextOps.fingerprint(col(textCol))
    val suspects = batch.select(fp.as("fp"))
      .filter(graft.plans.BloomMightContain.might(col("fp"), bc))
      .collect().map(_.getString(0)).distinct.toSeq
    val hits = Lifecycle.seenAmong(storeFps(), "fp", suspects)
    if (hits.isEmpty) batch
    else batch.filter(coalesce(!fp.isInCollection(hits), lit(true)))
  }

  /** Land `docs`' fingerprints in the store and fold them into the
    * filter. Call with the rows that actually COMMITTED (read back from
    * bronze), after the commit — a crash between commit and record is
    * healed by the replayed batch re-recording (the store tolerates
    * duplicate fp rows; a Bloom put is idempotent). `docs` is read once:
    * its distinct fingerprints are collected, written as one file and
    * put into the filter on the driver.
    */
  def record(docs: DataFrame, textCol: String = "text"): Unit = synchronized {
    val fps = docs.select(TextOps.fingerprint(col(textCol)).as("fp")).na.drop()
      .collect().map(_.getString(0)).distinct
    if (fps.nonEmpty) {
      val before = storeFiles()
      spark.createDataFrame(fps.toSeq.map(Row(_)).asJava, BloomDedupGate.schema)
        .coalesce(1).write.mode(SaveMode.Append).parquet(storePath)
      fps.foreach(master.putString)
      inserted += fps.length
      refreshBroadcast()
      // one new file is this write's; anything else is a concurrent
      // writer's, left for the next gate to fold in
      val added = storeFiles() -- before
      if (added.size == 1) folded ++= added
    }
  }

  /** Exposed for specs: (capacity, inserted). */
  def sizing: (Long, Long) = (capacity, inserted)

  /** Its SparkContext is gone: the broadcast filter with it. */
  private def stopped: Boolean = spark.sparkContext.isStopped
}

object BloomDedupGate {
  val schema: StructType = StructType.fromDDL("fp STRING")

  private val registry = new ConcurrentHashMap[String, BloomDedupGate]()

  /** The driver's gate for the store at `storePath`, built (one store
    * scan) on first use and shared by every later drain and session of
    * the SparkContext — keyed by the qualified path, like
    * [[ImpactHandle]]'s registry. The gate folds in store files it has
    * not seen on every call, so sharing it never admits what another
    * writer has recorded.
    */
  def forStore(spark: SparkSession, storePath: String): BloomDedupGate = {
    val p = new Path(storePath)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    registry.compute(key, (_, cur) =>
      if (cur != null && !cur.stopped) cur else new BloomDedupGate(spark, storePath))
  }

  /** How many stores have a registered gate. */
  def registered: Int = registry.size

  /** THE one-shot bloom-admit plan, [[TextOps.bloomGate]]'s (q86): rows
    * whose `fpCol` the filter rules out admit with NO join (null fp =
    * equal to nothing = always fresh); suspects exact-verify by
    * BROADCASTING their fingerprints and semi-joining `corpusFps` (one
    * column, `fp`) against them — the corpus is scanned, never shuffled.
    * One lazy plan, for a query that runs once; the persistent
    * [[BloomDedupGate.gate]] collects the same two key sets (suspects,
    * hits) once instead, because a streaming batch is read by several
    * actions and each would re-run this plan's suspect check.
    */
  private[operators] def admit(batchFp: DataFrame, fpCol: String,
      bloomBc: Broadcast[BloomFilter], corpusFps: DataFrame): DataFrame = {
    val maybe = graft.plans.BloomMightContain.might(col(fpCol), bloomBc)
    val fresh = batchFp.filter(coalesce(!maybe, lit(true)))
    val suspects = batchFp.filter(coalesce(maybe, lit(false)))
    val suspectFps = suspects.select(col(fpCol).as("fp")).distinct()
    val hits = corpusFps
      .join(broadcast(suspectFps), Seq("fp"), "left_semi").distinct()
    fresh.unionByName(
      suspects.join(broadcast(hits.withColumnRenamed("fp", fpCol)),
        Seq(fpCol), "left_anti"))
  }

  /** `stat.bloomFilter` NPEs on a zero-row frame (the aggregate yields
    * null bytes); an empty corpus gets an empty filter built with the
    * SAME (expectedNumItems, fpp) sizing, so later distributed deltas
    * stay bit-compatible for mergeInPlace (verified: both paths produce
    * the V2 impl with identical bitSize).
    */
  def buildFilter(fps: DataFrame, capacity: Long, fpp: Double): BloomFilter =
    if (fps.isEmpty) BloomFilter.create(capacity, fpp)
    else fps.stat.bloomFilter("fp", capacity, fpp)
}
