package graft.operators

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
  *     optimization only. Batch rows the filter rules out admit with no
  *     join at all; only the suspect sliver (true dups + fpp·batch) is
  *     verified, by broadcasting the suspect fps and semi-joining the
  *     store against them — the store is scanned, never shuffled, and
  *     the scan is skipped entirely when no row is suspect.
  *
  * The filter updates WITHOUT collecting rows: each recorded batch
  * builds its own small filter distributed (same bit parameters, so the
  * sketches are mergeable) and the driver merges it in — the only bytes
  * that cross to the driver are the delta filter itself. When inserts
  * outgrow the filter's sizing it saturates (correctness unaffected —
  * everything routes to verification); the gate detects that and
  * rebuilds from the store at `headroom` × the new cardinality, so
  * rebuilds amortize to O(log n) store scans over the corpus's life.
  * A restart rebuilds the filter from the store: the filter is never
  * the record.
  */
class BloomDedupGate(spark: SparkSession, storePath: String,
    fpp: Double = 0.01, headroom: Double = 4.0) {

  require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
  require(headroom > 1, s"headroom must exceed 1: $headroom")

  private var capacity: Long = 0L
  private var inserted: Long = 0L
  // master is driver-owned and only ever GROWS (mergeInPlace adds bits);
  // the broadcast re-snapshots it after every mutation. Even if a local-
  // mode alias let a running task see a mid-merge master, a superset
  // filter only turns admits into verifications - exactness is untouched.
  private var master: BloomFilter = _
  private var bc: Broadcast[BloomFilter] = _
  rebuildFromStore()

  private def storeFps(): DataFrame = {
    val p = new Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.schema(BloomDedupGate.schema).parquet(storePath)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        BloomDedupGate.schema)
  }

  /** One store scan: size for the CURRENT corpus × headroom and rebuild.
    * Called at construction (restart recovery) and on saturation.
    */
  def rebuildFromStore(): Unit = {
    val fps = storeFps()
    val n = fps.count()
    capacity = math.max(1024L, (n * headroom).toLong)
    master = BloomDedupGate.buildFilter(fps, capacity, fpp)
    inserted = n
    refreshBroadcast()
  }

  private def refreshBroadcast(): Unit = {
    if (bc != null) bc.unpersist(blocking = false)
    bc = spark.sparkContext.broadcast(master)
  }

  /** Admit exactly the batch rows whose normalized fingerprint is absent
    * from the store. All input columns ride through. Dedup WITHIN the
    * batch is q30's job — two copies arriving together both pass here.
    *
    * The fresh/suspect branches and the empty-suspect probe each
    * re-execute the batch's plan — materialize expensive inputs first
    * (`localCheckpoint`, as [[graft.streaming.BronzePipeline.ingest]]
    * does with its staging read) so the re-executions hit memory, not
    * the source.
    */
  def gate(batch: DataFrame, textCol: String = "text"): DataFrame = {
    if (inserted > capacity) rebuildFromStore() // saturated: resize first
    val batchFp = batch.withColumn("__fp", TextOps.fingerprint(col(textCol)))
    BloomDedupGate.admit(batchFp, "__fp", bc, storeFps(), probeEmpty = true)
      .drop("__fp")
  }

  /** Land `docs`' fingerprints in the store and fold them into the
    * filter. Call with the rows that actually COMMITTED (read back from
    * bronze), after the commit — a crash between commit and record is
    * healed by the replayed batch re-recording (the store tolerates
    * duplicate fp rows; a Bloom merge is idempotent set union).
    */
  def record(docs: DataFrame, textCol: String = "text"): Unit = {
    val fps = docs.select(TextOps.fingerprint(col(textCol)).as("fp"))
      .na.drop().distinct()
    fps.write.mode(SaveMode.Append).parquet(storePath)
    // distributed delta build with IDENTICAL bit parameters -> mergeable;
    // only the sketch bytes reach the driver, never rows
    val delta = BloomDedupGate.buildFilter(fps, capacity, fpp)
    master.mergeInPlace(delta)
    inserted += delta.cardinality()
    refreshBroadcast()
  }

  /** Exposed for specs: (capacity, inserted). */
  def sizing: (Long, Long) = (capacity, inserted)
}

object BloomDedupGate {
  val schema: StructType = StructType.fromDDL("fp STRING")

  /** THE bloom-admit shape, shared by [[TextOps.bloomGate]] (one-shot)
    * and [[BloomDedupGate.gate]] (persistent): rows whose `fpCol` the
    * filter rules out admit with NO join (null fp = equal to nothing =
    * always fresh); suspects exact-verify by BROADCASTING their
    * fingerprints and semi-joining `corpusFps` (one column, `fp`)
    * against them — the corpus is scanned, never shuffled. With
    * `probeEmpty`, a no-suspect batch skips the corpus scan entirely
    * (one cheap early-out job; leave it off for one-shot uses where the
    * corpus is scanned anyway to build the filter).
    */
  private[operators] def admit(batchFp: DataFrame, fpCol: String,
      bloomBc: Broadcast[BloomFilter], corpusFps: => DataFrame,
      probeEmpty: Boolean): DataFrame = {
    val maybe = graft.plans.BloomMightContain.might(col(fpCol), bloomBc)
    val fresh = batchFp.filter(coalesce(!maybe, lit(true)))
    val suspects = batchFp.filter(coalesce(maybe, lit(false)))
    val suspectFps = suspects.select(col(fpCol).as("fp")).distinct()
    if (probeEmpty && suspectFps.isEmpty) fresh
    else {
      val hits = corpusFps
        .join(broadcast(suspectFps), Seq("fp"), "left_semi").distinct()
      fresh.unionByName(
        suspects.join(broadcast(hits.withColumnRenamed("fp", fpCol)),
          Seq(fpCol), "left_anti"))
    }
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
