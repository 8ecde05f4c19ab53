package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persistent StorageMetadata store + the gated ingest flow — the wired
  * version of the reference's metadata table and its dedup edge
  * (finnoio/jobhouse src/storage/raw_layer.py:55-64 writes
  * StorageMetadata per upload; the architecture mermaid routes
  * Meta -..-> "Deduplication Check" in front of bronze).
  *
  * The store is append-only parquet keyed by content etag; the gate
  * drops incoming rows whose etag it holds, so a re-delivered payload
  * (same md5) never lands in bronze twice. At 100 TB the seen-set is the
  * big side — which is exactly why the gate collects the incoming
  * batch's etags once (the key set `Lifecycle.dedupGate` would
  * broadcast) and scans the store for them
  * ([[graft.operators.Lifecycle.seenAmong]]): the store is read once per
  * ingest and never shuffled, however large it grows.
  */
object MetadataStore {

  /** {source, batch_id, s3_key, created_at, etag} — BronzeLayer.storageMetadata's schema. */
  val schema: StructType = StructType.fromDDL(
    "source STRING, batch_id STRING, s3_key STRING, created_at TIMESTAMP, etag STRING")

  /** Batch-keyed append: rows land under `path/batch_id=<id>/`, so a
    * batch's store rows are one deletable subtree. This is what makes the
    * gate's retry contract crash-safe — an append that lands without its
    * commit marker can be cleared (or ignored by [[read]]) instead of
    * permanently poisoning the seen-set.
    */
  def append(meta: DataFrame, path: String): Unit =
    meta.write.mode(SaveMode.Append).partitionBy("batch_id").parquet(path)

  /** Empty-store-safe read: a missing directory is an empty seen-set.
    * Batches with an attempt marker but no commit marker (a crashed,
    * not-yet-retried gate ingest) are invisible: their bronze files may be
    * partial or already cleared, so their etags must not gate future
    * deliveries out. Rows appended outside the gate (no markers at all)
    * stay visible — a plain [[append]] is its own commit.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val names = fs.listStatus(p).map(_.getPath.getName)
    // a flat (pre-batch-keyed) layout mixed with batch_id= dirs would make
    // partition discovery throw downstream with a cryptic error — fail
    // loudly with the migration instead
    val flat = names.filter(n =>
      !n.startsWith("_") && !n.startsWith(".") && !n.startsWith("batch_id="))
    require(flat.isEmpty,
      s"legacy flat metadata layout under $path (${flat.take(3).mkString(", ")}...): " +
        "re-write it batch-keyed (read with the explicit schema, write with " +
        "partitionBy(\"batch_id\")) before using this store")
    val inFlight =
      names.collect { case n if n.startsWith("_attempt_") => n.stripPrefix("_attempt_") }.toSet --
      names.collect { case n if n.startsWith("_commit_") => n.stripPrefix("_commit_") }
    val df = spark.read.schema(schema).parquet(path)
    if (inFlight.isEmpty) df
    // null-safe: a null batch_id (possible via direct append) must stay
    // visible — NOT(null IN (...)) would silently drop it
    else df.filter(col("batch_id").isNull || !col("batch_id").isInCollection(inFlight))
  }

  /** The documented ingest flow: etag incoming rows, dedup them within
    * the batch (first posting_id per etag wins) AND against the store,
    * land the survivors in bronze, then their metadata in the store.
    * Returns the accepted rows.
    *
    * Failure contract: bronze lands, then the batch's metadata (under its
    * own `batch_id=` subtree), then the commit marker. A retry with the
    * SAME batchId is exactly-once wherever the crash fell: no commit
    * marker → the batch's bronze leftovers AND its metadata subtree are
    * cleared and the batch re-runs cleanly; marker present → nothing is
    * cleared (the files are good) and the gate admits zero rows. A crash
    * in the append→marker window cannot silently lose data even if the
    * batch is never retried: [[read]] ignores attempt-without-commit
    * batches, so the orphaned etags never gate a future delivery out.
    * Streaming retries get this for free — `BronzePipeline.ingest`
    * derives batchId from the replayed micro-batch id.
    *
    * One pass over `incoming` decides everything: its etags are
    * collected once; the store is probed for them once; the in-batch
    * collapse (a window shuffle) runs only when some etag repeats; and a
    * batch that lands nothing writes nothing. The returned frame holds
    * the decision as a literal hit set, never a store read, and is a
    * lazy checkpoint the bronze write fills — callers should
    * `graft.CacheHygiene.release` it once consumed, or its blocks
    * outlive the batch.
    */
  def ingestWithGate(incoming: DataFrame, bronzePath: String,
      metaPath: String, batchId: String): DataFrame = {
    // strict id charset: the id names filesystem partition directories
    // and (on retry) a cleanup glob - "b*" must never be able to match
    // and delete another batch's data
    require(batchId.matches("[A-Za-z0-9._-]+"),
      s"batchId must be [A-Za-z0-9._-]+, got '$batchId'")
    val spark = incoming.sparkSession
    val fs = new Path(metaPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitMarker = new Path(metaPath, s"_commit_$batchId")
    val attemptMarker = new Path(metaPath, s"_attempt_$batchId")
    // O(1) state probe: underscore-prefixed files are invisible to the
    // parquet reader, so the store dir carries its own ledger. Leftover
    // cleanup (a bronze-tree glob) only runs when a prior attempt of
    // this id started but never committed - the common first-attempt
    // path does no listing at all.
    val committed = fs.exists(commitMarker)
    if (!committed && fs.exists(attemptMarker)) {
      clearBatch(spark, bronzePath, batchId)
      fs.delete(new Path(metaPath, s"batch_id=$batchId"), true)
    }
    if (!committed) { fs.mkdirs(new Path(metaPath)); fs.create(attemptMarker, true).close() }
    val withEtag = incoming.withColumn("etag", md5(col("raw_content")))
    val etags = withEtag.select("etag").collect().map(_.getString(0)).toSeq
    val distinctEtags = etags.distinct // a null etag is one group, as in the window
    val hits = graft.operators.Lifecycle.seenAmong(
      read(spark, metaPath), "etag", distinctEtags.filter(_ != null))
    val firstPerEtag =
      if (distinctEtags.size == etags.size) withEtag
      else withEtag
        .withColumn("__rn", row_number().over(Window.partitionBy("etag").orderBy("posting_id")))
        .filter(col("__rn") === 1).drop("__rn")
    // null etags match nothing in the store and pass
    val fresh = graft.CacheHygiene.materializeLazy(
      if (hits.isEmpty) firstPerEtag
      else firstPerEtag.filter(coalesce(!col("etag").isInCollection(hits), lit(true))),
      "gated ingest")
    if (!committed) {
      if (distinctEtags.exists(e => e == null || !hits(e))) {
        BronzeLayer.writeRaw(fresh.drop("etag"), bronzePath, batchId)
        append(BronzeLayer.storageMetadata(fresh, batchId), metaPath)
      }
      fs.create(commitMarker, true).close()
    }
    fresh
  }

  /** Remove every bronze partition directory a batch id wrote (they are
    * scattered across source/hour partitions) — crash-leftover cleanup
    * for same-batchId retries. The id charset is pre-validated, so the
    * glob is literal in the batch_id segment.
    */
  private def clearBatch(spark: SparkSession, bronzePath: String,
      batchId: String): Unit = {
    val root = new Path(bronzePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.globStatus(new Path(bronzePath, s"*/*/*/*/*/batch_id=$batchId"))
        .foreach(st => fs.delete(st.getPath, true))
  }

}
