package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Bronze raw layer: gzipped JSONL batches under time+source partition
  * keys, exactly the reference's layout `source/YYYY/MM/DD/HH/<batch>.
  * jsonl.gz` (finnoio/jobhouse src/storage/raw_layer.py:26-29), plus the
  * per-row StorageMetadata derivation (src/common/data.py).
  *
  * Spark-first: the partition key is a *physical* partitionBy so a 100 TB
  * bronze zone gets source+hour partition pruning on every silver read;
  * payloads stay schema-on-read JSON strings until silver extracts fields.
  */
object BronzeLayer {

  /** Columns every raw posting row carries (RawJobPosting analog). */
  val rawColumns: Seq[String] =
    Seq("posting_id", "raw_content", "source", "extracted_at")

  /** A raw row's bronze hour dir, as partition keys source/y/m/d/h. */
  private val hourKeys: Seq[Column] = Seq(
    col("source").as("p_source"),
    date_format(col("extracted_at"), "yyyy").as("y"),
    date_format(col("extracted_at"), "MM").as("m"),
    date_format(col("extracted_at"), "dd").as("d"),
    date_format(col("extracted_at"), "HH").as("h"))

  /** Write a raw batch as gzipped JSONL partitioned by source/y/m/d/h. */
  def writeRaw(df: DataFrame, path: String, batchId: String): Unit = {
    df.select(to_json(struct(rawColumns.map(col): _*)).as("value") +: hourKeys: _*)
      .withColumn("batch_id", lit(batchId))
      .write
      .partitionBy("p_source", "y", "m", "d", "h", "batch_id")
      .option("compression", "gzip")
      .mode("append")
      .text(path)
  }

  /** Schema-on-read over the whole bronze zone (or any pruned subtree).
    * Partition keys are pinned to string in the schema (otherwise Spark's
    * partition-type inference turns y=2024 into an int and drops the
    * zero-padding on m/d/h).
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    readRawPaths(spark, path, Seq(path))

  /** ONE batch's rows via a targeted partition-dir glob. The whole-zone
    * [[readRaw]] pays a full recursive listing of the bronze tree
    * BEFORE partition pruning can apply — on a streaming readback path
    * (commit, then read the committed rows back by batch_id) that means
    * O(all-files) discovery per micro-batch, growing with the corpus.
    * Globbing `batch_id=<id>` dirs lists only the matched directories,
    * constant-ish however big bronze gets.
    */
  def readBatch(spark: SparkSession, path: String, batchId: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (fs.exists(root))
        fs.globStatus(new org.apache.hadoop.fs.Path(path,
          s"*/*/*/*/*/batch_id=$batchId")).toSeq.map(_.getPath.toString)
      else Seq.empty
    if (dirs.isEmpty) // schema-stable empty frame, no tree listing
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "posting_id STRING, raw_content STRING, source STRING, " +
            "extracted_at TIMESTAMP, p_source STRING, y STRING, " +
            "m STRING, d STRING, h STRING, batch_id STRING"))
    else readRawPaths(spark, path, dirs)
  }

  /** The bronze hour dirs under `path` that hold `rows`' (source, hour)
    * pairs — the dirs [[writeRaw]] put them in, so reading them back
    * gives every row of those hours, from any batch. Rows without a
    * source or a time are left out: they have no (source, hour). One job
    * and no shuffle: each partition renders and de-duplicates its own
    * dirs, and the few that come back are merged after the collect.
    */
  def hourDirs(rows: DataFrame, path: String): Seq[String] = {
    val hours = rows.filter(col("source").isNotNull && col("extracted_at").isNotNull)
      .select(hourKeys: _*)
    val keys = hours.columns.toSeq
    hours.rdd.mapPartitions(_.map(r => keys.indices.map(i => ExternalCatalogUtils
        .getPartitionPathString(keys(i), r.getString(i))).mkString(s"$path/", "/", ""))
        .toSet.iterator)
      .collect().distinct.sorted.toSeq
  }

  private[graft] def readRawPaths(spark: SparkSession, basePath: String,
      paths: Seq[String]): DataFrame = {
    val raw = spark.read
      .option("basePath", basePath)
      .schema("value STRING, p_source STRING, y STRING, m STRING, d STRING, h STRING, batch_id STRING")
      .text(paths: _*)
    raw.select(
      get_json_object(col("value"), "$.posting_id").as("posting_id"),
      get_json_object(col("value"), "$.raw_content").as("raw_content"),
      get_json_object(col("value"), "$.source").as("source"),
      get_json_object(col("value"), "$.extracted_at").cast("timestamp").as("extracted_at"),
      col("p_source"), col("y"), col("m"), col("d"), col("h"), col("batch_id"))
  }

  /** Streaming twin of readRaw: tail the bronze zone as a file-source
    * stream (the Spark-native version of the reference's scheduled
    * incremental pull). New batch directories become micro-batches.
    */
  def readRawStream(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.readStream
      .option("basePath", path)
      .option("maxFilesPerTrigger", "16")
      .schema("value STRING, p_source STRING, y STRING, m STRING, d STRING, h STRING, batch_id STRING")
      .text(path)
    raw.select(
      get_json_object(col("value"), "$.posting_id").as("posting_id"),
      get_json_object(col("value"), "$.raw_content").as("raw_content"),
      get_json_object(col("value"), "$.source").as("source"),
      get_json_object(col("value"), "$.extracted_at").cast("timestamp").as("extracted_at"),
      col("p_source"), col("batch_id"))
  }

  /** StorageMetadata per row: the reference's {source, batch_id, s3_key,
    * created_at, etag} with etag = content md5 (raw_layer.py:55-64).
    */
  def storageMetadata(df: DataFrame, batchId: String): DataFrame =
    df.select(
      col("source"),
      lit(batchId).as("batch_id"),
      concat(col("source"), lit("/"),
        date_format(col("extracted_at"), "yyyy/MM/dd/HH"), lit(s"/$batchId.jsonl.gz"))
        .as("s3_key"),
      current_timestamp().as("created_at"),
      // reuse a precomputed etag: the gated ingest path arrives with the
      // hash already materialized in its checkpoint — recomputing md5
      // here was a second full pass over every payload byte per batch
      (if (df.columns.contains("etag")) col("etag")
       else md5(col("raw_content"))).as("etag"))
}
