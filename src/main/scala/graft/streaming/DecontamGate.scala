package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheHygiene
import graft.operators.TextOps
import graft.sources.ParquetSink

/** Streaming benchmark-decontamination gate — q65/q123 at the ingest
  * edge: the eval registry's distinct n-gram hashes are persisted ONCE
  * and every micro-batch is screened against the FROZEN artifact; a doc
  * sharing more than `maxSharedGrams` distinct grams with the registry
  * is held at the door (auditable in the score table), clean rows ride
  * the exact-dedup metadata gate to bronze. Screening against a frozen
  * registry — never a per-batch recomputation — is the
  * MixtureGate/BloomDedupGate/CcnetGate contract: a document's verdict
  * is batch-composition-independent and reproducible across reruns, and
  * the registry only moves when `writeRegistry` is rerun explicitly.
  *
  * Semantics follow q65/q123: overlap is counted in DISTINCT shared
  * grams (a doc repeating one leaked gram five times shares ONE), a doc
  * shorter than the gram width yields no grams and is ADMITTED (it
  * cannot be screened — same as the q65 mart, where sub-width docs
  * never join), and the default `maxSharedGrams = 0` quarantines on any
  * overlap, the Lee et al. 2022 convention for a 13-gram registry.
  *
  * The gram width n is persisted INSIDE the artifact and derived at
  * read time (the DriftMonitor bins lesson: a reader-supplied width
  * that silently disagreed with the writer's would screen with the
  * wrong grams and no error).
  *
  * Scale: the registry is registry-sized however big training gets —
  * but still far bigger than a micro-batch, so the join direction is
  * the persistent-gate discipline: the store is SCANNED and PROBED by
  * the broadcast batch gram set, never shuffled and never collected
  * (spec-pinned with auto-broadcast disabled). Everything surviving
  * the probe is batch-bounded.
  */
object DecontamGate {

  /** Persist the eval registry at `registryPath`: the DISTINCT xxhash64
    * of every n-gram in `evalDocs(textCol)`, with n stamped on the
    * artifact. Gram hashes (not strings) keep the store 8 bytes/row
    * (the q90 production-key discipline); a collision admits nothing —
    * it can only over-quarantine one training doc at ~2⁻⁶⁴ odds, the
    * safe direction for a contamination gate. */
  def writeRegistry(evalDocs: DataFrame, registryPath: String,
      textCol: String, n: Int = TextOps.ContamN): Unit = {
    require(n >= 1, s"DecontamGate: gram width must be >= 1, got $n")
    evalDocs
      .select(explode(graft.plans.GraftFunctions.shingles(
        TextOps.tokens(col(textCol)), n)).as("g"))
      .select(xxhash64(col("g")).as("gh")).distinct()
      .withColumn("n", lit(n))
      .write.mode("overwrite").parquet(registryPath)
  }

  /** Screen one frame against the persisted registry: adds
    * `n_shared_grams` (distinct grams shared with the registry; 0 for
    * clean and for sub-width docs) and `contaminated`
    * (n_shared_grams > maxSharedGrams). The gram width comes from the
    * artifact, loudly refusing a corrupt one. */
  def screenBatch(spark: SparkSession, registryPath: String,
      batch: DataFrame, idCol: String, textCol: String,
      maxSharedGrams: Int = 0): DataFrame = {
    require(maxSharedGrams >= 0,
      s"DecontamGate: maxSharedGrams must be >= 0, got $maxSharedGrams")
    val reg = spark.read.parquet(registryPath)
    // the width read is metadata-scale (distinct of a constant column),
    // not a data read — loud on a mixed-width artifact
    val widths = reg.select(col("n")).distinct().limit(3).collect().map(_.getInt(0))
    require(widths.length == 1,
      s"registry at $registryPath carries ${widths.length} distinct gram " +
        s"widths (${widths.mkString(",")}) — rewrite it with writeRegistry")
    val n = widths.head
    val grams = batch
      .select(col(idCol).as("__id"),
        explode(graft.plans.GraftFunctions.shingles(
          TextOps.tokens(col(textCol)), n)).as("g"))
      .select(col("__id"), xxhash64(col("g")).as("gh")).distinct()
    // persistent-gate join direction: batch gram hashes BROADCAST into
    // a semi-join against the streamed registry scan — the store never
    // shuffles; survivors are batch-bounded
    val hits = reg.select("gh")
      .join(broadcast(grams.select("gh").distinct()), Seq("gh"), "left_semi")
      .distinct()
    val counts = grams.join(hits, Seq("gh"), "left_semi")
      .groupBy("__id").agg(count(lit(1)).as("n_shared_grams"))
    batch.join(counts, batch(idCol) === counts("__id"), "left")
      .drop("__id")
      .withColumn("n_shared_grams", coalesce(col("n_shared_grams"), lit(0L)))
      .withColumn("contaminated", col("n_shared_grams") > maxSharedGrams.toLong)
  }

  /** Decontamination as an ingest [[Gate]]: every micro-batch is
    * screened against the frozen registry, contaminated rows are held at
    * the door, and survivors pass on. The per-row screening evidence
    * (posting_id, n_shared_grams, contaminated — held rows included, so
    * the drop is auditable) lands in `scoresPath`. The screened batch is
    * checkpointed: it feeds both the score table and the survivor
    * filter, and the registry probe would otherwise run twice.
    */
  def gate(registryPath: String, scoresPath: String,
      maxSharedGrams: Int = 0): Gate = Gate("decontam") { (batch, batchId) =>
    val screened = CacheHygiene.materialize(
      screenBatch(batch.sparkSession, registryPath, batch,
        "posting_id", "raw_content", maxSharedGrams),
      "decontam-gate batch")
    ParquetSink.overwritePartitions(
      screened.select(col("posting_id"), col("n_shared_grams"),
        col("contaminated"), lit(batchId).as("batch_id")),
      scoresPath, Seq("batch_id"))
    screened.filter(!col("contaminated")).drop("n_shared_grams", "contaminated")
  }
}
