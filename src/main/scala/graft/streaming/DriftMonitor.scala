package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextOps
import graft.sources.ParquetSink

/** Streaming quality-drift monitor — the continuous form of q92: the
  * reference quality histogram is computed once from a known-good window
  * and persisted; every ingest micro-batch then scores its own
  * distribution against it (PSI per source) and appends a row to a drift
  * table, flagged when PSI crosses the alert threshold. The monitor
  * OBSERVES, it does not gate: a drifted batch still lands in bronze
  * (dropping data on a distribution signal is a human decision), but the
  * drift table makes the break visible the batch it happens — a scraper
  * regression or boilerplate flood shows as a PSI spike per batch, per
  * source, long before any per-row gate trips.
  *
  * Scale: the reference histogram is ≤ groups×bins rows however large the
  * reference window was; per batch the only corpus-sized work is ONE
  * histogram pass over the batch itself ([[TextOps.qualityHistogram]]).
  * The PSI arithmetic ([[TextOps.psiFromHistograms]]) runs on aggregates.
  * Industry reading of the score: <0.1 stable, 0.1–0.25 drifting, >0.25
  * investigate (the default alert threshold).
  */
object DriftMonitor {

  /** Build and persist the reference histogram (overwrite — re-baselining
    * is an explicit operator action). One pass over the reference window;
    * the artifact is ≤ groups×bins rows. The bin COUNT is persisted as a
    * constant column of the artifact: bin indices only mean anything
    * relative to their width, so the artifact must carry its own binning
    * contract — a reader supplying its own count would silently misalign
    * indices from different widths and compute a wrong PSI (r14 advice).
    */
  def writeReference(docs: DataFrame, grp: String, textCol: String,
      refHistPath: String, bins: Int = 10): Unit =
    TextOps.qualityHistogram(docs, grp, textCol, bins)
      .withColumn("bins", lit(bins))
      .coalesce(1).write.mode("overwrite").parquet(refHistPath)

  /** PSI of `batch` against the persisted reference, per group:
    * (grp, n_ref, n_cur, psi). The batch histogram is binned with the
    * count DERIVED from the reference artifact — never caller-supplied,
    * so the two histograms cannot misalign. Fails loudly on a pre-bins
    * artifact (rebuild it with [[writeReference]]) rather than guessing.
    */
  def psiAgainst(spark: SparkSession, refHistPath: String, batch: DataFrame,
      grp: String, textCol: String): DataFrame = {
    val ref = spark.read.parquet(refHistPath)
    require(ref.columns.contains("bins"),
      s"reference histogram at $refHistPath carries no `bins` column; " +
        "rebuild it with DriftMonitor.writeReference — comparing against " +
        "a guessed bin count would silently misalign bin indices")
    // the artifact is ≤ groups×bins rows, so this collect is bounded
    val counts = ref.select(col("bins")).distinct().collect().map(_.getInt(0))
    require(counts.length == 1,
      s"reference histogram at $refHistPath has inconsistent bin counts " +
        s"${counts.toSeq.sorted.mkString(",")} — it was written by mixed " +
        "writeReference runs; rebuild it")
    TextOps.psiFromHistograms(
      ref.drop("bins"),
      TextOps.qualityHistogram(batch, grp, textCol, counts(0)), grp)
  }

  /** The drift monitor as an ingest [[Gate]]: one drift row per source
    * for the batch, (over)written under the batch's `driftPath`
    * partition; every row passes on (the monitor observes, it does not
    * gate). */
  def gate(refHistPath: String, driftPath: String,
      threshold: Double = 0.25): Gate = (batch, batchId) => {
    ParquetSink.overwritePartitions(
      psiAgainst(batch.sparkSession, refHistPath, batch, "source", "raw_content")
        .withColumn("alert", col("psi") > threshold)
        .withColumn("batch_id", lit(batchId)),
      driftPath, Seq("batch_id"))
    batch
  }
}
