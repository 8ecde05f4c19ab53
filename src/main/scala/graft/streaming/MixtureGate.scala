package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.operators.TextOps
import graft.sources.StaticInput

/** Streaming √-temperature source rebalance — q89 at the ingest edge:
  * keep-rates are computed ONCE from a reference window
  * ([[TextOps.sqrtTemperatureRates]]) and persisted; every micro-batch
  * then applies them as a pure codegen'd filter before the dedup gate.
  * The firehose-downsampling pattern: dominant sources flatten at the
  * door, rare sources land whole, and because the admit decision is the
  * salted content-hash contract ([[TextOps.mixtureKeep]]) it is
  * independent of batch composition — a document admits or not
  * identically whether it arrives alone, in a mixed batch, or in the
  * batch-mode q89 run over the same corpus.
  *
  * Policy for sources ABSENT from the rates table: admit everything
  * (rate 1.0). A brand-new source is a signal ([[DriftMonitor]] spikes
  * on it), not something to silently sample before anyone decided its
  * rate. Re-baseline by re-running [[writeRates]] — an explicit operator
  * action, like the drift reference.
  */
object MixtureGate {

  /** Compute and persist the per-group keep-rates from a reference
    * window (overwrite). The artifact is one row per group. */
  def writeRates(reference: DataFrame, grp: String, targetFrac: Double,
      ratesPath: String): Unit =
    TextOps.sqrtTemperatureRates(reference, grp, targetFrac)
      .coalesce(1).write.mode("overwrite").parquet(ratesPath)

  /** Apply persisted rates to one frame (the per-batch core; also usable
    * in batch jobs that want reference-pinned rather than in-plan rates).
    * The rates (one row per group, read with their known schema — the
    * group column typed as the batch's) are collected once per version
    * of their files ([[StaticInput]]) and applied as a literal map
    * lookup, so a warm micro-batch pays no Spark job for them. */
  def applyRates(spark: SparkSession, ratesPath: String, batch: DataFrame,
      grp: String, textCol: String): DataFrame = {
    val rates = StaticInput.rows(spark, ratesPath,
      StructType(Seq(batch.schema(grp), StructField("keep_rate", DoubleType))))
    // a null group matches no rate, as in a join
    val known = rates.toSeq.filterNot(_.isNullAt(0))
    val rate =
      if (known.isEmpty) lit(null).cast(DoubleType)
      else map(known.flatMap(r => Seq(lit(r.get(0)), lit(r.get(1)))): _*)(col(grp))
    // null text hashes to null, which a bare filter would silently DROP
    // regardless of keep_rate — even for sources the gate promises to
    // admit whole. A mixture gate has no opinion about malformed rows:
    // admit them (coalesce → true) and let the pipeline's validation /
    // dedup stages route them loudly (the fingerprint dedup gate drops
    // them with an explicit contract; the validate gate quarantines them).
    batch.filter(coalesce(TextOps.mixtureKeep(col(textCol),
      coalesce(rate, lit(1.0))), lit(true)))
      // the group column first, as the rates join put it: the in-batch
      // fingerprint dedup breaks posting_id ties in column order
      .select((col(grp) +: batch.columns.toSeq.filterNot(_ == grp).map(col)): _*)
  }

  /** The mixture filter as an ingest [[Gate]]: micro-batches downsample
    * by the persisted rates before the dedup gates. */
  def gate(ratesPath: String, grp: String = "source",
      textCol: String = "raw_content"): Gate =
    Gate("mixture")((batch, _) => applyRates(batch.sparkSession, ratesPath, batch, grp, textCol))
}
