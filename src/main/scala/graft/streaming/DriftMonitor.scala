package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import graft.operators.TextOps
import graft.sources.{ParquetSink, StaticInput}

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
    *
    * One Spark job per batch: the batch histogram, counted in one pass
    * ([[countBins]] — the Dataset aggregate would run its shuffle as a
    * job of its own). The reference (≤ groups×bins rows, read with its
    * known schema) is collected once per version of its files
    * ([[StaticInput]]). The PSI arithmetic —
    * [[TextOps.psiFromHistograms]]'s, bin for bin — then runs on the
    * driver over those rows, and the result is a local frame: scoring
    * two tiny histograms through a full-outer join, a window and an
    * aggregate cost more Spark jobs than the batch pass itself.
    */
  def psiAgainst(spark: SparkSession, refHistPath: String, batch: DataFrame,
      grp: String, textCol: String): DataFrame = {
    val grpField = batch.schema(grp)
    val ref = StaticInput.rows(spark, refHistPath,
      StructType(Seq(grpField, StructField("bin", IntegerType),
        StructField("n", LongType), StructField("bins", IntegerType))))
    // the schema is given, so an artifact without the column reads it as null
    require(ref.forall(!_.isNullAt(3)),
      s"reference histogram at $refHistPath carries no `bins` column; " +
        "rebuild it with DriftMonitor.writeReference — comparing against " +
        "a guessed bin count would silently misalign bin indices")
    val counts = ref.map(_.getInt(3)).distinct
    require(counts.length == 1,
      s"reference histogram at $refHistPath has inconsistent bin counts " +
        s"${counts.toSeq.sorted.mkString(",")} — it was written by mixed " +
        "writeReference runs; rebuild it")
    val cur = countBins(TextOps.qualityBins(batch, grp, textCol, counts(0)))
    val rows = psi(ref.toSeq.map(r => (r.get(0), r.get(1), r.getLong(2))), cur)
    spark.createDataFrame(rows.map { case (g, nr, nc, p) => Row(g, nr, nc, p) }.asJava,
      StructType(Seq(grpField.copy(nullable = true), StructField("n_ref", LongType),
        StructField("n_cur", LongType), StructField("psi", DoubleType))))
  }

  /** (grp, bin, n) over (grp, bin) rows in ONE job: each partition
    * counts its own rows and the driver sums the partial counts. A
    * Dataset action, so an `Observation` on the input completes with the
    * full count (`.rdd` would fire it at zero before its job runs). */
  private def countBins(bins: DataFrame): Seq[(Any, Any, Long)] = {
    val partial = bins.mapPartitions { rows =>
      val n = scala.collection.mutable.HashMap.empty[(Any, Any), Long]
      rows.foreach { r =>
        val k = (r.get(0), r.get(1))
        n(k) = n.getOrElse(k, 0L) + 1
      }
      n.iterator.map { case ((g, b), c) => Row(g, b, c) }
    }(Encoders.row(bins.schema.add("n", LongType))).collect()
    partial.groupMapReduce(r => (r.get(0), r.get(1)))(_.getLong(2))(_ + _)
      .toSeq.map { case ((g, b), c) => (g, b, c) }
  }

  /** [[TextOps.psiFromHistograms]] over collected (grp, bin, n) rows:
    * bins align on (grp, bin) like its full-outer join (a null group or
    * bin matches nothing, so such rows stay one-sided), each group's
    * proportions floor at ε, and PSI rounds half-up to 4 places.
    */
  private def psi(ref: Seq[(Any, Any, Long)], cur: Seq[(Any, Any, Long)])
      : Seq[(Any, Long, Long, Double)] = {
    val eps = 1e-6
    def aligned(r: (Any, Any, Long)) = r._1 != null && r._2 != null
    val curByBin = cur.filter(aligned).map(r => (r._1, r._2) -> r._3).toMap
    val refBins = ref.filter(aligned).map(r => (r._1, r._2)).toSet
    val wide = ref.map(r => (r._1, r._3,
        if (aligned(r)) curByBin.getOrElse((r._1, r._2), 0L) else 0L)) ++
      cur.filterNot(r => aligned(r) && refBins((r._1, r._2))).map(r => (r._1, 0L, r._3))
    wide.groupBy(_._1).toSeq.map { case (g, bins) =>
      val (tr, tc) = (bins.map(_._2).sum, bins.map(_._3).sum)
      def p(n: Long, t: Long) = if (t > 0) math.max(n.toDouble / t, eps) else eps
      val s = bins.map { case (_, nr, nc) =>
        val (pr, pc) = (p(nr, tr), p(nc, tc))
        (pc - pr) * math.log(pc / pr)
      }.sum
      (g, tr, tc, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  /** The drift monitor as an ingest [[Gate]]: one drift row per source
    * for the batch, (over)written under the batch's `driftPath`
    * partition as one file; every row passes on (the monitor observes,
    * it does not gate). */
  def gate(refHistPath: String, driftPath: String,
      threshold: Double = 0.25): Gate = Gate("drift") { (batch, batchId) =>
    ParquetSink.overwritePartitions(
      psiAgainst(batch.sparkSession, refHistPath, batch, "source", "raw_content")
        .withColumn("alert", col("psi") > threshold)
        .withColumn("batch_id", lit(batchId))
        .coalesce(1),
      driftPath, Seq("batch_id"))
    batch
  }
}
