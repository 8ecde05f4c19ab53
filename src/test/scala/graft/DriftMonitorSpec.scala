package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.BronzeLayer
import graft.streaming.DriftMonitor

class DriftMonitorSpec extends SparkSpec {

  private def soup(w: Int, salt: String) =
    (1 to w).map(i => s"$salt$i").mkString(" ")

  test("monitored ingest: stable batch scores 0, drifted batch alerts, both still land") {
    val root = Files.createTempDirectory("graft_drift").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val refHist = s"$root/ref_hist"
    val drift = s"$root/drift"
    val checkpoint = s"$root/ckpt"

    // reference window: 20-word docs -> quality 0.3, all in one bin
    DriftMonitor.writeReference(
      rawPostings((1 to 30).map(i => s"ref$i" -> soup(20, s"r$i"))),
      "source", "raw_content", refHist)

    def drain(): Unit = graft.streaming.BronzePipeline.ingest(spark, staging, bronze, meta,
      checkpoint, Seq(DriftMonitor.gate(refHist, drift))).awaitTermination()
    def drop(rows: Seq[(String, String)]): Unit =
      rawPostings(rows).coalesce(1).write.mode("append").json(staging)

    // batch 0: same shape as the reference -> PSI exactly 0 after rounding
    drop((1 to 10).map(i => s"a$i" -> soup(20, s"a$i")))
    drain()
    val d0 = spark.read.parquet(drift).collect()
    assert(d0.length == 1)
    assert(d0(0).getAs[Double]("psi") == 0.0, s"stable batch must score 0: ${d0.toSeq}")
    assert(!d0(0).getAs[Boolean]("alert"))
    assert(d0(0).getAs[Long]("n_ref") == 30L && d0(0).getAs[Long]("n_cur") == 10L)

    // batch 1: 100-word docs -> quality 0.7, disjoint bin -> PSI spikes.
    // The monitor observes, it does not gate: the batch still lands.
    drop((1 to 10).map(i => s"b$i" -> soup(100, s"b$i")))
    drain()
    val d1 = spark.read.parquet(drift)
    assert(d1.count() == 2, "one drift row per (batch, source)")
    val spiked = d1.filter(col("alert")).collect()
    assert(spiked.length == 1, s"drifted batch must alert: ${d1.collect().toSeq}")
    assert(spiked(0).getAs[Double]("psi") > 25.0)
    assert(BronzeLayer.readRaw(spark, bronze).count() == 20,
      "drift is a monitor, not a gate - all rows land")

    // nothing new staged: no batch, no new drift rows
    drain()
    assert(spark.read.parquet(drift).count() == 2)

    // drift rows are partitioned by batch_id, so a foreachBatch replay
    // overwrites its own partition instead of appending duplicates
    val parts = new java.io.File(drift).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(parts.length == 2, s"one partition per batch: ${parts.toSeq}")
  }

  test("psiAgainst flags a brand-new source instead of hiding it") {
    val root = Files.createTempDirectory("graft_drift_new").toString
    val refHist = s"$root/ref_hist"
    DriftMonitor.writeReference(
      rawPostings((1 to 10).map(i => s"r$i" -> soup(20, s"r$i"))),
      "source", "raw_content", refHist)
    // a source absent from the reference: every ref bin is eps
    val novel = rawPostings((1 to 5).map(i => s"n$i" -> soup(20, s"n$i")))
      .withColumn("source", lit("scraper-v2"))
    val out = DriftMonitor.psiAgainst(spark, refHist, novel,
      "source", "raw_content").collect()
    val bySrc = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // the new source spikes (all its mass vs an all-eps reference)
    assert(bySrc("scraper-v2")._1 == 0L)
    assert(bySrc("scraper-v2")._3 > 10.0, s"new source must spike: $bySrc")
    // the reference-only source also surfaces (mass vanished)
    assert(bySrc("hh")._2 == 0L && bySrc("hh")._3 > 10.0, s"$bySrc")
  }

  test("psiAgainst derives the bin count from the artifact; a pre-bins artifact fails loudly") {
    val root = Files.createTempDirectory("graft_drift_bins").toString
    val refHist = s"$root/ref_hist"
    // NON-default bin count: quality 0.3 lands in bin 1 of 4 (it would be
    // bin 3 of 10) — a reader trusting the old default instead of the
    // artifact's persisted contract would misalign indices and spike
    DriftMonitor.writeReference(
      rawPostings((1 to 10).map(i => s"r$i" -> soup(20, s"r$i"))),
      "source", "raw_content", refHist, bins = 4)
    val batch = rawPostings((1 to 5).map(i => s"c$i" -> soup(20, s"c$i")))
    val out = DriftMonitor.psiAgainst(spark, refHist, batch,
      "source", "raw_content").collect()
    assert(out.length == 1 && out(0).getAs[Double]("psi") == 0.0,
      s"same-shape batch must score 0 under the DERIVED bin count: ${out.toSeq}")
    // an artifact without the binning contract must fail loudly, not guess
    val legacy = s"$root/legacy"
    spark.read.parquet(refHist).drop("bins").write.parquet(legacy)
    val e = intercept[IllegalArgumentException](
      DriftMonitor.psiAgainst(spark, legacy, batch, "source", "raw_content"))
    assert(e.getMessage.contains("bins"), e.getMessage)
  }

  test("psiAgainst's driver-side PSI equals TextOps.psiFromHistograms bin for bin") {
    val root = Files.createTempDirectory("graft_drift_same").toString
    val refHist = s"$root/ref_hist"
    DriftMonitor.writeReference(
      rawPostings((1 to 12).map(i => s"r$i" -> soup(5 + 10 * (i % 4), s"r$i"))),
      "source", "raw_content", refHist)
    // shifted bins on the reference's source, one source it never saw,
    // and rows with no content (null bin)
    val batch = rawPostings((1 to 9).map(i => s"c$i" -> soup(8 + 15 * (i % 3), s"c$i")))
      .unionByName(rawPostings((1 to 4).map(i => s"n$i" -> soup(30, s"n$i")))
        .withColumn("source", lit("scraper-v2")))
      .unionByName(rawPostings(Seq("z1" -> null, "z2" -> null)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val reference = graft.operators.TextOps.psiFromHistograms(
      spark.read.parquet(refHist).drop("bins"),
      graft.operators.TextOps.qualityHistogram(batch, "source", "raw_content"), "source")
    assert(rows(DriftMonitor.psiAgainst(spark, refHist, batch, "source", "raw_content")) ==
      rows(reference))
  }
}
