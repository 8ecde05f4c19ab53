package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.TextOps
import graft.sources.BronzeLayer
import graft.streaming.MixtureGate

class MixtureGateSpec extends SparkSpec {

  test("streaming mixture: persisted rates flatten the dominant source, admit rare and novel whole, batch-composition-independent") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_mixgate").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val rates = s"$root/rates"
    val checkpoint = s"$root/ckpt"

    // reference window: 900 "big" / 100 "small" -> rate_big 0.416667,
    // rate_small capped at 1.0 (the q89 spec's planted skew)
    val reference = ((1 to 900).map(i => (i.toLong, s"big body $i", "big")) ++
      (1 to 100).map(i => (10000L + i, s"small body $i", "small")))
      .toDF("doc_id", "text", "source")
    MixtureGate.writeRates(reference, "source", 0.5, rates)
    val r = spark.read.parquet(rates).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r == Map("big" -> 0.416667, "small" -> 1.0))

    // one mixed batch: 200 new big docs, 30 small, 10 from a NOVEL source
    val bigRows = (1 to 200).map(i => s"nb$i" -> s"new big content $i")
    val smallRows = (1 to 30).map(i => s"ns$i" -> s"new small content $i")
    val novelRows = (1 to 10).map(i => s"nv$i" -> s"novel source content $i")
    def post(rows: Seq[(String, String)], src: String) =
      rawPostings(rows).withColumn("source", lit(src))
    val batch = post(bigRows, "big")
      .union(post(smallRows, "small")).union(post(novelRows, "fresh-crawl"))
    batch.coalesce(1).write.mode("append").json(staging)

    graft.streaming.BronzePipeline.ingest(spark, staging, bronze, meta, checkpoint, Seq(MixtureGate.gate(rates)))
      .awaitTermination()
    val landed = BronzeLayer.readRaw(spark, bronze)
    val bySrc = landed.groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap

    // rare + unknown sources land whole; dominant source flattens
    assert(bySrc("small") == 30L, s"rate-1.0 source must land whole: $bySrc")
    assert(bySrc("fresh-crawl") == 10L, s"novel source admits everything: $bySrc")
    assert(bySrc("big") > 40 && bySrc("big") < 130,
      s"big at rate 0.417 of 200 should land ~83: $bySrc")

    // batch-composition independence: the streaming admit set for "big"
    // equals the batch-mode filter applied to those docs alone
    val expected = post(bigRows, "big")
      .filter(TextOps.mixtureKeep(col("raw_content"), lit(0.416667)))
      .select("posting_id").collect().map(_.getString(0)).toSet
    val got = landed.filter(col("source") === "big")
      .select("posting_id").collect().map(_.getString(0)).toSet
    assert(got == expected,
      "the admit decision must not depend on what else was in the batch")
  }

  test("curatedIngest: drift on raw arrivals, mixture + content + etag gates stack, replay-safe") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_curated").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val fps = s"$root/fps"
    val rates = s"$root/rates"
    val refHist = s"$root/ref_hist"
    val drift = s"$root/drift"
    val checkpoint = s"$root/ckpt"

    // reference: heavy "big" source of 20-word docs -> big flattens to
    // rate 0.416667; quality reference all in the 20-word bin
    def soup(w: Int, salt: String) = (1 to w).map(i => s"$salt$i").mkString(" ")
    val reference = ((1 to 900).map(i => (i.toLong, soup(20, s"b$i"), "big")) ++
      (1 to 100).map(i => (10000L + i, soup(20, s"s$i"), "small")))
      .toDF("doc_id", "text", "source")
    graft.streaming.MixtureGate.writeRates(reference, "source", 0.5, rates)
    graft.streaming.DriftMonitor.writeReference(
      reference.select(col("doc_id").cast("string").as("posting_id"),
        col("text").as("raw_content"), col("source"),
        lit("2024-09-23 10:00:00").cast("timestamp").as("extracted_at")),
      "source", "raw_content", refHist)

    def drain(): Unit = graft.streaming.BronzePipeline.curatedIngest(spark,
      staging, bronze, meta, fps, rates, refHist, drift, checkpoint)
      .awaitTermination()
    def post(rows: Seq[(String, String)], src: String) =
      rawPostings(rows).withColumn("source", lit(src))

    // batch 0: small-source docs incl. a whitespace near-copy pair — the
    // content gate must keep only one of the pair — plus the r14-advice
    // edge: a second "p3" row with the SAME posting_id and the same
    // normalized fingerprint but different raw bytes (trailing space).
    // The old (__fp, posting_id)-keyed join let both p3 rows land with
    // distinct etags; keyed by __fp alone exactly one survives, and the
    // struct-min survivor rule makes it the lexicographically-least bytes.
    val body = soup(20, "x")
    post(Seq("p1" -> body, "p2" -> body.replace(" x10", "  x10"),
      "p3" -> soup(20, "y"), "p3" -> (soup(20, "y") + " ")), "small")
      .coalesce(1).write.mode("append").json(staging)
    drain()
    val landed0 = graft.sources.BronzeLayer.readRaw(spark, bronze)
    assert(landed0.count() == 2,
      s"normalized near-copy must gate: ${landed0.select("posting_id").collect().toSeq}")
    assert(landed0.filter(col("posting_id") === "p3")
      .select("raw_content").collect().map(_.getString(0)).toSeq == Seq(soup(20, "y")),
      "same-id same-fp different-bytes pair: exactly one deterministic survivor")

    // batch 1: a big-source flood of 100-word docs (drifted) + a replay
    // of p3's body under a new id (etag/content-gated)
    post((1 to 100).map(i => s"f$i" -> soup(100, s"f$i")) :+ ("p4" -> soup(20, "y")), "big")
      .coalesce(1).write.mode("append").json(staging)
    drain()
    val landed1 = graft.sources.BronzeLayer.readRaw(spark, bronze)
    val bigLanded = landed1.filter(col("source") === "big").count()
    assert(bigLanded > 20 && bigLanded < 70,
      s"big floods flatten at ~0.417 of 100: $bigLanded")
    assert(landed1.filter(col("posting_id") === "p4").count() == 0,
      "re-worded-by-id replay of known content must gate out")

    // drift table: batch 0 stable for small; batch 1's big flood alerts
    val d = spark.read.parquet(drift).collect()
      .map(r => (r.getAs[String]("batch_id"), r.getAs[String]("source"),
        r.getAs[Boolean]("alert"))).toSet
    assert(d.exists { case (_, src, alert) => src == "big" && alert },
      s"the drifted flood must alert: $d")
    assert(d.exists { case (_, src, alert) => src == "small" && !alert },
      s"the stable batch must not alert: $d")

    // batch 2 (r15 review): malformed rows with NULL raw_content —
    // DISTINCT ids, no content. fingerprint(null) is null, so the
    // __fp-keyed batch dedup must DROP them (and the mixture hash
    // already nulls them out of the keep filter) — the contract is that
    // they never land, neither individually nor pooled into one merged
    // null-content "survivor". A valid row sharing the batch still lands.
    post(Seq("n1" -> null, "n2" -> null, "p5" -> soup(20, "z")), "small")
      .coalesce(1).write.mode("append").json(staging)
    drain()
    val landed2 = graft.sources.BronzeLayer.readRaw(spark, bronze)
    assert(landed2.filter(col("raw_content").isNull).count() == 0,
      "null-content rows must never land in bronze")
    assert(landed2.filter(col("posting_id").isin("n1", "n2")).count() == 0,
      "malformed postings must be dropped, not merged into one survivor")
    assert(landed2.filter(col("posting_id") === "p5").count() == 1,
      s"a valid row sharing the batch with malformed rows still lands")

    // nothing new: no-op drain, no duplicate drift partitions
    drain()
    assert(graft.sources.BronzeLayer.readRaw(spark, bronze).count() == landed2.count())
  }
}
