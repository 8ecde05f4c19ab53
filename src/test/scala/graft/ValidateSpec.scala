package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Validate
import graft.sources.BronzeLayer
import graft.streaming.BronzePipeline

class ValidateSpec extends SparkSpec {

  private def postings(rows: Seq[(String, String, String)]) = {
    import spark.implicits._
    rows.map { case (id, content, source) =>
      (id, content, source, "2024-09-23 10:00:00")
    }.toDF("posting_id", "raw_content", "source", "extracted_at")
      .withColumn("extracted_at", to_timestamp(col("extracted_at")))
  }

  test("split routes rule-breakers to quarantine with the rules they broke") {
    val df = postings(Seq(
      ("p1", """{"title":"engineer"}""", "hh"),
      (null, """{"title":"x"}""", "hh"),       // missing key
      ("p3", "not json at all", "hh"),          // unparseable content
      ("p4", """["array","not","object"]""", "hh"), // wrong JSON shape
      ("p5", """{"ok":1}""", " ")))             // blank source
    val (valid, quarantined) = Validate.split(df, Validate.rawPostingRules)

    assert(valid.collect().map(_.getString(0)).sameElements(Array("p1")))
    assert(!valid.columns.contains(Validate.ViolationsCol),
      "valid side keeps the original schema")

    val q = quarantined.collect().map(r =>
      Option(r.getAs[String]("posting_id")).getOrElse("<null>") ->
        r.getSeq[String](r.fieldIndex(Validate.ViolationsCol)).toSet).toMap
    assert(q.keySet == Set("<null>", "p3", "p4", "p5"))
    assert(q("<null>") == Set("posting_id_missing"))
    assert(q("p3") == Set("raw_content_not_json_object"))
    assert(q("p4") == Set("raw_content_not_json_object"))
    assert(q("p5") == Set("source_missing"))
  }

  test("null predicate results fail closed; multiple violations all recorded") {
    import spark.implicits._
    val df = Seq((null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("posting_id", "raw_content")
      .withColumn("source", lit(null).cast("string"))
      .withColumn("extracted_at", lit(null).cast("timestamp"))
    val (valid, quarantined) = Validate.split(df, Validate.rawPostingRules)
    assert(valid.isEmpty)
    val vs = quarantined.head().getSeq[String](
      quarantined.head().fieldIndex(Validate.ViolationsCol)).toSet
    assert(vs == Set("posting_id_missing", "source_missing",
      "extracted_at_missing", "raw_content_not_json_object"))
  }

  test("validated streaming ingest: valid rows reach bronze, breakers are quarantined") {
    val root = Files.createTempDirectory("graft_validated").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val quarantine = s"$root/quarantine"
    val checkpoint = s"$root/ckpt"

    postings(Seq(
      ("p1", """{"title":"engineer"}""", "hh"),
      ("p2", "broken payload", "hh"),
      (null, """{"title":"y"}""", "hh")))
      .coalesce(1).write.mode("append").json(staging)
    BronzePipeline.ingest(spark, staging, bronze, meta, checkpoint,
      Seq(BronzePipeline.validateGate(quarantine))).awaitTermination()

    val landed = BronzeLayer.readRaw(spark, bronze)
    assert(landed.count() == 1)
    assert(landed.head().getAs[String]("posting_id") == "p1")

    val q = spark.read.parquet(quarantine)
    assert(q.count() == 2)
    assert(q.columns.contains(Validate.ViolationsCol) && q.columns.contains("batch_id"))

    // an idle drain quarantines nothing new and lands nothing new
    BronzePipeline.ingest(spark, staging, bronze, meta, checkpoint,
      Seq(BronzePipeline.validateGate(quarantine))).awaitTermination()
    assert(BronzeLayer.readRaw(spark, bronze).count() == 1)
    assert(spark.read.parquet(quarantine).count() == 2)
  }

  test("re-admission: corrected quarantine rows re-ingest cleanly, uncorrected ones stay quarantined") {
    val root = Files.createTempDirectory("graft_readmit").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val quarantine = s"$root/quarantine"

    // p1 valid; p2 fixable (missing source); p3 unfixable (broken payload)
    postings(Seq(
      ("p1", """{"title":"engineer"}""", "hh"),
      ("p2", """{"title":"analyst"}""", null),
      ("p3", "broken payload", "hh")))
      .coalesce(1).write.mode("append").json(staging)
    BronzePipeline.ingest(spark, staging, bronze, meta, s"$root/ckpt",
      Seq(BronzePipeline.validateGate(quarantine))).awaitTermination()
    assert(BronzeLayer.readRaw(spark, bronze).count() == 1)
    assert(spark.read.parquet(quarantine).count() == 2)
    val origBatchId = spark.read.parquet(quarantine)
      .filter(col("posting_id") === "p3").head().getAs[String]("batch_id")

    // repair: backfill the missing source; nothing can fix p3's payload
    val backfill = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("source",
        coalesce(nullif(trim(col("source")), lit("")), lit("hh-backfill")))
    val (admitted, remaining) = BronzePipeline.reAdmitQuarantine(
      spark, quarantine, bronze, meta, Validate.rawPostingRules,
      "readmit-001", backfill)
    assert((admitted, remaining) == ((1L, 1L)),
      s"p2 re-enters, p3 stays: got ($admitted, $remaining)")

    val landed = BronzeLayer.readRaw(spark, bronze)
    assert(landed.count() == 2)
    assert(landed.filter(col("posting_id") === "p2").head()
      .getAs[String]("source") == "hh-backfill",
      "the repaired row must land with its fix applied")

    // the survivor keeps lineage + freshly recomputed violations
    val stillBad = spark.read.parquet(quarantine).collect()
    assert(stillBad.length == 1)
    assert(stillBad.head.getAs[String]("posting_id") == "p3")
    assert(stillBad.head.getAs[String]("batch_id") == origBatchId,
      "uncorrected rows must keep their original batch lineage")
    assert(stillBad.head.getSeq[String](
      stillBad.head.fieldIndex(Validate.ViolationsCol)) ==
      Seq("raw_content_not_json_object"))

    // crash-before-rewrite replay: an already-admitted row reappearing in
    // the quarantine revalidates as valid, and the etag gate drops it
    spark.read.parquet(quarantine).unionByName(
      postings(Seq(("p2", """{"title":"analyst"}""", null)))
        .withColumn(Validate.ViolationsCol, array(lit("source_missing")))
        .withColumn("batch_id", lit(origBatchId)))
      .localCheckpoint()
      .write.mode("overwrite").parquet(quarantine)
    val (again, left) = BronzePipeline.reAdmitQuarantine(
      spark, quarantine, bronze, meta, Validate.rawPostingRules,
      "readmit-002", backfill)
    assert((again, left) == ((0L, 1L)),
      s"a replayed already-admitted row must gate out as a duplicate: ($again, $left)")
    assert(BronzeLayer.readRaw(spark, bronze).count() == 2,
      "nothing is ever admitted twice")

    // a reused batch id must refuse loudly - the gate would report rows
    // admitted without landing them, then the rewrite would drop them
    val reused = intercept[IllegalArgumentException](
      BronzePipeline.reAdmitQuarantine(spark, quarantine, bronze, meta,
        Validate.rawPostingRules, "readmit-002", backfill))
    assert(reused.getMessage.contains("already used"))

    // crash between the swap's two renames: live dir gone, a complete
    // _SUCCESS-marked rewrite sibling left behind - the next invocation
    // adopts the sibling instead of reporting an empty quarantine
    val qDir = new java.io.File(quarantine)
    val sibling = new java.io.File(qDir.getParentFile, ".readmit-next." + qDir.getName)
    org.apache.commons.io.FileUtils.deleteQuietly(sibling)
    org.apache.commons.io.FileUtils.moveDirectory(qDir, sibling)
    assert(!qDir.exists() && new java.io.File(sibling, "_SUCCESS").exists())
    val (healed, stillLeft) = BronzePipeline.reAdmitQuarantine(
      spark, quarantine, bronze, meta, Validate.rawPostingRules,
      "readmit-003", backfill)
    assert((healed, stillLeft) == ((0L, 1L)),
      s"the crashed swap's rewrite must be adopted, not lost: ($healed, $stillLeft)")
    assert(spark.read.parquet(quarantine).count() == 1,
      "the adopted quarantine still holds the unfixable row")

    // CONCURRENT-append survival (the r15 review's data-loss window):
    // a live validatedGatedIngest stream can append new quarantine
    // files WHILE a re-admission runs. The fix closure executes after
    // the entry file capture, so an append inside it lands exactly in
    // that window — the file-precise protocol must leave it for the
    // next pass, where the old whole-dir swap deleted it forever.
    val concurrentFix = (df: org.apache.spark.sql.DataFrame) => {
      postings(Seq(("pc", "also broken", "hh")))
        .withColumn(Validate.ViolationsCol,
          array(lit("raw_content_not_json_object")))
        .withColumn("batch_id", lit("batch-concurrent"))
        .write.mode("append").parquet(quarantine)
      backfill(df)
    }
    val (a4, r4) = BronzePipeline.reAdmitQuarantine(
      spark, quarantine, bronze, meta, Validate.rawPostingRules,
      "readmit-004", concurrentFix)
    assert((a4, r4) == ((0L, 1L)), s"captured set: p3 only: ($a4, $r4)")
    val after = spark.read.parquet(quarantine)
      .select("posting_id").collect().map(_.getString(0)).toSet
    assert(after == Set("p3", "pc"),
      s"the concurrently-appended row must survive the re-admission: $after")
  }
}
