package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.TextOps
import graft.sources.BronzeLayer
import graft.streaming.CcnetGate

class CcnetGateSpec extends SparkSpec {

  /** en corpus with (almost surely) distinct per-doc NLLs — asserted in
    * the consistency test so the threshold/positional agreement claim
    * can't go vacuous on a tie. */
  private def reference = {
    import spark.implicits._
    Seq(
      (1L, "a a a a a a", "en"),
      (2L, "a a a a a b", "en"),
      (3L, "a a a a b b", "en"),
      (4L, "a a b b c c", "en"),
      (5L, "a b c d e f", "en"),
      (6L, "b c d e f g", "en")
    ).toDF("doc_id", "text", "lang")
  }

  test("frozen model reproduces q119's buckets on the reference (distinct NLLs)") {
    val root = Files.createTempDirectory("graft_ccnet").toString
    CcnetGate.writeModel(reference, s"$root/model")
    val mart = TextOps.ccnetBuckets(reference).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getString(5))).toMap
    assert(mart.values.map(_._1).toSet.size == 6,
      s"fixture must have distinct NLLs, got $mart")
    val gate = CcnetGate.scoreBatch(spark, s"$root/model", reference,
        "doc_id", "text", col("lang")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("nll"), r.getAs[String]("bucket"))).toMap
    assert(gate == mart,
      s"value thresholds must equal positional terciles on distinct NLLs:\n$gate\n$mart")
  }

  test("unseen words hit the persisted floor and tail; unknown language is unscored") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ccnet2").toString
    CcnetGate.writeModel(reference, s"$root/model")
    val batch = Seq(
      (101L, "a a a a a a", "en"),   // the reference's own head profile
      (102L, "zz yy xx ww vv uu", "en"), // all unseen -> floor NLL
      (103L, "a a a a a a", "qq")    // language the model never saw
    ).toDF("doc_id", "text", "lang")
    val got = CcnetGate.scoreBatch(spark, s"$root/model", batch,
        "doc_id", "text", col("lang")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[Any]("nll")), r.getAs[String]("bucket"))).toMap
    assert(got(101L)._2 == "head", s"known-head profile must head: $got")
    assert(got(102L)._2 == "tail", s"floor-scored doc must tail: $got")
    assert(got(103L) == ((None, "unscored")), s"unknown language: $got")
    // the floor is the model's, not the batch's: nll = ln(N_reference)
    val n = reference.select(explode(TextOps.tokens(col("text")))).count()
    assert(got(102L)._1.get.asInstanceOf[Double] == math.floor(math.log(n) * 1e4) / 1e4 ||
      math.abs(got(102L)._1.get.asInstanceOf[Double] - math.log(n)) < 1e-3,
      s"floor must be -ln(1/N): ${got(102L)} vs ln($n)=${math.log(n)}")
  }

  test("streaming gate: head lands, tail drops at the door, unknown language lands unscored") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ccnet3").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val model = s"$root/model"
    // stopword-rich reference so the gate's langIdExpr routes batch text
    // to this LM; each sentence appears twice -> every word freq >= 2,
    // so the unseen-word floor ln(N) strictly exceeds every reference
    // NLL (max ln(N/2)) and gibberish lands tail deterministically
    val s1 = "the cat is the cat is the cat is"
    val s2 = "the dog is old and big today maybe"
    val s3 = "the elk is rare quite unusual somewhat"
    val ref = Seq((1L, s1), (2L, s1), (3L, s2), (4L, s2), (5L, s3), (6L, s3))
      .map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    CcnetGate.writeModel(ref, model)

    val batch = rawPostings(Seq(
      "p_head" -> s1,
      "p_tail" -> "the qx1 qx2 qx3 qx4 qx5 qx6 qx7 qx8 qx9 is",
      "p_und" -> "zzz qqq www"))
    batch.coalesce(1).write.mode("append").json(staging)
    graft.streaming.BronzePipeline.ingest(spark, staging, bronze, meta,
      s"$root/ckpt", Seq(CcnetGate.gate(model, s"$root/scores"))).awaitTermination()
    val landed = BronzeLayer.readRaw(spark, bronze).collect()
      .map(_.getAs[String]("posting_id")).toSet
    assert(landed == Set("p_head", "p_und"),
      s"tail must drop at the door, head and unscored land: $landed")
    // the audit table has every row INCLUDING the dropped tail
    val scores = spark.read.parquet(s"$root/scores").collect()
      .map(r => r.getAs[String]("posting_id") -> r.getAs[String]("bucket")).toMap
    assert(scores == Map("p_head" -> "head", "p_tail" -> "tail",
      "p_und" -> "unscored"), s"score table must audit the drop: $scores")
    // the drop is ATTRIBUTABLE: the score row names the language whose
    // LM scored it (the resolved langIdExpr verdict, not a raw column)
    val langs = spark.read.parquet(s"$root/scores").collect()
      .map(r => r.getAs[String]("posting_id") -> r.getAs[String]("lang")).toMap
    assert(langs("p_head") == "en" && langs("p_tail") == "en",
      s"scored rows must carry the scoring language: $langs")
  }
}
