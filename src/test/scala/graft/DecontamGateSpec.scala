package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.BronzeLayer
import graft.streaming.DecontamGate

class DecontamGateSpec extends SparkSpec {

  // 13-token leaked run (the registry's gram width defaults to ContamN)
  private val leak = (1 to 13).map(i => s"w$i").mkString(" ")

  private def evalDocs = {
    import spark.implicits._
    Seq((900L, s"intro words $leak trailing content", "en"))
      .toDF("doc_id", "text", "lang")
  }

  test("screenBatch: overlap counts DISTINCT grams, sub-width docs admit, threshold is strict >") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_decontam1").toString
    DecontamGate.writeRegistry(evalDocs, s"$root/registry", "text")
    val batch = Seq(
      (1L, s"totally different prefix $leak and a suffix"), // 1 shared gram
      (2L, (1 to 30).map(i => s"clean$i").mkString(" ")),   // clean
      (3L, "short doc under thirteen tokens"),              // sub-width
      (4L, s"$leak $leak")                                  // repeats the leak: shares >1 DISTINCT gram (the straddle grams differ) but each only once
    ).toDF("posting_id", "raw_content")
    val got = DecontamGate.screenBatch(spark, s"$root/registry", batch,
        "posting_id", "raw_content").collect()
      .map(r => r.getAs[Long]("posting_id") ->
        ((r.getAs[Long]("n_shared_grams"), r.getAs[Boolean]("contaminated")))).toMap
    assert(got(1L) == ((1L, true)), s"one shared 13-gram quarantines at max=0: ${got(1L)}")
    assert(got(2L) == ((0L, false)), s"clean admits: ${got(2L)}")
    assert(got(3L) == ((0L, false)), s"sub-width admits (unscreenable): ${got(3L)}")
    assert(got(4L)._1 == 1L && got(4L)._2,
      s"only the registry's gram is shared, once, however often repeated: ${got(4L)}")
    // threshold boundary: max=1 admits the single-gram overlap
    val relaxed = DecontamGate.screenBatch(spark, s"$root/registry", batch,
        "posting_id", "raw_content", maxSharedGrams = 1).collect()
      .map(r => r.getAs[Long]("posting_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(!relaxed(1L), "maxSharedGrams is strict >: 1 shared gram admits at max=1")
  }

  test("registry width is derived from the artifact; a mixed-width artifact refuses loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_decontam2").toString
    // width-3 registry: the same text screens differently than at 13
    DecontamGate.writeRegistry(evalDocs, s"$root/reg3", "text", n = 3)
    val batch = Seq((1L, "intro words w1")).toDF("posting_id", "raw_content")
    val got = DecontamGate.screenBatch(spark, s"$root/reg3", batch,
      "posting_id", "raw_content").collect()
    assert(got.head.getAs[Long]("n_shared_grams") == 1L,
      "width must come from the artifact (the 3-gram 'intro words w1' is leaked)")
    // corrupt artifact: two widths
    spark.read.parquet(s"$root/reg3").withColumn("n", lit(4))
      .write.mode("append").parquet(s"$root/reg3")
    val e = intercept[IllegalArgumentException] {
      DecontamGate.screenBatch(spark, s"$root/reg3", batch,
        "posting_id", "raw_content").collect()
    }
    assert(e.getMessage.contains("distinct gram widths"))
  }

  test("gate join shape: the registry never shuffles, even with auto-broadcast off") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_decontam3").toString
    DecontamGate.writeRegistry(evalDocs, s"$root/registry", "text")
    val batch = Seq((1L, s"x $leak y")).toDF("posting_id", "raw_content")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val screened = DecontamGate.screenBatch(spark, s"$root/registry",
        batch, "posting_id", "raw_content")
      // the batch-side bookkeeping joins are batch-bounded and may pick
      // any strategy; the pin is that no shuffle join TOUCHES the
      // registry scan — the store is probed by a broadcast, never
      // exchanged, however large it grows
      val offenders = screened.queryExecution.executedPlan.collect {
        case j if j.nodeName.contains("SortMergeJoin") ||
          j.nodeName.contains("ShuffledHashJoin") => j
      }.filter(_.toString.contains(s"$root/registry"))
      assert(offenders.isEmpty,
        s"registry-side join must stay a broadcast probe:\n${offenders.mkString("\n")}")
      assert(screened.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "the batch gram set must broadcast into the registry probe")
      assert(screened.collect().map(_.getAs[Boolean]("contaminated")).toSeq == Seq(true))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("streaming gate: contaminated rows hold at the door, clean rows land, audit has every row") {
    val root = Files.createTempDirectory("graft_decontam4").toString
    val staging = s"$root/staging"
    DecontamGate.writeRegistry(evalDocs, s"$root/registry", "text")
    val batch = rawPostings(Seq(
      "p_dirty" -> s"prefix $leak suffix",
      "p_clean" -> (1 to 30).map(i => s"clean$i").mkString(" "),
      "p_short" -> "too short to screen"))
    batch.coalesce(1).write.mode("append").json(staging)
    graft.streaming.BronzePipeline.ingest(spark, staging, s"$root/bronze", s"$root/meta",
      s"$root/ckpt", Seq(DecontamGate.gate(s"$root/registry", s"$root/scores"))).awaitTermination()
    val landed = BronzeLayer.readRaw(spark, s"$root/bronze").collect()
      .map(_.getAs[String]("posting_id")).toSet
    assert(landed == Set("p_clean", "p_short"),
      s"contaminated must hold at the door: $landed")
    val audit = spark.read.parquet(s"$root/scores").collect()
      .map(r => r.getAs[String]("posting_id") ->
        ((r.getAs[Long]("n_shared_grams"), r.getAs[Boolean]("contaminated")))).toMap
    assert(audit == Map("p_dirty" -> ((1L, true)), "p_clean" -> ((0L, false)),
      "p_short" -> ((0L, false))), s"audit must carry the held row: $audit")
  }
}
