package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.operators.TextOps
import graft.sources.{BronzeLayer, MetadataStore}
import graft.streaming.{BronzePipeline, CcnetGate, DecontamGate, DriftMonitor, Gate, MixtureGate}

/** The gate chain [[BronzePipeline.ingest]] drives: gates compose in one
  * stream, and a crash at any stage boundary heals by restarting on the
  * same checkpoint to exactly the clean run's outputs.
  */
class IngestChainSpec extends SparkSpec {

  /** A stage that crashes its batch: in `keep`, or (`postCommit`) in
    * `afterCommit`, after the bronze commit. */
  private final class Fault(postCommit: Boolean) extends Gate {
    def keep(batch: DataFrame, batchId: String): DataFrame =
      if (postCommit) batch else throw new IllegalStateException("injected fault before gate")
    override def afterCommit(committed: => DataFrame): Unit =
      throw new IllegalStateException("injected fault after commit")
  }

  /** A chain under test: `gates(root)` builds a fresh chain per drain (a
    * restart), `snapshot(root)` reads every output the chain writes —
    * audit tables and post-commit stores — as name → rows. Batch ids are
    * reduced to their micro-batch suffix: the pipeline-id prefix is
    * random per checkpoint. */
  private final case class Chain(name: String,
      setup: String => Unit,
      gates: String => Seq[Gate],
      batches: Seq[Seq[(String, String)]],
      snapshot: String => Map[String, Seq[String]])

  private def microBatch(batchId: Column): Column =
    substring_index(batchId, "-", -1)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Rows of an optional table (absent until the first write). */
  private def table(path: String)(read: String => DataFrame): Seq[String] =
    if (new java.io.File(path).exists) rows(read(path)) else Nil

  private def bronzeAndMeta(root: String): Map[String, Seq[String]] = Map(
    "bronze" -> rows(BronzeLayer.readRaw(spark, s"$root/bronze")
      .select(col("posting_id"), col("raw_content"), col("source"),
        col("extracted_at"), microBatch(col("batch_id")))),
    "etags" -> rows(MetadataStore.read(spark, s"$root/meta")
      .select(col("etag"), microBatch(col("batch_id")))))

  private def drain(root: String, gates: Seq[Gate]): Unit =
    BronzePipeline.ingest(spark, s"$root/staging", s"$root/bronze",
      s"$root/meta", s"$root/ckpt", gates).awaitTermination()

  /** Drain every batch; with `fault = Some((k, postCommit))` the LAST
    * batch's first attempt carries a [[Fault]] before gate k, and the
    * drain restarts on the same checkpoint with the plain chain. */
  private def run(c: Chain, root: String,
      fault: Option[(Int, Boolean)]): Map[String, Seq[String]] = {
    c.setup(root)
    c.batches.zipWithIndex.foreach { case (b, i) =>
      rawPostings(b).coalesce(1).write.mode("append").json(s"$root/staging")
      fault.filter(_ => i == c.batches.size - 1).foreach { case (k, postCommit) =>
        val (before, after) = c.gates(root).splitAt(k)
        intercept[StreamingQueryException](
          drain(root, before ++ (new Fault(postCommit) +: after)))
      }
      drain(root, c.gates(root))
    }
    val out = bronzeAndMeta(root) ++ c.snapshot(root)
    // a replay overwrites its audit partition: no (batch, key) row twice
    out.foreach { case (t, rs) => if (t != "quarantine" && !t.endsWith("store"))
      assert(rs.distinct.size == rs.size, s"${c.name}: $t holds a replayed duplicate") }
    out
  }

  private def assertCrashSafe(c: Chain): Unit = {
    def root() = Files.createTempDirectory(s"graft_chain_${c.name}").toString
    val cleanRoot = root()
    val clean = run(c, cleanRoot, None)
    val n = c.gates(cleanRoot).size
    val faults = (0 to n).flatMap(k => Seq((k, false), (k, true)))
    for (f <- faults) {
      val got = run(c, root(), Some(f))
      for ((t, rs) <- clean) {
        val dedup = (s: Seq[String]) =>
          if (t == "quarantine" || t.endsWith("store")) s.distinct else s
        assert(dedup(got(t)) == dedup(rs),
          s"${c.name} crash at $f: $t differs from the clean run\n got ${got(t)}\n want $rs")
      }
    }
  }

  // ---- CCNet → decontam → near-dup fixtures
  private val leak = (1 to 13).map(i => s"w$i").mkString(" ")
  private val orig = "spark shuffle join window agg scan filter sort"
  private def words(tag: String) = (1 to 20).map(i => s"$tag$i").mkString(" ")

  private def setupThreeGate(root: String): Unit = {
    import spark.implicits._
    val s1 = "the cat is the cat is the cat is"
    val s2 = "the dog is old and big today maybe"
    val s3 = "the elk is rare quite unusual somewhat"
    CcnetGate.writeModel(
      Seq((1L, s1), (2L, s1), (3L, s2), (4L, s2), (5L, s3), (6L, s3))
        .map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang"),
      s"$root/model")
    DecontamGate.writeRegistry(
      Seq((900L, s"intro words $leak trailing content")).toDF("doc_id", "text"),
      s"$root/registry", "text")
  }

  private val threeGate = Chain("three",
    setupThreeGate,
    root => Seq(
      CcnetGate.gate(s"$root/model", s"$root/ccnet"),
      DecontamGate.gate(s"$root/registry", s"$root/decontam"),
      BronzePipeline.nearDupGate(s"$root/sigs")),
    Seq(
      Seq("p_orig" -> orig, "p_a" -> words("alpha")),
      Seq(
        "p_tail" -> "the qx1 qx2 qx3 qx4 qx5 qx6 qx7 qx8 qx9 is",
        "p_dirty" -> s"prefix $leak suffix",
        "p_reword" -> orig.replace(" join ", "   JOIN  "),
        "p_c1" -> words("beta"),
        "p_c2" -> words("gamma"))),
    root => Map(
      "ccnet" -> table(s"$root/ccnet")(p => spark.read.parquet(p)
        .select(col("posting_id"), col("lang"), col("nll"), col("bucket"),
          microBatch(col("batch_id")))),
      "decontam" -> table(s"$root/decontam")(p => spark.read.parquet(p)
        .select(col("posting_id"), col("n_shared_grams"), col("contaminated"),
          microBatch(col("batch_id")))),
      "sig store" -> table(s"$root/sigs")(p => spark.read.parquet(p)
        .select("doc_id", "band", "sig"))))

  test("CCNet → decontam → near-dup in one stream: exactly the clean docs land, audits hold the drops") {
    val root = Files.createTempDirectory("graft_chain_three").toString
    setupThreeGate(root)
    for (b <- threeGate.batches) {
      rawPostings(b).coalesce(1).write.mode("append").json(s"$root/staging")
      drain(root, threeGate.gates(root))
    }
    val landed = BronzeLayer.readRaw(spark, s"$root/bronze").collect()
      .map(_.getAs[String]("posting_id")).toSet
    assert(landed == Set("p_orig", "p_a", "p_c1", "p_c2"),
      s"tail, contaminated and re-worded docs must all hold at the door: $landed")
    val tail = spark.read.parquet(s"$root/ccnet").filter(col("bucket") === "tail")
      .collect().map(_.getAs[String]("posting_id")).toSeq
    assert(tail == Seq("p_tail"), s"CCNet table must hold the tail row: $tail")
    val dirty = spark.read.parquet(s"$root/decontam").filter(col("contaminated"))
      .collect().map(_.getAs[String]("posting_id")).toSeq
    assert(dirty == Seq("p_dirty"), s"decontam table must hold the contaminated row: $dirty")
  }

  test("crash/replay: the three-gate chain heals to the clean run at every stage boundary") {
    assertCrashSafe(threeGate)
  }

  test("crash/replay: the curated chain heals to the clean run at every stage boundary") {
    import spark.implicits._
    def soup(w: Int, salt: String) = (1 to w).map(i => s"$salt$i").mkString(" ")
    val body = soup(20, "x")
    assertCrashSafe(Chain("curated",
      root => {
        val reference = ((1 to 90).map(i => (i.toLong, soup(20, s"b$i"), "big")) ++
          (1 to 10).map(i => (1000L + i, soup(20, s"h$i"), "hh")))
          .toDF("doc_id", "text", "source")
        MixtureGate.writeRates(reference, "source", 0.5, s"$root/rates")
        DriftMonitor.writeReference(
          rawPostings((1 to 20).map(i => s"ref$i" -> soup(20, s"r$i"))),
          "source", "raw_content", s"$root/ref_hist")
      },
      root => Seq(
        DriftMonitor.gate(s"$root/ref_hist", s"$root/drift"),
        MixtureGate.gate(s"$root/rates"),
        BronzePipeline.fingerprintDedupGate,
        BronzePipeline.contentGate(spark, s"$root/fps")),
      Seq(
        Seq("p1" -> body, "p2" -> body.replace(" x10", "  x10"), "p3" -> soup(20, "y")),
        Seq("p4" -> soup(20, "y"), "p5" -> s"  ${body.toUpperCase} ",
          "p6" -> soup(60, "z"), "p7" -> soup(5, "v"), "p8" -> soup(5, "v"))),
      root => Map(
        "drift" -> table(s"$root/drift")(p => spark.read.parquet(p)
          .select(col("source"), col("n_ref"), col("n_cur"), col("psi"), col("alert"),
            microBatch(col("batch_id")))),
        "fp store" -> table(s"$root/fps")(p => spark.read.parquet(p)))))
  }

  test("crash/replay: validate → lexical impact chain heals to the clean run at every stage boundary") {
    import spark.implicits._
    def js(body: String) = s"""{"body":"$body"}"""
    assertCrashSafe(Chain("lex",
      root => TextOps.writeImpactIndex(
        (0 until 30).map(i => (2000L + i, s"shared filler words here rare$i unique$i tail${i}x"))
          .toDF("doc_id", "text"),
        s"$root/idx"),
      root => Seq(BronzePipeline.validateGate(s"$root/quarantine"),
        BronzePipeline.lexGate(s"$root/idx")),
      Seq(
        Seq("L1" -> js("rare1 rare9 unique22 tail15x shared filler"), "Q1" -> "broken payload"),
        Seq("L2" -> js("rare1 rare9 unique22 tail15x shared  filler"),
          "L3" -> js("rare6 rare11 unique27 tail19x other mix"), "Q2" -> "[1, 2]")),
      root => Map(
        "quarantine" -> table(s"$root/quarantine")(p => spark.read.parquet(p)
          .select(col("posting_id"), col("raw_content"), microBatch(col("batch_id")))),
        "impact id store" -> rows(TextOps.impactRegisteredIds(spark, s"$root/idx")
          .select("c_id")))))
  }
}
