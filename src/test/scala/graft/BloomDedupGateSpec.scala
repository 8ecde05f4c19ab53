package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{BloomDedupGate, TextOps}

class BloomDedupGateSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def tmp() = Files.createTempDirectory("bloomgate").toString + "/fps"

  test("multi-batch gate: cross-batch exact dups dropped, reworded content passes") {
    val store = tmp()
    val gate = new BloomDedupGate(spark, store)

    // batch 1 into an empty store: everything admits
    val b1 = docs((1L to 100L).map(i => (i, s"first wave body $i")))
    val a1 = gate.gate(b1)
    assert(a1.count() == 100)
    gate.record(a1)

    // batch 2: 30 exact re-deliveries under NEW ids + 20 reworded + 50 new
    val b2 = docs(
      (1L to 30L).map(i => (1000L + i, s"first wave body $i")) ++
      (1L to 20L).map(i => (2000L + i, s"first wave body $i reworded")) ++
      (1L to 50L).map(i => (3000L + i, s"second wave body $i")))
    val a2 = gate.gate(b2)
    val ids = a2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 70, s"30 exact copies must gate out: ${ids.size}")
    assert((1L to 30L).forall(i => !ids.contains(1000L + i)))
    assert((1L to 20L).forall(i => ids.contains(2000L + i)),
      "reworded content is the near-dup gate's job, not this one's")
    // whitespace/case-only variation IS the same fingerprint
    val b3 = docs(Seq((5000L, "  FIRST   wave body 1 ")))
    assert(gate.gate(b3).count() == 0,
      "normalized fingerprint must catch reformatting-only copies")
  }

  test("restart rebuilds from the store; saturation resizes without changing answers") {
    val store = tmp()
    val g1 = new BloomDedupGate(spark, store)
    val b1 = docs((1L to 50L).map(i => (i, s"persisted body $i")))
    g1.record(g1.gate(b1))

    // a NEW instance over the same store path sees the corpus
    val g2 = new BloomDedupGate(spark, store)
    val replay = docs((1L to 50L).map(i => (9000L + i, s"persisted body $i")))
    assert(g2.gate(replay).count() == 0, "restart must not forget the corpus")

    // tiny headroom forces saturation quickly; answers stay exact through
    // the resize (capacity floor is 1024, so drive past it)
    val g3 = new BloomDedupGate(spark, store, headroom = 1.01)
    val big = docs((1L to 1500L).map(i => (10000L + i, s"wave-two body $i")))
    g3.record(g3.gate(big))
    val (capBefore, insertedBefore) = g3.sizing
    assert(insertedBefore > capBefore,
      "spec must actually saturate: tracked inserts past capacity")
    val mixed = docs(
      (1L to 100L).map(i => (20000L + i, s"wave-two body $i")) ++ // dups
      (1L to 100L).map(i => (30000L + i, s"wave-three body $i"))) // new
    val admitted = g3.gate(mixed)
    assert(admitted.count() == 100)
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).forall(_ > 30000L))
    // the resize re-sized from the STORE's true cardinality (1550 fps),
    // not the bloom's bits-set overestimate
    val (capAfter, insertedAfter) = g3.sizing
    assert(insertedAfter == 1550, s"rebuild must recount from the store: $insertedAfter")
    assert(capAfter == (1550 * 1.01).toLong,
      s"capacity must track the store at headroom: $capAfter")
  }

  test("gate preserves input columns and skips the store scan when nothing is suspect") {
    import spark.implicits._
    val store = tmp()
    val gate = new BloomDedupGate(spark, store)
    val batch = Seq((1L, "alpha body", "web", 7))
      .toDF("doc_id", "text", "source", "extra")
    val out = gate.gate(batch)
    assert(out.columns.toSeq == Seq("doc_id", "text", "source", "extra"))
    assert(out.count() == 1)
    // empty store + empty filter: nothing can be suspect, so the plan is
    // the fresh branch only - no join operator anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"no-suspect gate must not join:\n$plan")
  }

  test("the session's filter folds in an out-of-band store append; one registry entry per store") {
    val root = Files.createTempDirectory("bloomgate_registry").toString
    val fps = s"$root/fps"
    def drain(rows: Seq[(String, String)]): Set[String] = {
      rawPostings(rows).coalesce(1).write.mode("append").json(s"$root/staging")
      graft.streaming.BronzePipeline.ingest(spark, s"$root/staging", s"$root/bronze",
        s"$root/meta", s"$root/ckpt",
        Seq(graft.streaming.BronzePipeline.contentGate(spark, fps))).awaitTermination()
      graft.sources.BronzeLayer.readRaw(spark, s"$root/bronze").collect()
        .map(_.getAs[String]("posting_id")).toSet
    }
    assert(drain(Seq("a1" -> "first body here", "a2" -> "second body here")) == Set("a1", "a2"))
    val entries = BloomDedupGate.registered
    // a second writer records doc X's fingerprint with a plain parquet append
    import spark.implicits._
    Seq("x marks the spot").toDF("text").select(TextOps.fingerprint(col("text")).as("fp"))
      .write.mode("append").parquet(fps)
    val landed = drain(Seq("x1" -> "  X   Marks the SPOT ", "a3" -> "third body here"))
    assert(landed == Set("a1", "a2", "a3"),
      s"a normalized copy of the out-of-band doc must not land: $landed")
    assert(BloomDedupGate.registered == entries, "a later drain of the same store reuses its gate")
    assert(BloomDedupGate.forStore(spark, fps) eq BloomDedupGate.forStore(spark, s"file:$fps"),
      "the registry keys by the qualified store path")
  }
}
