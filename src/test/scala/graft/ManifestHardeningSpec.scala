package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.sources.{CommitStore, GraftCatalog, ManifestTable, RenameCommitStore}

/** A [[CommitStore]] that simulates the torn-CAS outcome the contract
  * warns about: when armed, ONE successful putIfAbsent is reported as
  * false-when-actually-landed (the publish is durable; only the report
  * lies). Every derived-commit loop must recover by re-checking the
  * version it attempted — deleting its new dir on the false report
  * would leave the landed head referencing a deleted dir.
  */
class TornOnceStore extends CommitStore {
  private val inner =
    new RenameCommitStore(new org.apache.hadoop.conf.Configuration())
  override def putIfAbsent(p: Path, content: String): Boolean = {
    val r = inner.putIfAbsent(p, content)
    if (r && TornOnceStore.armed.compareAndSet(true, false)) false else r
  }
  override def putOverwrite(p: Path, content: String): Boolean =
    inner.putOverwrite(p, content)
  override def read(p: Path): String = inner.read(p)
  override def exists(p: Path): Boolean = inner.exists(p)
  override def listFiles(dir: Path): Seq[(String, Long)] = inner.listFiles(dir)
  override def delete(p: Path): Unit = inner.delete(p)
}
object TornOnceStore {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** A [[CommitStore]] that counts its calls per method — on an object
  * store every call is a round trip, so the count is the protocol's
  * latency floor per commit.
  */
class CountingStore extends CommitStore {
  private val inner =
    new RenameCommitStore(new org.apache.hadoop.conf.Configuration())
  private def tick[A](op: String)(a: => A): A = {
    CountingStore.calls.merge(op, 1, (x, y) => x + y); a
  }
  override def putIfAbsent(p: Path, content: String): Boolean =
    tick("putIfAbsent")(inner.putIfAbsent(p, content))
  override def putOverwrite(p: Path, content: String): Boolean =
    tick("putOverwrite")(inner.putOverwrite(p, content))
  override def read(p: Path): String = tick("read")(inner.read(p))
  override def exists(p: Path): Boolean = tick("exists")(inner.exists(p))
  override def listFiles(dir: Path): Seq[(String, Long)] =
    tick("listFiles")(inner.listFiles(dir))
  override def delete(p: Path): Unit = tick("delete")(inner.delete(p))
}
object CountingStore {
  val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  /** Per-method calls made by `body`. */
  def during(body: => Unit): Map[String, Int] = {
    calls.clear(); body
    import scala.jdk.CollectionConverters._
    calls.asScala.map { case (k, v) => k -> v.intValue }.toMap
  }
}

/** r15 hardening specs for the manifest-table protocol edges a
  * whole-file review surfaced: torn-CAS adoption in every commit form,
  * the store-call budget of the ingest path's commits,
  * commit-time stamps on compaction manifests, the `_graft_ck`
  * reservation, snapshotDiff's null-key refusal, and order-insensitive
  * append schema checks.
  */
class ManifestHardeningSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private def withStore[S <: CommitStore](body: => Unit)(
      implicit s: scala.reflect.ClassTag[S]): Unit = {
    val prior = spark.conf.getOption(CommitStore.ConfKey)
    spark.conf.set(CommitStore.ConfKey, s.runtimeClass.getName)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(CommitStore.ConfKey, v)
      case None => spark.conf.unset(CommitStore.ConfKey)
    }
  }

  test("torn-CAS adoption: derived commits adopt a landed publish instead of deleting its dir") {
    import spark.implicits._
    withStore[TornOnceStore] {
      val table = Files.createTempDirectory("graft_torn").toString + "/t"
      val v1 = ManifestTable.commit(
        (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
        table, append = false, statsCols = Seq("id"))
      assert(v1 == 1)

      // compaction: CAS lands but reports false — the loop must adopt
      // v2 (a retry would find head v2 referencing a dir it deleted and
      // crash every read of the table)
      TornOnceStore.armed.set(true)
      val cv = ManifestTable.compactCommit(spark, table)
      assert(!TornOnceStore.armed.get(), "the torn report must have fired")
      assert(cv == 2 && ManifestTable.currentVersion(spark, table) == 2)
      assert(ManifestTable.read(spark, table).count() == 100,
        "adopted compaction snapshot must stay fully readable")

      // merge: same torn report on the COW rewrite publish
      TornOnceStore.armed.set(true)
      val mv = ManifestTable.mergeCommit(spark, table,
        Seq((1L, "upd")).toDF("id", "v"), keyCols = Seq("id"))
      assert(mv == 3 && ManifestTable.currentVersion(spark, table) == 3)
      assert(!ManifestTable.versionExists(spark, table, 4),
        "adoption must not double-publish the merge as an extra version")
      val snap = ManifestTable.read(spark, table)
      assert(snap.count() == 100 &&
        snap.filter(col("id") === 1L).select("v").head().getString(0) == "upd",
        "adopted merge must hold exactly the merged snapshot")

      // shallow clone: the creation CAS lands with a false report — the
      // clone must be adopted, not refused as "already exists"
      TornOnceStore.armed.set(true)
      val target = Files.createTempDirectory("graft_torn_clone").toString + "/c"
      assert(ManifestTable.cloneShallow(spark, table, target) == 1L)
      assert(ManifestTable.read(spark, target).count() == 100,
        "adopted clone must read the source snapshot")

      // restore mints no dir: the landed version is ours when its entry
      // list equals ours — a retry would publish the rollback twice
      TornOnceStore.armed.set(true)
      val rv = ManifestTable.restore(spark, table, 1L)
      assert(!TornOnceStore.armed.get(), "the torn report must have fired")
      assert(rv == 4 && ManifestTable.currentVersion(spark, table) == 4)
      assert(!ManifestTable.versionExists(spark, table, 5),
        "adoption must not publish the restore a second time")
      assert(ManifestTable.read(spark, table)
        .filter(col("id") === 1L).select("v").head().getString(0) == "r1")

      // metadata-only drop (no dir minted): adopted by entry list, and the
      // pointer must advance — a lagging hint would serve the pre-drop
      // snapshot to every reader
      val dropT = Files.createTempDirectory("graft_torn_drop").toString + "/t"
      ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), dropT,
        append = false, statsCols = Seq("id"))
      ManifestTable.commit(Seq((2L, "b")).toDF("id", "v"), dropT,
        append = true, statsCols = Seq("id"))
      TornOnceStore.armed.set(true)
      val dv = ManifestTable.cowRewriteCommit(spark, dropT,
        classify = (_, e) =>
          if (BigDecimal(e.stats("id").max) <= 1) ManifestTable.CowDrop
          else ManifestTable.CowKeep,
        rewrite = identity)
      assert(!TornOnceStore.armed.get(), "the torn report must have fired")
      assert(dv == 3 && ManifestTable.currentVersion(spark, dropT) == dv)
      assert(!ManifestTable.versionExists(spark, dropT, 4))
      assert(ManifestTable.read(spark, dropT).count() == 1,
        "the dropped commit must be gone from the current snapshot")

      // the same drop through SQL DELETE FROM (metadata-only retention)
      val root = Files.createTempDirectory("graft_torn_sql").toString
      spark.conf.set("spark.sql.catalog.torncat", classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.torncat.root", root)
      ManifestTable.commit((1 to 100).map(i => (i.toLong, s"a$i")).toDF("id", "v"),
        s"$root/t", append = false, statsCols = Seq("id"))
      ManifestTable.commit((101 to 150).map(i => (i.toLong, s"b$i")).toDF("id", "v"),
        s"$root/t", append = true, statsCols = Seq("id"))
      TornOnceStore.armed.set(true)
      spark.sql("DELETE FROM torncat.t WHERE id <= 100")
      assert(!TornOnceStore.armed.get(), "the torn report must have fired")
      assert(ManifestTable.currentVersion(spark, s"$root/t") == 3)
      assert(!ManifestTable.versionExists(spark, s"$root/t", 4))
      assert(spark.sql("SELECT count(*) FROM torncat.t").head().getLong(0) == 50)
    }
  }

  test("store-call guard: idempotent append, its replay and a plain append stay within their round trips") {
    import spark.implicits._
    withStore[CountingStore] {
      val table = Files.createTempDirectory("graft_calls").toString + "/t"
      ManifestTable.commit((1 to 50).map(i => (i.toLong, s"a$i")).toDF("id", "v"),
        table, append = false, statsCols = Seq("id"))
      ManifestTable.commit((51 to 100).map(i => (i.toLong, s"b$i")).toDF("id", "v"),
        table, append = true, statsCols = Seq("id"))
      val batch = (101 to 110).map(i => (i.toLong, s"c$i")).toDF("id", "v")
      // the ingest drain's per-micro-batch commit
      val idem = CountingStore.during(assert(
        ManifestTable.commitIdempotent(batch, table, "b3", Seq("id")) == 3))
      // bounds: the single-loop protocol's counts are at most these
      // (exists 2, listFiles 3, putIfAbsent 1, putOverwrite 1, read 7 = 14
      // before the loops were folded)
      val idemBound = Map("exists" -> 2, "listFiles" -> 3, "putIfAbsent" -> 1,
        "putOverwrite" -> 1, "read" -> 7)
      idem.foreach { case (op, n) =>
        assert(n <= idemBound.getOrElse(op, 0), s"$op: $n calls in $idem") }
      assert(idem.values.sum <= 14, s"$idem")
      val replay = CountingStore.during(assert(
        ManifestTable.commitIdempotent(batch, table, "b3", Seq("id")) == 3))
      assert(replay.values.sum <= 5, s"replay: $replay")
      val plain = CountingStore.during(assert(ManifestTable.commit(
        batch, table, append = true, statsCols = Seq("id")) == 4))
      assert(plain.values.sum <= 11, s"commit append: $plain")
      info(s"commitIdempotent $idem; replay $replay; commit $plain")
      assert(ManifestTable.read(spark, table).count() == 120)
    }
  }

  test("compaction manifests carry the #ts commit stamp (TIMESTAMP AS OF survives compaction)") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_stamp").toString + "/t"
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), table, append = false)
    val cv = ManifestTable.compactCommit(spark, table)
    assert(ManifestTable.commitTimeMs(spark, table, cv).isDefined,
      "a compaction manifest without a #ts stamp would make " +
        "TIMESTAMP AS OF refuse every target at or below it")
    assert(ManifestTable.versionAtTime(spark, table,
      System.currentTimeMillis() + 60000) == cv)
  }

  test("_graft_ck and graft__bucket are reserved: clustered compaction refuses instead of silently dropping the column") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_reserved").toString + "/t"
    ManifestTable.commit(
      Seq((1L, "x", "user-data")).toDF("id", "v", "_graft_ck"),
      table, append = false)
    val e = intercept[IllegalArgumentException](
      ManifestTable.compactClustered(spark, table, "id", buckets = 2))
    assert(e.getMessage.contains("_graft_ck") && e.getMessage.contains("reserved"),
      s"got: ${e.getMessage}")
  }

  test("snapshotDiff: null-key rows in SHARED dirs tolerated, in DIFFED dirs refused loudly") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_diffnull").toString + "/t"
    // v1 holds a null-key row; stats on id so merge can prune
    val v1 = ManifestTable.commit(
      Seq((Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "n"))
        .toDF("id", "v"),
      table, append = false, statsCols = Seq("id"))
    // v2 appends: the null-key row rests in a SHARED (pruned-away) dir,
    // so the diff must work and report only the appended key
    val v2 = ManifestTable.commit(Seq((Option(3L), "c")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))
    val d12 = ManifestTable.snapshotDiff(spark, table, Seq("id"), v1, v2)
    assert(d12.collect().map(r => (r.getLong(0), r.getString(3))).toSet ==
      Set((3L, "added")), "append diff must prune past the null-key dir")
    // v3 merges id=2, REWRITING the dir that carries the null-key row:
    // the unchanged null row would classify added+removed under equality
    // (and many-to-many under <=>), so the diff must refuse loudly
    val v3 = ManifestTable.mergeCommit(spark, table,
      Seq((2L, "b2")).toDF("id", "v"), keyCols = Seq("id"))
    val e = intercept[IllegalArgumentException](
      ManifestTable.snapshotDiff(spark, table, Seq("id"), v2, v3).collect())
    assert(e.getMessage.contains("null"), s"got: ${e.getMessage}")
  }

  test("a top-level column literally named a.b: commit, stats, SQL read with pushed filter, merge by it") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_dotted").toString + "/t"
    ManifestTable.commit(
      Seq((1L, "x"), (2L, "y")).toDF("id", "a.b"),
      table, append = false, statsCols = Seq("id", "a.b"))
    // DSv2 read: projection + pushed filter must treat the dotted name
    // as ONE top-level column, never as field b of struct a
    spark.read.format("graft").load(table).createOrReplaceTempView("dotted_t")
    val out = spark.sql("SELECT `a.b` FROM dotted_t WHERE `a.b` = 'x'").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("x"))
    // merge keyed on the dotted column (groupBy/select/anti-join paths):
    // key value "x" must REPLACE the (1, "x") row, not duplicate it
    ManifestTable.mergeCommit(spark, table,
      Seq((10L, "x")).toDF("id", "a.b"), keyCols = Seq("a.b"))
    assert(ManifestTable.read(spark, table).select("id", "`a.b`")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((10L, "x"), (2L, "y")))
  }

  test("append schema check is order-insensitive (reads select by name; order never mattered)") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_order").toString + "/t"
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), table, append = false)
    // same columns, different order: must append cleanly
    ManifestTable.commit(Seq(("b", 2L)).toDF("v", "id"), table, append = true)
    val snap = ManifestTable.read(spark, table)
    assert(snap.count() == 2 &&
      snap.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1)))
        .toSet == Set((1L, "a"), (2L, "b")))
    // a genuinely different schema still refuses
    val e = intercept[IllegalArgumentException](ManifestTable.commit(
      Seq((3L, 9.9)).toDF("id", "w"), table, append = true))
    assert(e.getMessage.contains("does not"), s"got: ${e.getMessage}")
  }
}
