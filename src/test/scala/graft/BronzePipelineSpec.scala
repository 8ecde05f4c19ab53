package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.BronzeLayer
import graft.streaming.BronzePipeline

class BronzePipelineSpec extends SparkSpec {

  test("streaming gated ingest: landing-zone re-drops never reach bronze") {
    val root = Files.createTempDirectory("graft_gated").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val checkpoint = s"$root/ckpt"
    def drop(rows: Seq[(String, String)]): Unit =
      rawPostings(rows).coalesce(1).write.mode("append").json(staging)

    drop(Seq("p1" -> "c1", "p2" -> "c2"))
    BronzePipeline.ingest(spark, staging, bronze, meta, checkpoint, Nil).awaitTermination()
    assert(BronzeLayer.readRaw(spark, bronze).count() == 2)

    // a NEW landing file re-delivers c2 and adds c3: the file is fresh
    // (checkpoint processes it) but the c2 payload must gate out
    drop(Seq("p3" -> "c2", "p4" -> "c3"))
    BronzePipeline.ingest(spark, staging, bronze, meta, checkpoint, Nil).awaitTermination()
    val rows = BronzeLayer.readRaw(spark, bronze)
    assert(rows.count() == 3, "re-dropped payload must not land")
    assert(rows.select("raw_content").distinct().count() == 3)
    assert(graft.sources.MetadataStore.read(spark, meta).count() == 3)

    // nothing new: no-op
    BronzePipeline.ingest(spark, staging, bronze, meta, checkpoint, Nil).awaitTermination()
    assert(BronzeLayer.readRaw(spark, bronze).count() == 3)
  }

  test("near-dup gated ingest drops re-worded copies, not just exact re-deliveries") {
    val root = Files.createTempDirectory("graft_neardup_ingest").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val sigs = s"$root/sigs"
    val checkpoint = s"$root/ckpt"
    def drop(rows: Seq[(String, String)]): Unit =
      rawPostings(rows).coalesce(1).write.mode("append").json(staging)
    def drain(): Unit = BronzePipeline.ingest(spark, staging, bronze, meta, checkpoint,
      Seq(BronzePipeline.nearDupGate(sigs))).awaitTermination()

    drop(Seq("p1" -> "spark shuffle join window agg scan filter sort"))
    drain()
    assert(BronzeLayer.readRaw(spark, bronze).count() == 1)

    // p2: SAME tokens, different whitespace -> different etag, so the
    // exact gate alone would admit it; the near-dup gate must not.
    // p3: genuinely new content -> lands.
    drop(Seq(
      "p2" -> "spark  shuffle join window agg scan filter sort",
      "p3" -> "a completely different body with novel words entirely"))
    drain()
    val rows = BronzeLayer.readRaw(spark, bronze)
    assert(rows.count() == 2, "re-worded near-dup must be gated out")
    assert(rows.filter(col("posting_id") === "p2").count() == 0)
    assert(rows.filter(col("posting_id") === "p3").count() == 1)
  }

  test("lexical impact-gated ingest drops bag-covered copies cross-batch and survives replays (r20)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_leximp_ingest").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val idx = s"$root/idx"
    val checkpoint = s"$root/ckpt"
    // the persisted store the stream gates against: frozen ONCE from a
    // reference corpus (the operator action), then grown by the stream
    graft.operators.TextOps.writeImpactIndex(
      (0 until 30).map(i => (2000L + i,
        s"shared filler words here rare$i unique$i tail${i}x"))
        .toDF("doc_id", "text"),
      idx)
    def drop(rows: Seq[(String, String)]): Unit =
      rawPostings(rows).coalesce(1).write.mode("append").json(staging)
    def drain(): Unit = BronzePipeline.ingest(spark, staging, bronze, meta, checkpoint,
      Seq(BronzePipeline.lexGate(idx))).awaitTermination()

    // L1 copies stored doc 2004's body byte-for-byte under a new id →
    // the store's heads cover its whole bag, gated out BEFORE bronze.
    // L2 remixes frozen-vocab rares from four docs (all in-vocab, so
    // its copy L3 below is fully coverable) → admits, lands.
    drop(Seq(
      "L1" -> "shared filler words here rare4 unique4 tail4x",
      "L2" -> "rare1 rare9 unique22 tail15x shared filler"))
    drain()
    val rows1 = sources.BronzeLayer.readRaw(spark, bronze)
    assert(rows1.count() == 1, "the stored-copy posting must gate out")
    assert(rows1.filter(col("posting_id") === "L2").count() == 1)

    // cross-batch: L3 copies L2's body (now IN the store's heads via the
    // post-commit append) → gated; L4 is fresh → lands
    drop(Seq(
      "L3" -> "rare1 rare9 unique22 tail15x shared filler",
      "L4" -> "rare6 rare11 unique27 tail19x other mix"))
    drain()
    val rows2 = sources.BronzeLayer.readRaw(spark, bronze)
    assert(rows2.count() == 2, "a copy of a previously admitted posting must gate out")
    assert(rows2.filter(col("posting_id") === "L3").count() == 0)
    assert(rows2.filter(col("posting_id") === "L4").count() == 1)

    // idle drain: nothing new, no errors (the replay-idempotent append
    // path — committed rows are already in the store's id registry)
    drain()
    assert(sources.BronzeLayer.readRaw(spark, bronze).count() == 2)
  }

  test("content-gated ingest drops identical bodies under new ids, keeps reworded ones") {
    val root = Files.createTempDirectory("graft_content_ingest").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    val fps = s"$root/fps"
    val checkpoint = s"$root/ckpt"
    def drop(rows: Seq[(String, String)]): Unit =
      rawPostings(rows).coalesce(1).write.mode("append").json(staging)
    def drain(): Unit = BronzePipeline.ingest(spark, staging, bronze, meta, checkpoint,
      Seq(BronzePipeline.contentGate(spark, fps))).awaitTermination()

    drop(Seq("c1" -> "identical body of recycled content here"))
    drain()
    assert(BronzeLayer.readRaw(spark, bronze).count() == 1)

    // c2: byte-identical body, new id -> the metadata gate's
    // content-etag would ALSO catch this downstream; here it gates out
    // earlier and cheaper (bloom + broadcast verify, before the meta
    // join). c3: same tokens but reworded (extra word) -> different
    // fingerprint, lands (that copy is the NEAR-dup gate's job).
    // c4: whitespace/case variant of c1 -> caught by the NORMALIZED
    // fingerprint, which the byte-exact etag cannot do - the behavior
    // only this gate provides.
    drop(Seq(
      "c2" -> "identical body of recycled content here",
      "c3" -> "identical body of recycled content here again",
      "c4" -> "  Identical   BODY of recycled content here "))
    drain()
    val rows = BronzeLayer.readRaw(spark, bronze)
    assert(rows.count() == 2, "exact-content copies must be gated out")
    assert(rows.filter(col("posting_id") === "c2").count() == 0)
    assert(rows.filter(col("posting_id") === "c4").count() == 0)
    assert(rows.filter(col("posting_id") === "c3").count() == 1)

    // a FRESH drain (new gate instance = restart) still remembers: the
    // filter rebuilt from the persisted store, not from driver state
    drop(Seq("c5" -> "identical body of recycled content here"))
    drain()
    assert(BronzeLayer.readRaw(spark, bronze).count() == 2,
      "the store survives restarts; the filter is never the record")
  }

  test("streaming gold mart finalizes each hour exactly once across drains") {
    val root = Files.createTempDirectory("graft_mart").toString
    val bronze = s"$root/bronze"
    val mart = s"$root/mart"
    def drain(): Unit = martDrain(bronze, mart, s"$root/ckpt")

    landAt(bronze, "b1", Seq("p1", "p2"), hour = 10)
    drain()
    landAt(bronze, "b2", Seq("p3"), hour = 12)
    drain()
    landAt(bronze, "b3", Seq("p4"), hour = 14)
    drain()

    val rows = goldRows(mart)
    // hour 10 closed by hour-12 data; one row with both postings
    val h10 = rows.filter(_._1 == "hh|2024-09-23 10")
    assert(h10.length == 1, s"hour 10 must finalize exactly once, got ${rows.mkString(";")}")
    assert(h10.head._2 == ((2L, 20L)), s"got ${h10.head._2}")
    // hour 14 is still open (nothing later arrived): its row equals its
    // bronze count so far
    assert(rows.filter(_._1 == "hh|2024-09-23 14").map(_._2) == Seq((1L, 10L)),
      s"the open hour's row must equal its bronze count so far, got ${rows.mkString(";")}")

    // an empty drain adds nothing (idempotent scheduled run)
    drain()
    assert(goldRows(mart) == rows)
  }

  test("a rebuilt checkpoint gets a fresh batch namespace (no silent drops)") {
    val root = Files.createTempDirectory("graft_gated_ckpt").toString
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val meta = s"$root/meta"
    def drop(rows: Seq[(String, String)]): Unit =
      rawPostings(rows).coalesce(1).write.mode("append").json(staging)

    drop(Seq("p1" -> "c1"))
    BronzePipeline.ingest(spark, staging, bronze, meta, s"$root/ckpt1", Nil).awaitTermination()
    assert(BronzeLayer.readRaw(spark, bronze).count() == 1)

    // the checkpoint is lost and rebuilt: micro-batch ids restart at 0.
    // Without the per-checkpoint namespace, batch 0 aliases the committed
    // _commit_...00000 marker and the NEW payload is silently dropped.
    drop(Seq("p2" -> "c2"))
    BronzePipeline.ingest(spark, staging, bronze, meta, s"$root/ckpt2", Nil).awaitTermination()
    val rows = BronzeLayer.readRaw(spark, bronze)
    assert(rows.filter(col("raw_content") === "c2").count() == 1,
      "new payload after a checkpoint rebuild must land")
    // the replayed old file is content-gated, not duplicated
    assert(rows.count() == 2)
    assert(rows.select("raw_content").distinct().count() == 2)
  }

  test("bronze to silver drains incrementally, exactly once across restarts") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft_pipeline").toString
    val bronze = s"$root/bronze"
    val silver = s"$root/silver"
    val checkpoint = s"$root/checkpoint"
    def drain(): Unit =
      BronzePipeline.runOnceToTable(spark, bronze, silver, checkpoint).awaitTermination()

    writeRawBatch(bronze, "b1", Seq("p1", "p2"))
    writeRawBatch(bronze, "b2", Seq("p3"))
    drain()
    val run1 = ManifestTable.read(spark, silver)
    assert(run1.count() == 3)
    assert(run1.columns.toSet.contains("etag") && run1.columns.toSet.contains("extracted_date"))

    // new batch arrives; the next scheduled invocation drains ONLY it
    writeRawBatch(bronze, "b3", Seq("p4", "p5"))
    drain()
    val run2 = ManifestTable.read(spark, silver)
    assert(run2.count() == 5, "b1/b2 must not be reprocessed")
    assert(run2.select("posting_id").distinct().count() == 5)

    // idempotent no-op when nothing new arrived
    drain()
    assert(ManifestTable.read(spark, silver).count() == 5)

    // silver fields derive from the payload
    val row = ManifestTable.read(spark, silver).filter(col("posting_id") === "p1").head()
    assert(row.getAs[String]("etag").length == 32)
    assert(row.getAs[Long]("content_chars") == "content-p1".length.toLong)
  }

  test("silver as a manifest table: atomic per-drain commits, pruned date reads") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft_pipeline_mt").toString
    val bronze = s"$root/bronze"
    val silver = s"$root/silver_table"
    val checkpoint = s"$root/checkpoint"
    def drain(): Unit =
      BronzePipeline.runOnceToTable(spark, bronze, silver, checkpoint).awaitTermination()

    writeRawBatch(bronze, "b1", Seq("p1", "p2"))
    drain()
    val v1 = ManifestTable.currentVersion(spark, silver)
    assert(v1 >= 1 && ManifestTable.read(spark, silver).count() == 2)

    // second scheduled drain commits ONLY the new batch, as a new version
    writeRawBatch(bronze, "b2", Seq("p3"))
    drain()
    val v2 = ManifestTable.currentVersion(spark, silver)
    assert(v2 > v1, "a new drain must be a new commit")
    assert(ManifestTable.read(spark, silver).count() == 3)
    assert(ManifestTable.read(spark, silver).select("posting_id").distinct().count() == 3,
      "b1 must not be reprocessed")
    // time travel: the pre-drain snapshot is still readable, pinned
    assert(ManifestTable.read(spark, silver, v1).count() == 2)

    // nothing new: no micro-batch, no empty commit
    drain()
    assert(ManifestTable.currentVersion(spark, silver) == v2,
      "an empty drain must not create a version")

    // silver fields derive from the payload
    assert(Set("etag", "content_chars", "extracted_date")
      .subsetOf(ManifestTable.read(spark, silver).columns.toSet))
    val row = ManifestTable.read(spark, silver)
      .filter(col("posting_id") === "p1").head()
    assert(row.getAs[String]("etag").length == 32)
    assert(row.getAs[Long]("content_chars") == "content-p1".length.toLong)

    // the manifest's recorded extracted_date stats prune a date-scoped
    // read: a range matching the fixture date keeps the commits, a
    // disjoint range reads nothing without scanning
    val hit = ManifestTable.readRange(spark, silver,
      "extracted_date", "2024-09-23", "2024-09-23")
    assert(hit.count() == 3)
    val miss = ManifestTable.readRange(spark, silver,
      "extracted_date", "2030-01-01", "2030-12-31")
    assert(miss.count() == 0)
  }

  test("a downstream consumer tails the silver table exactly once via readAppendedSince") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft_tail_e2e").toString
    val bronze = s"$root/bronze"
    val silver = s"$root/silver_table"
    val checkpoint = s"$root/ckpt"
    def drain(): Unit =
      BronzePipeline.runOnceToTable(spark, bronze, silver, checkpoint).awaitTermination()

    // the consumer's ledger: the last silver version it processed
    var consumedThrough = 0L
    var totalProcessed = 0L
    def consume(): Long = {
      val head = ManifestTable.currentVersion(spark, silver)
      val fresh = ManifestTable.readAppendedSince(spark, silver, consumedThrough, head)
        .count()
      consumedThrough = head
      totalProcessed += fresh
      fresh
    }

    writeRawBatch(bronze, "b1", Seq("p1", "p2"))
    drain()
    assert(consume() == 2, "bootstrap sees the first drain's rows")

    writeRawBatch(bronze, "b2", Seq("p3", "p4", "p5"))
    drain()
    assert(consume() == 3, "second run sees ONLY the new drain")

    // nothing new anywhere: both the pipeline and the consumer no-op
    drain()
    assert(consume() == 0)
    assert(totalProcessed == 5, "every silver row processed exactly once")
  }

  test("gold mart as a manifest table: finalized hours land as pruned-readable commits") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft_mart_mt").toString
    val bronze = s"$root/bronze"
    val mart = s"$root/mart_table"
    def drain(): Unit = martDrain(bronze, mart, s"$root/ckpt")

    landAt(bronze, "b1", Seq("p1", "p2"), hour = 10)
    drain()
    landAt(bronze, "b2", Seq("p3"), hour = 12)
    drain()
    landAt(bronze, "b3", Seq("p4"), hour = 14)
    drain()

    val rows = goldRows(mart)
    val h10 = rows.filter(_._1 == "hh|2024-09-23 10")
    assert(h10.length == 1 && h10.head._2 == ((2L, 20L)),
      s"hour 10 must land exactly once, got ${rows.mkString(";")}")
    // hour 14 is still open (nothing later arrived): its row holds its
    // bronze count so far, and the next drain touching it replaces it
    assert(rows.filter(_._1 == "hh|2024-09-23 14").map(_._2) == Seq((1L, 10L)),
      s"the open hour's row must equal its bronze count so far, got ${rows.mkString(";")}")
    assert(rows.toMap == bronzeHours(bronze))

    // the "recent hours" dashboard read prunes on the commits' hour stats
    val recent = ManifestTable.readRange(spark, mart,
      "hour", "2024-09-23 12:00:00", "2024-09-23 13:00:00")
    assert(recent.count() == 1, "only the hour-12 commit can match")
    assert(ManifestTable.readRange(spark, mart,
      "hour", "2024-09-24 00:00:00", "2024-09-25 00:00:00").count() == 0)

    // an empty drain is a scheduled no-op: no version, no rows
    val v = ManifestTable.currentVersion(spark, mart)
    drain()
    assert(ManifestTable.currentVersion(spark, mart) == v)
    assert(goldRows(mart) == rows)
  }

  test("gold mart counts every row of a drain split across micro-batches, in any file order") {
    val root = Files.createTempDirectory("graft_mart_split").toString
    val bronze = s"$root/bronze"
    val mart = s"$root/mart_table"
    // hour 12's 32 files land BEFORE hour 10's 5, so the drain's first
    // two 16-file micro-batches hold hour 12 only: a watermark on event
    // time would pass hour 10 before any of its rows streamed. The file
    // stream takes the oldest files first; the landing times are set
    // apart explicitly, as a coarse mtime clock would tie them
    landAt(bronze, "b1", (1 to 32).map(i => s"late$i"), hour = 12, files = 32)
    landAt(bronze, "b2", (1 to 5).map(i => s"early$i"), hour = 10, files = 5)
    Seq(12 -> 1700000000000L, 10 -> 1700000600000L).foreach { case (h, ms) =>
      Files.walk(java.nio.file.Paths.get(bronze, s"p_source=hh/y=2024/m=09/d=23/h=$h"))
        .filter(Files.isRegularFile(_)).forEach(f => f.toFile.setLastModified(ms))
    }
    val q = BronzePipeline.martRunOnceToTable(spark, bronze, mart, s"$root/ckpt")
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "the drain must span several micro-batches")

    val rows = goldRows(mart)
    assert(rows.filter(_._1 == "hh|2024-09-23 10").map(_._2._1) == Seq(5L),
      s"hour 10's rows streamed after hour 12's must all count, got ${rows.mkString(";")}")
    assert(rows.map(_._2._1).sum == 37L, "the split drain must lose 0 postings")
    assert(rows.toMap == bronzeHours(bronze))
  }

  test("gold mart: a late row corrects its already-published hour") {
    val root = Files.createTempDirectory("graft_mart_late").toString
    val bronze = s"$root/bronze"
    val mart = s"$root/mart_table"
    def drain(): Unit = martDrain(bronze, mart, s"$root/ckpt")

    landAt(bronze, "b1", Seq("p1", "p2"), hour = 10)
    drain()
    landAt(bronze, "b2", Seq("p3"), hour = 12)
    drain()
    // an hour-10 posting arrives after hour 12's: it lands in hour 10
    landAt(bronze, "b3", Seq("p4"), hour = 10)
    drain()
    val rows = goldRows(mart)
    assert(rows.filter(_._1 == "hh|2024-09-23 10").map(_._2) == Seq((3L, 30L)),
      s"the late row must correct hour 10, got ${rows.mkString(";")}")
    assert(rows.toMap == bronzeHours(bronze))
  }

  test("gold mart replay: a micro-batch re-run after its commit marker is lost recomputes identical rows") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft_mart_replay").toString
    val bronze = s"$root/bronze"
    val mart = s"$root/mart_table"
    val checkpoint = s"$root/ckpt"

    landAt(bronze, "b1", Seq("p1", "p2"), hour = 10)
    martDrain(bronze, mart, checkpoint)
    landAt(bronze, "b2", Seq("p3"), hour = 12)
    landAt(bronze, "b3", Seq("p4"), hour = 10)
    martDrain(bronze, mart, checkpoint)
    val before = goldRows(mart)
    val v = ManifestTable.currentVersion(spark, mart)

    // a crash after the gold commit but before the stream recorded it:
    // the last micro-batch's commit marker is gone, so the next drain
    // re-runs that batch over the same files
    val commits = new java.io.File(s"$checkpoint/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Seq(last, s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
    val q = BronzePipeline.martRunOnceToTable(spark, bronze, mart, checkpoint)
    q.awaitTermination()
    assert(q.recentProgress.exists(_.numInputRows > 0), "the lost batch must re-run")
    assert(ManifestTable.currentVersion(spark, mart) > v, "the replay must recommit")
    assert(goldRows(mart) == before, "a replayed batch must recompute identical rows")
  }

  private def martDrain(bronze: String, mart: String, checkpoint: String): Unit =
    BronzePipeline.martRunOnceToTable(spark, bronze, mart, checkpoint).awaitTermination()

  /** Land `ids` as bronze batch `batchId` at `hour`, one file per
    * `ids.size / files` ids, written in order. */
  private def landAt(bronze: String, batchId: String, ids: Seq[String], hour: Int,
      files: Int = 1): Unit = {
    import spark.implicits._
    ids.grouped(math.max(1, ids.size / files)).foreach { part =>
      val df = part.map(id => (id, s"content-$id", "hh", f"2024-09-23 $hour%02d:10:00"))
        .toDF("posting_id", "raw_content", "source", "extracted_at")
        .withColumn("extracted_at", to_timestamp(col("extracted_at")))
      BronzeLayer.writeRaw(df.coalesce(1), bronze, batchId)
    }
  }

  /** The gold mart's rows as ("source|yyyy-MM-dd HH", (n_postings, total_chars)). */
  private def goldRows(mart: String): Seq[(String, (Long, Long))] =
    graft.sources.ManifestTable.read(spark, mart)
      .select(concat_ws("|", col("source"), date_format(col("hour"), "yyyy-MM-dd HH")),
        col("n_postings"), col("total_chars"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toSeq.sorted

  /** The same figures counted straight from every bronze row. */
  private def bronzeHours(bronze: String): Map[String, (Long, Long)] =
    BronzeLayer.readRaw(spark, bronze).collect().groupBy(r =>
      s"${r.getAs[String]("source")}|${r.getAs[String]("y")}-${r.getAs[String]("m")}-" +
        s"${r.getAs[String]("d")} ${r.getAs[String]("h")}")
      .map { case (k, rs) => k -> ((rs.length.toLong,
        rs.map(_.getAs[String]("raw_content").length.toLong).sum)) }
}
