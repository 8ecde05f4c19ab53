package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{ColStats, ManifestTable}
import graft.sources.ManifestTable.ColStat

class ManifestTableSpec extends SparkSpec {

  test("atomic commits, snapshot-pinned reads, compaction, and vacuum") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest").toString + "/t"

    // v1: initial load
    val v1 = ManifestTable.commit(
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v"), table, append = false)
    assert(v1 == 1 && ManifestTable.read(spark, table).count() == 100)

    // v2: append carries v1 forward
    val v2 = ManifestTable.commit(
      (101 to 150).map(i => (i.toLong, s"r$i")).toDF("id", "v"), table, append = true)
    assert(v2 == 2 && ManifestTable.read(spark, table).count() == 150)

    // v3: atomic overwrite; v2 stays pinned-readable (snapshot isolation)
    ManifestTable.commit(
      Seq((999L, "only")).toDF("id", "v"), table, append = false)
    assert(ManifestTable.read(spark, table).count() == 1)
    assert(ManifestTable.read(spark, table, version = 2).count() == 150,
      "pinned reader must keep its snapshot after an overwrite")

    // crash garbage is invisible: data without a manifest never surfaces
    (1 to 5).map(i => (-i.toLong, "orphan")).toDF("id", "v")
      .write.parquet(s"$table/data/deadbeefcafe0000")
    assert(ManifestTable.read(spark, table).count() == 1,
      "unmanifested data files must stay invisible")

    // compaction commits a new version with identical contents
    ManifestTable.commit(
      (1 to 60).map(i => (i.toLong, s"x$i")).toDF("id", "v").repartition(30),
      table, append = true)
    val before = ManifestTable.read(spark, table).count()
    val cv = ManifestTable.compactCommit(spark, table)
    assert(ManifestTable.currentVersion(spark, table) == cv)
    assert(ManifestTable.read(spark, table).count() == before,
      "compaction must not change the snapshot's contents")

    // vacuum keeps only the current version's dirs + drops old manifests
    ManifestTable.vacuum(spark, table, keepVersions = 1)
    assert(ManifestTable.read(spark, table).count() == before,
      "current snapshot survives vacuum")
    val e = intercept[Exception](
      ManifestTable.read(spark, table, version = 2).count())
    assert(e != null, "vacuumed snapshot is gone")

    // a LARGER retention after a stricter vacuum must skip the manifests
    // the stricter one already removed, not crash on them
    ManifestTable.commit(Seq((7L, "w")).toDF("id", "v"), table, append = true)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "_manifests", ".m-000099.txt.tmp-dead"),
      "garbage".getBytes)
    // graceMs = 0: the production default would (correctly) protect
    // just-written files as possible in-flight commits
    ManifestTable.vacuum(spark, table, keepVersions = 3, graceMs = 0L)
    assert(ManifestTable.read(spark, table).count() == before + 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "_manifests", ".m-000099.txt.tmp-dead")),
      "crashed-publish temps must be swept")
  }

  test("stats-recorded commits prune range reads to matching data dirs only") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_stats").toString + "/t"
    // three commits, disjoint id ranges + day keys, stats on both columns
    ManifestTable.commit(
      (1 to 100).map(i => (i.toLong, "2026-01-01", s"r$i")).toDF("id", "day", "v"),
      table, append = false, statsCols = Seq("id", "day"))
    ManifestTable.commit(
      (101 to 200).map(i => (i.toLong, "2026-01-02", s"r$i")).toDF("id", "day", "v"),
      table, append = true, statsCols = Seq("id", "day"))
    ManifestTable.commit(
      (201 to 300).map(i => (i.toLong, "2026-01-03", s"r$i")).toDF("id", "day", "v"),
      table, append = true, statsCols = Seq("id", "day"))

    assert(ManifestTable.read(spark, table).count() == 300)
    // numeric pruning: [120,130] can only live in the second commit
    val dirs = ManifestTable.prunedDataDirs(spark, table, "id", "120", "130")
    assert(dirs.size == 1, s"one matching commit expected, got $dirs")
    val pruned = ManifestTable.readRange(spark, table, "id", "120", "130")
    assert(pruned.inputFiles.forall(_.contains(dirs.head)),
      "range read must scan only the surviving dir's files")
    assert(pruned.filter($"id".between(120, 130)).count() == 11)
    // string pruning on the day key
    assert(ManifestTable.prunedDataDirs(
      spark, table, "day", "2026-01-03", "2026-01-09").size == 1)
    // out-of-range predicate prunes everything but keeps the schema
    val none = ManifestTable.readRange(spark, table, "id", "5000", "6000")
    assert(none.count() == 0 && none.columns.sameElements(Array("id", "day", "v")))
    // a column with no recorded stats never prunes (always safe)
    assert(ManifestTable.prunedDataDirs(spark, table, "v", "a", "b").size == 3)
    // conjunctive multi-predicate pruning: id range matches commit 2,
    // day range matches commits 2+3 - the intersection scans only 2
    val both = ManifestTable.readWhere(spark, table,
      Seq(("id", "150", "250"), ("day", "2026-01-01", "2026-01-02")))
    assert(both.inputFiles.forall(_.contains(
      ManifestTable.prunedDataDirs(spark, table, "id", "150", "199").head)),
      "conjunction must scan only the commit both ranges can match")
    assert(both.count() == 100)
    // contradictory conjunction prunes everything
    assert(ManifestTable.readWhere(spark, table,
      Seq(("id", "1", "50"), ("day", "2026-01-03", "2026-01-09"))).count() == 0)

    // stats survive the append carry-forward AND a compaction re-records
    val cv = ManifestTable.compactCommit(spark, table, statsCols = Seq("id"))
    assert(ManifestTable.prunedDataDirs(
      spark, table, "id", "120", "130", version = cv).size == 1,
      "compacted single-dir snapshot still matches the range")
  }

  test("compaction bases on the manifest head, not a lagging pointer hint") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_lag").toString + "/t"
    ManifestTable.commit((1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      table, append = false)
    ManifestTable.commit((101 to 150).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      table, append = true)
    // simulate a publisher that crashed between manifest and pointer:
    // the hint lags the committed head
    java.nio.file.Files.write(java.nio.file.Paths.get(table, "_latest"),
      "1".getBytes("UTF-8"))
    // the raw write invalidates Hadoop's checksum sidecar - drop it
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(table, "._latest.crc"))
    val cv = ManifestTable.compactCommit(spark, table)
    assert(cv == 3, s"compaction must commit past the head, got $cv")
    assert(ManifestTable.read(spark, table).count() == 150,
      "a hint-lagged compaction must not drop the head commit's rows")
  }

  test("additive schema evolution: new columns null-fill history, type drift still fails") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_evo").toString + "/t"
    ManifestTable.commit(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table, append = false)

    // strict default: a drifted append is a bug, not evolution
    val strict = intercept[IllegalArgumentException](ManifestTable.commit(
      Seq((3L, "c", 0.5)).toDF("id", "v", "score"), table, append = true))
    assert(strict.getMessage.contains("allowEvolution"))

    // additive: new column lands, earlier commits read it as null
    ManifestTable.commit(Seq((3L, "c", 0.5)).toDF("id", "v", "score"),
      table, append = true, allowEvolution = true)
    val snap = ManifestTable.read(spark, table)
    assert(snap.columns.sorted.sameElements(Array("id", "score", "v")))
    assert(snap.filter($"score".isNull).count() == 2,
      "pre-evolution rows must null-fill the new column")
    assert(snap.filter($"score" === 0.5).count() == 1)

    // an append may also OMIT columns: its rows null-fill them
    ManifestTable.commit(Seq((4L, 1.5)).toDF("id", "score"),
      table, append = true, allowEvolution = true)
    assert(ManifestTable.read(spark, table).filter($"v".isNull).count() == 1)

    // but a shared column may never change type, even under evolution
    val drift = intercept[IllegalArgumentException](ManifestTable.commit(
      Seq(("5", "e")).toDF("id", "v"), table, append = true,
      allowEvolution = true))
    assert(drift.getMessage.contains("type drift"))

    // pruned reads keep the FULL snapshot schema: a column living only in
    // pruned-out commits null-fills instead of disappearing
    val t3 = Files.createTempDirectory("graft_manifest_prsch").toString + "/t"
    ManifestTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t3,
      append = false, statsCols = Seq("id"))
    ManifestTable.commit(Seq((10L, "z", 9.9)).toDF("id", "v", "score"), t3,
      append = true, allowEvolution = true, statsCols = Seq("id"))
    val prunedEvolved = ManifestTable.readRange(spark, t3, "id", "1", "2")
    assert(prunedEvolved.columns.sorted.sameElements(Array("id", "score", "v")),
      s"pruned schema must not depend on the predicate, got ${prunedEvolved.columns.mkString(",")}")
    assert(prunedEvolved.count() == 2 &&
      prunedEvolved.filter($"score".isNotNull).count() == 0,
      "the evolved column null-fills when its commits are pruned out")

    // empty-string stats bounds round-trip (Java split drops trailing
    // empties - this bricked every later read before the limit=-1 fix)
    val t2 = Files.createTempDirectory("graft_manifest_empty").toString + "/t"
    ManifestTable.commit(Seq((1L, "")).toDF("id", "tag"), t2,
      append = false, statsCols = Seq("tag"))
    assert(ManifestTable.read(spark, t2).count() == 1)
    assert(ManifestTable.prunedDataDirs(spark, t2, "tag", "", "a").size == 1)
  }

  test("two interleaved committers: CAS loser retries on the winner's head, no commit lost") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_cas").toString + "/t"
    ManifestTable.commit(Seq((1L, "base")).toDF("id", "v"), table, append = false)

    // deterministic interleave: a "winner" publishes m-000002 out from
    // under this committer (data landed first, as a real racer's would)
    Seq((2L, "winner")).toDF("id", "v").write.parquet(s"$table/data/winner0000000001")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table, "_manifests"))
    val m1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table, "_manifests", "m-000001.txt")), "UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "_manifests", "m-000002.txt"),
      (m1.trim + "\ndata/winner0000000001").getBytes("UTF-8"))

    val v = ManifestTable.commit(Seq((3L, "loser")).toDF("id", "v"), table, append = true)
    assert(v == 3, s"CAS loser must land at the next free version, got $v")
    val vs = ManifestTable.read(spark, table).collect().map(_.getString(1)).sorted
    assert(vs.sameElements(Array("base", "loser", "winner")),
      s"both racing commits' rows must be in the snapshot, got ${vs.mkString(",")}")

    // genuinely concurrent appends: every committer's rows land
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (10 to 13).map(i => Future {
      ManifestTable.commit(Seq((i.toLong, s"c$i")).toDF("id", "v"), table, append = true)
    })
    val versions = Await.result(Future.sequence(racers), 120.seconds)
    assert(versions.toSet.size == 4, s"each racer gets its own version, got $versions")
    assert(ManifestTable.read(spark, table).count() == 3 + 4,
      "all concurrent appends must be present in the final snapshot")
  }

  test("idempotent token commits: a replayed batch never double-appends") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_idem").toString + "/t"

    val v1 = ManifestTable.commitIdempotent(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table, "batch-00000")
    assert(v1 == 1 && ManifestTable.read(spark, table).count() == 2)

    // the crash-replay case: same token again (even with different bytes -
    // a replay recomputes the same logical batch) must be a no-op
    val v1r = ManifestTable.commitIdempotent(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table, "batch-00000")
    assert(v1r == 1, s"replay must return the committed version, got $v1r")
    assert(ManifestTable.currentVersion(spark, table) == 1, "no new version")
    assert(ManifestTable.read(spark, table).count() == 2, "no duplicate rows")

    // a NEW token appends normally and carries v1 forward
    val v2 = ManifestTable.commitIdempotent(
      Seq((3L, "c")).toDF("id", "v"), table, "batch-00001")
    assert(v2 == 2 && ManifestTable.read(spark, table).count() == 3)

    // crash BEFORE the manifest CAS: the token's data dir exists but no
    // manifest references it. The replay must overwrite the garbage and
    // commit exactly once.
    Seq((99L, "garbage")).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$table/data/t-batch-00002")
    val v3 = ManifestTable.commitIdempotent(
      Seq((4L, "d")).toDF("id", "v"), table, "batch-00002")
    assert(v3 == 3)
    val vs = ManifestTable.read(spark, table).collect().map(_.getString(1)).sorted
    assert(vs.sameElements(Array("a", "b", "c", "d")),
      s"crashed attempt's bytes must not survive, got ${vs.mkString(",")}")

    // token namespace is validated - separators would corrupt the manifest
    intercept[IllegalArgumentException] {
      ManifestTable.commitIdempotent(
        Seq((5L, "e")).toDF("id", "v"), table, "bad token;x")
    }
  }

  test("clustered compaction keeps range pruning selective") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_cluster").toString + "/t"

    // three commits, EACH spanning the full id range: before compaction
    // every dir's [min,max] covers everything, so a scoped read prunes
    // nothing - the worst case a clustered rewrite must fix
    (0 until 3).foreach { k =>
      ManifestTable.commit(
        (1 to 300).filter(_ % 3 == k).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
        table, append = true, statsCols = Seq("id"))
    }
    val before = ManifestTable.prunedDataDirs(spark, table, "id", "1", "50")
    assert(before.size == 3, "full-range commits must not prune")

    val vc = ManifestTable.compactClustered(spark, table, "id", buckets = 4)
    assert(vc == 4)
    val snap = ManifestTable.read(spark, table)
    assert(snap.count() == 300)
    assert(snap.select("id").distinct().count() == 300, "rewrite must not drop/dup rows")

    val entries = ManifestTable.manifestEntries(spark, table, vc)
    assert(entries.size == 4, s"one dir per bucket, got ${entries.size}")
    // a narrow range now reads a strict subset of the dirs...
    val pruned = ManifestTable.prunedDataDirs(spark, table, "id", "1", "50")
    assert(pruned.size < entries.size,
      s"clustered dirs must prune: ${pruned.size} of ${entries.size}")
    // ...and the pruned read (I/O pruning + the caller's row filter, per
    // the readRange contract) is still exactly correct
    val scoped = ManifestTable.readRange(spark, table, "id", "1", "50")
    assert(scoped.count() < 300, "the scoped read must scan a subset")
    assert(scoped.filter($"id".between(1L, 50L)).count() == 50)
    assert(ManifestTable.readRange(spark, table, "id", "301", "999").count() == 0)

    // an empty snapshot compacts to a readable schema-only version
    val empty = Files.createTempDirectory("graft_manifest_cluster0").toString + "/t"
    ManifestTable.commit(
      Seq.empty[(Long, String)].toDF("id", "v"), empty, append = false)
    val ve = ManifestTable.compactClustered(spark, empty, "id", buckets = 4)
    assert(ve == 2 && ManifestTable.read(spark, empty).count() == 0)
    assert(ManifestTable.read(spark, empty).columns.sameElements(Array("id", "v")))
  }

  test("concurrent distinct-token committers all land exactly once") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = Files.createTempDirectory("graft_manifest_idem_race").toString + "/t"

    val racers = (0 until 4).map(i => Future {
      ManifestTable.commitIdempotent(
        Seq((i.toLong, s"c$i")).toDF("id", "v"), table, f"batch-$i%05d")
    })
    val versions = Await.result(Future.sequence(racers), 120.seconds)
    assert(versions.toSet.size == 4, s"each token gets its own version, got $versions")
    // the version-4 SNAPSHOT has every racer's rows (the pointer hint may
    // lag a racing writer per its documented contract; the manifest never
    // does)
    assert(ManifestTable.read(spark, table, version = 4L).count() == 4,
      "every racer's rows must be in the head snapshot")
    // a replay is a no-op for the data AND heals any stale pointer
    val v = ManifestTable.commitIdempotent(
      Seq((0L, "c0")).toDF("id", "v"), table, "batch-00000")
    assert(v <= 4)
    assert(ManifestTable.currentVersion(spark, table) == 4,
      "the next advance must heal the hint to the head")
    assert(ManifestTable.read(spark, table).count() == 4)
  }

  test("a replayed token commit heals a pointer the crashed writer never advanced") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_heal").toString + "/t"

    val v1 = ManifestTable.commitIdempotent(
      Seq((1L, "a")).toDF("id", "v"), table, "batch-00000")
    assert(v1 == 1 && ManifestTable.currentVersion(spark, table) == 1)

    // simulate a writer that died between the manifest CAS and the
    // pointer write: the manifest exists, _latest never landed (the
    // Hadoop-local CRC sidecar goes with it)
    java.nio.file.Files.delete(java.nio.file.Paths.get(table, "_latest"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(table, "._latest.crc"))
    // readers stay live on the manifest-head fallback even with no hint
    assert(ManifestTable.currentVersion(spark, table) == 1)
    assert(ManifestTable.read(spark, table).count() == 1)

    // and the crash-recovery replay re-materializes the hint file itself
    val vr = ManifestTable.commitIdempotent(
      Seq((1L, "a")).toDF("id", "v"), table, "batch-00000")
    assert(vr == 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(table, "_latest")),
      "replay no-op must republish the pointer")
    assert(ManifestTable.currentVersion(spark, table) == 1)
  }

  test("timestamp stats are canonical UTC instants, independent of session timezone") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val table = Files.createTempDirectory("graft_manifest_ts").toString + "/t"
    val day1 = java.time.Instant.parse("2024-09-23T10:00:00Z").toEpochMilli * 1000L
    val day2 = java.time.Instant.parse("2024-09-24T10:00:00Z").toEpochMilli * 1000L

    // the WRITER runs in a non-UTC session: a string-cast stat would
    // render Tokyo wall time and silently shift every bound by 9 hours
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      ManifestTable.commit(
        Seq(1L).toDF("id").select(col("id"),
          expr(s"timestamp_micros(${day1}L)").as("ts")),
        table, append = false, statsCols = Seq("ts"))
      ManifestTable.commit(
        Seq(2L).toDF("id").select(col("id"),
          expr(s"timestamp_micros(${day2}L)").as("ts")),
        table, append = true, statsCols = Seq("ts"))
    } finally spark.conf.set("spark.sql.session.timeZone", saved)

    // the READER scopes by UTC instants and must see exactly day 1's
    // commit - not a timezone-shifted miss
    val pruned = ManifestTable.prunedDataDirs(spark, table,
      "ts", "2024-09-23 00:00:00", "2024-09-23 23:59:59")
    assert(pruned.size == 1, s"UTC day-1 window must keep exactly one dir, got $pruned")
    assert(ManifestTable.readRange(spark, table,
      "ts", "2024-09-23 00:00:00", "2024-09-23 23:59:59")
      .collect().map(_.getLong(0)).sameElements(Array(1L)))
    // date-only bounds parse; malformed bounds fail loudly (caller bug,
    // not a silent full scan)
    assert(ManifestTable.prunedDataDirs(spark, table,
      "ts", "2024-09-24", "2024-09-25").size == 1)
    intercept[IllegalArgumentException] {
      ManifestTable.prunedDataDirs(spark, table, "ts", "not a time", "also not")
    }
  }

  test("tsCanon renders fixed-width and order-preserving across the AD range") {
    val rnd = new scala.util.Random(42)
    val lo = -62135596800000000L // 0001-01-01T00:00:00Z
    val hi = 253402300799999999L // 9999-12-31T23:59:59.999999Z
    val micros = Seq.fill(2000)(lo + (rnd.nextDouble() * (hi.toDouble - lo)).toLong)
      .filter(m => m >= lo && m <= hi).sorted
    val canons = micros.map(ColStats.tsCanon)
    assert(canons.forall(_.length == 26), "fixed width is what makes lexical = chronological")
    assert(canons == canons.sorted, "lexical order must equal instant order")
    // spot anchors
    assert(ColStats.tsCanon(0L) == "1970-01-01 00:00:00.000000")
    assert(ColStats.tsCanon(1727085600000000L) == "2024-09-23 10:00:00.000000")
  }

  test("incremental consumption reads only appended commits, refuses rewritten boundaries") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_tail").toString + "/t"

    val v1 = ManifestTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      table, append = false)
    val v2 = ManifestTable.commit(Seq((3L, "c")).toDF("id", "v"), table, append = true)
    val v3 = ManifestTable.commit(Seq((4L, "d"), (5L, "e")).toDF("id", "v"),
      table, append = true)

    // bootstrap (from 0) = whole snapshot; then each consumer step sees
    // exactly the commits it hasn't processed
    assert(ManifestTable.readAppendedSince(spark, table, 0L).count() == 5)
    assert(ManifestTable.readAppendedSince(spark, table, v1)
      .collect().map(_.getString(1)).sorted.sameElements(Array("c", "d", "e")))
    assert(ManifestTable.readAppendedSince(spark, table, v2, v3)
      .collect().map(_.getString(1)).sorted.sameElements(Array("d", "e")))
    // caught up: empty, schema intact
    val caught = ManifestTable.readAppendedSince(spark, table, v3)
    assert(caught.count() == 0 && caught.columns.sameElements(Array("id", "v")))

    // a compaction rewrites the dirs: "since v2" is no longer dir-wise
    // well-defined and must fail loudly, not double-deliver
    val vc = ManifestTable.compactCommit(spark, table)
    intercept[IllegalArgumentException] {
      ManifestTable.readAppendedSince(spark, table, v2)
    }
    // appends after the compaction tail cleanly from it
    ManifestTable.commit(Seq((6L, "f")).toDF("id", "v"), table, append = true)
    assert(ManifestTable.readAppendedSince(spark, table, vc)
      .collect().map(_.getString(1)).sameElements(Array("f")))
  }

  test("a tailing consumer racing live compactions delivers every row exactly once or refuses loudly") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_tailrace").toString + "/t"
    val batches = 12
    val rowsPerBatch = 20

    @volatile var writerDone = false
    @volatile var writerErr: Option[Throwable] = None
    @volatile var consumerErr: Option[Throwable] = None
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    var refusals = 0

    val writer = new Thread(() => {
      try {
        (0 until batches).foreach { b =>
          val ids = (b * rowsPerBatch + 1) to ((b + 1) * rowsPerBatch)
          ManifestTable.commit(ids.map(i => (i.toLong, s"r$i")).toDF("id", "v"),
            table, append = true, statsCols = Seq("id"))
          // periodic live compaction: the thing the tail must survive
          if (b == 3 || b == 7)
            ManifestTable.compactClustered(spark, table, "id", buckets = 2,
              statsCols = Seq("id"))
        }
      } catch { case t: Throwable => writerErr = Some(t) }
      finally writerDone = true
    }, "tailrace-writer")

    val consumer = new Thread(() => {
      try {
        var from = 0L
        var spin = 0
        def head(): Long = ManifestTable.currentVersion(spark, table)
        while ((!writerDone || from < head()) && spin < 100000) {
          spin += 1
          val to = head()
          if (to == from) Thread.sleep(5) // idle: writer hasn't committed yet
          if (to > from) {
            try {
              delivered ++= ManifestTable.readAppendedSince(spark, table, from, to)
                .select("id").collect().map(_.getLong(0))
              from = to
            } catch {
              case e: IllegalArgumentException
                  if e.getMessage.contains("not append-only") =>
                // compaction crossed the tail window: the API refused
                // instead of double-delivering; re-bootstrap from `to`
                refusals += 1
                delivered.clear()
                delivered ++= ManifestTable.read(spark, table, to)
                  .select("id").collect().map(_.getLong(0))
                from = to
            }
          }
        }
      } catch { case t: Throwable => consumerErr = Some(t) }
    }, "tailrace-consumer")

    writer.start(); consumer.start()
    writer.join(300000); consumer.join(300000)
    writerErr.foreach(throw _)
    consumerErr.foreach(throw _)

    val expected = (1L to (batches * rowsPerBatch).toLong)
    assert(delivered.sorted == expected.toSeq,
      s"tail across live compactions must deliver every row exactly once " +
        s"(got ${delivered.size} rows, ${delivered.distinct.size} distinct, $refusals refusals)")

    // deterministic coda: a tail window that provably crosses a compaction
    // must refuse (the race above may or may not have hit one)
    val pinnedFrom = ManifestTable.currentVersion(spark, table)
    ManifestTable.commit(
      (241 to 260).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))
    ManifestTable.compactClustered(spark, table, "id", buckets = 2,
      statsCols = Seq("id"))
    val refused = intercept[IllegalArgumentException](
      ManifestTable.readAppendedSince(spark, table, pinnedFrom).count())
    assert(refused.getMessage.contains("not append-only"))
    assert(ManifestTable.read(spark, table).count() == 260,
      "re-bootstrap after the refusal sees the complete snapshot")
  }

  test("concurrent vacuum reclaims dead dirs but never one a retained pinned snapshot references") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_vacrace").toString + "/t"
    val root = new org.apache.hadoop.fs.Path(table)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // v1/v2 build history an overwrite then makes dead; v3 overwrite, v4 append
    ManifestTable.commit((1 to 100).map(i => (i.toLong, "old")).toDF("id", "v"),
      table, append = false)
    ManifestTable.commit((101 to 150).map(i => (i.toLong, "old")).toDF("id", "v"),
      table, append = true)
    ManifestTable.commit((1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      table, append = false)
    val pinned = ManifestTable.commit(
      (11 to 15).map(i => (i.toLong, s"r$i")).toDF("id", "v"), table, append = true)
    assert(pinned == 4)
    val dirsBefore = f.listStatus(new org.apache.hadoop.fs.Path(root, "data")).length

    // age every existing data dir past the grace window, so liveness — not
    // youth — is the only thing protecting the pinned snapshot's dirs
    val aged = System.currentTimeMillis() - 120000L
    f.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .foreach(st => f.setTimes(st.getPath, aged, aged))

    @volatile var writerErr: Option[Throwable] = None
    @volatile var vacErr: Option[Throwable] = None
    @volatile var readErr: Option[Throwable] = None
    @volatile var done = false

    val writer = new Thread(() => {
      try (5 to 8).foreach { v =>
        ManifestTable.commit(
          ((v * 5 + 1) to (v * 5 + 5)).map(i => (i.toLong, s"n$i")).toDF("id", "v"),
          table, append = true)
      } catch { case t: Throwable => writerErr = Some(t) }
      finally done = true
    }, "vacrace-writer")

    // keepVersions=5 keeps the pinned v4 retained at every head the writer
    // reaches (head 8 -> keepFrom 4); graceMs=60s protects the writer's
    // young in-flight dirs, while the aged dead dirs are reclaimable
    val vac = new Thread(() => {
      try while (!done) ManifestTable.vacuum(spark, table, keepVersions = 5,
        graceMs = 60000L)
      catch { case t: Throwable => vacErr = Some(t) }
    }, "vacrace-vacuum")

    val reader = new Thread(() => {
      try while (!done) {
        val n = ManifestTable.read(spark, table, version = pinned).count()
        assert(n == 15, s"pinned v4 snapshot corrupted mid-vacuum: $n rows")
      } catch { case t: Throwable => readErr = Some(t) }
    }, "vacrace-reader")

    writer.start(); vac.start(); reader.start()
    writer.join(300000); vac.join(300000); reader.join(300000)
    writerErr.foreach(throw _)
    vacErr.foreach(throw _)
    readErr.foreach(throw _)

    // one more sweep now that the head is settled, then: pinned + head intact
    ManifestTable.vacuum(spark, table, keepVersions = 5, graceMs = 60000L)
    assert(ManifestTable.read(spark, table, version = pinned).count() == 15,
      "retained pinned snapshot must survive every vacuum")
    assert(ManifestTable.read(spark, table).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == ((1L to 15L) ++ (26L to 45L)),
      "head snapshot must be complete after concurrent vacuums")
    // and the sweep actually reclaimed the dead aged dirs (v1/v2's)
    val dirsAfter = f.listStatus(new org.apache.hadoop.fs.Path(root, "data")).length
    assert(dirsAfter < dirsBefore + 4,
      s"dead aged dirs must be reclaimed: $dirsBefore before + 4 young, $dirsAfter after")
    val gone = intercept[Exception](
      ManifestTable.read(spark, table, version = 1).count())
    assert(gone != null, "vacuumed v1 must be unreadable")
  }

  test("z-ordered compaction prunes on every cluster dimension") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_manifest_z").toString + "/t"

    // a 32x32 grid, every commit spanning the FULL plane: no dimension
    // prunes before the rewrite
    (0 until 3).foreach { k =>
      ManifestTable.commit(
        (0 until 1024).filter(_ % 3 == k)
          .map(i => (i.toLong, (i % 32).toLong, (i / 32).toLong))
          .toDF("id", "x", "y"),
        table, append = true, statsCols = Seq("x", "y"))
    }
    assert(ManifestTable.prunedDataDirs(spark, table, "x", "0", "7").size == 3)
    assert(ManifestTable.prunedDataDirs(spark, table, "y", "0", "7").size == 3)

    val vc = ManifestTable.compactZOrdered(spark, table, Seq("x", "y"), buckets = 4)
    val entries = ManifestTable.manifestEntries(spark, table, vc)
    assert(entries.size == 4, s"one dir per bucket, got ${entries.size}")
    assert(ManifestTable.read(spark, table).count() == 1024)

    // BOTH dimensions now prune - the single-column rewrite can only ever
    // deliver one of these
    val px = ManifestTable.prunedDataDirs(spark, table, "x", "0", "7")
    val py = ManifestTable.prunedDataDirs(spark, table, "y", "0", "7")
    assert(px.size < entries.size, s"x must prune, kept ${px.size}/4")
    assert(py.size < entries.size, s"y must prune, kept ${py.size}/4")

    // conjunctive corner read: pruned I/O + the caller's row filter
    val corner = ManifestTable.readWhere(spark, table,
      Seq(("x", "0", "7"), ("y", "0", "7")))
    assert(corner.count() < 1024, "corner read must scan a subset")
    assert(corner.filter($"x" <= 7L && $"y" <= 7L).count() == 64)
  }

  test("snapshotDiff: added/removed/changed classified, shared commits never scanned") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_diff").toString + "/t"

    // v1 = commit A (keys 1-3); v2 appends commit B (keys 4-6)
    ManifestTable.commit(
      Seq((1L, "a1", 10), (2L, "a2", 10), (3L, "a3", 10)).toDF("id", "v", "band"),
      table, append = false, statsCols = Seq("id"))
    val v2 = ManifestTable.commit(
      Seq((4L, "b4", 20), (5L, "b5", 20), (6L, "b6", 20)).toDF("id", "v", "band"),
      table, append = true, statsCols = Seq("id"))

    // v3: a stats-pruned merge touching only commit B's key range —
    // update key 5, insert key 7
    val v3 = ManifestTable.mergeCommit(spark,
      table, Seq((5L, "b5-upd", 20), (7L, "b7", 20)).toDF("id", "v", "band"),
      keyCols = Seq("id"), statsCols = Seq("id"))

    val d23 = ManifestTable.snapshotDiff(spark, table, Seq("id"), v2, v3)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("change")).toMap
    assert(d23 == Map(5L -> "changed", 7L -> "added"),
      s"merge diff must be exactly the touched keys: $d23")

    // the untouched commit A is SHARED between v2 and v3 and must be
    // outside the diff's scan footprint entirely
    val (fromOnly, toOnly, shared) = ManifestTable.diffDirs(spark, table, v2, v3)
    assert(shared.nonEmpty, "commit A must be carried by reference")
    assert(fromOnly.size == 1 && toOnly.size == 1,
      s"only commit B's before/after may be read: $fromOnly / $toOnly")

    // v4: overwrite to a subset -> removals classify too
    val v4 = ManifestTable.commit(
      Seq((1L, "a1", 10), (5L, "b5-upd", 20)).toDF("id", "v", "band"),
      table, append = false, statsCols = Seq("id"))
    val d34 = ManifestTable.snapshotDiff(spark, table, Seq("id"), v3, v4)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("change")).toMap
    assert(d34 == Map(2L -> "removed", 3L -> "removed", 4L -> "removed",
      6L -> "removed", 7L -> "removed"),
      s"overwrite diff must show the dropped keys and nothing else: $d34")

    // identical versions diff to empty; bad ranges refuse loudly
    assert(ManifestTable.snapshotDiff(spark, table, Seq("id"), v4, v4).isEmpty)
    intercept[IllegalArgumentException](
      ManifestTable.snapshotDiff(spark, table, Seq.empty, v3, v4))
    intercept[IllegalArgumentException](
      ManifestTable.snapshotDiff(spark, table, Seq("id"), v4, v3))
  }

  /** The stats a read-back of `dir`'s own files records — the per-column
    * aggregate a commit would run over the dir it just wrote, typed the
    * way the manifest types them (decimal and other types record none).
    */
  private def readBackStats(dir: String, statsCols: Seq[String]): Map[String, ColStat] = {
    val written = spark.read.parquet(dir)
    statsCols.flatMap { c =>
      written.schema.find(_.name == c).map(_.dataType).collect {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
             _: FloatType | _: DoubleType => "num"
        case _: StringType | _: DateType => "str"
        case _: TimestampType => "ts"
        case _: TimestampNTZType => "tsn"
      }.flatMap { tag =>
        val e = tag match {
          case "ts" => unix_micros(col(c))
          case "tsn" => date_format(col(c), ColStats.TsPattern)
          case _ => col(c)
        }
        val r = written.agg(min(e).cast("string"), max(e).cast("string"),
          count(lit(1)) - count(col(c))).head()
        if (r.isNullAt(0)) None
        else if (tag == "ts") Some(c -> ColStat(tag, ColStats.tsCanon(r.getString(0).toLong),
          ColStats.tsCanon(r.getString(1).toLong), Some(r.getLong(2))))
        else Some(c -> ColStat(tag, r.getString(0), r.getString(1), Some(r.getLong(2))))
      }
    }.toMap
  }

  /** Commit `df` as a fresh table with stats on every column; assert the
    * recorded stats equal a read-back of the written dir's. */
  private def assertStatsAsReadBack(df: org.apache.spark.sql.DataFrame): Map[String, ColStat] = {
    val table = Files.createTempDirectory("graft_stats_eq").toString + "/t"
    val v = ManifestTable.commit(df, table, append = false, statsCols = df.columns.toSeq)
    val Seq(entry) = ManifestTable.manifestEntries(spark, table, v)
    val expected = readBackStats(s"$table/${entry.dir}", df.columns.toSeq)
    assert(entry.stats == expected, s"recorded ${entry.stats} vs read-back $expected")
    entry.stats
  }

  private val Strings = Seq("", "plain", "héllo wörld", "日本語テキスト", "emoji \uD83D\uDE00 x",
    "\uE000 private use", null)

  test("stats taken from the write equal a read-back: num, str, date, all-null, 4 partitions") {
    import spark.implicits._
    val df = Strings.zipWithIndex.map { case (s, i) =>
      (i, i.toLong * 1000000007L - 3, if (i == 2) -0.5 else i * 1.25,
        BigDecimal(i) * BigDecimal("12.34"), s, s"2024-0${i % 9 + 1}-1$i")
    }.toDF("i", "l", "d", "dec", "s", "dt_s")
      .withColumn("dt", to_date(col("dt_s"))).drop("dt_s")
      .withColumn("nothing", lit(null).cast("string"))
      .repartition(4)
    val stats = assertStatsAsReadBack(df)
    assert(stats.keySet == Set("i", "l", "d", "s", "dt"),
      s"num, str and date columns record stats; decimal and all-null do not: ${stats.keySet}")
    assert(stats("s").min == "" && stats("s").nulls.contains(1L), stats("s").toString)
  }

  test("stats taken from the write equal a read-back: ts under two session zones, tsn, zero rows") {
    import spark.implicits._
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try Seq("America/Los_Angeles", "Asia/Kolkata").foreach { tz =>
      spark.conf.set("spark.sql.session.timeZone", tz)
      val df = Seq("2024-03-10 01:59:59.123456", "2024-03-10 03:00:00", "1999-12-31 23:59:59",
        null).toDF("raw")
        .select(to_timestamp(col("raw")).as("ts"), to_timestamp_ntz(col("raw")).as("tsn"))
        .repartition(2)
      val stats = assertStatsAsReadBack(df)
      assert(stats.keySet == Set("ts", "tsn") && stats("tsn").min == "1999-12-31 23:59:59.000000",
        s"$tz: $stats")
      assert(assertStatsAsReadBack(df.filter(lit(false))).isEmpty, "a zero-row commit records none")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("a commit's write-time schema is its footer schema") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_schema_eq").toString + "/t"
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    val df = Seq((1L, "a", Seq(1, 2), Map("k" -> 1.5)), (2L, "b", Seq(3), Map.empty[String, Double]))
      .toDF("id", "s", "xs", "m")
      .withColumn("st", struct(col("id").as("inner"), lit(7).as("seven")))
      .withColumn("one", lit(1))
      .withColumn("dec", lit(BigDecimal("1.50")).cast("decimal(9,2)"))
      .withColumn("ts", current_timestamp())
      .withColumn("tsn", to_timestamp_ntz(lit("2024-01-01 00:00:00")))
      .withColumn("dt", current_date())
      .withColumn("bin", col("s").cast("binary"))
      .withColumn("tagged", col("s").as("tagged", meta))
    val v = ManifestTable.commit(df, table, append = false, statsCols = Seq("id"))
    val Seq(entry) = ManifestTable.manifestEntries(spark, table, v)
    assert(ManifestTable.snapshotSchemaOf(spark, table, v) ==
      spark.read.parquet(s"$table/${entry.dir}").schema)
  }

  test("a table deleted and re-created under the same token reads its new schema") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_recreate").toString + "/t"
    ManifestTable.commitIdempotent(Seq((1L, "a")).toDF("id", "v"), table, "batch-0",
      statsCols = Seq("id"))
    assert(ManifestTable.snapshotSchemaOf(spark, table, 1L).fieldNames.toSeq == Seq("id", "v"))
    val root = new org.apache.hadoop.fs.Path(table)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    ManifestTable.commitIdempotent(Seq((2L, 0.5, "x")).toDF("id", "score", "tag"), table,
      "batch-0", statsCols = Seq("id"))
    assert(ManifestTable.snapshotSchemaOf(spark, table, 1L).fieldNames.toSeq ==
      Seq("id", "score", "tag"))
    val got = ManifestTable.readRange(spark, table, "id", "0", "9")
    assert(got.columns.toSeq == Seq("id", "score", "tag"))
    assert(got.as[(Long, Double, String)].collect().toSeq == Seq((2L, 0.5, "x")))
    // a same-schema append checks against the new schema, not the old one
    assert(ManifestTable.commit(Seq((3L, 1.5, "y")).toDF("id", "score", "tag"), table,
      append = true) == 2L)
  }
}
