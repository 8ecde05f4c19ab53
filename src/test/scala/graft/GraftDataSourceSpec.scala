package graft

import java.nio.file.Files

import graft.sources.{ColStats, GraftDataSource, ManifestTable}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._

/** The DSv2 SQL surface over [[ManifestTable]]: snapshot reads, version
  * time-travel, CREATE VIEW … USING graft, and — the point — dir-level
  * stats pruning driven by pushed filters, proven end-to-end by
  * corrupting the prunable dir's files and watching the pruned query
  * succeed where the unpruned one cannot.
  */
class GraftDataSourceSpec extends SparkSpec {

  test("format(graft): snapshot read, SQL view, time travel, evolution") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_dsv2").toString + "/t"

    ManifestTable.commit(
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      table, append = false, statsCols = Seq("id"))
    ManifestTable.commit(
      (101 to 150).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))

    // snapshot read equals the library surface
    val ds = spark.read.format("graft").load(table)
    assert(ds.count() == 150)
    assert(ds.columns.toSeq == Seq("id", "v"))
    assert(ds.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) ==
      (1L to 150L).sum)

    // time travel to v1
    val v1 = spark.read.format("graft").option("version", "1").load(table)
    assert(v1.count() == 100, "version option must pin the old snapshot")

    // pure-SQL surface: temp view USING graft + aggregation
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW graft_mt USING graft " +
        s"OPTIONS (path '$table')")
    assert(spark.sql("SELECT count(*) AS n FROM graft_mt").head.getLong(0) == 150)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_mt WHERE id BETWEEN 40 AND 60")
      .head.getLong(0) == 21)

    // direct `FROM graft.`path`` SQL is a FileFormat-only Spark feature
    // (UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY for DSv2 providers) — the
    // temp view above is the pure-SQL surface
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT sum(id) FROM graft.`$table`").head
    }

    // additive evolution: the new column null-fills across old commits
    ManifestTable.commit(
      Seq((151L, "r151", "fresh")).toDF("id", "v", "note"),
      table, append = true, statsCols = Seq("id"), allowEvolution = true)
    val evolved = spark.read.format("graft").load(table)
    assert(evolved.columns.toSeq == Seq("id", "v", "note"))
    assert(evolved.filter(col("note").isNull).count() == 150)
    assert(evolved.filter(col("note") === "fresh").count() == 1)

    // a versionless table tracks the CAS head per query (the lakehouse
    // convention): the same frame re-counted after a commit sees it, and
    // pinning is what the explicit version option is FOR
    ManifestTable.commit(Seq((999L, "x", "late")).toDF("id", "v", "note"),
      table, append = true, statsCols = Seq("id"), allowEvolution = true)
    assert(evolved.count() == 152,
      "an unpinned frame must track the head across queries")
    assert(spark.read.format("graft").option("version", "3").load(table)
      .count() == 151, "the explicit pin stays frozen")
  }

  test("write path: save modes, INSERT on a view, stats inheritance, refusals") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_dsv2_write").toString + "/t"

    ManifestTable.commit(
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      table, append = false, statsCols = Seq("id"))

    // DataFrameWriter append = CAS append commit
    (101 to 120).map(i => (i.toLong, s"w$i")).toDF("id", "v")
      .write.format("graft").mode("append").save(table)
    assert(ManifestTable.currentVersion(spark, table) == 2L)
    assert(spark.read.format("graft").load(table).count() == 120)

    // the SQL write inherits the head's stats columns: the new commit
    // records min/max on id without anyone naming it
    val entries = ManifestTable.manifestEntries(spark, table, 2L)
    assert(entries.size == 2 && entries.forall(_.stats.contains("id")),
      entries.toString)
    // and pruning still works across the inherited commit: the range
    // [101,105] can only live in the SQL-written commit, so readRange
    // (dir-level pruning, row filter stays with the caller) returns
    // exactly that commit's 20 rows, not all 120
    assert(ManifestTable.readRange(spark, table, "id", "101", "105").count() == 20)

    // INSERT INTO through a USING graft view, stats option override
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW wv USING graft " +
      s"OPTIONS (path '$table', stats 'id,v')")
    spark.sql("INSERT INTO wv VALUES (121, 'z121')")
    assert(spark.sql("SELECT count(*) AS n FROM wv").head.getLong(0) == 121)
    val e3 = ManifestTable.manifestEntries(spark, table, 3L)
      .filterNot(e => ManifestTable.manifestEntries(spark, table, 2L)
        .map(_.dir).contains(e.dir))
    assert(e3.size == 1 && e3.head.stats.keySet == Set("id", "v"),
      s"stats option must name the recorded columns: $e3")

    // append schema drift fails at the write (commit's own check), with
    // Spark's insert-resolution catching it even earlier
    val drift = intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "n").write.format("graft").mode("append").save(table)
    }
    assert(drift.getMessage.toLowerCase.contains("column") ||
      drift.getMessage.contains("schema"), drift.getMessage)

    // overwrite = atomic whole-snapshot replace; history intact
    Seq((7L, "only")).toDF("id", "v")
      .write.format("graft").mode("overwrite").save(table)
    assert(spark.read.format("graft").load(table).count() == 1)
    assert(spark.read.format("graft").option("version", "3").load(table)
      .count() == 121)

    // a pinned or incremental view is not a write target
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW wv_pin USING graft " +
      s"OPTIONS (path '$table', version '3')")
    val pin = intercept[Exception](spark.sql("INSERT INTO wv_pin VALUES (1, 'x')"))
    assert(pin.getMessage.contains("time-travel"), pin.getMessage)
    // sinceVersion '4' (the overwrite IS the new baseline): legal
    // boundary, and still not a write target
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW wv_since USING graft " +
      s"OPTIONS (path '$table', sinceVersion '4')")
    val snc = intercept[Exception](spark.sql("INSERT INTO wv_since VALUES (1, 'x')"))
    assert(snc.getMessage.contains("change feed"), snc.getMessage)

    // fresh-path save: default mode (ErrorIfExists) creates the table...
    val fresh = Files.createTempDirectory("graft_dsv2_fresh").toString + "/f"
    // ...but READING the unborn path stays a loud refusal, never an
    // empty frame (a typo'd path must not read as an empty table)
    val unborn = intercept[Exception](
      spark.read.format("graft").load(fresh).count())
    assert(unborn.getMessage.contains("no committed version"), unborn.getMessage)
    val unbornPin = intercept[Exception](
      spark.read.format("graft").option("version", "1").load(fresh).count())
    assert(unbornPin.getMessage.contains("no committed version"),
      unbornPin.getMessage)
    Seq((1L, "a")).toDF("id", "v").write.format("graft")
      .option("stats", "id").save(fresh)
    assert(spark.read.format("graft").load(fresh).count() == 1)
    // ...and refuses a second create over committed versions
    val second = intercept[Exception] {
      Seq((2L, "b")).toDF("id", "v").write.format("graft").save(fresh)
    }
    assert(second.getMessage.contains("already has committed versions"),
      second.getMessage)
    // mode ignore: silent no-op on an existing table
    Seq((3L, "c")).toDF("id", "v").write.format("graft").mode("ignore").save(fresh)
    assert(spark.read.format("graft").load(fresh).count() == 1)
    // append bootstrapped-table continuity: stats from the create carry
    Seq((4L, "d")).toDF("id", "v").write.format("graft").mode("append").save(fresh)
    assert(ManifestTable.manifestEntries(spark, fresh, 2L)
      .forall(_.stats.contains("id")))
    // a write may not carry read pins
    val pinW = intercept[Exception] {
      Seq((5L, "e")).toDF("id", "v").write.format("graft")
        .option("version", "1").mode("append").save(fresh)
    }
    assert(pinW.getMessage.contains("read options"), pinW.getMessage)

    // append-on-unborn bootstraps v1: with only V1_BATCH_WRITE declared,
    // Spark's append path falls back to the V1 createRelation, which
    // commits against version 0
    val fresh2 = Files.createTempDirectory("graft_dsv2_fresh2").toString + "/f"
    Seq((1L, "a")).toDF("id", "v").write.format("graft")
      .mode("append").save(fresh2)
    assert(spark.read.format("graft").load(fresh2).count() == 1)
    assert(ManifestTable.currentVersion(spark, fresh2) == 1L)
  }

  test("sinceVersion: incremental consumption through the SQL surface") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_dsv2_since").toString + "/t"

    ManifestTable.commit((1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "v"),
      table, append = false, statsCols = Seq("id"))
    ManifestTable.commit((11 to 20).map(i => (i.toLong, s"b$i")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))
    ManifestTable.commit((21 to 30).map(i => (i.toLong, s"c$i")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))

    // rows appended after v1 = commits 2 and 3 exactly
    val since1 = spark.read.format("graft")
      .option("sinceVersion", "1").load(table)
    assert(since1.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (11L to 30L), "sinceVersion 1 must return exactly commits 2+3")
    // bounded upper end: (since 1, version 2] = commit 2 only
    val slice = spark.read.format("graft")
      .option("sinceVersion", "1").option("version", "2").load(table)
    assert(slice.count() == 10)
    // matches the library surface exactly
    assert(since1.select("id", "v").collect().map(_.toString).sorted.toSeq ==
      ManifestTable.readAppendedSince(spark, table, 1)
        .select("id", "v").collect().map(_.toString).sorted.toSeq)
    // pure SQL
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_since USING graft " +
      s"OPTIONS (path '$table', sinceVersion '2')")
    assert(spark.sql("SELECT count(*) AS n FROM graft_since").head.getLong(0) == 10)

    // a non-append boundary (overwrite) refuses at RESOLUTION, with the
    // re-bootstrap message - never silently double-delivers
    ManifestTable.commit(Seq((99L, "z")).toDF("id", "v"), table, append = false)
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft").option("sinceVersion", "2").load(table))
    assert(e.getMessage.contains("re-bootstrap"), e.getMessage)
  }

  test("pushed range predicates provably skip non-matching data dirs") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_dsv2_prune").toString + "/t"

    ManifestTable.commit(
      (0 to 99).map(i => (i.toLong, s"a$i")).toDF("id", "v"),
      table, append = false, statsCols = Seq("id"))
    ManifestTable.commit(
      (1000 to 1099).map(i => (i.toLong, s"b$i")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))

    // warm the snapshot-schema cache (one footer per dir) so planning a
    // PRUNED read afterwards needs no I/O under the high-id dir at all
    assert(spark.read.format("graft").load(table).count() == 200)

    // corrupt every parquet file of the high-id commit's dir: any scan
    // (or footer read) that touches it now throws — so a pruned query
    // succeeding IS the proof the dir was skipped
    val highDir = ManifestTable.manifestEntries(spark, table, 2)
      .filter(_.stats.get("id").exists(_.min == "1000")) match {
        case Seq(e) => e.dir
        case other => fail(s"expected exactly one high-id dir, got $other")
      }
    val dirPath = java.nio.file.Paths.get(table, highDir)
    val corrupted = Files.list(dirPath).iterator()
    var n = 0
    corrupted.forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.write(p, "not parquet anymore".getBytes); n += 1
      }
    }
    assert(n > 0, "expected parquet files to corrupt")

    val pruned = spark.read.format("graft").load(table).filter(col("id") < 500)
    assert(pruned.count() == 100,
      "range under the corrupted dir's min must scan only the intact dir")
    assert(pruned.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) ==
      (0L to 99L).sum)

    // the same filters show in the scan's pushed-filter report
    val leafStr = pruned.queryExecution.executedPlan.toString
    assert(leafStr.contains("PushedFilters") || leafStr.contains("LessThan"),
      s"expected a pushed-filter report in the physical plan, got:\n$leafStr")

    // control: without the pruning predicate the corrupted dir must be
    // read — and therefore throw
    intercept[Exception] {
      spark.read.format("graft").load(table).filter(col("v").startsWith("a"))
        .count()
    }

    // column pruning reaches the bridge: a single-column projection scans
    // a single-attribute relation
    val slim = spark.read.format("graft").load(table)
      .filter(col("id") < 500).select("id")
    val leaves = slim.queryExecution.executedPlan.collectLeaves()
    assert(leaves.exists(_.output.map(_.name) == Seq("id")),
      s"scan leaf should carry only `id`, got ${leaves.map(_.output)}")
    assert(slim.count() == 100)

    // count(*) over the pruned view: empty projection path
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW graft_prune USING graft " +
        s"OPTIONS (path '$table')")
    assert(spark.sql("SELECT count(*) AS n FROM graft_prune WHERE id < 500")
      .head.getLong(0) == 100)
  }

  test("string stats compare in UTF-8 binary order (emoji vs BMP >= U+E000)") {
    import spark.implicits._
    import ManifestTable.{ColStat, Entry}
    // Spark records string min/max in UTF8String (code-point) order: the
    // emoji U+1F600 sorts ABOVE U+E000 there, but its UTF-16 surrogates
    // (0xD83D...) sort BELOW — a UTF-16 compare would prune the dir that
    // holds the matching row and silently drop it
    val privateUse = "x"
    val emoji = new String(Character.toChars(0x1F600))
    assert(privateUse > emoji && // UTF-16 order says privateUse is bigger...
      ColStats.utf8Leq(privateUse, emoji), // ...UTF-8 disagrees
      "precondition: this pair must expose the ordering divergence")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    val e = Entry("data/d", Map("name" -> ColStat("str", privateUse, emoji)))
    assert(GraftDataSource.pruneEntries(schema, Seq(e),
      Seq(EqualTo("name", privateUse))).nonEmpty,
      "the recorded range [U+E000x, emoji] contains U+E000x - must not prune")
    assert(GraftDataSource.pruneEntries(schema, Seq(e),
      Seq(GreaterThanOrEqual("name", emoji))).nonEmpty)
    assert(GraftDataSource.pruneEntries(schema, Seq(e),
      Seq(GreaterThan("name", emoji + "z"))).isEmpty,
      "above the recorded max must still prune")

    // end-to-end through the library pruning path (readRange shares the
    // comparison): the matching row must come back
    val table = java.nio.file.Files.createTempDirectory("graft_utf8")
      .toString + "/t"
    ManifestTable.commit(Seq((1L, privateUse), (2L, emoji)).toDF("id", "name"),
      table, append = false, statsCols = Seq("name"))
    assert(ManifestTable.readRange(spark, table, "name", privateUse, privateUse)
      .count() == 2, "the commit's range provably contains the value")
    assert(spark.read.format("graft").load(table)
      .filter(col("name") === privateUse).count() == 1)
  }

  test("pruneEntries: conservative dir-level filter semantics") {
    import ManifestTable.{ColStat, Entry}
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    val lo = Entry("data/lo", Map("id" -> ColStat("num", "0", "99"),
      "name" -> ColStat("str", "apple", "mango")))
    val hi = Entry("data/hi", Map("id" -> ColStat("num", "1000", "1099"),
      "name" -> ColStat("str", "nectarine", "zucchini")))
    val bare = Entry("data/bare", Map.empty) // no stats: never pruned
    val all = Seq(lo, hi, bare)
    def dirs(filters: Filter*): Seq[String] =
      GraftDataSource.pruneEntries(schema, all, filters).map(_.dir)

    assert(dirs(EqualTo("id", 50L)) == Seq("data/lo", "data/bare"))
    assert(dirs(EqualTo("id", 500L)) == Seq("data/bare"),
      "a value between the dirs' ranges keeps only the stat-less dir")
    assert(dirs(GreaterThan("id", 99L)) == Seq("data/lo", "data/hi", "data/bare"),
      "strict bounds collapse to inclusive: the boundary dir must survive")
    assert(dirs(GreaterThan("id", 100L)) == Seq("data/hi", "data/bare"))
    assert(dirs(LessThanOrEqual("id", 99L)) == Seq("data/lo", "data/bare"))
    assert(dirs(In("id", Array(5L, 1050L))) == Seq("data/lo", "data/hi", "data/bare"))
    assert(dirs(In("id", Array(500L))) == Seq("data/bare"))
    assert(dirs(And(GreaterThan("id", 10L), LessThan("id", 90L))) ==
      Seq("data/lo", "data/bare"))
    assert(dirs(Or(LessThan("id", 10L), GreaterThan("id", 2000L))) ==
      Seq("data/lo", "data/bare"),
      "an Or prunes only dirs neither side can match")
    assert(dirs(EqualTo("name", "banana")) == Seq("data/lo", "data/bare"))
    assert(dirs(EqualTo("score", 1.5)) == Seq("data/lo", "data/hi", "data/bare"),
      "a column with no recorded stats never prunes")
    assert(dirs(IsNull("id")) == Seq("data/lo", "data/hi", "data/bare"),
      "null-ness is not recorded in stats - no dir-level claim")
    assert(dirs(Not(EqualTo("id", 50L))) == Seq("data/lo", "data/hi", "data/bare"),
      "negations make no dir-level claim")
    // conjunction of ranges on MIXED columns intersects
    assert(dirs(And(GreaterThan("id", 100L), EqualTo("name", "apple"))) ==
      Seq("data/bare"))
  }
}
