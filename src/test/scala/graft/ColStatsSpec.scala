package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._

import graft.sources.{GraftDataSource, ManifestTable}

/** Every pruning path decides through one stats module, so for each tag
  * the three surfaces keep the same commits for one interval [lo, hi]:
  * `readWhere(k, lo, hi)` (caller strings), the SQL scan's `pruneEntries`
  * for `k >= lo AND k <= hi` (filter literals), and the commits
  * `mergeCommit` rewrites for updates whose key envelope is [lo, hi].
  * Each range also names the commits it must keep, so agreement on a
  * wrong answer fails too.
  */
class ColStatsSpec extends SparkSpec {

  /** One range: the caller strings, the typed filter and key values, and
    * the indices of the commits that can hold a value in it.
    */
  private case class Range(lo: String, hi: String, loV: Any, hiV: Any, keeps: Set[Int])

  private def agree(dt: DataType, commits: Seq[Seq[Any]], ranges: Seq[Range]): Unit = {
    val schema = StructType(Seq(StructField("k", dt), StructField("id", LongType)))
    val root = Files.createTempDirectory("graft_colstats").toString
    val table = s"$root/t"
    var id = 0L
    def frame(vals: Seq[Any]) = spark.createDataFrame(
      vals.map { v => id += 1; Row(v, id) }.asJava, schema)
    val dirs = commits.zipWithIndex.map { case (vals, i) =>
      val v = ManifestTable.commit(frame(vals), table, append = i > 0, statsCols = Seq("k"))
      val before = if (i == 0) Set.empty[String]
        else ManifestTable.manifestEntries(spark, table, v - 1).map(_.dir).toSet
      val Seq(d) = ManifestTable.manifestEntries(spark, table, v).map(_.dir).filterNot(before)
      d
    }
    val entries = ManifestTable.manifestEntries(spark, table,
      ManifestTable.currentVersion(spark, table))
    ranges.zipWithIndex.foreach { case (r, i) =>
      val expected = r.keeps.map(dirs)
      val byRead = ManifestTable.readWhere(spark, table, Seq(("k", r.lo, r.hi)))
        .inputFiles.map(f => dirs.find(d => f.contains(s"/$d/")).get).toSet
      val bySql = GraftDataSource.pruneEntries(schema, entries,
        Seq(GreaterThanOrEqual("k", r.loV), LessThanOrEqual("k", r.hiV))).map(_.dir).toSet
      val clone = s"$root/merge$i"
      ManifestTable.cloneShallow(spark, table, clone)
      ManifestTable.mergeCommit(spark, clone, frame(Seq(r.loV, r.hiV).distinct), Seq("k"))
      val after = ManifestTable.manifestEntries(spark, clone,
        ManifestTable.currentVersion(spark, clone)).map(_.dir)
      val byMerge = dirs.filterNot(d => after.exists(_.endsWith(s"/$d"))).toSet
      assert(byRead == expected, s"readWhere [${r.lo}, ${r.hi}]")
      assert(bySql == expected, s"pruneEntries [${r.lo}, ${r.hi}]")
      assert(byMerge == expected, s"mergeCommit [${r.lo}, ${r.hi}]")
    }
  }

  private def inZone[A](zone: String)(body: => A): A = {
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try { spark.conf.set("spark.sql.session.timeZone", zone); body }
    finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("num (int): the three pruning paths keep the same commits") {
    agree(IntegerType, Seq(Seq(1, 5), Seq(6, 10), Seq(100)), Seq(
      Range("5", "6", 5, 6, Set(0, 1)),
      Range("11", "99", 11, 99, Set()),
      Range("-3", "1", -3, 1, Set(0)),
      Range("100", "100", 100, 100, Set(2))))
  }

  test("num (long): the three pruning paths keep the same commits") {
    agree(LongType, Seq(Seq(-5000000000L, -1L), Seq(0L), Seq(9000000000L)), Seq(
      Range("-5000000000", "-5000000000", -5000000000L, -5000000000L, Set(0)),
      Range("0", "8999999999", 0L, 8999999999L, Set(1)),
      Range("-1", "9000000000", -1L, 9000000000L, Set(0, 1, 2))))
  }

  test("num (double): the three pruning paths keep the same commits") {
    agree(DoubleType, Seq(Seq(-1.5, 0.25), Seq(2.0, 3.75), Seq(1e10)), Seq(
      Range("0.3", "1.9", 0.3, 1.9, Set()),
      Range("0.25", "2", 0.25, 2.0, Set(0, 1)),
      Range("3.75", "1e10", 3.75, 1e10, Set(1, 2))))
  }

  test("str: empty string and UTF-8 vs UTF-16 order keep the same commits") {
    val privateUse = "x"
    val emoji = new String(Character.toChars(0x1F600))
    // UTF-8 order: "" < "a" < "zz" < privateUse < emoji; UTF-16 puts the
    // emoji's surrogates below privateUse
    agree(StringType, Seq(Seq("", "a"), Seq("zz"), Seq(privateUse, emoji)), Seq(
      Range("", "", "", "", Set(0)),
      Range(emoji, emoji, emoji, emoji, Set(2)),
      Range("b", "z", "b", "z", Set()),
      Range("a", privateUse, "a", privateUse, Set(0, 1, 2))))
  }

  test("date: the three pruning paths keep the same commits") {
    def d(s: String) = Date.valueOf(s)
    agree(DateType, Seq(Seq(d("2024-01-01"), d("2024-01-31")), Seq(d("2024-02-01")),
      Seq(d("1969-12-31"))), Seq(
      Range("2024-01-31", "2024-02-01", d("2024-01-31"), d("2024-02-01"), Set(0, 1)),
      Range("1970-01-01", "2023-12-31", d("1970-01-01"), d("2023-12-31"), Set()),
      Range("1969-12-31", "1969-12-31", d("1969-12-31"), d("1969-12-31"), Set(2))))
  }

  /** Instants written, bounded and merged in session `zone`: caller
    * bounds are UTC, literals and keys are instants, so the zone must
    * change nothing.
    */
  private def tsAgreement(zone: String): Unit = inZone(zone) {
    def at(s: String) = Timestamp.from(Instant.parse(s))
    agree(TimestampType, Seq(
      Seq(at("2024-09-23T10:00:00Z"), at("2024-09-23T12:00:00Z")),
      Seq(at("2024-09-24T00:30:00Z")),
      Seq(at("1969-12-31T23:59:59.500Z"))), Seq(
      Range("2024-09-23 10:00:00", "2024-09-23 10:00:00",
        at("2024-09-23T10:00:00Z"), at("2024-09-23T10:00:00Z"), Set(0)),
      Range("2024-09-23 12:00:00.000001", "2024-09-24 00:29:59",
        at("2024-09-23T12:00:00.000001Z"), at("2024-09-24T00:29:59Z"), Set()),
      Range("1969-12-31 23:59:59.5", "2024-09-24 00:30:00",
        at("1969-12-31T23:59:59.500Z"), at("2024-09-24T00:30:00Z"), Set(0, 1, 2)),
      Range("1969-12-31 23:59:59.6", "1970-01-01",
        at("1969-12-31T23:59:59.600Z"), at("1970-01-01T00:00:00Z"), Set())))
  }

  test("ts in a UTC session: the three pruning paths keep the same commits") {
    tsAgreement("UTC")
  }

  test("ts in a New York session: the three pruning paths keep the same commits") {
    tsAgreement("America/New_York")
  }

  test("tsn: the three pruning paths keep the same commits") {
    def wall(s: String) = LocalDateTime.parse(s)
    agree(TimestampNTZType, Seq(
      Seq(wall("2024-09-23T10:00:00"), wall("2024-09-23T12:00:00")),
      Seq(wall("2024-09-24T00:30:00"))), Seq(
      Range("2024-09-23 12:00:00", "2024-09-24 00:30:00",
        wall("2024-09-23T12:00:00"), wall("2024-09-24T00:30:00"), Set(0, 1)),
      Range("2024-09-23 12:00:01", "2024-09-24",
        wall("2024-09-23T12:00:01"), wall("2024-09-24T00:00:00"), Set()),
      Range("2024-09-23", "2024-09-23 10:00:00",
        wall("2024-09-23T00:00:00"), wall("2024-09-23T10:00:00"), Set(0))))
  }
}
