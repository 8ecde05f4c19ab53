package graft

import java.nio.file.Files

import graft.sources.{GraftCatalog, ManifestTable}
import org.apache.spark.sql.functions.col

/** SQL `MERGE INTO` and `UPDATE` over graft-catalog tables — the
  * GraftDml parser-intercept path onto mergeCommit / cowRewriteCommit —
  * plus the copy-on-write DELETE fallback. Each test pins the SCALE
  * claim too: provably-untouched commits must travel by dir reference,
  * never rewritten.
  */
class GraftDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(cat: String): (String, String) = {
    val root = Files.createTempDirectory(s"graft_dml_$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (root, s"$root/t")
  }

  /** Two key-split commits 1..100 / 101..200, stats on id. */
  private def seedSplit(table: String): Unit = {
    ManifestTable.commit((1L to 100L).map(i => (i, s"v$i", i * 10.0))
      .toDF("id", "v", "amt"), table, append = false, statsCols = Seq("id"))
    ManifestTable.commit((101L to 200L).map(i => (i, s"v$i", i * 10.0))
      .toDF("id", "v", "amt"), table, append = true, statsCols = Seq("id"))
  }

  private def dirsOf(table: String): Seq[String] = {
    val v = ManifestTable.currentVersion(spark, table)
    ManifestTable.manifestEntries(spark, table, v).map(_.dir)
  }

  /** (low dir, high dir) of the seeded split, identified by id stats —
    * manifest entries sort by random dir name, not commit order.
    */
  private def lowHigh(table: String): (String, String) = {
    val v = ManifestTable.currentVersion(spark, table)
    val es = ManifestTable.manifestEntries(spark, table, v)
    (es.find(_.stats.get("id").exists(s => BigDecimal(s.max) <= 100)).get.dir,
      es.find(_.stats.get("id").exists(s => BigDecimal(s.min) >= 101)).get.dir)
  }

  test("MERGE star upsert: zero target read, low-commit untouched") {
    val (_, table) = freshTable("dmlm")
    seedSplit(table)
    val (lowDir, highDir) = lowHigh(table)
    // delta touches only keys >= 150, plus brand-new keys
    Seq((150L, "UP", 1.5), (200L, "UP", 2.0), (999L, "NEW", 9.9))
      .toDF("id", "v", "amt").createOrReplaceTempView("dml_delta")
    val res = spark.sql("""
      MERGE INTO dmlm.t AS t USING dml_delta AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """).collect()
    assert(res.head.getString(0) == "merge" && res.head.getLong(1) == 3L)
    assert(res.head.getString(2).contains("star upsert"), res.head.getString(2))

    assert(spark.sql("SELECT count(*) FROM dmlm.t").head.getLong(0) == 201)
    assert(spark.sql("SELECT v FROM dmlm.t WHERE id = 150").head.getString(0) == "UP")
    assert(spark.sql("SELECT amt FROM dmlm.t WHERE id = 999").head.getDouble(0) == 9.9)
    assert(spark.sql("SELECT v FROM dmlm.t WHERE id = 149").head.getString(0) == "v149")
    // the 1..100 commit is provably key-disjoint from the delta envelope
    // [150, 999]: it must be carried BY REFERENCE, not rewritten
    val after = dirsOf(table)
    assert(after.contains(lowDir),
      s"low commit $lowDir must survive by reference, got $after")
    assert(!after.contains(highDir), "high commit must be rewritten")
  }

  test("MERGE with explicit assignments joins pruned target rows") {
    val (_, table) = freshTable("dmla")
    seedSplit(table)
    val (lowDir, _) = lowHigh(table)
    Seq((160L, 7.0), (170L, 8.0)).toDF("id", "bump")
      .createOrReplaceTempView("dml_bumps")
    spark.sql("""
      MERGE INTO dmla.t AS t USING dml_bumps AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET amt = t.amt + s.bump, v = upper(t.v)
    """)
    val r160 = spark.sql("SELECT v, amt FROM dmla.t WHERE id = 160").head
    assert(r160.getString(0) == "V160" && r160.getDouble(1) == 1607.0)
    // untouched row in the same commit carried through the rewrite
    val r161 = spark.sql("SELECT v, amt FROM dmla.t WHERE id = 161").head
    assert(r161.getString(0) == "v161" && r161.getDouble(1) == 1610.0)
    assert(spark.sql("SELECT count(*) FROM dmla.t").head.getLong(0) == 200)
    assert(dirsOf(table).contains(lowDir), "low commit untouched")

    // insert-only MERGE: matched keys must NOT be replaced
    Seq((170L, "dup"), (300L, "new")).toDF("id", "v")
      .withColumn("amt", col("id") * 1.0).createOrReplaceTempView("dml_ins")
    spark.sql("""
      MERGE INTO dmla.t AS t USING dml_ins AS s
      ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT *
    """)
    assert(spark.sql("SELECT count(*) FROM dmla.t").head.getLong(0) == 201)
    assert(spark.sql("SELECT v FROM dmla.t WHERE id = 170").head.getString(0)
      == "V170", "matched key must keep its target row on insert-only merge")
    assert(spark.sql("SELECT amt FROM dmla.t WHERE id = 300").head.getDouble(0)
      == 300.0)
  }

  /** An assignment-form MERGE on a timestamp key, run in session `zone`:
    * one target commit holding 10:00 and 12:00 UTC with stats on ts, and
    * a source row at the 10:00 instant. Returns the amts by ts.
    */
  private def mergeOnTimestamp(cat: String, zone: String): Seq[Double] = {
    val (_, table) = freshTable(cat)
    def at(utc: String) = java.sql.Timestamp.from(java.time.Instant.parse(utc))
    ManifestTable.commit(Seq((at("2024-09-23T10:00:00Z"), 1.0), (at("2024-09-23T12:00:00Z"), 2.0))
      .toDF("ts", "amt"), table, append = false, statsCols = Seq("ts"))
    Seq((at("2024-09-23T10:00:00Z"), 0.5)).toDF("ts", "bump")
      .createOrReplaceTempView(s"${cat}_bumps")
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", zone)
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING ${cat}_bumps AS s
        ON t.ts = s.ts
        WHEN MATCHED THEN UPDATE SET amt = t.amt + s.bump
      """)
      spark.sql(s"SELECT amt FROM $cat.t ORDER BY ts").as[Double].collect().toSeq
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("assignment MERGE on a timestamp key updates the matched row in UTC") {
    assert(mergeOnTimestamp("dmltu", "UTC") == Seq(1.5, 2.0))
  }

  test("assignment MERGE on a timestamp key updates the matched row outside UTC") {
    // the target read is pruned by the source keys' envelope: compared as
    // UTC instants, the 10:00 commit must survive in a New York session
    assert(mergeOnTimestamp("dmltn", "America/New_York") == Seq(1.5, 2.0))
  }

  test("MERGE refusals: shape, key assignment, duplicate source keys") {
    val (_, table) = freshTable("dmlr")
    seedSplit(table)
    Seq((1L, "x", 0.0)).toDF("id", "v", "amt").createOrReplaceTempView("dml_r1")
    val del = intercept[Exception](spark.sql("""
      MERGE INTO dmlr.t AS t USING dml_r1 AS s ON t.id = s.id
      WHEN MATCHED THEN DELETE
    """))
    assert(del.getMessage.contains("DELETE is not supported"), del.getMessage)
    val keyAssign = intercept[Exception](spark.sql("""
      MERGE INTO dmlr.t AS t USING dml_r1 AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET id = s.id + 1
    """))
    assert(keyAssign.getMessage.contains("must not assign merge keys"),
      keyAssign.getMessage)
    Seq((5L, "a", 1.0), (5L, "b", 2.0)).toDF("id", "v", "amt")
      .createOrReplaceTempView("dml_dup")
    val dup = intercept[Exception](spark.sql("""
      MERGE INTO dmlr.t AS t USING dml_dup AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
    """))
    assert(dup.getMessage.contains("key-unique"), dup.getMessage)
    // non-graft targets pass through to Spark's own error surface
    intercept[Exception](spark.sql("""
      MERGE INTO dml_r1 AS t USING dml_r1 AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
    """))
  }

  test("MERGE refusal matrix: every unsupported WHEN-clause form fails with its own message") {
    val (_, table) = freshTable("dmlw")
    seedSplit(table)
    Seq((1L, "x", 0.0)).toDF("id", "v", "amt").createOrReplaceTempView("dml_w1")

    // WHEN MATCHED AND <condition>
    val mCond = intercept[Exception](spark.sql("""
      MERGE INTO dmlw.t AS t USING dml_w1 AS s ON t.id = s.id
      WHEN MATCHED AND s.amt > 0 THEN UPDATE SET *
    """))
    assert(mCond.getMessage.contains(
      "WHEN MATCHED AND <condition> is not supported"), mCond.getMessage)

    // WHEN NOT MATCHED AND <condition>
    val nmCond = intercept[Exception](spark.sql("""
      MERGE INTO dmlw.t AS t USING dml_w1 AS s ON t.id = s.id
      WHEN NOT MATCHED AND s.amt > 0 THEN INSERT *
    """))
    assert(nmCond.getMessage.contains(
      "WHEN NOT MATCHED AND <condition> is not supported"), nmCond.getMessage)

    // multiple WHEN MATCHED clauses (Spark parses them; the engine refuses
    // because without per-clause conditions only the first could ever fire)
    val multi = intercept[Exception](spark.sql("""
      MERGE INTO dmlw.t AS t USING dml_w1 AS s ON t.id = s.id
      WHEN MATCHED AND s.amt > 0 THEN UPDATE SET v = s.v
      WHEN MATCHED THEN UPDATE SET amt = s.amt
    """))
    assert(multi.getMessage.contains("at most one WHEN MATCHED clause") ||
      multi.getMessage.contains("WHEN MATCHED AND <condition>"), multi.getMessage)

    // WHEN NOT MATCHED BY SOURCE (both action forms)
    val bySrc = intercept[Exception](spark.sql("""
      MERGE INTO dmlw.t AS t USING dml_w1 AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED BY SOURCE THEN DELETE
    """))
    assert(bySrc.getMessage.contains(
      "WHEN NOT MATCHED BY SOURCE is not supported"), bySrc.getMessage)

    // MERGE WITH SCHEMA EVOLUTION
    val evo = intercept[Exception](spark.sql("""
      MERGE WITH SCHEMA EVOLUTION INTO dmlw.t AS t USING dml_w1 AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
    """))
    assert(evo.getMessage.contains(
      "MERGE WITH SCHEMA EVOLUTION is not supported"), evo.getMessage)

    // the matrix refused everything: the table itself never changed
    assert(spark.sql("SELECT count(*) FROM dmlw.t").head.getLong(0) == 200)
    assert(ManifestTable.currentVersion(spark, table) == 2L,
      "no refused statement may have committed a version")
  }

  test("UPDATE: stats-pruned rewrite, pre-update RHS, null gate") {
    val (_, table) = freshTable("dmlu")
    seedSplit(table)
    val (lowDir, highDir) = lowHigh(table)
    val res = spark.sql(
      "UPDATE dmlu.t SET amt = amt * 2, v = concat(v, '!') WHERE id >= 150")
      .collect()
    assert(res.head.getString(0) == "update" && res.head.getLong(1) == 3L)
    assert(spark.sql("SELECT amt FROM dmlu.t WHERE id = 150").head.getDouble(0)
      == 3000.0)
    assert(spark.sql("SELECT v FROM dmlu.t WHERE id = 150").head.getString(0)
      == "v150!")
    assert(spark.sql("SELECT amt FROM dmlu.t WHERE id = 149").head.getDouble(0)
      == 1490.0)
    // id <= 100 commit provably cannot match id >= 150: carried by reference
    assert(dirsOf(table).contains(lowDir),
      s"low commit must not rewrite under a pruned UPDATE")
    assert(!dirsOf(table).contains(highDir))

    // every RHS evaluates against the PRE-update row: a swap swaps
    val swapTable = s"${table.stripSuffix("/t")}/swap"
    ManifestTable.commit(Seq((1L, 10L)).toDF("a", "b"), swapTable, append = false)
    spark.sql("UPDATE dmlu.swap SET a = b, b = a")
    val sw = spark.sql("SELECT a, b FROM dmlu.swap").head
    assert(sw.getLong(0) == 10L && sw.getLong(1) == 1L, "swap must not chain")

    // NULL-evaluating predicate rows keep their values (SQL UPDATE gate)
    val nullTable = s"${table.stripSuffix("/t")}/nulls"
    ManifestTable.commit(Seq((Some(1L), "keep"), (None, "keep-null"))
      .toDF("k", "v"), nullTable, append = false)
    spark.sql("UPDATE dmlu.nulls SET v = 'hit' WHERE k > 0")
    val rows = spark.sql("SELECT v FROM dmlu.nulls ORDER BY k NULLS FIRST")
      .as[String].collect()
    assert(rows.toSeq == Seq("keep-null", "hit"), rows.toSeq.toString)
  }

  test("DELETE copy-on-write fallback: straddlers rewrite, proofs still drop") {
    val (_, table) = freshTable("dmld")
    seedSplit(table)
    val (lowDir, highDir) = lowHigh(table)
    // point delete: both proofs fail for the 101..200 commit (stats
    // straddle 150), the 1..100 commit proves no-match and must survive
    // BY REFERENCE; pre-fallback this whole statement was refused
    spark.sql("DELETE FROM dmld.t WHERE id = 150")
    assert(spark.sql("SELECT count(*) FROM dmld.t").head.getLong(0) == 199)
    assert(spark.sql("SELECT count(*) FROM dmld.t WHERE id = 150")
      .head.getLong(0) == 0)
    val after = dirsOf(table)
    assert(after.contains(lowDir), "no-match commit carried by reference")
    assert(!after.contains(highDir), "straddling commit rewritten")

    // retention shape: all-match proof must STILL drop metadata-only —
    // no new data dir may appear for it
    val dataDirsBefore = new java.io.File(s"$table/data").listFiles().length
    spark.sql("DELETE FROM dmld.t WHERE id <= 100")
    val dataDirsAfter = new java.io.File(s"$table/data").listFiles().length
    assert(dataDirsAfter == dataDirsBefore,
      s"metadata-only delete must write no dir ($dataDirsBefore -> $dataDirsAfter)")
    assert(spark.sql("SELECT count(*) FROM dmld.t").head.getLong(0) == 99)

    // NULL predicate rows survive a row-level rewrite (min/max ignore
    // nulls, and DELETE only removes TRUE rows)
    val nt = s"${table.stripSuffix("/t")}/nd"
    ManifestTable.commit(Seq((Some(1L), "a"), (Some(2L), "b"), (None, "n"))
      .toDF("k", "v"), nt, append = false, statsCols = Seq("k"))
    spark.sql("DELETE FROM dmld.nd WHERE k = 1")
    val left = spark.sql("SELECT v FROM dmld.nd").as[String].collect().toSet
    assert(left == Set("b", "n"), left.toString)
  }
}
