package graft

import java.nio.file.Files

import graft.sources.ManifestTable
import org.apache.spark.sql.functions.{col, max, udf}

/** Stats-pruned copy-on-write upsert: only commits whose key ranges can
  * contain an update key rewrite; everything else carries forward by
  * reference in the manifest.
  */
class MergeCommitSpec extends SparkSpec {
  import spark.implicits._

  private def landThree(table: String): Unit = {
    ManifestTable.commit((1 to 100).map(i => (i.toLong, s"a$i")).toDF("id", "v"),
      table, append = false, statsCols = Seq("id"))
    ManifestTable.commit((101 to 200).map(i => (i.toLong, s"b$i")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))
    ManifestTable.commit((201 to 300).map(i => (i.toLong, s"c$i")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))
  }

  test("merge rewrites only the commits the key envelope can touch") {
    val table = Files.createTempDirectory("graft_merge").toString + "/t"
    landThree(table)
    val before = ManifestTable.manifestEntries(spark, table, 3L).map(_.dir)

    // updates hit the middle commit only (the data is dense, so all
    // three keys are replacements)
    val v4 = ManifestTable.mergeCommit(spark, table,
      Seq((150L, "UPD150"), (199L, "UPD199"), (175L, "UPD175")).toDF("id", "v"),
      Seq("id"))
    assert(v4 == 4L)
    val after = ManifestTable.manifestEntries(spark, table, 4L).map(_.dir)
    assert(before.intersect(after).size == 2,
      s"the two disjoint commits must carry forward by reference: $before -> $after")
    assert(after.size == 3)

    val snap = ManifestTable.read(spark, table).orderBy("id")
    assert(snap.count() == 300, "replacements, not appends")
    assert(snap.filter(col("id") === 150L).head.getString(1) == "UPD150")
    assert(snap.filter(col("id") === 199L).head.getString(1) == "UPD199")
    assert(snap.filter(col("id") === 175L).head.getString(1) == "UPD175")
    assert(snap.filter(col("id") === 50L).head.getString(1) == "a50",
      "untouched commits keep their rows")
    // history: the pre-merge snapshot is intact
    assert(ManifestTable.read(spark, table, 3L).count() == 300)
    // the rewritten dir re-recorded stats by inheritance: pruning works
    assert(ManifestTable.manifestEntries(spark, table, 4L)
      .forall(_.stats.contains("id")))
  }

  test("pure insert outside every range touches nothing; empty updates no-op") {
    val table = Files.createTempDirectory("graft_merge2").toString + "/t"
    landThree(table)
    val before = ManifestTable.manifestEntries(spark, table, 3L).map(_.dir)

    ManifestTable.mergeCommit(spark, table,
      Seq((500L, "x500")).toDF("id", "v"), Seq("id"))
    val after = ManifestTable.manifestEntries(spark, table, 4L).map(_.dir)
    assert(before.forall(after.contains), "all three commits carry forward")
    assert(after.size == 4)
    assert(ManifestTable.read(spark, table).count() == 301)

    assert(ManifestTable.mergeCommit(spark, table,
      spark.emptyDataset[(Long, String)].toDF("id", "v"), Seq("id")) == 4L,
      "empty updates: no new version")
  }

  test("equivalence with the full-snapshot upsert; target null keys survive") {
    val table = Files.createTempDirectory("graft_merge3").toString + "/t"
    ManifestTable.commit(
      (Seq((Some(1L), "a"), (Some(2L), "b"), (Option.empty[Long], "nullkey")))
        .toDF("id", "v"),
      table, append = false, statsCols = Seq("id"))
    val updates = Seq((2L, "B2"), (3L, "C3")).toDF("id", "v")

    ManifestTable.mergeCommit(spark, table, updates, Seq("id"))
    val got = ManifestTable.read(spark, table)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(got == Set((Some(1L), "a"), (Some(2L), "B2"), (Some(3L), "C3"),
      (None, "nullkey")),
      s"upsert semantics with null-key target rows surviving: $got")
  }

  test("hygiene: dup keys, null update keys, schema drift, empty-table create") {
    val table = Files.createTempDirectory("graft_merge4").toString + "/t"
    landThree(table)

    val dup = intercept[IllegalArgumentException](ManifestTable.mergeCommit(
      spark, table, Seq((1L, "x"), (1L, "y")).toDF("id", "v"), Seq("id")))
    assert(dup.getMessage.contains("key-unique"), dup.getMessage)

    val nullKey = intercept[IllegalArgumentException](ManifestTable.mergeCommit(
      spark, table,
      Seq((Some(1L), "x"), (Option.empty[Long], "y")).toDF("id", "v"), Seq("id")))
    assert(nullKey.getMessage.contains("null keys"), nullKey.getMessage)

    val drift = intercept[IllegalArgumentException](ManifestTable.mergeCommit(
      spark, table, Seq((1L, 2L)).toDF("id", "n"), Seq("id")))
    assert(drift.getMessage.contains("schema"), drift.getMessage)

    // merging into an empty path creates the table
    val fresh = Files.createTempDirectory("graft_merge5").toString + "/f"
    assert(ManifestTable.mergeCommit(spark, fresh,
      Seq((1L, "a")).toDF("id", "v"), Seq("id")) == 1L)
    assert(ManifestTable.read(spark, fresh).count() == 1)
  }

  test("a stats-less commit is conservatively rewritten") {
    val table = Files.createTempDirectory("graft_merge6").toString + "/t"
    ManifestTable.commit((1 to 10).map(i => (i.toLong, "a")).toDF("id", "v"),
      table, append = false) // no stats
    ManifestTable.commit((11 to 20).map(i => (i.toLong, "b")).toDF("id", "v"),
      table, append = true, statsCols = Seq("id"))
    val before = ManifestTable.manifestEntries(spark, table, 2L)
    // update key 15: the stats-bearing dir [11,20] is affected; the
    // stats-less dir CANNOT prove disjointness, so it rewrites too
    ManifestTable.mergeCommit(spark, table,
      Seq((15L, "UPD")).toDF("id", "v"), Seq("id"))
    val after = ManifestTable.manifestEntries(spark, table, 3L).map(_.dir)
    assert(before.map(_.dir).intersect(after).isEmpty,
      "no disjointness proof -> both dirs rewritten")
    assert(ManifestTable.read(spark, table).count() == 20)
  }

  test("the updates plan is computed once: a UDF in it runs once per row") {
    val table = Files.createTempDirectory("graft_merge7").toString + "/t"
    landThree(table)
    val calls = spark.sparkContext.longAccumulator("merge-updates-udf")
    val tagged = udf((v: String) => { calls.add(1); v.toUpperCase })
    // under an aggregate, as the gold recompute is: every evaluation of
    // the plan runs its whole input
    val updates = Seq((150L, "u150"), (250L, "u250"), (400L, "u400")).toDF("id", "v")
      .withColumn("v", tagged(col("v")))
      .groupBy("id").agg(max("v").as("v"))
    ManifestTable.mergeCommit(spark, table, updates, Seq("id"))
    assert(calls.value == 3L, s"the UDF ran ${calls.value} times for 3 update rows")
    val snap = ManifestTable.read(spark, table)
    assert(snap.count() == 301)
    assert(snap.filter(col("id").isin(150L, 250L, 400L)).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("U150", "U250", "U400"))
  }
}
