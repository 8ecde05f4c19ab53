package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, to_timestamp}

import graft.sources.{BronzeLayer, ManifestTable}
import graft.streaming.BronzePipeline

/** What the silver and gold drains and the gold read cost in Spark jobs,
  * and how the drains label them. A commit takes its schema and stats
  * from its own write, so a warm silver drain is the emptiness probe plus
  * the write whatever the table's history, a gold drain names its hours
  * in one job and checks and writes its recompute once, and a pruned gold
  * read plans from cached schemas and runs only its own scan.
  */
class DrainJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Land (id, source, hour) rows as bronze batch `batchId`. */
  private def land(root: String, batchId: String, rows: Seq[(String, String, Int)]): Unit =
    BronzeLayer.writeRaw(
      rows.map { case (id, src, h) => (id, s"content-$id", src, f"2024-09-23 $h%02d:10:00") }
        .toDF("posting_id", "raw_content", "source", "extracted_at")
        .withColumn("extracted_at", to_timestamp(col("extracted_at"))),
      s"$root/bronze", batchId)

  private def silverDrain(root: String): Unit =
    BronzePipeline.runOnceToTable(spark, s"$root/bronze", s"$root/silver",
      s"$root/ckpt_silver").awaitTermination()

  private def goldDrain(root: String): Unit =
    BronzePipeline.martRunOnceToTable(spark, s"$root/bronze", s"$root/gold",
      s"$root/ckpt_gold").awaitTermination()

  private def root(name: String) = Files.createTempDirectory(name).toString

  /** Jobs per description, for the spec's report. */
  private def perStage(jobs: Seq[String]): String =
    jobs.groupBy(identity).toSeq.sortBy(_._1).map { case (d, js) => s"$d: ${js.size}" }
      .mkString(", ")

  test("a warm silver drain runs at most 3 jobs, however many commits came before") {
    val r = root("graft_silver_jobs")
    val jobs = (1 to 6).map { i =>
      land(r, s"b$i", Seq((s"p$i", "hh", 10), (s"q$i", "ix", 11)))
      jobsOf(silverDrain(r)).map(_.description)
    }
    val counts = jobs.map(_.size)
    info(s"jobs per silver drain: ${counts.mkString(" ")}; drain 6: ${perStage(jobs.last)}")
    assert(counts.tail.forall(_ <= 3), s"jobs per silver drain: $counts\n${jobs.last.mkString("\n")}")
    assert(counts(5) <= counts(1), s"jobs grow with the table's commits: $counts")
    assert(ManifestTable.currentVersion(spark, s"$r/silver") == 6)
    assert(ManifestTable.read(spark, s"$r/silver").count() == 12)
  }

  test("a gold drain over a 2-hour drop runs at most 6 jobs") {
    val r = root("graft_gold_jobs")
    land(r, "b1", Seq(("p1", "hh", 10), ("p2", "ix", 10)))
    goldDrain(r)
    // the drop continues the published hour 10 and opens hour 11, so the
    // merge rewrites the hour-10 commit and inserts the new hour
    land(r, "b2", Seq(("p3", "hh", 10), ("p4", "hh", 11), ("p5", "ix", 11)))
    val jobs = jobsOf(goldDrain(r)).map(_.description)
    info(s"gold drain: ${jobs.size} jobs (${perStage(jobs)})")
    assert(jobs.size <= 6, s"gold drain ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
    val gold = ManifestTable.read(spark, s"$r/gold")
      .select($"source", $"hour".cast("string"), $"n_postings").as[(String, String, Long)]
      .collect().toSet
    assert(gold == Set(("hh", "2024-09-23 10:00:00", 2L), ("ix", "2024-09-23 10:00:00", 1L),
      ("hh", "2024-09-23 11:00:00", 1L), ("ix", "2024-09-23 11:00:00", 1L)), s"gold: $gold")
  }

  test("readRange on a gold table with 5 commits runs exactly 1 job") {
    val r = root("graft_gold_read")
    (10 to 14).foreach { h => land(r, s"b$h", Seq((s"p$h", "hh", h))); goldDrain(r) }
    assert(ManifestTable.currentVersion(spark, s"$r/gold") == 5)
    var hours = Seq.empty[String]
    val jobs = jobsOf {
      hours = ManifestTable.readRange(spark, s"$r/gold", "hour",
        "2024-09-23 11:00:00", "2024-09-23 13:00:00")
        .select($"hour".cast("string")).as[String].collect().toSeq.sorted
    }.map(_.description)
    info(s"readRange: ${jobs.size} jobs")
    assert(jobs.size == 1, s"readRange ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
    assert(hours == Seq("2024-09-23 11:00:00", "2024-09-23 12:00:00", "2024-09-23 13:00:00"))
  }

  test("every job of a silver and a gold drain carries exactly one stage label") {
    val r = root("graft_drain_labels")
    land(r, "b1", Seq(("p1", "hh", 10)))
    silverDrain(r)
    goldDrain(r)
    land(r, "b2", Seq(("p2", "hh", 10), ("p3", "hh", 11)))
    val silver = jobsOf(silverDrain(r)).map(_.description)
    val gold = jobsOf(goldDrain(r)).map(_.description)
    assert(silver.nonEmpty && silver.forall(_ == "silver commit"),
      s"silver jobs outside their label:\n${silver.mkString("\n")}")
    assert(gold.nonEmpty && gold.forall(Set("gold hours", "gold merge")),
      s"gold jobs outside a stage label:\n${gold.mkString("\n")}")
    assert(gold.toSet == Set("gold hours", "gold merge"), s"gold stages: ${gold.toSet}")
  }
}
