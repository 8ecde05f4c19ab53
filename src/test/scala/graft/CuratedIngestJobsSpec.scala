package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.BronzeLayer
import graft.streaming.{BronzePipeline, DriftMonitor, MixtureGate}

/** What one warm micro-batch of [[BronzePipeline.curatedIngest]] costs in
  * Spark jobs, how its jobs are labelled, and what its per-stage counts
  * say — on a planted two-drain chain. Drain 1 lands fresh rows (and
  * warms the session's Bloom filter); drain 2 carries fresh rows, an
  * exact redelivery of a drain-1 body under a new id, a whitespace/case
  * copy of another, and an in-batch duplicate pair.
  */
class CuratedIngestJobsSpec extends SparkSpec {

  private def soup(w: Int, salt: String) = (1 to w).map(i => s"$salt$i").mkString(" ")

  private val drain1 = (1 to 5).map(i => s"p$i" -> soup(20, s"a$i"))
  private val drain2 = Seq(
    "p6" -> soup(20, "b6"), "p7" -> soup(20, "b7"),
    "p8" -> soup(20, "a1"), // exact redelivery of p1's body
    "p9" -> s"  ${soup(20, "a2").toUpperCase.replace(" ", "   ")} ", // normalized copy of p2
    "p10" -> soup(20, "c10"), "p11" -> soup(20, "c10")) // in-batch duplicate pair
  private val landedAfter2 = Set("p1", "p2", "p3", "p4", "p5", "p6", "p7", "p10")

  /** A planted chain under `root`; returns drain 2's jobs. */
  private def plantedDrains(root: String): Seq[String] = {
    import spark.implicits._
    MixtureGate.writeRates(
      (1 to 10).map(i => (i.toLong, soup(20, s"r$i"), "hh")).toDF("doc_id", "text", "source"),
      "source", 1.0, s"$root/rates")
    DriftMonitor.writeReference(rawPostings((1 to 20).map(i => s"ref$i" -> soup(20, s"r$i"))),
      "source", "raw_content", s"$root/ref_hist")
    def stage(rows: Seq[(String, String)]): Unit =
      rawPostings(rows).coalesce(1).write.mode("append").json(s"$root/staging")
    def drain(): Unit =
      BronzePipeline.curatedIngest(spark, s"$root/staging", s"$root/bronze", s"$root/meta",
        s"$root/fps", s"$root/rates", s"$root/ref_hist", s"$root/drift", s"$root/ckpt")
        .awaitTermination()
    stage(drain1)
    drain()
    stage(drain2)
    jobsOf(drain()).map(_.description)
  }

  private def landed(root: String): Set[String] =
    BronzeLayer.readRaw(spark, s"$root/bronze").collect()
      .map(_.getAs[String]("posting_id")).toSet

  private val MaxWarmJobs = 16

  test("a warm curated micro-batch runs at most 16 Spark jobs and lands exactly the fresh rows") {
    val root = Files.createTempDirectory("graft_curated_jobs").toString
    val jobs = plantedDrains(root)
    assert(jobs.size <= MaxWarmJobs,
      s"drain 2 ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
    assert(landed(root) == landedAfter2)
  }

  test("every job of a curated micro-batch carries exactly one stage label") {
    val root = Files.createTempDirectory("graft_curated_labels").toString
    val jobs = plantedDrains(root)
    val label = """(\d+:\w+ (keep|afterCommit)|commit)""".r
    val unlabelled = jobs.filterNot(label.matches)
    assert(jobs.nonEmpty && unlabelled.isEmpty,
      s"jobs outside a stage label:\n${unlabelled.mkString("\n")}")
    // every stage that acts shows up under its own label
    val stages = jobs.toSet
    Seq("1:drift keep", "3:fingerprint keep", "4:content keep", "commit",
      "4:content afterCommit").foreach(s => assert(stages(s), s"no job labelled $s: $stages"))
  }

  test("per-stage row counts ride the chain's own actions: zero added jobs") {
    val root = Files.createTempDirectory("graft_curated_counts").toString
    val observed = new ConcurrentLinkedQueue[(String, Long)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) => observed.add(name -> row.getLong(0)) }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs = try plantedDrains(root) finally spark.listenerManager.unregister(listener)
    assert(jobs.size <= MaxWarmJobs, s"counting added jobs: ${jobs.size}")
    // the last micro-batch of the checkpoint is drain 2's
    val byBatch = observed.asScala.toSeq.groupBy(_._1.split('/')(0))
    // an Observation keeps the value of the first action over its frame
    val counts = byBatch(byBatch.keys.max).groupBy(_._1)
      .map { case (n, vs) => n.split('/')(1) -> vs.head._2 }
    assert(counts == Map("arrived" -> 6L, "2:mixture" -> 6L, "3:fingerprint" -> 5L,
      "4:content" -> 3L, "committed" -> 3L), s"counts: $counts")
  }
}
