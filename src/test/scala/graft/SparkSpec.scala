package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with `spark.graft.reliableCheckpoints` set to `on`. */
  def withFlag[A](on: Boolean)(body: => A): A = {
    val prior = spark.conf.getOption(CacheHygiene.ReliableFlag)
    spark.conf.set(CacheHygiene.ReliableFlag, on.toString)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(CacheHygiene.ReliableFlag, v)
      case None    => spark.conf.unset(CacheHygiene.ReliableFlag)
    }
  }

  /** Raw-posting frame in BronzeLayer.rawColumns shape — the single
    * fixture for every ingest/runner/pipeline spec. */
  def rawPostings(rows: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import spark.implicits._
    rows.map { case (id, content) => (id, content, "hh", "2024-09-23 10:00:00") }
      .toDF("posting_id", "raw_content", "source", "extracted_at")
      .withColumn("extracted_at", to_timestamp(col("extracted_at")))
  }

  /** Land ids as a bronze batch with `content-<id>` payloads. */
  def writeRawBatch(dir: String, batchId: String, ids: Seq[String]): Unit =
    graft.sources.BronzeLayer.writeRaw(
      rawPostings(ids.map(id => id -> s"content-$id")), dir, batchId)
}

object SparkSpec {
  // pinned at 4 cores, whatever core count the test run exports
  lazy val session: SparkSession = GraftSession.local("graft-test", cpus = 4)
}
