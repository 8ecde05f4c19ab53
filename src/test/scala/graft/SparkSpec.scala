package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBridge
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

  /** The jobs `body` runs, in start order. The listener bus is drained
    * before and after, so no job is lost or borrowed; every session of
    * the suite shares the one context the listener sits on.
    */
  def jobsOf(body: => Unit): Seq[SparkSpec.Job] = {
    val seen = new ConcurrentLinkedQueue[SparkSpec.Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        seen.add(SparkSpec.Job(
          props.exists(_.getProperty("spark.sql.execution.id") != null),
          props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
      }
    }
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBridge.drain(sc) } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
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
  /** A job as the listener saw it: whether it ran inside a SQL execution
    * (a query's own jobs do; the file listing and the parquet schema
    * inference of resolving a relation do not) and its description.
    */
  final case class Job(inQuery: Boolean, description: String)


  // pinned at 4 cores, whatever core count the test run exports
  lazy val session: SparkSession = GraftSession.local("graft-test", cpus = 4)
}
