package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.ListenerBridge

import graft.{Bench, CacheHygiene, GraftSession, SparkEntry}

/** The one wall-clock probe for named queries. Every timed run writes the
  * query's FULL output through the `noop` sink (every column materialized,
  * no I/O) — `.count()` lets Catalyst prune whatever a count does not need
  * (q146's plan becomes a bare scan), so count-mode figures (graft.Bench)
  * are never compared with these. After each run the query's checkpoints
  * are released and the caches cleared.
  *
  *   Test/runMain graft.tools.Probe time <dir[,dir...]> <name ...>
  *     min of 3 per (name, dir), one line each:
  *     `SCALE <name> <dir> wall=<s> jobs=[..] shape=<plan> (full output)`
  *     (tools/scale_ratio.py joins two dirs into 10× ratios)
  *   Test/runMain graft.tools.Probe ab <dir> <name ...>
  *     10 interleaved rounds in one JVM, order reversed every other round,
  *     so co-tenant noise hits every variant alike; min and median each
  *   Test/runMain graft.tools.Probe explain <dir> <outDir> <tag> <name ...>
  *     `explain("formatted")` of each query to <outDir>/<name>_<tag>.txt
  *
  * Names resolve from SparkEntry.queries, Bench.benchOnly and
  * ScaleProbe.probeQueries; an unknown name, or one defined twice, fails.
  */
object Probe extends AdaptiveSparkPlanHelper {
  type Query = (SparkSession, String) => DataFrame

  val Passes = 3
  val Rounds = 10

  /** Every timeable query by name. */
  def registry: Map[String, Query] = merged(Seq(
    "SparkEntry.queries" -> SparkEntry.queries.toSeq,
    "Bench.benchOnly" -> Bench.benchOnly,
    "ScaleProbe.probeQueries" -> ScaleProbe.probeQueries))

  /** One name space over several registries; a name in two is an error. */
  def merged(registries: Seq[(String, Seq[(String, Query)])]): Map[String, Query] = {
    val all = for ((reg, qs) <- registries; (name, fn) <- qs) yield (name, reg, fn)
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
      .map { case (name, xs) => s"$name (${xs.map(_._2).mkString(", ")})" }
    require(dups.isEmpty, s"query names defined twice: ${dups.mkString("; ")}")
    all.map { case (name, _, fn) => name -> fn }.toMap
  }

  def resolve(reg: Map[String, Query], names: Seq[String]): Seq[(String, Query)] =
    names.map(n => n -> reg.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))

  /** What one traced action cost: wall seconds, Spark jobs started, and the
    * physical plan of the last SQL execution it ran.
    */
  final case class Pass(wall: Double, jobs: Int, plan: Option[SparkPlan])

  /** The one listener: counts job starts and keeps the executed plan of the
    * last SQL execution to finish. Reads drain the listener bus first, so a
    * count never races the asynchronous event delivery.
    */
  final class Tracer(spark: SparkSession) extends SparkListener with AutoCloseable {
    private val jobs = new AtomicInteger
    @volatile private var plan: Option[SparkPlan] = None
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => plan = ListenerBridge.executedPlan(end)
      case _ =>
    }

    def apply(action: => Unit): Pass = {
      ListenerBridge.drain(spark.sparkContext)
      jobs.set(0)
      plan = None
      val t0 = System.nanoTime
      action
      val wall = (System.nanoTime - t0) / 1e9
      ListenerBridge.drain(spark.sparkContext)
      Pass(wall, jobs.get, plan)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** One timed run of `fn`'s full output over `dir`, then cleanup. */
  def fullOutput(tracer: Tracer, spark: SparkSession, fn: Query, dir: String): Pass = {
    var df: DataFrame = null
    try tracer {
      df = fn(spark, dir)
      df.write.format("noop").mode("overwrite").save()
    } finally {
      if (df != null) CacheHygiene.releaseTree(df)
      clearCaches(spark)
    }
  }

  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Operator names in tree order, through AQE stages and codegen spans —
    * a lost broadcast or a changed join strategy reads as a different
    * sequence.
    */
  def shape(plan: SparkPlan): String = collect(plan) {
    case p if !(p.isInstanceOf[AdaptiveSparkPlanExec] || p.isInstanceOf[QueryStageExec] ||
        p.isInstanceOf[WholeStageCodegenExec] || p.isInstanceOf[InputAdapter]) =>
      p.nodeName.trim.replace(' ', '_')
  }.mkString(">")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private val Usage = "usage: Probe time <dir[,dir...]> <name ...> | ab <dir> <name ...> | " +
    "explain <dir> <outDir> <tag> <name ...>"

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: dirs :: names => session("time", names) { (spark, tracer, qs) =>
      for (dir <- dirs.split(",").toSeq; (name, fn) <- qs) {
        val passes = Seq.fill(Passes)(fullOutput(tracer, spark, fn, dir))
        println(f"SCALE $name $dir wall=${passes.map(_.wall).min}%.2f " +
          s"jobs=${passes.map(_.jobs).mkString("[", ",", "]")} " +
          s"shape=${passes.last.plan.fold("-")(shape)} (full output)")
      }
    }
    case "ab" :: dir :: names => session("ab", names) { (spark, tracer, qs) =>
      qs.foreach { case (_, fn) => fullOutput(tracer, spark, fn, dir) } // warm every variant
      val walls = (0 until Rounds).flatMap { r =>
        (if (r % 2 == 0) qs else qs.reverse).map { case (name, fn) =>
          name -> fullOutput(tracer, spark, fn, dir).wall
        }
      }.groupMap(_._1)(_._2)
      qs.foreach { case (name, _) =>
        val ws = walls(name)
        println(f"AB $name min=${ws.min}%.3f med=${median(ws)}%.3f rounds=${ws.size} " +
          s"all=${ws.map(w => f"$w%.2f").mkString("[", ",", "]")} (full output)")
      }
    }
    case "explain" :: dir :: outDir :: tag :: names => session("explain", names) { (spark, _, qs) =>
      val out = Files.createDirectories(Paths.get(outDir))
      qs.foreach { case (name, fn) =>
        val df = fn(spark, dir)
        val plan = df.queryExecution.explainString(FormattedMode)
        Files.write(out.resolve(s"${name}_$tag.txt"), plan.getBytes(UTF_8))
        println(s"EXPLAIN wrote ${name}_$tag.txt (${plan.length} chars)")
        CacheHygiene.releaseTree(df)
        clearCaches(spark)
      }
    }
    case _ => sys.error(Usage)
  }

  private def session(mode: String, names: Seq[String])(
      body: (SparkSession, Tracer, Seq[(String, Query)]) => Unit): Unit = {
    require(names.nonEmpty, Usage)
    val qs = resolve(registry, names)
    val spark = GraftSession.local(s"graft-probe-$mode")
    val tracer = new Tracer(spark)
    try body(spark, tracer, qs) finally { tracer.close(); spark.stop() }
  }
}
