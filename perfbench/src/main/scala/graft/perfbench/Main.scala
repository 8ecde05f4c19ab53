package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** What a workload hands back: its timings, its operation counts and the
  * facts the output checks need. Latencies are in seconds. */
final case class Outcome(
    wallS: Double,
    opS: Seq[Double],
    writeS: Seq[Double],
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    workloadMetrics: Map[String, Double],
    perLayer: Map[String, Double],
    facts: Map[String, Any])

final case class Ctx(spark: SparkSession, trace: Trace, seed: Long,
    inputs: String, work: String, out: String)

/** The benchmark JVM: one workload, one run, one client thread.
  *
  *   Main --workload ingest|corpus --seed N --seconds S --trace 0|1
  *        --inputs DIR --work DIR --out DIR
  *
  * The workloads do fixed work; `--seconds` is only recorded.
  *
  * Writes `jvm_result.json` (and `spans.jsonl` when traced) under --out.
  * Set-up time runs from JVM start to the first timed call and covers the
  * session and the inputs' loading. The host canary runs after the
  * workload, outside set-up and every timed region.
  */
object Main {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = Runtime.getRuntime.availableProcessors
    val load0 = load1()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workload")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = Ctx(spark, new Trace(spark, a("trace") == "1"), a("seed").toLong,
      a("inputs"), a("work"), a("out"))
    var setupEnd = 0L
    def ready(): Unit = {
      setupEnd = System.currentTimeMillis()
      System.err.println(s"[setup] ${(setupEnd - jvmStart) / 1e3}s")
    }
    val outcome = workload match {
      case "ingest" => IngestBench.run(ctx, () => ready())
      case "corpus" => CorpusBench.run(ctx, () => ready())
      case w => sys.error(s"unknown workload $w")
    }
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
    val (liveRdds, storageBytes) = ctx.trace.lastStorage
    val common =
      if (!ctx.trace.traced) Map.empty[String, Double]
      else Map("CacheHygiene.live_rdds" -> liveRdds.toDouble,
        "CacheHygiene.storage_bytes" -> storageBytes.toDouble, "jvm.gc_s" -> gcS)
    if (ctx.trace.traced) ctx.trace.write(s"${ctx.out}/spans.jsonl")
    val peakRss = peakRssMb() // before the canary, which is not the workload's
    val canary = Canary.time(spark)
    val result = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> a("seconds").toInt,
      "traced" -> ctx.trace.traced,
      "setup_s" -> (setupEnd - jvmStart) / 1e3,
      "wall_s" -> outcome.wallS,
      "op_s" -> outcome.opS, "write_s" -> outcome.writeS,
      "peak_rss_mb" -> peakRss,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "errors" -> outcome.errors,
      "workload_metrics" -> outcome.workloadMetrics,
      "per_layer" -> (outcome.perLayer ++ common),
      "host" -> Map("nproc" -> cores, "load1_start" -> load0, "load1_end" -> load1(),
        "canary_s" -> canary),
      "facts" -> outcome.facts)
    Json.write(s"${ctx.out}/jvm_result.json", Seq(result))
    spark.stop()
  }

  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}

/** `graft.Bench`'s fixed rig canary (pinned sf0.1 lineitem: scan,
  * aggregate, shuffle), timed once after one warming run, so a contended
  * host shows in the result beside the workload's own figures. The
  * tables are read from SPARK_GRAFT_CANARY_DIR, as in graft.Bench, else
  * from testdata/sf0.1 under the home directory; -1 when absent. */
object Canary {
  val Lineitem = sys.env.getOrElse("SPARK_GRAFT_CANARY_DIR",
    s"${sys.props("user.home")}/testdata/sf0.1") + "/lineitem.parquet"
  def time(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(Lineitem)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .groupBy("l_partkey")
        .agg(sum("l_quantity").as("q"), sum("l_extendedprice").as("e"))
        .agg(count(lit(1)).as("n"), sum("q").as("sq"), sum("e").as("se"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    if (!new java.io.File(Lineitem).exists) -1.0
    else { once(); once() }
  }
}

/** JSON result files, one value a line, through the Jackson Scala module
  * on Spark's classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, values: Iterable[Any]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try values.foreach(v => w.println(mapper.writeValueAsString(v))) finally w.close()
  }
}
