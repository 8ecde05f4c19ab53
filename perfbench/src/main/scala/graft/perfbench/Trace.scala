package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a graft module (or a benchmark step that groups such
  * calls). Times are nanoTime for durations and epoch milliseconds for
  * matching against Spark job events. */
final case class Span(id: Int, name: String, parent: Int, request: String,
    t0: Long, t1: Long, ms0: Long, ms1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Spans around every call the workload makes into graft. Untraced, a
  * span is only a timer. Traced, it also tags the Spark jobs the call
  * runs (through a thread-local property that streaming threads
  * inherit), samples the session's cached storage after the call, and
  * the listeners below attribute task metrics and streaming progress to
  * the span. Everything stays in memory until [[write]].
  */
final class Trace(spark: SparkSession, val traced: Boolean) {
  private val Key = "graft.perfbench.span"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var current = -1
  private val storage = mutable.ArrayBuffer[(Int, Long)]() // (live rdds, bytes)

  private final class Acc {
    var jobs = 0L; var cpuNs = 0L; var shuffle = 0L; var spill = 0L; var input = 0L
  }
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobTimes = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val streamSpan = new ConcurrentHashMap[java.util.UUID, String]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      tag.foreach { t =>
        val span = t.toInt
        jobSpan.put(e.jobId, span)
        jobTimes.put(e.jobId, (e.time, Long.MaxValue))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        acc(span).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTimes.get(e.jobId)).foreach { case (s, _) => jobTimes.put(e.jobId, (s, e.time)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageJob.containsKey(e.stageId)) {
        val a = acc(jobSpan.get(stageJob.get(e.stageId)))
        a.cpuNs += m.executorCpuTime
        a.shuffle += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)

  if (traced) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` as span `name`; returns its value and its seconds. */
  def span[T](name: String, request: String)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = current
    current = id
    val prev = if (traced) sc.getLocalProperty(Key) else null
    if (traced) sc.setLocalProperty(Key, id.toString)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      if (traced) {
        sc.setLocalProperty(Key, prev)
        val infos = sc.getRDDStorageInfo
        storage += ((sc.getPersistentRDDs.size, infos.map(i => i.memSize + i.diskSize).sum))
      }
      current = parent
      spans += Span(id, name, parent, request, t0, t1, ms0, ms1)
      System.err.println(f"[span] $name $request ${(t1 - t0) / 1e9}%.3f")
    }
  }

  /** Remember which call site started a streaming query, so its
    * progress reports can be attributed. */
  def stream(id: java.util.UUID, site: String): Unit = streamSpan.put(id, site)

  /** Self time: a span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.t0, k.t1)).toSeq
    (s.t1 - s.t0 - covered(kids, s.t0, s.t1)) / 1e9
  }

  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** The stat set S summed over every span named `site`:
    * wall_s, jobs, executor_cpu_s, shuffle_bytes, spill_bytes,
    * driver_gap_s (wall not covered by any of the span's Spark jobs). */
  def stats(site: String): Map[String, Double] = {
    drain()
    val ss = spans.filter(_.name == site)
    val jobsBySpan = jobSpan.asScala.groupBy(_._2).map { case (s, js) => s -> js.keys.toSeq }
    var wall, gap = 0.0
    var jobs, cpu, shuffle, spill = 0L
    ss.foreach { s =>
      wall += s.seconds
      val iv = jobsBySpan.getOrElse(s.id, Nil).flatMap(j => Option(jobTimes.get(j)))
        .map { case (a, b) => (a, if (b == Long.MaxValue) s.ms1 else b) }
      gap += math.max(0L, (s.ms1 - s.ms0) - covered(iv, s.ms0, s.ms1)) / 1e3
      Option(accs.get(s.id)).foreach { a =>
        jobs += a.jobs; cpu += a.cpuNs; shuffle += a.shuffle; spill += a.spill
      }
    }
    Map("wall_s" -> wall, "jobs" -> jobs.toDouble, "executor_cpu_s" -> cpu / 1e9,
      "shuffle_bytes" -> shuffle.toDouble, "spill_bytes" -> spill.toDouble,
      "driver_gap_s" -> gap)
  }

  /** Bytes read from storage by the jobs of every span named `site`. */
  def inputBytes(site: String): Double = {
    drain()
    spans.filter(_.name == site).flatMap(s => Option(accs.get(s.id))).map(_.input).sum.toDouble
  }

  /** Summed streaming progress durations (ms) of the queries started by
    * any of `sites`, keyed by progress phase (addBatch, walCommit, ...). */
  def streamDurations(sites: Set[String]): Map[String, Double] = {
    drain()
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    mine(sites).foreach(p => p.durationMs.asScala.foreach { case (k, v) => out(k) += v.doubleValue })
    out.toMap
  }

  /** Rows read by the streaming queries started by `sites`. */
  def streamInputRows(sites: Set[String]): Long = {
    drain()
    mine(sites).map(_.numInputRows).sum
  }

  private def mine(sites: Set[String]) =
    progress.asScala.toSeq.map(_.progress)
      .filter(p => Option(streamSpan.get(p.id)).exists(sites.contains))

  /** The last storage sample: (live cached RDDs, their bytes). */
  def lastStorage: (Int, Long) = storage.lastOption.getOrElse((0, 0L))

  /** Wait until every posted Spark event has reached the listeners. */
  private def drain(): Unit = if (traced) org.apache.spark.perfbench.ListenerBus.drain(sc)

  /** Every span as one JSON line each, with its self time. */
  def write(path: String): Unit =
    Json.write(path, spans.sortBy(_.id).map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "request" -> s.request, "start_ms" -> s.ms0, "end_ms" -> s.ms1,
      "dur_s" -> s.seconds, "self_s" -> selfSeconds(s))))
}
