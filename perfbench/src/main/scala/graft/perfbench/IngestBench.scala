package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{BronzeLayer, ManifestTable}
import graft.streaming.{BronzePipeline, DriftMonitor}

/** `ingest`: the write path. Each seeded staging drop is landed, then
  * drained through `curatedIngest` (drift, mixture, normalized-content
  * Bloom gate, etag metadata gate into bronze), `runOnceToTable` (silver
  * manifest table), `martRunOnceToTable` (gold manifest table), and a
  * `readRange` read of the last 24 gold hours. One operation is one
  * drop, from landing until the gold read returns. There is no warm-up
  * drain: the first drop pays the JVM's warm-up, as a freshly scheduled
  * ingest job does.
  */
object IngestBench {
  /** Must match gen.py's BASE_TIME and HOURS_PER_DROP. */
  val BaseTime = LocalDateTime.of(2024, 9, 2, 0, 0, 0)
  val HoursPerDrop = 2
  val Sites = Seq("streaming.BronzePipeline.curatedIngest",
    "streaming.BronzePipeline.runOnceToTable",
    "streaming.BronzePipeline.martRunOnceToTable",
    "sources.ManifestTable.readRange")
  val Stores = Seq("bronze", "meta", "fps", "silver", "gold", "checkpoint")
  private val Hour = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** One pipeline's directories under `root`. */
  private final case class Dirs(root: String) {
    val staging = s"$root/staging"
    def store(s: String) = s"$root/$s"
    val ckIngest = s"$root/checkpoint/ingest"
    val ckSilver = s"$root/checkpoint/silver"
    val ckGold = s"$root/checkpoint/gold"
  }

  def run(ctx: Ctx, ready: () => Unit): Outcome = {
    val spark = ctx.spark
    val rates = s"${ctx.inputs}/rates.parquet"
    val refHist = s"${ctx.work}/ref_hist"
    DriftMonitor.writeReference(
      spark.read.schema(BronzeSchema).json(s"${ctx.inputs}/reference.jsonl"),
      "source", "raw_content", refHist)
    val drops = new java.io.File(ctx.inputs).listFiles.map(_.getName)
      .filter(_.startsWith("drop-")).sorted.toSeq

    def drain(d: Dirs, file: String, k: Int): (Double, Seq[Long]) = {
      def site[T](name: String)(body: => T): T = ctx.trace.span(name, s"drop-$k")(body)._1
      def await(name: String)(start: => StreamingQuery): Seq[Long] = site(name) {
        val q = start
        ctx.trace.stream(q.id, name)
        q.awaitTermination()
        q.recentProgress.map(_.batchId).toSeq
      }
      val t0 = System.nanoTime()
      Files.createDirectories(Paths.get(d.staging))
      Files.copy(Paths.get(file), Paths.get(d.staging, Paths.get(file).getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING)
      val batches = await("streaming.BronzePipeline.curatedIngest")(
        BronzePipeline.curatedIngest(spark, d.staging, d.store("bronze"), d.store("meta"),
          d.store("fps"), rates, refHist, s"${ctx.work}/drift", d.ckIngest))
      await("streaming.BronzePipeline.runOnceToTable")(
        BronzePipeline.runOnceToTable(spark, d.store("bronze"), d.store("silver"), d.ckSilver))
      await("streaming.BronzePipeline.martRunOnceToTable")(
        BronzePipeline.martRunOnceToTable(spark, d.store("bronze"), d.store("gold"), d.ckGold))
      site("sources.ManifestTable.readRange") {
        val hi = BaseTime.plusHours((k + 1L) * HoursPerDrop - 1)
        val (lo, hiS) = (hi.minusHours(23).format(Hour), hi.format(Hour))
        if (ManifestTable.currentVersion(spark, d.store("gold")) > 0)
          ManifestTable.readRange(spark, d.store("gold"), "hour", lo, hiS)
            .filter(col("hour").between(lo, hiS)).collect()
      }
      ((System.nanoTime() - t0) / 1e9, batches)
    }

    val d = Dirs(s"${ctx.work}/pipeline")
    val times = Seq.newBuilder[Double]
    val batchesPerDrop = Seq.newBuilder[Seq[Long]]
    ready()
    drops.zipWithIndex.foreach { case (f, k) =>
      val ((s, batches), _) = ctx.trace.span("ingest.drop", s"drop-$k") {
        drain(d, s"${ctx.inputs}/$f", k)
      }
      times += s
      batchesPerDrop += batches
    }
    val ts = times.result()
    val wall = ts.sum

    // ---- untimed: facts for the output checks and storage accounting
    val pid = new String(Files.readAllBytes(Paths.get(d.ckIngest, "_graft_pipeline_id")), "UTF-8").trim
    val bronze = BronzeLayer.readRaw(spark, d.store("bronze"))
    val perBatch = bronze.groupBy("batch_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val landedPerDrop = batchesPerDrop.result().map(bs => bs.map(b => perBatch.getOrElse(f"$pid-$b%05d", 0L)).sum)
    val bronzeIds = bronze.select("posting_id").collect().map(_.getString(0)).toSeq
    val silverRows = ManifestTable.read(spark, d.store("silver")).collect().length
    val gold = ManifestTable.read(spark, d.store("gold"))
      .select(col("source"), date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n_postings"))
      .collect().map(r => Seq(r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val stagingBytes = drops.map(f => new java.io.File(s"${ctx.inputs}/$f").length).sum.toDouble
    val bytes = Stores.map(s => s -> du(new java.io.File(d.store(s)))).toMap
    val stored = bytes.values.map(_._1).sum / stagingBytes
    // the last drain against the second: both ordinary drops, and the
    // first drain is left out because it also pays the JVM's warm-up
    val lateOverEarly = ts.last / ts(1)

    val perLayer =
      if (!ctx.trace.traced) Map.empty[String, Double]
      else {
        val durations = ctx.trace.streamDurations(Sites.take(3).toSet)
        Sites.flatMap(site => ctx.trace.stats(site).map { case (k, v) => s"$site.$k" -> v }).toMap ++
          Seq("addBatch", "queryPlanning", "walCommit", "latestOffset")
            .map(p => s"streaming.batch.${p}_ms" -> durations.getOrElse(p, 0.0)) ++
          Map("streaming.BronzePipeline.curatedIngest.late_over_early" -> lateOverEarly,
            "streaming.gate.arrived_rows" ->
              ctx.trace.streamInputRows(Set("streaming.BronzePipeline.curatedIngest")).toDouble,
            "streaming.gate.landed_rows" -> bronzeIds.size.toDouble,
            "sources.files_written" -> bytes.values.map(_._2).sum.toDouble,
            "sources.stored_bytes_per_input_byte" -> stored) ++
          bytes.map { case (s, (b, _)) => s"sources.bytes_written.$s" -> b.toDouble }
      }
    Outcome(
      wallS = wall, opS = ts, writeS = Nil,
      attempted = ts.size, failed = 0, errors = Nil,
      workloadMetrics = Map("stored_bytes_per_input_byte" -> stored, "late_over_early" -> lateOverEarly),
      perLayer = perLayer,
      facts = Map("landed_per_drop" -> landedPerDrop, "bronze_posting_ids" -> bronzeIds,
        "silver_rows" -> silverRows, "gold_rows" -> gold))
  }

  val BronzeSchema = "posting_id STRING, raw_content STRING, source STRING, extracted_at TIMESTAMP"

  /** (bytes, files) under `f`. */
  private def du(f: java.io.File): (Long, Long) =
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else f.listFiles.map(du).foldLeft((0L, 0L)) { case ((a, b), (c, e)) => (a + c, b + e) }
}
