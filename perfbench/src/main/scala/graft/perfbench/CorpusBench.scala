package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.CacheHygiene
import graft.operators.TextOps

/** `corpus`: the training-data path. Curate runs the TextOps chain on a
  * seeded corpus — signal bundle, near-dup closure, survivor pick and
  * dedup card, BPE learn/fertility/encode, impact-index build over the
  * survivors — and its wall is the run's `wall_s`. Serve then sends
  * `Requests` impactSearchServe requests of a few held-out query docs,
  * with an impactIndexAppend of a fresh batch before every
  * `AppendEvery`th request; one operation is one serve request. There
  * is no warm-up pass: curate pays the JVM's warm-up, as a freshly
  * scheduled curation job does.
  */
object CorpusBench {
  val Requests = 8
  val AppendEvery = 4
  val DocsPerRequest = 3
  val Merges = 2
  /** Docs per append batch; must match gen.py's APPEND_DOCS. */
  val AppendDocs = 16
  val Curate = Seq("signalBundle", "dedupComponentsOn", "keepBestOn", "dupCardOn",
    "bpeLearn", "bpeFertility", "bpeEncodeFrozen", "writeImpactIndex")
    .map("operators.TextOps." + _)
  val Serve = "operators.TextOps.impactSearchServe"
  val Append = "operators.TextOps.impactIndexAppend"
  /** Ids of query copies of appended docs: far above every generated id. */
  val CopyIdBase = 1000000000L

  final case class Curated(labels: DataFrame, survivors: DataFrame)

  private def curate(ctx: Ctx, docs: DataFrame, index: String): Curated = {
    def site[T](name: String)(body: => T): T =
      ctx.trace.span(s"operators.TextOps.$name", "curate")(body)._1
    site("signalBundle")(TextOps.signalBundle(docs).write.format("noop").mode("overwrite").save())
    val labels = site("dedupComponentsOn")(
      CacheHygiene.materialize(TextOps.dedupComponentsOn(docs), "closure labels"))
    val survivors = site("keepBestOn") {
      val keep = TextOps.keepBestOn(labels, docs).select(col("keep_id").as("doc_id"))
      CacheHygiene.materialize(docs.join(keep, "doc_id"), "survivor docs")
    }
    site("dupCardOn")(TextOps.dupCardOn(labels, docs).collect())
    val rules = site("bpeLearn")(TextOps.bpeLearn(survivors, Merges))
    site("bpeFertility")(TextOps.bpeFertility(survivors, rules).collect())
    site("bpeEncodeFrozen")(
      TextOps.bpeEncodeFrozen(survivors, rules).write.format("noop").mode("overwrite").save())
    site("writeImpactIndex")(TextOps.writeImpactIndex(survivors, index))
    Curated(labels, survivors)
  }

  def run(ctx: Ctx, ready: () => Unit): Outcome = {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"${ctx.inputs}/documents.parquet")
    val queryRows = spark.read.parquet(s"${ctx.inputs}/queries.parquet").collect().toSeq
    val schema = docs.schema
    val appendRows = spark.read.parquet(s"${ctx.inputs}/appends.parquet").collect().toSeq
      .sortBy(_.getLong(0)).grouped(AppendDocs).toSeq
    def local(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)
    def serve(rows: Seq[Row], index: String): Array[Row] = {
      val r = TextOps.impactSearchServe(local(rows), index)
      try r.collect() finally CacheHygiene.releaseTree(r)
    }

    val index = s"${ctx.work}/index"
    ready()
    val (cur, wall) = ctx.trace.span("corpus.curate", "curate")(curate(ctx, docs, index))

    // ---- untimed: closure labels and the serve == in-plan probe
    val labels = cur.labels.select("doc_id", "cluster_rep").collect()
      .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
    val served = serve(queryRows, index).map(_.toSeq).toSet
    val inPlanDf = TextOps.impactSearch(local(queryRows).unionByName(cur.survivors),
      nQueries = queryRows.size.toLong, instrument = false)
    val inPlan = try inPlanDf.collect().map(_.toSeq).toSet finally CacheHygiene.releaseTree(inPlanDf)
    CacheHygiene.release(cur.labels, cur.survivors)

    val rng = new scala.util.Random(ctx.seed)
    val serveS = Seq.newBuilder[Double]
    val appendS = Seq.newBuilder[Double]
    val errors = Seq.newBuilder[String]
    var failed, attempted = 0
    val probes = Seq.newBuilder[Row]
    for (i <- 0 until Requests) {
      if (i > 0 && i % AppendEvery == 0 && i / AppendEvery - 1 < appendRows.size) {
        val batch = appendRows(i / AppendEvery - 1)
        attempted += 1
        try {
          appendS += ctx.trace.span(Append, s"append-${i / AppendEvery}")(
            TextOps.impactIndexAppend(local(batch), index))._2
          probes ++= rng.shuffle(batch).take(2)
        } catch {
          case scala.util.control.NonFatal(e) => failed += 1; errors += s"append $i: ${e.getMessage}"
        }
      }
      val req = rng.shuffle(queryRows).take(DocsPerRequest)
      attempted += 1
      try serveS += ctx.trace.span(Serve, s"serve-$i")(serve(req, index))._2
      catch {
        case scala.util.control.NonFatal(e) => failed += 1; errors += s"serve $i: ${e.getMessage}"
      }
    }
    // untimed: a copy of each probed appended doc retrieves it
    val probed = probes.result()
    val hits = if (probed.isEmpty) Array.empty[Row] else serve(probed.map(r => Row(r.getLong(0) + CopyIdBase,
      r.getString(1), r.getString(2), r.getString(3), r.getLong(4))), index)
    val appendsServed = probed.count(r =>
      hits.exists(h => h.getLong(0) == r.getLong(0) + CopyIdBase && h.getLong(1) == r.getLong(0)))
    val serves = serveS.result()
    val appends = appendS.result()
    val perLayer =
      if (!ctx.trace.traced) Map.empty[String, Double]
      else (Curate :+ Serve :+ Append).flatMap(site =>
          ctx.trace.stats(site).map { case (k, v) => s"$site.$k" -> v }).toMap +
        (s"$Serve.input_bytes" -> ctx.trace.inputBytes(Serve))
    Outcome(
      wallS = wall, opS = serves, writeS = appends,
      attempted = attempted + Curate.size, failed = failed, errors = errors.result(),
      workloadMetrics = Map.empty,
      perLayer = perLayer,
      facts = Map("labels" -> labels,
        "serve_matches_in_plan" -> (served == inPlan && served.nonEmpty),
        "served_rows" -> served.size, "in_plan_rows" -> inPlan.size,
        "append_checks" -> probed.size, "appended_docs_served" -> appendsServed))
  }
}
