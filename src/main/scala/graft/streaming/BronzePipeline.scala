package graft.streaming

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.CacheHygiene
import graft.operators.{BloomDedupGate, ImpactDedupGate, IncrementalDedup, TextOps, Validate}
import graft.sources.{BronzeLayer, ManifestTable, MetadataStore}

/** One stage of the streaming ingest chain [[BronzePipeline.ingest]]
  * drives. `keep` returns the batch rows to pass on and may write the
  * batch's audit rows — score and drift tables as a per-`batch_id`
  * dynamic overwrite, so a crash-replayed batch REPLACES its own rows.
  * `afterCommit` sees the batch's rows as committed to bronze, after the
  * commit (see `ingest` for why). A separate trait so a chain can take
  * any stage — a spec substitutes a fault-injecting one.
  */
trait Gate {
  def keep(batch: DataFrame, batchId: String): DataFrame
  def afterCommit(committed: => DataFrame): Unit = ()
  /** The gate's name in job descriptions and the per-batch counts. */
  def name: String = Option(getClass.getSimpleName).filter(_.nonEmpty).getOrElse("gate")
}

object Gate {
  /** A gate that only filters, under `name`. */
  def apply(name: String)(keepFn: (DataFrame, String) => DataFrame): Gate = {
    val gateName = name
    new Gate {
      def keep(batch: DataFrame, batchId: String): DataFrame = keepFn(batch, batchId)
      override def name: String = gateName
    }
  }
}

/** End-to-end incremental bronze → silver → gold pipeline: the reference's daily
  * Airflow pull + transform (finnoio/jobhouse dags/extract_raw_jobs.py)
  * as one Structured Streaming flow. Each scheduled invocation of
  * [[runOnceToTable]] drains every new bronze batch exactly once —
  * `Trigger.AvailableNow` + the file-source checkpoint replace the DAG's
  * catchup/bookkeeping (the batch-mode equivalent is
  * `graft.sources.BatchRunner`), and a killed run resumes from the
  * checkpoint without reprocessing or loss.
  *
  * Silver = typed/derived fields over the raw payload; heavyweight
  * cleaning stays in `operators.Lifecycle`, which reads this output.
  * Every drain is one shape: [[drainBatches]] plus a ManifestTable
  * commit per micro-batch.
  */
object BronzePipeline {

  /** The staging-zone row schema [[ingest]] binds. */
  private val StagingSchema =
    "posting_id STRING, raw_content STRING, source STRING, extracted_at TIMESTAMP"

  /** The silver projection of the streaming bronze tail. */
  def silverStream(spark: SparkSession, bronzePath: String): DataFrame =
    BronzeLayer.readRawStream(spark, bronzePath)
      .withColumn("etag", md5(col("raw_content")))
      .withColumn("content_chars", length(col("raw_content")).cast("long"))
      .withColumn("extracted_date", to_date(col("extracted_at")))

  /** THE streaming ingest edge — the reference's extract → dedup check →
    * bronze flow as one incremental drain. Tail a landing zone of raw
    * JSONL drops, pass every micro-batch through `gates` in order, and
    * land what they keep through [[MetadataStore.ingestWithGate]], so
    * re-delivered payloads are dropped against the PERSISTENT seen-set —
    * unlike `EventsStream.dedupStream`, whose in-stream state only spans
    * the watermark horizon. The checkpoint makes each landing file
    * process exactly once; the etag gate makes same-content re-drops
    * (new files, old payloads) land nowhere.
    *
    * Per micro-batch:
    *   1. the staging read is checkpointed ONCE, lazily (only when
    *      `gates` is non-empty): the first action over it — in the
    *      curated chain, the drift histogram — persists it, and every
    *      later gate branch, probe and audit write and the ingest read
    *      the blocks instead of re-parsing the staging JSON;
    *   2. `keep` folds over the gates in order; the commit lands the
    *      last gate's rows in bronze + metadata;
    *   3. every checkpoint the chain minted is released (`releaseTree`
    *      over each stage — the commit was their final consumer);
    *   4. each gate's `afterCommit` sees the batch's rows READ BACK from
    *      bronze (read only if some gate uses them). Ordering is the
    *      crash discipline: a crashed batch can never poison a gate's
    *      store with content that isn't in bronze, and a replay of an
    *      already-committed batch (whose ingest lands nothing, the etags
    *      being in the store) still re-records its rows from the
    *      committed files instead of losing them forever.
    *
    * Every Spark job a stage runs carries its label as the job
    * description — `<k>:<gate> keep`, `commit`, `<k>:<gate> afterCommit`
    * (k counts gates from 1) — and the stream's own description is
    * restored after each stage, so a listener splits a batch's jobs by
    * stage. Each stage's output rows, the arrivals and the committed
    * read-back are counted by an `Observation` riding the first action
    * the chain already runs over that frame (zero added jobs), and the
    * batch logs one INFO line on the `graft.ingest` logger: `<batch>:
    * arrived=N <k>:<gate>=N ... committed=N`. A stage whose gate returns
    * its input unchanged reuses its input's count, and a frame no action
    * read logs `?`. A count is what that first action saw: a gate whose
    * first action reads only part of its input (validateGate's
    * emptiness probe is a `limit`) under-counts the stage before it, and
    * one that starts with `.rdd` reports zero (the conversion fires the
    * observation before its job runs); the curated chain's first actions
    * read their frames whole (CuratedIngestJobsSpec pins its counts). The counts stay in the
    * driver log: observations made inside `foreachBatch` do not reach
    * `StreamingQueryProgress.observedMetrics`, which only sees the
    * stream's own plan.
    */
  def ingest(spark: SparkSession, stagingPath: String, bronzePath: String,
      metaPath: String, checkpointPath: String, gates: Seq[Gate]): StreamingQuery =
    drainBatches(spark, spark.readStream.schema(StagingSchema).json(stagingPath),
        checkpointPath) { (batch, batchId) =>
      val sc = batch.sparkSession.sparkContext
      val tally = new BatchTally(batchId)
      val stages = ArrayBuffer(tally.observed("arrived",
        if (gates.isEmpty) batch else CacheHygiene.materializeLazy(batch, "bronze batch")))
      try {
        for ((g, k) <- gates.zip(Iterator.from(1))) {
          val label = s"$k:${g.name}"
          val in = stages.last
          val out = labelled(sc, s"$label keep")(g.keep(in, batchId))
          stages += (if (out eq in) tally.same(label, in) else tally.observed(label, out))
        }
        labelled(sc, "commit")(CacheHygiene.release(
          MetadataStore.ingestWithGate(stages.last, bronzePath, metaPath, batchId)))
      } finally if (gates.nonEmpty) CacheHygiene.releaseTree(stages.toSeq: _*)
      lazy val committed =
        tally.observed("committed", BronzeLayer.readBatch(spark, bronzePath, batchId))
      for ((g, k) <- gates.zip(Iterator.from(1)))
        labelled(sc, s"$k:${g.name} afterCommit")(g.afterCommit(committed))
      tally.log(sc)
    }

  /** One micro-batch's row counts: an `Observation` per counted frame,
    * read once the listener bus has delivered the batch's actions. An
    * observation no action fires stays registered with the stream's
    * session, which ends with the drain. */
  private final class BatchTally(batchId: String) {
    private val counts = ArrayBuffer.empty[(String, Either[String, Observation])]

    def observed(stage: String, df: DataFrame): DataFrame = {
      val o = Observation(s"$batchId/$stage")
      counts += stage -> Right(o)
      df.observe(o, count(lit(1)).as("rows"))
    }

    /** `stage` kept exactly its input, `in`. */
    def same(stage: String, in: DataFrame): DataFrame = {
      counts += stage -> Left(counts.last._1)
      in
    }

    def log(sc: SparkContext): Unit = if (IngestLog.isInfoEnabled) {
      // observations complete on the listener bus; a bus slower than its
      // drain timeout leaves them as `?`
      scala.util.Try(ListenerBridge.drain(sc))
      def rows(stage: String): String = counts.find(_._1 == stage).map(_._2) match {
        case Some(Right(o)) => o.future.value.flatMap(_.toOption)
          .map(_.getAs[Long]("rows").toString).getOrElse("?")
        case Some(Left(from)) => rows(from)
        case None => "?"
      }
      IngestLog.info(counts.map(c => s"${c._1}=${rows(c._1)}").mkString(s"$batchId: ", " ", ""))
    }
  }

  private lazy val IngestLog = org.slf4j.LoggerFactory.getLogger("graft.ingest")

  /** Run `body` with every Spark job it starts described as `label` (a
    * listener splits a drain's jobs by stage on it), then restore the
    * stream's own description. */
  private def labelled[T](sc: SparkContext, label: String)(body: => T): T = {
    val streamLabel = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(streamLabel)
  }

  /** The reference's model validation (finnoio/jobhouse
    * src/common/data.py RawJobPosting): each micro-batch splits on
    * [[Validate.rawPostingRules]]; valid rows pass on, invalid rows land
    * in a quarantine dir WITH the rules they broke and their batch id —
    * visible for repair/replay, never silently landed (a null key
    * poisons downstream joins) and never silently dropped (an upstream
    * extractor bug stays invisible). Quarantine appends are at-least-
    * once on crash-replay (quarantined rows carry their batch id, so
    * replay duplicates dedupe trivially downstream) — and must stay
    * appends: [[reAdmitQuarantine]]'s file-precise capture relies on
    * every write landing as fresh files.
    */
  def validateGate(quarantinePath: String): Gate = Gate("validate") { (batch, batchId) =>
    val (valid, quarantined) = Validate.split(batch, Validate.rawPostingRules)
    if (!quarantined.isEmpty)
      quarantined.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(quarantinePath)
    valid
  }

  /** The quarantine's way back in — [[validateGate]] lands rule
    * breakers visibly, and this closes the loop: apply `fix` (a repair
    * transform — backfill a field, re-encode a payload; identity to just
    * re-test), REVALIDATE against the same rules, ingest the rows that
    * now pass through the regular etag gate, and rewrite the quarantine
    * to hold only the rows that still fail (with their violations
    * recomputed and their original `batch_id` preserved for lineage).
    * The reference's CDC edge implies exactly this reprocessing loop:
    * broken extracts get fixed and re-enter, they don't rot in a corner.
    *
    * `readmitBatchId` must be FRESH per invocation (e.g. a timestamped
    * "readmit-..." id): reusing an id whose commit marker exists would
    * make the gate treat the whole re-admission as an already-committed
    * replay and silently drop it — the one way a re-admission could
    * "trip the gate as a duplicate".
    *
    * Crash-safe by convergence, not atomicity: admitted rows reach
    * bronze BEFORE the quarantine is touched, so a crash between the
    * two leaves already-admitted rows in the quarantine — and the next
    * invocation revalidates them, finds them valid, and the etag gate
    * drops them as the duplicates they now are. The quarantine update
    * is FILE-PRECISE: the parquet files captured at entry are the only
    * ones read, still-failing rows append as fresh files BEFORE the
    * captured files delete, and rows appended concurrently by a live
    * [[validateGate]] stream are in neither set — untouched,
    * they wait for the next pass (safe to run against a live stream).
    * Every crash point leaves still-failing rows present, at worst
    * duplicated; quarantine replay duplicates (its appends are
    * at-least-once) collapse here via dropDuplicates before
    * revalidation.
    *
    * Returns (rows admitted to bronze, rows still quarantined).
    */
  def reAdmitQuarantine(spark: SparkSession, quarantinePath: String,
      bronzePath: String, metaPath: String,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      readmitBatchId: String,
      fix: DataFrame => DataFrame = identity): (Long, Long) = {
    val quarRoot = new Path(quarantinePath)
    val f = quarRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a reused id whose commit marker exists would make the gate treat
    // the whole re-admission as an already-committed replay: rows would
    // count as admitted without landing, then vanish in the rewrite -
    // enforce the documented freshness precondition instead of trusting it
    require(!f.exists(new Path(metaPath, s"_commit_$readmitBatchId")),
      s"re-admission: batch id '$readmitBatchId' was already used - " +
        "each invocation needs a fresh id")
    healQuarantineSwap(f, quarRoot)
    if (!f.exists(quarRoot)) return (0L, 0L)
    // FILE-PRECISE snapshot: capture the quarantine's parquet files at
    // entry and operate on exactly those. Rows appended CONCURRENTLY by
    // a live validateGate micro-batch land in files outside this
    // list — never read here, never deleted, they simply wait for the
    // next pass. (The previous whole-dir swap moved the dir aside and
    // deleted it, destroying concurrent appends with it.)
    val captured = {
      val it = f.listFiles(quarRoot, true)
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) b += s.getPath
      }
      b.result()
    }
    if (captured.isEmpty) return (0L, 0L)
    val vCol = graft.operators.Validate.ViolationsCol
    val quar = spark.read.parquet(captured.map(_.toString): _*).dropDuplicates()
    // the repair sees payload + batch_id (lineage it must carry through),
    // never the stale violations - those are recomputed from the rules
    val candidates = fix(quar.drop(vCol))
    require(candidates.columns.contains("batch_id"),
      "re-admission: fix must preserve the batch_id lineage column")
    val annotated = graft.CacheHygiene.materialize(
      graft.operators.Validate.check(candidates, rules), "re-admission check")
    try {
      val valid = annotated.filter(size(col(vCol)) === 0).drop(vCol, "batch_id")
      val stillBad = annotated.filter(size(col(vCol)) > 0)
      val admitted = MetadataStore.ingestWithGate(
        valid, bronzePath, metaPath, readmitBatchId)
      val nAdmitted = admitted.count()
      graft.CacheHygiene.release(admitted)
      val nBad = stillBad.count()
      // point of no return passed (bronze has the admitted rows). The
      // still-bad rows APPEND as fresh files BEFORE the captured files
      // delete, so every crash point leaves their rows present —
      // possibly duplicated, which the dropDuplicates read heals on the
      // next pass — and never lost; admitted rows that reappear
      // revalidate and gate out on content (spec'd). Concurrent appends
      // are untouched throughout.
      if (nBad > 0) stillBad.write.mode("append").parquet(quarantinePath)
      captured.foreach(p => f.delete(p, false))
      (nAdmitted, nBad)
    } finally graft.CacheHygiene.release(annotated) // unpersist() on a
    // checkpointed frame is a CacheManager no-op; the blocks need the
    // backing-RDD release or they leak per invocation
  }

  private val SwapPrefix = ".readmit-next."

  /** Adopt a completed-but-unswapped quarantine rewrite: if the live dir
    * is missing and a finished (`_SUCCESS`-marked) rewrite sibling
    * exists, the sibling IS the quarantine — the writer crashed between
    * moving the old dir away and moving the rewrite in.
    */
  private def healQuarantineSwap(f: org.apache.hadoop.fs.FileSystem,
      quarRoot: Path): Unit = {
    val tmp = new Path(quarRoot.getParent, s"$SwapPrefix${quarRoot.getName}")
    if (!f.exists(quarRoot) && f.exists(new Path(tmp, "_SUCCESS")))
      require(f.rename(tmp, quarRoot),
        s"re-admission: could not adopt the crashed rewrite $tmp")
    // moved-aside dirs a crash kept from their delete: their rows are
    // either live in quarRoot (crash pre-swap never moves the old dir)
    // or superseded by the adopted rewrite - safe to drop either way
    if (f.exists(quarRoot) && f.exists(quarRoot.getParent))
      f.listStatus(quarRoot.getParent)
        .filter(_.getPath.getName.startsWith(s".${quarRoot.getName}.old-"))
        .foreach(st => f.delete(st.getPath, true))
  }

  /** The gate family's (doc_id, text) view of staging rows. */
  private def asDocs(rows: DataFrame): DataFrame =
    rows.withColumn("doc_id", xxhash64(col("posting_id")))
      .withColumn("text", col("raw_content"))

  private def docsOf(committed: DataFrame): DataFrame =
    committed.select(xxhash64(col("posting_id")).as("doc_id"),
      col("raw_content").as("text"))

  /** NEAR-dup gating against everything previously ingested
    * ([[IncrementalDedup]] band signatures): a re-worded or
    * re-whitespaced copy of an already-ingested posting — same tokens,
    * different bytes, so the etag gate alone would admit it — never
    * reaches bronze. The gate preserves every input column, so the batch
    * rides through it whole. Signature appends are at-least-once —
    * duplicates are harmless to a semi-join gate. Near-dups WITHIN one
    * micro-batch both land (cross-batch is this gate's job; in-batch
    * pairs are q30/q36's).
    */
  def nearDupGate(sigPath: String): Gate = new Gate {
    override def name: String = "nearDup"
    def keep(batch: DataFrame, batchId: String): DataFrame =
      IncrementalDedup.gate(asDocs(batch), sigPath).drop("doc_id", "text")
    override def afterCommit(committed: => DataFrame): Unit =
      IncrementalDedup.appendSignatures(docsOf(committed), sigPath)
  }

  /** The LEXICAL impact-index gate (the lexical tier's streaming parity
    * with [[nearDupGate]]'s MinHash and [[SemanticDedupGate]]'s embedding
    * path): a batch posting whose bag of top BM25 terms is already
    * ≥ τ-covered by a document in the PERSISTED impact store
    * ([[ImpactDedupGate]]) never reaches bronze, and committed survivors
    * merge into the store's posting heads so the NEXT batch gates against
    * them — with `ifAbsent = true`, so a replay of a committed batch
    * re-records idempotently (the store's id registry drops the
    * already-recorded rows) instead of failing loudly mid-recovery.
    * Staleness: the store's frozen scoring context is the operator's to
    * maintain — run [[TextOps.impactIndexDrift]] (or gate a snapshot
    * through requireImpactFresh) on the re-freeze cadence; this gate
    * deliberately doesn't tokenize a corpus per micro-batch.
    */
  def lexGate(indexPath: String, tau: Double = 0.8): Gate = new Gate {
    override def name: String = "lexical"
    def keep(batch: DataFrame, batchId: String): DataFrame =
      ImpactDedupGate.gate(asDocs(batch), indexPath, tau).drop("doc_id", "text")
    override def afterCommit(committed: => DataFrame): Unit =
      TextOps.impactIndexAppend(docsOf(committed), indexPath, ifAbsent = true)
  }

  /** The NORMALIZED-content gate, priced by [[BloomDedupGate]]:
    * whitespace/case/reformatting copies — which the metadata gate's
    * byte-exact etag misses and the near-dup gate would only catch past
    * its similarity threshold — are dropped before they land, and placed
    * ahead of the commit, Bloom negatives (the bulk of a mostly-fresh
    * batch) reach the metadata probe pre-shrunk. One filter per store
    * for the session ([[BloomDedupGate.forStore]]): the first drain
    * builds it from the fingerprint store, later drains reuse it and
    * fold in only the store files it has not seen — a restarted driver
    * rebuilds from the store, which IS the restart-recovery path.
    * Committed rows' fingerprints are recorded after the commit, from
    * one read of the bronze read-back.
    */
  def contentGate(spark: SparkSession, fpStorePath: String): Gate = new Gate {
    override def name: String = "content"
    private val bloom = BloomDedupGate.forStore(spark, fpStorePath)
    def keep(batch: DataFrame, batchId: String): DataFrame =
      bloom.gate(batch, textCol = "raw_content")
    override def afterCommit(committed: => DataFrame): Unit =
      bloom.record(committed, textCol = "raw_content")
  }

  /** In-batch normalized-content dedup: the Bloom gate is CROSS-batch by
    * contract (it verifies against the store), so two normalized copies
    * arriving in the SAME batch need this keep-min pass. Keyed by the
    * fingerprint ALONE — an equi-join on (fp, posting_id) would let two
    * same-id same-fingerprint rows with different raw bytes BOTH survive
    * (r14 advice) — and the survivor is min of the full row struct
    * (posting_id first), so ties are deterministic where a
    * dropDuplicates or min_by would pick arbitrarily. Null raw_content ⇒
    * null fingerprint: such rows drop explicitly (a groupBy would pool
    * ALL of them into one group and land a single null-content row,
    * merging unrelated malformed postings); a row with no content has no
    * dedup identity and nothing to ingest. Checkpointed, lazily: the
    * Bloom gate's suspect collect persists it, and the ingest's etag
    * collect and bronze write read the blocks — un-checkpointed, the
    * dedup shuffle + struct-min agg would re-execute per consumer. The
    * keyed agg is deterministic under task retry, which the lazy form
    * needs.
    */
  val fingerprintDedupGate: Gate = Gate("fingerprint") { (batch, _) =>
    val dataCols = batch.columns.toSeq
    val ordered = ("posting_id" +: dataCols.filterNot(_ == "posting_id")).map(col)
    CacheHygiene.materializeLazy(
      batch.withColumn("__fp", TextOps.fingerprint(col("raw_content")))
        .filter(col("__fp").isNotNull)
        .groupBy("__fp")
        .agg(min(struct(ordered: _*)).as("__r"))
        .select(dataCols.map(c => col(s"__r.$c")): _*),
      "curated batch")
  }

  /** THE composed streaming curation chain — the streaming mirror of the
    * batch chain PipelineEndToEndSpec proves: drift FIRST, on the raw
    * arrivals (upstream drift must show before the mixture reshapes the
    * distribution); √-temperature downsample by persisted reference
    * rates; in-batch fingerprint dedup; the normalized-content Bloom
    * gate; then the driver's exact-etag commit and fingerprint record.
    */
  def curatedIngest(spark: SparkSession, stagingPath: String,
      bronzePath: String, metaPath: String, fpStorePath: String,
      ratesPath: String, refHistPath: String, driftPath: String,
      checkpointPath: String, driftThreshold: Double = 0.25): StreamingQuery =
    ingest(spark, stagingPath, bronzePath, metaPath, checkpointPath, Seq(
      DriftMonitor.gate(refHistPath, driftPath, driftThreshold),
      MixtureGate.gate(ratesPath), fingerprintDedupGate,
      contentGate(spark, fpStorePath)))

  /** Stable-per-checkpoint identity: created once next to the checkpoint
    * and re-read on every restart, so replayed micro-batches keep their
    * batch ids (the exactly-once retry path needs that) while a rebuilt
    * checkpoint — whose micro-batch ids restart at 0 — gets a fresh
    * namespace and can never alias an older run's committed batches.
    */
  private def pipelineId(spark: SparkSession, checkpointPath: String): String = {
    val dir = new Path(checkpointPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = new Path(dir, "_graft_pipeline_id")
    if (fs.exists(f)) {
      val in = fs.open(f)
      val id = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // a crash between a non-atomic create and its write would have
      // persisted an EMPTY id — and "" passes the batch-id charset
      // check, so two degenerate checkpoints would collide on the same
      // "_commit_-NNNNN" markers, the exact collision the pid prevents.
      // The write below is temp+rename so this can no longer be minted;
      // refuse loudly if a legacy crash left one behind.
      require(id.nonEmpty,
        s"pipeline id file $f is empty (torn legacy write) - delete it " +
          "to mint a fresh id for this checkpoint")
      id
    } else {
      val id = java.util.UUID.randomUUID().toString
      fs.mkdirs(dir)
      // temp + atomic rename: the id file either exists with the full
      // UUID or not at all, never as a zero-byte torn create
      val tmp = new Path(dir, s"._graft_pipeline_id.tmp-$id")
      val out = fs.create(tmp, true)
      try out.write(id.getBytes(StandardCharsets.UTF_8)) finally out.close()
      if (fs.rename(tmp, f)) id
      else { // lost a creation race: adopt the winner's id
        fs.delete(tmp, false)
        pipelineId(spark, checkpointPath)
      }
    }
  }

  /** Drain all currently-available bronze batches into silver, a
    * [[ManifestTable]]: each micro-batch is one atomic, token-idempotent
    * commit, so readers get snapshot isolation (never a half-written
    * drain), time travel across drains, and `readRange`/`readWhere`
    * pruning on `extracted_date` — a date-scoped silver query at 100 TB
    * reads only the drains whose recorded date range can match, without
    * physical repartitioning by date.
    *
    * Exactly-once is layered: the checkpoint makes each micro-batch
    * process once per run; [[ManifestTable.commitIdempotent]] makes the
    * crash-replay of a committed-but-unacknowledged micro-batch a no-op
    * (the commit CAS and the replay-visible token are one operation).
    * Empty micro-batches commit nothing. A micro-batch's jobs carry the
    * description `silver commit`: a warm one runs two, the emptiness
    * probe and the write, whose stats and schema the commit takes from
    * the write itself.
    */
  def runOnceToTable(spark: SparkSession, bronzePath: String,
      silverTable: String, checkpointPath: String): StreamingQuery =
    drainBatches(spark, silverStream(spark, bronzePath), checkpointPath) { (batch, batchId) =>
      labelled(batch.sparkSession.sparkContext, "silver commit") {
        if (!batch.isEmpty)
          ManifestTable.commitIdempotent(batch, silverTable, batchId,
            statsCols = Seq("extracted_date", "source"))
      }
    }

  /** The gold mart — the reference's gold box (docs/Pipeline
    * Architecture.mermaid): per-(source, hour) posting counts and
    * payload volume as a [[ManifestTable]]. The bronze stream is only
    * the change feed: each micro-batch names the bronze hour dirs it
    * touches ([[BronzeLayer.hourDirs]]), those hours are recomputed
    * from ALL of bronze, and their rows replace the mart's through
    * [[ManifestTable.mergeCommit]] keyed on (`source`, `hour`). No
    * watermark and no streaming state: a late row corrects its hour, a
    * drain split across micro-batches in any file order counts every
    * row, a replayed micro-batch recomputes identical rows, and an open
    * hour's row holds its bronze count so far. Commits record (`hour`,
    * `source`) stats and the merge rewrites only the commits whose
    * ranges overlap the touched keys, so a "last 24 h" read prunes to
    * the commits holding those hours. A micro-batch's jobs carry the
    * descriptions `gold hours` (naming the touched dirs) and `gold
    * merge` (the recompute, checked and written once).
    */
  def martRunOnceToTable(spark: SparkSession, bronzePath: String,
      martTable: String, checkpointPath: String): StreamingQuery =
    drainBatches(spark, BronzeLayer.readRawStream(spark, bronzePath), checkpointPath) {
      (batch, _) =>
        val sc = batch.sparkSession.sparkContext
        val hours = labelled(sc, "gold hours")(BronzeLayer.hourDirs(batch, bronzePath))
        if (hours.nonEmpty) labelled(sc, "gold merge") {
          ManifestTable.mergeCommit(spark, martTable,
            BronzeLayer.readRawPaths(spark, bronzePath, hours)
              .groupBy(col("source"), date_trunc("hour", col("extracted_at")).as("hour"))
              .agg(count(lit(1)).as("n_postings"),
                sum(length(col("raw_content"))).as("total_chars")),
            keyCols = Seq("source", "hour"), statsCols = Seq("hour", "source"))
        }
    }

  /** The scaffold every foreachBatch drain shares: run `body` on each
    * available micro-batch under its namespaced batch id, then stop.
    * Batch ids are namespaced by the per-checkpoint [[pipelineId]]:
    * micro-batch ids alone restart at 0 whenever the checkpoint is
    * deleted/rebuilt, and a bare `stream-00000` would collide with the
    * previous checkpoint's commit marker — the gate would treat the
    * fresh micro-batch as already committed and silently drop its rows.
    */
  private def drainBatches(spark: SparkSession, stream: DataFrame,
      checkpointPath: String)(body: (DataFrame, String) => Unit): StreamingQuery = {
    val pid = pipelineId(spark, checkpointPath)
    stream.writeStream
      .outputMode("append")
      .foreachBatch((batch: Dataset[Row], id: Long) => body(batch.toDF(), f"$pid-$id%05d"))
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
