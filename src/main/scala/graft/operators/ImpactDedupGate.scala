package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental LEXICAL dedup gating through a persisted impact index —
  * the fourth member of the gate family (exact-etag
  * [[graft.sources.MetadataStore]], MinHash near-dup
  * [[IncrementalDedup]], Bloom-prefiltered exact [[BloomDedupGate]],
  * embedding-space [[SemanticDedupGate]]): a batch document is refused
  * when the index's posting heads already score a stored document at
  * ≥ τ of the batch doc's own bag self-score. The reference surface
  * this closes: the vector tier's incremental gates guarded the
  * embedding path while the lexical tier's artifact
  * ([[TextOps.writeImpactIndex]]'s store) had no gate reading it
  * (r19 verdict item 5).
  *
  * Why the self-score ratio is the right yardstick: under the store's
  * FROZEN scoring context, an exact copy of a stored doc reproduces the
  * stored doc's per-term impacts bit-for-bit (same tf, same length,
  * same df), so its top candidate sums to exactly its own bag
  * self-score — ratio 1.0 by construction, no corpus-dependent score
  * magnitude to tune against. Near-dups decay smoothly below 1.0 as
  * edits move terms out of the shared bag; τ defaults to 0.8 (refuses
  * docs whose best stored twin still covers ≥80% of their own lexical
  * mass). A doc with NO in-vocab term has no bag, hence no evidence —
  * it admits (nothing it could duplicate is reachable through the
  * frozen vocabulary).
  *
  * Join shape at 100 TB (the gate-family contract): the batch
  * broadcasts; the store's postings/df scans are partition-PRUNED to
  * the batch's term buckets and never shuffle; everything right of the
  * pruned head scan is batch-sized. Within-batch twins both admit
  * (cross-batch is this gate's job; in-batch pairs are q30/q36's).
  *
  * Staleness policy (r19 verdict item 3 — the probe is now ENFORCED):
  * pass `freshnessCorpus = Some(corpusSnapshot)` and the gate refuses
  * to operate on a drifted frozen context via
  * [[TextOps.requireImpactFresh]] (df-histogram PSI > maxPsi or avglen
  * ratio outside `lenRatioBounds` throws loudly — re-freeze with
  * [[TextOps.writeImpactIndex]]). The check tokenizes the corpus
  * snapshot once — the per-deploy / per-window cadence, not per-batch.
  */
object ImpactDedupGate {

  /** Batch rows whose best stored candidate scores below τ × their own
    * bag self-score. Expects a `doc_id` (unique) and `text` column;
    * every input column rides through (the gate-family convention).
    * Already-REGISTERED doc_ids (the store's `ids/` registry) refuse
    * too — a replayed or re-worded re-ingestion of a known id must
    * never pass on lexical distance alone.
    *
    * Checkpoint contract: ONE batch-bounded checkpointed frame (the
    * refusal id set) rides aboard the returned plan — the consumer's
    * releaseTree frees it (the Verify discipline; [[ingest]] and
    * [[graft.streaming.BronzePipeline.ingest]] do). The batch plan
    * re-executes once inside the gate — callers on expensive inputs
    * materialize the batch first (as that ingest driver does).
    */
  def gate(batch: DataFrame, indexPath: String, tau: Double = 0.8,
      qTerms: Int = 10,
      freshnessCorpus: Option[DataFrame] = None,
      maxPsi: Double = 0.25,
      lenRatioBounds: (Double, Double) = (0.8, 1.25)): DataFrame = {
    require(tau > 0 && tau <= 1, s"ImpactDedupGate: tau must be in (0,1], got $tau")
    require(qTerms >= 1, s"ImpactDedupGate: qTerms must be >= 1, got $qTerms")
    freshnessCorpus.foreach(c =>
      TextOps.requireImpactFresh(c, indexPath, maxPsi, lenRatioBounds))
    // id-registry refusal first: exact, cheaper than scoring, and the
    // only defense when a re-ingested doc's text CHANGED (its lexical
    // evidence may sit under τ while its old postings still serve).
    // Collision set computed store-streamed/batch-broadcast, then the
    // batch anti-joins the batch-bounded result — never the raw
    // corpus-sized registry
    val known = graft.CacheHygiene.materialize(
      TextOps.impactCollidingIds(
        batch.select(col("doc_id")).distinct(), indexPath),
      "impact-gate known ids")
    val unseen = batch.join(broadcast(known), Seq("doc_id"), "left_anti")
    val ev = TextOps.impactGateEvidence(unseen, indexPath, qTerms)
    val dups = ev
      .filter(col("top_u").isNotNull && col("self_u") > 0 &&
        col("top_u") >= lit(tau) * col("self_u"))
      .select(col("doc_id"))
    // the single owned handle aboard the returned plan: known ∪ lexical
    // dups, batch-bounded; materializing it fully consumes known and ev
    val refuse = graft.CacheHygiene.materialize(
      known.unionByName(dups), "impact-gate refusals")
    graft.CacheHygiene.release(known, ev)
    batch.join(broadcast(refuse), Seq("doc_id"), "left_anti")
  }

  /** Gate, then merge the survivors into the store
    * ([[TextOps.impactIndexAppend]] with `ifAbsent = true` — the gate's
    * registry anti-join already excluded known ids, and replay
    * idempotency across crash recovery is the streaming caller's
    * contract). Returns the admitted frame (checkpointed; the caller's
    * releaseTree owns it, the SemanticDedupGate.ingest convention);
    * the gate's internal refusal frame is released here.
    */
  def ingest(batch: DataFrame, indexPath: String, tau: Double = 0.8,
      qTerms: Int = 10,
      freshnessCorpus: Option[DataFrame] = None,
      maxPsi: Double = 0.25,
      lenRatioBounds: (Double, Double) = (0.8, 1.25)): DataFrame = {
    val gated = gate(batch, indexPath, tau, qTerms, freshnessCorpus,
      maxPsi, lenRatioBounds)
    val admitted = graft.CacheHygiene.materialize(gated, "impact-gate batch")
    // gated's tree holds exactly the gate's own refusal checkpoint plus
    // whatever the CALLER's batch plan carries — but the caller handed
    // the batch to be consumed here, and SemanticDedupGate.ingest's
    // contract (the returned admitted frame is the live artifact) makes
    // this the final consumer of the gate plan
    graft.CacheHygiene.releaseTree(gated)
    TextOps.impactIndexAppend(
      admitted.select(col("doc_id"), col("text")), indexPath,
      ifAbsent = true)
    admitted
  }
}
