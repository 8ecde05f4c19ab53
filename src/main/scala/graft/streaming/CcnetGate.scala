package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheHygiene
import graft.operators.TextOps
import graft.sources.ParquetSink

/** Streaming CCNet quality gate — q119 at the ingest edge (Wenzek et
  * al. 2020 run continuously): the per-language unigram LM and the
  * head/middle/tail NLL thresholds are learned ONCE from a reference
  * corpus and persisted; every micro-batch is then scored against the
  * FROZEN model and routed by bucket — tail is the classic CCNet drop.
  * Scoring against a frozen artifact (never the batch's own
  * distribution) is what makes the decision batch-composition-
  * independent: a document buckets identically whether it arrives
  * alone or inside a skewed batch, the MixtureGate/BloomDedupGate
  * contract.
  *
  * Two semantics deliberately differ from the q119 mart and are part
  * of the artifact's contract:
  *   - q119 buckets POSITIONALLY (rank terciles, ties split by id);
  *     the gate buckets BY VALUE (nll ≤ the reference bucket's max).
  *     On distinct NLLs they agree exactly (spec-pinned); on a tie
  *     that straddles a reference tercile boundary the gate calls both
  *     docs the better bucket — a threshold artifact cannot encode a
  *     positional tie-break, and generosity is the safe direction for
  *     a drop gate.
  *   - staging rows carry no language label, so the gate language-IDs
  *     with [[TextOps.langIdExpr]] (the q34 vote) first — exactly
  *     CCNet's own pipeline order (fastText lang-ID, then the
  *     language's LM). A language the model has never seen buckets
  *     `unscored` and is ADMITTED: like MixtureGate's absent-source
  *     policy, a new language is a drift signal to surface, not
  *     something to score against the wrong LM or silently drop.
  *
  * Unseen WORDS in a known language get the floor probability of a
  * count-1 token (lnp = −ln N_lang), persisted per language with the
  * vocab so the floor moves with the model, never the batch.
  *
  * Scale: the artifact is vocab-sized (lang, word, lnp — millions of
  * rows per language at 100 TB, an equi-join AQE sizes, never
  * collected); thresholds and totals are language-cardinality
  * broadcasts; per-batch work is the q91 shape (two map-side
  * combinable aggs + the vocab join) over the BATCH only.
  */
object CcnetGate {

  /** Learn the model from a reference corpus (needs doc_id, lang,
    * text) and persist it: `<modelPath>/vocab` = (lang, w, lnp),
    * `<modelPath>/stats` = (lang, ln_total, t_head, t_middle).
    * Thresholds are the max NLL of each q119 reference bucket;
    * a language too small to populate a bucket persists a null
    * threshold (scored batches then never land the empty bucket —
    * derived, like DriftMonitor's persisted bin count, never assumed).
    */
  def writeModel(reference: DataFrame, modelPath: String): Unit = {
    val toks = reference.select(col("lang"),
        explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = toks.groupBy("lang", "w").agg(count(lit(1)).as("nw"))
    val totals = vocab.groupBy("lang").agg(sum("nw").cast("double").as("N"))
    vocab.join(broadcast(totals), "lang")
      .select(col("lang"), col("w"),
        (log(col("nw").cast("double")) - log(col("N"))).as("lnp"))
      .write.mode("overwrite").parquet(s"$modelPath/vocab")
    val cuts = TextOps.ccnetBuckets(reference)
      .groupBy("lang").agg(
        max(when(col("bucket") === "head", col("nll"))).as("t_head"),
        max(when(col("bucket") === "middle", col("nll"))).as("t_middle"))
    totals.select(col("lang"), log(col("N")).as("ln_total"))
      .join(cuts, Seq("lang"), "left")
      .coalesce(1).write.mode("overwrite").parquet(s"$modelPath/stats")
  }

  /** Score one frame against the persisted model: adds `nll` (null for
    * unscored) and `bucket` (head/middle/tail/unscored). `langCol` is
    * the language to look up — a label column if the frame has one, or
    * [[TextOps.langIdExpr]] for raw text. Rows whose language is
    * absent from the model — or with no scorable tokens — bucket
    * `unscored`.
    *
    * SCHEMA REWRITE: the output's `lang` column is the RESOLVED scoring
    * language (langCol's verdict) — any caller-supplied `lang` column is
    * dropped and replaced. A tail drop must be attributable to the
    * language/LM that scored it; a caller whose input `lang` carries
    * different semantics must rename it before calling. */
  def scoreBatch(spark: SparkSession, modelPath: String, batch: DataFrame,
      idCol: String, textCol: String, langCol: Column): DataFrame = {
    val vocab = spark.read.parquet(s"$modelPath/vocab")
    val stats = spark.read.parquet(s"$modelPath/stats")
    val base = batch.withColumn("__lang", langCol)
    val toks = base.select(col(idCol).as("__id"), col("__lang"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val scored = toks.groupBy("__id", "__lang", "w").agg(count(lit(1)).as("n"))
      .join(broadcast(stats.select(col("lang").as("__lang"), col("ln_total"))),
        Seq("__lang"))
      .join(vocab.select(col("lang").as("__lang"), col("w"), col("lnp")),
        Seq("__lang", "w"), "left")
      // unseen word in a known language: count-1 floor, from the MODEL
      .withColumn("__lnp", coalesce(col("lnp"), -col("ln_total")))
      .groupBy("__id")
      .agg(round(-sum(col("n").cast("double") * col("__lnp")) / sum("n"), 4)
        .as("nll"))
    base.join(scored, col(idCol) === col("__id"), "left")
      .join(broadcast(stats.select(col("lang").as("__lang"),
        col("t_head"), col("t_middle"))), Seq("__lang"), "left")
      .withColumn("bucket",
        when(col("nll").isNull, "unscored")
          .when(col("t_head").isNotNull && col("nll") <= col("t_head"), "head")
          .when(col("t_middle").isNotNull && col("nll") <= col("t_middle"), "middle")
          .otherwise("tail"))
      .drop("__id", "t_head", "t_middle")
      // keep the RESOLVED language in the output as `lang` (replacing any
      // same-named input column — langCol's verdict is what scored the row):
      // a tail drop must be attributable to the language/LM that scored it
      .drop("lang")
      .withColumnRenamed("__lang", "lang")
  }

  /** The CCNet cut as an ingest [[Gate]]: every micro-batch is
    * language-ID'd and scored against the frozen model, `tail` rows are
    * dropped at the door, and survivors — including `unscored` ones —
    * pass on with the staging schema (bronze stays the RAW schema, the
    * bronze writer's contract). The per-row curation evidence
    * (posting_id, lang, nll, bucket — tail rows included, so the drop is
    * auditable) lands in `scoresPath`. The scored batch is checkpointed:
    * it feeds both the score table and the survivor filter, and the LM
    * join would otherwise run twice.
    */
  def gate(modelPath: String, scoresPath: String): Gate = Gate("ccnet") { (batch, batchId) =>
    val scored = CacheHygiene.materialize(
      scoreBatch(batch.sparkSession, modelPath, batch,
        "posting_id", "raw_content", TextOps.langIdExpr(col("raw_content"))),
      "ccnet-gate batch")
    ParquetSink.overwritePartitions(
      scored.select(col("posting_id"), col("lang"), col("nll"),
        col("bucket"), lit(batchId).as("batch_id")),
      scoresPath, Seq("batch_id"))
    scored.filter(col("bucket") =!= "tail").drop("lang", "nll", "bucket")
  }
}
