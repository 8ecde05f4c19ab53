package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis + deduplication operators for large-scale training-data
  * pipelines (SURVEY.md §2.3), over the `documents` table. The reference
  * gates re-ingestion on exact identity (jobhouse mermaid "Deduplication
  * Check"); here the full dedup family: exact content hash, normalized
  * fingerprint, token/quality/language scoring, and set-similarity
  * near-dup pairs. All expressions are codegen'd `functions._` — no UDFs.
  */
object TextOps {
  import Tables._

  /** THE tokenization used by every text sketch/score/chunk operator —
    * change it here and simhash/minhash/jaccard/chunking stay in sync. */
  val WhitespaceRe = "\\s+"
  private val ws = WhitespaceRe

  /** Lowercased whitespace tokens in document order. */
  def tokens(text: Column): Column = split(lower(trim(text)), WhitespaceRe)

  /** Tokens as a deduplicated word set (lowercased, whitespace split). */
  def wordSet(text: Column): Column = array_distinct(tokens(text))

  /** Exact dedup: one content hash per distinct body; keep the smallest id
    * as the canonical representative. One map-side-combinable shuffle.
    */
  def q30DedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (alpha runs / digit runs / single punctuation).
    */
  def q31TokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      size(split(trim(col("text")), ws)).cast("long").as("n_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")
        .as("n_bpe_pieces"),
      length(col("text")).cast("long").as("n_chars"))

  /** Document fingerprint: md5 over the whitespace-normalized, lowercased
    * body — the near-exact dedup key (catches reformatting-only copies).
    */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, ws, " "))))

  def q32Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** THE quality score (length saturation + stopword ratio + punctuation
    * density, rounded to 4 decimals) — one codegen'd expression shared by
    * q33/q88 and the drift/budget operators so every consumer ranks by
    * the same number.
    */
  def qualityExpr(text: Column): Column = {
    val words = size(split(trim(text), ws)).cast("double")
    val chars = length(text).cast("double")
    val punct = regexp_count(text, lit("[.,!?;:]")).cast("double")
    val stops = regexp_count(concat(lit(" "), lower(text), lit(" ")),
      lit(" (the|a|of|and|to|in|is) ")).cast("double")
    round(least(words / 100.0, lit(1.0)) * 0.5 +
      (stops / words) * 0.3 +
      (lit(1.0) - punct / chars) * 0.2, 4)
  }

  /** Quality scoring: one codegen'd pass of [[qualityExpr]]. */
  def q33QualityScore(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), qualityExpr(col("text")).as("quality"))

  /** Language ID: stopword-vote n-gram heuristic with a fixed tie-break
    * order. (Votes, not a model — deterministic and shuffle-free.)
    */
  /** The q34 stop-word-vote language guess as a reusable codegen'd
    * expression — [[graft.streaming.CcnetGate]] runs it on staging rows
    * that carry no language label before picking the per-language LM. */
  def langIdExpr(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    def votes(alts: String): Column = regexp_count(padded, lit(s" ($alts) "))
    val ve = votes("the|and|of|to|in|is|that")
    val vd = votes("der|die|und|das|ist|nicht|mit")
    val vs = votes("el|la|de|los|que|y|en")
    val vf = votes("le|la|les|et|des|un|est")
    when(ve === 0 && vd === 0 && vs === 0 && vf === 0, "und")
      .when(ve >= vd && ve >= vs && ve >= vf, "en")
      .when(vd >= vs && vd >= vf, "de")
      .when(vs >= vf, "es")
      .otherwise("fr")
  }

  def q34LangId(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      langIdExpr(col("text")).as("pred_lang"))

  /** FUSED curation scan (q144, r16) — the deployment form of the
    * per-doc signal family: fingerprint (q32), token/piece/char counts
    * (q31), quality score (q33), language guess (q34) and 3-gram
    * repetition (q66, in its per-row array form) computed in ONE pass.
    * The individual queries are the per-signal ORACLE INSTRUMENTS; a
    * 100 TB curation run does not read the corpus six times — it runs
    * THIS scan once and routes on the bundled columns. Every signal is
    * the same shared expression the instrument uses ([[fingerprint]],
    * [[qualityExpr]], [[langIdExpr]]), so the bundle can never drift
    * from the numbers the instruments verified. Docs too short for
    * 3-grams carry `n_grams3 = 0` and a null `rep3` (q66 emits no row
    * for them; the fused scan keeps every doc — downstream routing
    * needs the doc even when one signal abstains).
    *
    * Scale shape: one FileScan, zero Exchanges (plan-pinned) — all
    * per-row codegen'd regex/array arithmetic, including the
    * repetition ratio via `array_distinct` on the doc's own grams
    * instead of q66's corpus-wide explode + groupBy.
    */
  def signalBundle(docs: DataFrame): DataFrame = {
    val grams3 = graft.plans.GraftFunctions.shingles(tokens(col("text")), 3)
    docs.select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"),
      size(split(trim(col("text")), ws)).cast("long").as("n_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
        .cast("long").as("n_bpe_pieces"),
      length(col("text")).cast("long").as("n_chars"),
      qualityExpr(col("text")).as("quality"),
      langIdExpr(col("text")).as("pred_lang"),
      size(grams3).cast("long").as("n_grams3"),
      when(size(grams3) > 0,
        round(lit(1.0) -
          size(array_distinct(grams3)).cast("double") / size(grams3), 4))
        .as("rep3"))
  }

  /** q144: the fused one-scan signal bundle over `documents`. */
  def q144SignalBundle(s: SparkSession, d: String): DataFrame =
    signalBundle(documents(s, d))

  /** N-gram (3-shingle) Jaccard near-dup pairs via an inverted-index join:
    * explode distinct shingles → co-group on (shingle, lang) → pair
    * counts → |∩|/|∪| ≥ 0.8. Shingle frequencies are low (unlike raw
    * words), so the index join stays sparse — the exact-similarity shape
    * that scales; candidate volume is Σ_shingle c², not n² per block.
    */
  def q35NgramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccard(documents(s, d), maxShingleDF = Int.MaxValue)

  /** The PRODUCTION q35 shingle-DF cap (docs/TUNING.md: "keep maxShingleDF
    * capped and hashShingles=true in production"). ONE definition so the
    * bench variant and the scale probe always time the same workload. */
  val ProdMaxShingleDF = 64

  /** The production q35 configuration — DF-capped + hashed shingles
    * (bench-only: the ORACLE stays on the exact string form, see
    * [[ngramJaccard]]). */
  def q35Prod(s: SparkSession, d: String): DataFrame =
    ngramJaccard(documents(s, d), maxShingleDF = ProdMaxShingleDF,
      hashShingles = true)

  /** N-gram Jaccard with a shingle document-frequency cap — the 100 TB
    * guard for q35's inverted index. A shingle appearing in c docs
    * contributes c² candidate rows; boilerplate shingles ("all rights
    * reserved" trigrams) make that quadratic in corpus size. Capping DF
    * drops only those index entries; per-doc shingle SIZES stay exact, so
    * for doc pairs that share no dropped shingle (every pair at sf0.01 —
    * asserted in TextOpsSpec) the Jaccard is exact, and otherwise it is a
    * strict lower bound — capping can only MISS near-dups whose overlap
    * is mostly corpus-wide boilerplate, never invent one.
    *
    * `hashShingles = true` is the 100 TB shuffle diet: the index joins on
    * the shingle's 64-bit hash instead of its ~20-40 byte string,
    * shrinking every exchange in the pipeline several-fold. A hash
    * collision (≈ D²/2⁶⁴ for D distinct shingles — ~3e-9 even at a
    * billion shingles) could merge two shingles and nudge one
    * intersection count; the driver-oracled q35 therefore stays on exact
    * strings, and the hashed path is spec-asserted identical on the test
    * corpus.
    */
  def ngramJaccard(docs: DataFrame, maxShingleDF: Int,
      hashShingles: Boolean = false): DataFrame =
    ngramJaccardShared(docs, maxShingleDF, hashShingles)._1

  /** [[ngramJaccard]] plus the materialized shingle-index handle. The
    * distinct (doc_id, lang, s) frame feeds BOTH index sides and both
    * size lookups; left lazy, the sizes subtree carries different pushed
    * filters than the index subtree (no IsNotNull(lang)), so exchange
    * reuse cannot merge them and the corpus is scanned+shingled+
    * distinct-shuffled twice (r21, read off the q35 physical plan). One
    * checkpoint makes every consumer a block read. Callers that consume
    * the pair plan eagerly (the q94 closure) release the handle
    * immediately after; plans returned to the caller (q35) carry the
    * checkpoint as a leaf, which Verify's releaseTree / Bench's blanket
    * unpersist already reap — the q99/q100 convention.
    */
  private[operators] def ngramJaccardShared(docs: DataFrame, maxShingleDF: Int,
      hashShingles: Boolean = false): (DataFrame, DataFrame) = {
    // Shingling is a per-row codegen'd kernel (plans.Shingles): the old
    // posexplode + window-lead form paid a full doc_id-keyed shuffle
    // before the index could even build. (A transform() lambda would
    // also be per-row but runs interpreted — ~10x slower JIT-cold.)
    val raw = docs
      .select(col("doc_id"), col("lang"),
        explode(graft.plans.GraftFunctions.shingles(tokens(col("text")), 3)).as("s"))
    val ex = graft.CacheHygiene.materialize(
      (if (hashShingles) raw.withColumn("s", xxhash64(col("s"))) else raw)
        .distinct(),
      "ngram shingle index")
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // r22 examined-and-rejected: a df>1 semi-join prefilter ahead of the
    // self-join (the widthCappedPairs w>1 idea) measured 9-10% SLOWER
    // in the r22 interleaved A/B (OPTIMIZATION_r22.md; q35: min 0.838 vs
    // 0.912, med 1.084 vs 1.195)
    // and buys nothing at scale either — unlike q36's bucket stats, the
    // df aggregate doesn't already exist on this path, and its exchange
    // carries ~the index's own volume (mostly-unique shingles don't
    // collapse under partial aggregation), so it only adds a serial agg
    // + semi join to shrink a hash build the SHJ already partitions.
    val index =
      if (maxShingleDF == Int.MaxValue) ex
      else {
        // the over-cap set is tiny by construction (few shingles are
        // corpus-wide): partial-aggregated count + broadcast anti-join,
        // never a (s,lang) window that would ship every posting of a hot
        // shingle into one task - the exact skew the cap is for
        val hot = ex.groupBy("s", "lang").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDF)
          .select("s", "lang")
        ex.join(broadcast(hot), Seq("s", "lang"), "left_anti")
      }
    // Shuffled-hash on purpose (r21, guide §3.1): the estimate-driven
    // default BROADCASTS the whole shingle index (it sits under the 10 MB
    // estimate at bench scale) — a driver-side collect+build of the
    // suite's widest frame, re-paid by every closure query, and the one
    // join shape with a hard 8 GB/512M-row ceiling at corpus scale. The
    // hinted shuffled-hash plans ONE exchange that both sides REUSE (the
    // index is the same checkpoint leaf), builds per-partition tables,
    // and A/B'd interleaved 13% faster (min 1.151 vs 1.327, med 1.278 vs
    // 1.487 over 8 alternating rounds). Skew posture: AQE skew-join
    // splits oversized SHJ partitions; the production capped form
    // (maxShingleDF) bounds any shingle's partition contribution anyway.
    val inter = index.as("a")
      .join(index.hint("shuffle_hash").as("b"),
        col("a.s") === col("b.s") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") /
      (col("sa.sz") + col("sb.sz") - col("inter")).cast("double")
    (inter
      .join(sizes.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b_id") === col("sb.doc_id"))
      .filter(jac >= 0.8)
      .select(col("a_id"), col("b_id"), round(jac, 4).as("jaccard")),
      ex)
  }

  /** Corpus-wide frequent tokens via the SpaceSaving sketch aggregate
    * (graft.plans.TopKFreq). Capacity exceeds this corpus's vocabulary so
    * the sketch is exact here — which is what lets DuckDB oracle it; at
    * 100 TB the same plan runs with bounded state instead of a full
    * vocabulary shuffle.
    */
  def q52HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftFunctions.topk_freq
    documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .agg(topk_freq(col("w"), k = 10, capacity = 4096).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.word").as("word"), col("t.cnt").as("cnt"))
  }

  /** The SQL-text surface: the same engine driven through spark.sql over
    * registered views (how a reference user ports their ad-hoc SQL).
    */
  def q53SqlSurface(s: SparkSession, d: String): DataFrame = {
    documents(s, d).createOrReplaceTempView("documents_v")
    s.sql("""
      SELECT lang, source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents_v
      GROUP BY lang, source
    """)
  }

  /** Training-data chunking: overlapping fixed-width token windows
    * (window=64, stride=48 → 16-token overlap). One generator explode,
    * all codegen'd slice/concat — no per-doc driver work, so a 100 TB
    * corpus chunks at scan speed.
    */
  val ChunkTokens = 64
  val ChunkStride = 48

  def q56Chunking(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("wl", tokens(col("text")))
      .withColumn("start",
        explode(sequence(lit(0), greatest(size(col("wl")) - 1, lit(0)), lit(ChunkStride))))
      .select(
        col("doc_id"),
        (col("start") / ChunkStride).cast("long").as("chunk_id"),
        concat_ws(" ", slice(col("wl"), col("start") + 1, lit(ChunkTokens))).as("chunk_text"),
        size(slice(col("wl"), col("start") + 1, lit(ChunkTokens))).cast("long").as("n_chunk_tokens"))

  /** Stable content-hash bucket in [0, buckets): the engine-portable
    * deterministic replacement for RNG sampling decisions — identical on
    * any engine with md5 (what makes it oracle-able), independent of
    * partitioning and rerun-stable (rand(seed) is neither). Salt the
    * input (`concat(lit("purpose:"), text)`) for decisions that must be
    * independent of each other.
    */
  def hashBucket(text: Column, buckets: Int = 100): Column =
    hashBucket(text, lit(buckets.toLong))

  /** Column-modulus variant for data-dependent fan-outs (packAutoSharded's
    * per-language shard counts) — same hash, so a fixed and a dynamic
    * bucketing with equal counts agree.
    */
  def hashBucket(text: Column, buckets: Column): Column =
    pmod(conv(substring(md5(text), 1, 8), 16, 10).cast("long"), buckets.cast("long"))

  /** Deterministic 80/10/10 train/valid/test split by content hash — the
    * split a 100 TB corpus can recompute on any engine, any partitioning,
    * and get the same answer.
    */
  def q59HashSplit(s: SparkSession, d: String): DataFrame = {
    val b = hashBucket(col("text"))
    documents(s, d).select(col("doc_id"), b.as("split_bucket"),
      when(b < 80, "train").when(b < 90, "valid").otherwise("test").as("split"))
  }

  /** Per-language keep-rates — the domain-reweighting mix a training-data
    * pipeline applies before tokenization. */
  val MixRates: Seq[(String, Int)] =
    Seq("en" -> 90, "de" -> 70, "es" -> 50, "fr" -> 30, "zh" -> 10)

  /** Mixture sampling: deterministic per-language downsampling via a
    * salted content-hash bucket (salted so the mix decision is
    * independent of the q59 split decision).
    */
  def q60MixtureSample(s: SparkSession, d: String): DataFrame = {
    val rate = MixRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    documents(s, d)
      .filter(hashBucket(concat(lit("mix:"), col("text"))) < rate)
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
  }

  /** Raw 32-bit content-hash key (the value [[hashBucket]] buckets):
    * engine-portable deterministic rank material for sampling decisions. */
  def hashKey(text: Column): Column =
    conv(substring(md5(text), 1, 8), 16, 10).cast("long")

  /** Benchmark-decontamination window: the n-gram width a training corpus
    * is screened with against eval sets (13 is the published GPT-3 /
    * open-data-pipeline convention). */
  val ContamN = 13

  /** Overlapping word n-grams of width n, one row per gram — the
    * per-row Shingles kernel, so gram construction never shuffles. */
  private def wordGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.plans.GraftFunctions.shingles(tokens(col("text")), n)).as("g"))

  /** Benchmark decontamination: flag training docs sharing any 13-gram
    * with the eval set (proxy here: every 17th doc plays the benchmark
    * registry). Inverted-index shape — both sides explode to grams and
    * meet in an equi-join keyed by the gram's 64-bit hash (narrow shuffle
    * key at 100 TB) with the exact gram string as the residual filter, so
    * a hash collision can never flag a clean doc. No n² document
    * comparison anywhere.
    */
  def q65Decontaminate(s: SparkSession, d: String): DataFrame =
    decontaminate(documents(s, d), col("doc_id") % 17 === 0)

  /** `isEval` marks the benchmark side; rows where it holds screen the
    * rest of the corpus. */
  def decontaminate(docs: DataFrame, isEval: Column, n: Int = ContamN): DataFrame = {
    val evalGrams = wordGrams(docs.filter(isEval), n)
      .select(xxhash64(col("g")).as("gh"), col("g").as("eg")).distinct()
    wordGrams(docs.filter(!isEval), n)
      .join(evalGrams, xxhash64(col("g")) === col("gh"))
      .filter(col("g") === col("eg"))
      .groupBy("doc_id")
      .agg(countDistinct("g").as("n_shared_grams"))
  }

  /** q123: per-EVAL-doc contamination verdict — the model-card number
    * [[decontaminate]] (q65) doesn't give. q65 answers from the training
    * side ("which train docs touch the benchmark"); this answers from
    * the benchmark side: for each eval doc, what fraction of its
    * distinct 13-grams appears ANYWHERE in training (Lee et al. 2022's
    * containment convention), plus the ≥`dirtyPct`% dirty flag an eval
    * harness drops examples by.
    *
    * Scale shape: the train side is a single corpus gram scan that meets
    * the BROADCAST eval gram-hash set in a semi-join — the corpus never
    * shuffles, and everything that survives is registry-bounded (≤ the
    * eval set's distinct grams) however big training grows. The per-doc
    * bookkeeping then runs entirely on registry-sized frames. Gram
    * identity travels as xxhash64 (the q90 production-key discipline);
    * the oracle stays on strings, a collision is ~2⁻⁶⁴. The dirty flag
    * is integer-exact (`n_hit·100 ≥ pct·n_grams`) — no float boundary
    * for the hash oracle to straddle.
    */
  def q123EvalContainment(s: SparkSession, d: String): DataFrame =
    evalContainment(documents(s, d), col("doc_id") % 17 === 0)

  def evalContainment(docs: DataFrame, isEval: Column, n: Int = ContamN,
      dirtyPct: Int = 50): DataFrame = {
    require(dirtyPct >= 0 && dirtyPct <= 100,
      s"evalContainment: dirtyPct must be in [0,100], got $dirtyPct")
    val evalGrams = wordGrams(docs.filter(isEval), n)
      .select(col("doc_id"), xxhash64(col("g")).as("gh")).distinct()
    val evalSet = evalGrams.select("gh").distinct()
    // corpus-side: one gram scan, broadcast semi-join, then a distinct
    // over ONLY the matched hashes (registry-bounded shuffle)
    val trainHits = wordGrams(docs.filter(!isEval), n)
      .select(xxhash64(col("g")).as("gh"))
      .join(broadcast(evalSet), Seq("gh"), "left_semi")
      .distinct()
      .withColumn("hit", lit(1L))
    evalGrams.join(trainHits, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams"), 4)
          .as("containment"),
        (col("n_hit") * 100 >= lit(dirtyPct.toLong) * col("n_grams"))
          .as("contaminated"))
  }

  /** Intra-document repetition score (the Gopher-style quality signal):
    * fraction of a doc's 3-grams that are repeats of an earlier gram.
    * Per-doc aggregation only — one shuffle keyed by doc_id, no
    * cross-document work, so it runs at corpus-scan scale.
    */
  def q66Repetition(s: SparkSession, d: String): DataFrame =
    q66RepetitionOn(documents(s, d))

  def q66RepetitionOn(docs: DataFrame): DataFrame =
    wordGrams(docs, 3)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        countDistinct("g").as("n_distinct"),
        round(lit(1.0) - countDistinct("g").cast("double") / count(lit(1)), 4)
          .as("rep_score"))

  /** PII-shape scrubbing over the raw event payloads: numeric identifiers
    * are masked and pattern hits counted; an email pattern rides along
    * (this corpus contains none — the cross-engine regex contract is
    * still verified on the zero counts). Pure per-row codegen'd regex —
    * scan-speed at any scale.
    */
  def q67PiiScrub(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("event_id"),
      regexp_replace(col("props"), "[0-9]+", "<NUM>").as("scrubbed"),
      regexp_count(col("props"), lit("[0-9]+")).cast("long").as("n_numeric"),
      regexp_count(col("props"), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
        .cast("long").as("n_emails"))

  /** Deterministic stratified sampling: exactly k docs per language,
    * picked by salted content-hash order (engine-portable, rerun- and
    * partitioning-stable — the same contract as q59/q60). Planned as the
    * bounded-heap TopKPerKey operator, NOT a window: lang is a
    * low-cardinality stratum key, and a window sort would funnel the
    * whole corpus through a handful of partitions at 100 TB, while the
    * heap operator keeps k rows per stratum per partition map-side.
    */
  def q68StratifiedSample(s: SparkSession, d: String): DataFrame =
    stratifiedSample(documents(s, d))

  def stratifiedSample(docs: DataFrame, k: Int = 20): DataFrame =
    TopK.topKPerKey(
      docs.withColumn("hk", hashKey(concat(lit("strat:"), col("text")))),
      Seq("lang"), struct(col("hk"), col("doc_id")), descending = false, k)
      .select("lang", "doc_id")

  /** Per-source document cap — the crawl-pipeline "domain spam" control:
    * keep at most `k` docs per source, chosen deterministically by salted
    * content hash (rerun- and partitioning-stable, engine-portable), so
    * one over-represented source cannot dominate the training mix.
    * Planned as the bounded-heap TopKPerKey operator: `source` is a
    * low-cardinality key at 100 TB, and a window row_number would funnel
    * each source's full volume through one task.
    */
  def q76SourceCap(s: SparkSession, d: String): DataFrame =
    sourceCapped(documents(s, d), 10)

  def sourceCapped(docs: DataFrame, k: Int): DataFrame =
    graft.operators.TopK.topKPerKey(
      // hashKey = the file's one salted-hash rank convention (q68 shares
      // it); coalesce keeps null-text docs rankable identically on both
      // engines (a null hash would sort NULLS FIRST here, NULLS LAST in
      // the oracle's window)
      docs.withColumn("hk",
        hashKey(concat(lit("cap:"), coalesce(col("text"), lit(""))))),
      Seq("source"), struct(col("hk"), col("doc_id")), descending = false, k = k)
      .select("doc_id", "source")

  /** The composed Gopher-style quality gate: every per-doc heuristic this
    * file defines, fused into one scan with named boolean verdicts — the
    * single filter a training-data pipeline actually runs before
    * tokenization. Pure codegen'd row-local expressions; the whole gate
    * is one parquet scan, no shuffle at all.
    */
  /** The q69 gate's four reject flags, in order — shared by the per-doc
    * gate (q69) and the per-source health card (q133) so the two can
    * never drift apart on what "pass" means.
    */
  private def gateFlags(text: Column): Seq[(String, Column)] = {
    val words = size(split(trim(text), ws)).cast("double")
    val distinctWords =
      size(array_distinct(split(lower(trim(text)), ws))).cast("double")
    val stops = regexp_count(concat(lit(" "), lower(text), lit(" ")),
      lit(" (the|a|of|and|to|in|is) ")).cast("double")
    val punct = regexp_count(text, lit("[.,!?;:]")).cast("double")
    val chars = length(text).cast("double")
    Seq(
      "too_short" -> (words < 15),
      "low_diversity" -> (distinctWords / words < 0.5),
      "low_stopword" -> (stops / words < 0.01),
      "high_punct" -> (punct / chars > 0.1))
  }

  def q69QualityGate(s: SparkSession, d: String): DataFrame = {
    val flags = gateFlags(col("text"))
    documents(s, d).select(
      col("doc_id") +: flags.map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep", flags.map { case (n, _) => !col(n) }.reduce(_ && _))
  }

  /** Per-group gate health card with Wilson 95% score intervals: the
    * pass rate of the q69 quality gate per `grp`, bracketed by the
    * interval that says whether a rate DIFFERENCE between sources (or a
    * drop week-over-week) is statistically real given the volume behind
    * it — a 60% rate over 20 docs brackets [0.387, 0.781] and proves
    * nothing; the same rate over 20k docs is a finding. This is the
    * ops read a curation pipeline does before acting on q71/q92's raw
    * rates: Wilson rather than the normal approximation because small
    * sources (the ones that page people) are exactly where ±z√(p̂q̂/n)
    * collapses to nonsense (intervals outside [0,1], zero width at
    * p̂ ∈ {0,1}).
    *
    * Cross-engine exactness: every term is IEEE double arithmetic in
    * the SAME shape on both engines (z = 1.96 literal; sqrt is
    * correctly-rounded everywhere — the q89 lesson: this is why the
    * interval is Wilson-at-fixed-z and not a pow()-parameterized
    * family), rounded at 4. One corpus scan into a groups-sized
    * map-side-combinable agg; the interval arithmetic runs on the
    * aggregate rows only.
    */
  def gateHealth(docs: DataFrame, grp: String = "source"): DataFrame = {
    val keep = gateFlags(col("text")).map { case (_, c) => !c }.reduce(_ && _)
    val agg = docs.select(col(grp), keep.as("keep"))
      .groupBy(grp)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_pass"))
    val z = lit(1.96)
    val n = col("n_docs").cast("double")
    val p = col("n_pass").cast("double") / n
    val denom = lit(1.0) + z * z / n
    val center = p + z * z / (lit(2.0) * n)
    val margin = z * sqrt(p * (lit(1.0) - p) / n + z * z / (lit(4.0) * n * n))
    agg.select(col(grp), col("n_docs"), col("n_pass"),
      round(p, 4).as("pass_rate"),
      round((center - margin) / denom, 4).as("wilson_lo"),
      round((center + margin) / denom, 4).as("wilson_hi"))
  }

  /** q133: the per-source gate health card. */
  def q133GateHealth(s: SparkSession, d: String): DataFrame =
    gateHealth(documents(s, d))

  /** Context-window capacity for sequence packing. */
  val PackTokens = 512

  /** Approximate greedy sequence packing: assign docs to fixed-capacity
    * context windows by running token count, sharded so per-shard packers
    * are independent (`lang` alone would be a low-cardinality window key
    * at 100 TB). `pack_id` is the window each doc STARTS in; a doc may
    * straddle two packs (the standard concat-then-chunk training layout).
    *
    * `shards` is a FIXED fan-out — fine when the per-language row counts
    * are known and bounded (the oracle query pins 16); a constant shard
    * count only divides each language by that constant, so a 100 TB
    * English slice would still push terabytes through one window task.
    * [[packAutoSharded]] is the scale path: it sizes the fan-out from the
    * observed per-language counts.
    */
  def q70Pack(s: SparkSession, d: String): DataFrame =
    packOn(documents(s, d), shards = 16)

  def packOn(docs: DataFrame, shards: Int): DataFrame =
    packSharded(docs, hashBucket(concat(lit("pack:"), col("text")), shards))

  private def packSharded(docs: DataFrame, shard: Column): DataFrame = {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), ws)).cast("long").as("n_tokens"),
        shard.as("shard"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("lang"), col("shard"),
        floor((col("cum") - col("n_tokens")) / PackTokens).cast("long").as("pack_id"))
  }

  /** Packing-efficiency card: per language, the context-window fill rate
    * the q70 sharded packing achieves — the padding waste a training
    * run actually pays for. In the contiguous-stream formulation waste
    * accrues ONLY at each shard's tail (every interior window is full),
    * so fill_pct = Σtokens / (Σ⌈shard_tokens/PackTokens⌉ · PackTokens)
    * prices the shard fan-out knob directly: more shards = more tails =
    * lower fill (the packAutoSharded trade-off, quantified). One corpus
    * scan into a (lang × shards)-sized agg; all arithmetic on the
    * aggregate, division null-guarded for token-less languages.
    */
  def packCard(docs: DataFrame, shards: Int): DataFrame = {
    require(shards >= 1, s"packCard: shards must be >= 1, got $shards")
    docs.select(col("lang"),
        hashBucket(concat(lit("pack:"), col("text")), shards).as("shard"),
        size(split(trim(col("text")), ws)).cast("long").as("n_tokens"))
      .groupBy("lang", "shard").agg(sum("n_tokens").as("st"))
      .groupBy("lang").agg(count(lit(1)).as("n_shards"),
        sum("st").as("n_tokens"),
        sum(ceil(col("st").cast("double") / PackTokens).cast("long"))
          .as("n_packs"))
      .select(col("lang"), col("n_shards"), col("n_tokens"), col("n_packs"),
        when(col("n_packs") > 0,
          round(col("n_tokens").cast("double") /
            (col("n_packs") * PackTokens), 4)).as("fill_pct"))
  }

  /** q138: the fill-rate card for q70's 16-shard packing. */
  def q138PackCard(s: SparkSession, d: String): DataFrame =
    packCard(documents(s, d), 16)

  /** Fill-in-the-middle transform (q141, r16) — Bavarian et al. 2022
    * ("Efficient Training of Language Models to Fill in the Middle"):
    * rearrange a fraction of documents into PSM order
    * (`<PRE> prefix <SUF> suffix <MID> middle`) so an autoregressive LM
    * learns infilling from plain left-to-right training. Everything is
    * DETERMINISTIC from the document content alone — the apply decision
    * (1-in-`rate` by content hash) and both cut points come from the
    * engine-portable md5 key ([[hashKey]]'s q32/q59 convention), so any
    * engine, any partitioning, any re-run produces the identical
    * transformed corpus: cut_a ∈ [1, n-2] and cut_b ∈ [a+1, n-1]
    * guarantee non-empty prefix/middle/suffix. Docs under 3 tokens or
    * hash-selected out stay `plain` (whitespace-normalized, null cuts).
    *
    * Scale shape: one corpus scan, per-row codegen'd slice/join
    * arithmetic, ZERO shuffles — the transform composes with any
    * upstream partitioning and feeds q70-style packing directly.
    */
  def fimTransform(docs: DataFrame, rate: Int = 2): DataFrame = {
    require(rate >= 1, s"fimTransform: rate must be >= 1, got $rate")
    val n = size(col("ws"))
    val apply = n >= 3 &&
      pmod(hashKey(concat(lit("fim:"), col("text"))), lit(rate)) === 0
    val a = (lit(1) +
      pmod(hashKey(concat(lit("fima:"), col("text"))), n - 2)).cast("long")
    val b = (a + 1 +
      pmod(hashKey(concat(lit("fimb:"), col("text"))), n - 1 - a)).cast("long")
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("ws"))
      .select(
        col("doc_id"),
        when(apply, lit("psm")).otherwise(lit("plain")).as("mode"),
        n.cast("long").as("n_tokens"),
        when(apply, a).as("cut_a"),
        when(apply, b).as("cut_b"),
        when(apply, concat(
            lit("<PRE> "), array_join(slice(col("ws"), lit(1), a.cast("int")), " "),
            lit(" <SUF> "),
            array_join(slice(col("ws"), (b + 1).cast("int"),
              (n - b).cast("int")), " "),
            lit(" <MID> "),
            array_join(slice(col("ws"), (a + 1).cast("int"),
              (b - a).cast("int")), " ")))
          .otherwise(array_join(col("ws"), " ")).as("text_fim"))
  }

  /** q141: 50% PSM fill-in-the-middle transform over `documents`. */
  def q141FimTransform(s: SparkSession, d: String): DataFrame =
    fimTransform(documents(s, d))

  /** Span-corruption transform (q142, r16) — Raffel et al. 2020 (T5,
    * §3.1.4): mask ~`pctTokens`% of each document's tokens in
    * `spanLen`-token spans; `inputs` carries the text with each span
    * replaced by a sentinel `<Xj>`, `targets` the sentinel-delimited
    * span contents closed by a final sentinel — the denoising objective
    * enc-dec and UL2 training mixes consume, completing the objective-
    * format trio next to q70's CLM packing and q141's FIM. Stochastic
    * placement is replaced by the engine-portable md5 arithmetic (the
    * q141 discipline): the doc partitions into `m = max(1,
    * ⌊n·pct/(100·L)⌋)` equal segments and span `j` starts at a
    * hash-picked offset inside segment `j` — non-overlap by
    * construction, identical corpus on any engine/partitioning/re-run.
    * Docs under `spanLen` tokens stay `plain` (null spans/targets).
    *
    * Scale shape: one corpus scan, per-row slice/flatten arithmetic,
    * ZERO shuffles.
    */
  def spanCorrupt(docs: DataFrame, spanLen: Int = 3,
      pctTokens: Int = 15): DataFrame = {
    require(spanLen >= 1 && pctTokens >= 1 && pctTokens <= 100,
      s"spanCorrupt: bad params spanLen=$spanLen pct=$pctTokens")
    val n = size(col("ws"))
    val m = greatest(lit(1),
      floor(n * pctTokens / lit(100 * spanLen)).cast("int"))
    val seg = floor(n / m).cast("int")
    val eligible = n >= spanLen
    val js = sequence(lit(0), m - 1)
    def sentinel(j: Column) = concat(lit("<X"), j.cast("string"), lit(">"))
    def hj(j: Column) =
      hashKey(concat(lit("sc:"), col("text"), lit(":"), j.cast("string")))
    def sj(j: Column) = j * seg + pmod(hj(j), (seg - lit(spanLen) + 1).cast("long")).cast("int")
    val inputsArr = flatten(concat(
      transform(js, j => concat(
        slice(col("ws"), j * seg + 1, sj(j) - j * seg),
        array(sentinel(j)),
        slice(col("ws"), sj(j) + spanLen + 1,
          (j + 1) * seg - (sj(j) + spanLen)))),
      array(slice(col("ws"), m * seg + 1, n - m * seg))))
    val targetsArr = concat(
      flatten(transform(js, j =>
        concat(array(sentinel(j)), slice(col("ws"), sj(j) + 1, lit(spanLen))))),
      array(sentinel(m)))
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        when(eligible, lit("t5")).otherwise(lit("plain")).as("mode"),
        n.cast("long").as("n_tokens"),
        when(eligible, m.cast("long")).as("n_spans"),
        when(eligible, array_join(inputsArr, " "))
          .otherwise(array_join(col("ws"), " ")).as("inputs"),
        when(eligible, array_join(targetsArr, " ")).as("targets"))
  }

  /** q142: 15%/3-token span corruption over `documents`. */
  def q142SpanCorruption(s: SparkSession, d: String): DataFrame =
    spanCorrupt(documents(s, d))

  /** Packing with a per-language shard fan-out scaled to the corpus: one
    * cheap counting pass (rows per language — bounded by the language
    * count) sizes each language's shard count to keep every window
    * partition under `maxRowsPerShard`, so a skewed corpus (English at
    * 100 TB next to a long tail) gets wide fan-out exactly where the
    * volume is and single-shard determinism where it isn't. The counts
    * ride back in via a broadcast join — no second scan of the text.
    */
  def packAutoSharded(docs: DataFrame, maxRowsPerShard: Long = 1000000L): DataFrame = {
    require(maxRowsPerShard > 0)
    // null-safe language key: a plain equi-join on lang would silently
    // drop every untagged (lang IS NULL) document - q70Pack keeps them,
    // so the scale path must too
    val key = coalesce(col("lang"), lit("\u0000"))
    val fanout = docs.groupBy(key.as("__lk"))
      .agg(ceil(count(lit(1)).cast("double") / maxRowsPerShard).cast("int").as("n_shards"))
    val sharded = docs.withColumn("__lk", key)
      .join(broadcast(fanout), Seq("__lk")).drop("__lk")
    packSharded(sharded,
      hashBucket(concat(lit("pack:"), col("text")),
        greatest(col("n_shards"), lit(1))))
  }

  /** Corpus TF-IDF keyword extraction: top-3 terms per document by
    * tf·idf — the classic feature-extraction signal over a training
    * corpus (keyword tagging, topical clustering, boilerplate spotting:
    * a ubiquitous term's idf → 0). tf = term count / doc length,
    * idf = ln(N/df) with N = docs carrying at least one token.
    *
    * Scores round to 6 BEFORE ranking so the (score desc, term asc)
    * order is identical in every engine — a small shared vocabulary
    * ties constantly and the break must be deterministic. Scale shape:
    * every shuffle keys on (doc_id, term), term, or doc_id — all
    * high-cardinality at corpus scale; the scalar corpus count rides a
    * 1-row broadcast (q16's pattern), and the final top-3 window
    * partitions by doc_id, never globally.
    */
  def q78Tfidf(s: SparkSession, d: String): DataFrame = {
    // tf materialized once (r21, guide §3.3): dl, dfc, nd and the scoring
    // join each re-ran the scan+tokenize+explode+(doc_id, term) aggregate
    // — FOUR corpus tokenizations per query (the q145 plan dump shows the
    // same duplication; different agg chains and pushed filters defeat
    // exchange reuse). The checkpoint rides the returned plan as a leaf;
    // Verify's releaseTree / Bench's blanket unpersist reap it.
    // r22 examined-and-rejected: nd-as-literal via a fused collect (see
    // lexCorpusFrames — interleaved A/B slower; the in-plan nd subtree
    // rides the scoring join's own dl exchange).
    val tf = graft.CacheHygiene.materialize(
      termCounts(documents(s, d)), "tfidf term counts")
    val dl = tf.groupBy("doc_id").agg(sum("n").as("len"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = dl.agg(count(lit(1)).as("nd"))
    val scored = tf.join(dl, "doc_id").join(dfc, "term")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"),
        round((col("n").cast("double") / col("len")) *
          log(col("nd").cast("double") / col("df")), 6).as("score"))
    topTermsPerDoc(scored, 3)
  }

  /** The (doc_id, term) count frame BOTH lexical scorers (q78 tf-idf,
    * q145 BM25) derive everything from: raw-space tokens, empty terms
    * dropped — doc length is the sum of a doc's counts and the corpus
    * size is the doc-length frame's row count, so there is no second
    * pass over the exploded tokens (the raw explode is the expensive
    * frame here). One definition keeps the two scorers' tokenization
    * from ever diverging; [[docTerms]] is its token stream, which the
    * impact serve collects and counts on the driver.
    */
  private def termCounts(docs: DataFrame): DataFrame =
    docTerms(docs).groupBy("doc_id", "term").agg(count(lit(1)).as("n"))

  private def docTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)

  /** Shared top-k tail for the lexical scorers: scores are already
    * round(6) so the (score desc, term asc) order is identical in every
    * engine; the window partitions by doc_id, never globally.
    */
  private def topTermsPerDoc(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** BM25 term scoring (q145, r16) — Robertson–Spärck Jones / the
    * Lucene-form Okapi BM25, THE lexical retrieval scorer q78's plain
    * tf-idf approximates: `idf·(tf·(k1+1))/(tf + k1·(1−b+b·len/avglen))`
    * with the always-positive idf `ln((N−df+0.5)/(df+0.5)+1)`. The
    * saturation (k1) and length-normalization (b) terms are what tf-idf
    * lacks: a term repeated 50× stops mattering more than one repeated
    * 5×, and long documents stop dominating on raw term mass. Top-k
    * terms per doc, scores rounded to 6 BEFORE ranking with the term
    * tie-break (q78's determinism convention — ln and division are
    * bit-portable, pow is never used).
    *
    * Scale shape: identical to q78 — everything derives from the ONE
    * (doc_id, term) aggregate; the two corpus scalars (doc count, mean
    * length) ride a 1-row broadcast; the top-k window partitions by
    * doc_id, never globally.
    */
  def bm25(docs: DataFrame, k: Int = 3, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1 && k1 > 0 && b >= 0 && b <= 1,
      s"bm25: bad params k=$k k1=$k1 b=$b")
    // tf materialized once — the q78 discipline (r21): the before-plan
    // tokenized the corpus four times (tf / dl / dfc / stats subtrees).
    // r22 examined-and-rejected: stats-as-literals via a fused collect
    // (see lexCorpusFrames — interleaved A/B slower; the in-plan stats
    // subtree rides the scoring join's own dl exchange).
    val tf = graft.CacheHygiene.materialize(termCounts(docs), "bm25 term counts")
    val dl = tf.groupBy("doc_id").agg(sum("n").as("len"))
    val stats = dl.agg(count(lit(1)).as("nd"), avg("len").as("avgl"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("nd").cast("double") - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val norm = lit(k1) * (lit(1 - b) + lit(b) * col("len").cast("double") / col("avgl"))
    val scored = tf.join(dl, "doc_id").join(dfc, "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        round(idf * (col("n") * lit(k1 + 1)) / (col("n") + norm), 6).as("score"))
    topTermsPerDoc(scored, k)
  }

  /** Lexical more-like-this (q147's stage-B retriever, r18): doc-to-doc
    * BM25 retrieval — each QUERY document's top `qTerms` BM25 terms
    * form a bag-of-words query, and every corpus document is scored by
    * the sum of its own BM25 term scores over that bag (the Lucene
    * MoreLikeThis shape: select interesting terms, then run them as a
    * disjunctive query). Returns (q_id, c_id, lex_u, rk): top `k`
    * corpus docs per query doc, `lex_u` the summed score in integer
    * MICRO-units.
    *
    * Why micro-units: the per-(q,c) score is a SUM of per-term doubles,
    * and cross-engine float sums are order-sensitive — the one bug
    * class the round-before-rank convention can't fix (rounding a sum
    * still rounds two different sums). Quantizing each per-term
    * contribution to an integer BEFORE the sum makes the aggregate
    * exact, associative, and bit-portable; the oracle restates the same
    * integer arithmetic.
    *
    * Scale shape: everything derives from the ONE (doc_id, term)
    * aggregate both lexical scorers share; the query bag (queries ×
    * qTerms rows) broadcasts onto the streaming corpus term frame, the
    * per-(q,c) sum partial-aggregates map-side, and the top-k is the
    * bounded-heap operator — no window ever sees the scored volume.
    * Query docs are `doc_id < nQueries` (the q38/q95 convention).
    */
  def moreLikeThis(docs: DataFrame, nQueries: Long = 10L, qTerms: Int = 10,
      k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(nQueries >= 1 && qTerms >= 1 && k >= 1 && k1 > 0 && b >= 0 && b <= 1,
      s"moreLikeThis: bad params nQueries=$nQueries qTerms=$qTerms k=$k k1=$k1 b=$b")
    // Materialized once (r21): the scored frame feeds the query-bag
    // window (doc_id < nQueries) AND the corpus pair join (≥ nQueries),
    // and the two sides push DIFFERENT doc_id filters through the BM25
    // aggregates down to the scan — exchange reuse cannot merge them, so
    // the unmaterialized form tokenized and score-joined the corpus
    // twice (18 scans on q147's physical plan). The checkpoint rides
    // the returned plan as a leaf; Verify's releaseTree / Bench's
    // blanket unpersist reap it (the q99/q152 convention).
    val (scored0, tfHandle) = bm25ScoredU(docs, k1, b)
    val scoredU = graft.CacheHygiene.materialize(
      scored0, "moreLikeThis scored frame")
    // the scored-frame checkpoint above consumed the tf checkpoint fully
    graft.CacheHygiene.release(tfHandle)
    val wq = Window.partitionBy("doc_id")
      .orderBy(col("score_u").desc, col("term"))
    val qbag = scoredU.filter(col("doc_id") < nQueries)
      .withColumn("qrk", row_number().over(wq)).filter(col("qrk") <= qTerms)
      .select(col("doc_id").as("q_id"), col("term"))
    val pairs = scoredU.filter(col("doc_id") >= nQueries)
      .join(broadcast(qbag), "term")
      .groupBy(col("q_id"), col("doc_id").as("c_id"))
      .agg(sum("score_u").as("lex_u"))
    VectorOps.rankTopK(pairs, "q_id", "c_id", "lex_u", k)
      .select(col("q_id"), col("c_id"), col("lex_u"), col("rk"))
  }

  /** Query-doc convention for the lexical serving tier (q151/q152): docs
    * with `doc_id < LexQueryDocs` play the query batch, the rest the
    * corpus (the q38/q95 convention). Shared by the registered queries
    * AND their oracle SQL, so the two can never disagree on the split.
    */
  val LexQueryDocs = 10L

  /** The quantized BM25 contribution of a (doc, term) row scored AGAINST
    * a given corpus context: q145's Lucene-form score in integer
    * MICRO-units (round(raw·10⁶) — the contribution a sum can aggregate
    * exactly and portably). `tf` is the doc frame's own (doc_id, term, n)
    * counts (doc length is doc-local); `dfc`/`stats` are the CORPUS's
    * term df and (nd, avgl) scalars — for corpus self-scoring they come
    * from the same frame, for query scoring they come from the frozen
    * index context (a serving system scores queries with the index's
    * statistics, not its own). A term absent from the corpus vocabulary
    * drops on the inner df join: it has no postings to read anyway, and
    * keeping it would waste a bag slot on an unanswerable term.
    */
  private def bm25ScoreU(tf: DataFrame, dfc: DataFrame, stats: DataFrame,
      k1: Double, b: Double): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum("n").as("len"))
    tf.join(dl, "doc_id").join(dfc, "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        scoreUExpr(k1, b, col("nd"), col("avgl")).as("score_u"))
  }

  /** A corpus's lexical context + its own scored frame: (dfc, stats,
    * scored_u), PLUS the materialized tf handle itself (null when not
    * materialized) so callers that fully consume the frames — like
    * [[writeImpactIndex]], whose output is parquet, not a plan — can
    * release the corpus-sized checkpoint instead of pinning it for the
    * session. With `materialize` the (doc_id, term) count frame — the
    * expensive tokenize product every derived frame re-reads — is
    * materialized once via [[graft.CacheHygiene.materialize]] (honoring
    * the reliable-checkpoint seam: this is a corpus-sized frame on the
    * multi-hour path), so the instrument paths that consume `scored_u`
    * twice (q152) don't tokenize the corpus twice (the q99/q107
    * shared-frame discipline).
    */
  private def lexCorpusFrames(corpus: DataFrame, k1: Double, b: Double,
      materialize: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // r22 examined-and-rejected: fusing a driver-side (nd, avgl) collect
    // into a lazy tf checkpoint (stats as literals) measured 5-8% SLOWER
    // in the r22 interleaved A/B (OPTIMIZATION_r22.md: min 0.822 vs 0.862,
    // med 0.937 vs 1.012 on the q145 shape) — the dl aggregation serializes into the
    // first-touch job, while the in-plan stats subtree rides the dl
    // exchange the scoring join already computes (exchange reuse) and
    // overlaps on idle cores. Same conclusion as the r21 LM-family
    // checkpoint variant. The eager checkpoint stays.
    val tf0 = termCounts(corpus)
    val tf =
      if (materialize) graft.CacheHygiene.materialize(tf0, "lexical term counts")
      else tf0
    val dl = tf.groupBy("doc_id").agg(sum("n").as("len"))
    val stats = dl.agg(count(lit(1)).as("nd"), avg("len").as("avgl"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    (dfc, stats, bm25ScoreU(tf, dfc, stats, k1, b),
      if (materialize) tf else null)
  }

  /** The quantized per-(doc, term) BM25 frame of a SELF-scored frame
    * ([[moreLikeThis]]'s scorer — df/avglen over the whole given frame),
    * plus the materialized tf handle (r21): unmaterialized, the dl/dfc/
    * stats/score subtrees each re-ran the corpus tokenization (the q145
    * four-scan plan). Callers that eagerly consume the frame (moreLikeThis'
    * scored-frame checkpoint) release the handle; callers returning a plan
    * over it (impactIndex) leave it aboard for the Verify/Bench sweep.
    */
  private def bm25ScoredU(docs: DataFrame, k1: Double, b: Double): (DataFrame, DataFrame) = {
    val (_, _, scored, tf) = lexCorpusFrames(docs, k1, b, materialize = true)
    (scored, tf)
  }

  /** Each query doc's bag-of-words query: its top `qTerms` scored terms
    * (score desc, term asc — the round-before-rank tie-break). The window
    * partitions by query doc over an already query-sized frame. The
    * term's own impact rides along as `q_score_u` (named apart from the
    * posting side's `score_u` so the serve join stays unambiguous): the
    * bag's self-score sum is [[ImpactDedupGate]]'s duplicate yardstick,
    * and retrieval consumers that don't need it simply never select it.
    */
  private def queryBag(queryU: DataFrame, qTerms: Int): DataFrame = {
    val wq = Window.partitionBy("doc_id")
      .orderBy(col("score_u").desc, col("term"))
    queryU.withColumn("qrk", row_number().over(wq))
      .filter(col("qrk") <= qTerms)
      .select(col("doc_id").as("q_id"), col("term"),
        col("score_u").as("q_score_u"))
  }

  /** q151: impact-ordered postings index (Anh & Moffat's impact-sorted
    * lists — the artifact a production lexical-retrieval tier actually
    * MATERIALIZES): per term, the top `topPerTerm` documents by
    * quantized BM25 contribution, rank-ordered. Query evaluation then
    * reads only the head of each query term's posting list (score-at-
    * a-time with early termination) instead of every posting — the
    * lexical analog of the ANN shortlist, and the table
    * [[moreLikeThis]]-style scoring serves from at corpus scale.
    * Impact pruning is lossy BY DESIGN (a doc outside every query
    * term's top-N is unreachable); topPerTerm is the lexical recall
    * dial, sized against the query-term fan-out like nProbe against kc.
    *
    * Scale shape: one (doc_id, term) aggregate (the shared q78/q145
    * frame), then the bounded-heap top-N keyed by TERM — map-side
    * partial heaps mean the exchange carries ≤ vocab × topPerTerm rows
    * no matter the corpus; no window touches the full posting volume.
    */
  def impactIndex(docs: DataFrame, topPerTerm: Int = 16,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(topPerTerm >= 1, s"impactIndex: topPerTerm must be >= 1, got $topPerTerm")
    // tf handle rides the returned plan (the impactSearch discipline)
    VectorOps.rankTopK(bm25ScoredU(docs, k1, b)._1,
        "term", "doc_id", "score_u", topPerTerm)
      .select(col("term"), col("doc_id"), col("score_u"), col("rk"))
  }

  /** q151 builds the index over CORPUS docs only (doc_id ≥
    * [[LexQueryDocs]]) — the artifact q152 actually serves through: a
    * production index never lets the incoming query batch occupy posting
    * slots (r18 advice; before r19 the registered form indexed the full
    * frame while q152 rebuilt a corpus-only variant).
    */
  def q151ImpactIndex(s: SparkSession, d: String): DataFrame =
    impactIndex(documents(s, d).filter(col("doc_id") >= LexQueryDocs))

  /** q152: retrieval THROUGH the pruned impact index — the serving read
    * q151 exists for, instrumented like q131: each query doc's bag (its
    * top `qTerms` BM25 terms, scored against the CORPUS context — a
    * serving system evaluates queries with the index's df/avglen, never
    * its own) is scored against ONLY the per-term top-`topPerTerm`
    * posting heads, and `exact_rk` restates the pair's rank under FULL
    * unpruned scoring over the same bag. NULL exact_rk marks a pruned
    * hit the index PROMOTED past the exact top-k (the q107/q131
    * convention); true pruning losses — exact-top-k docs the lossy
    * index cannot reach — never appear as rows at all, which is what
    * the recall read in ImpactIndexSpec measures set-wise.
    *
    * Scale shape: the postings frame is ≤ vocab × topPerTerm rows
    * REGARDLESS of corpus size (that is the point of the index); the
    * query bag broadcasts onto it, the per-(q,c) sum partial-aggregates
    * map-side, and the exact instrument re-reads the SAME checkpointed
    * (doc_id, term) frame the postings derive from (r19 — the r18 form
    * re-tokenized the corpus through [[moreLikeThis]], doubling the
    * dominant cost). Serving drops the instrument (q152prod), and the
    * persisted form ([[writeImpactIndex]]/[[impactSearchServe]]) skips
    * the corpus scan entirely.
    */
  def impactSearch(docs: DataFrame, nQueries: Long = 10L, qTerms: Int = 10,
      k: Int = 10, topPerTerm: Int = 16, k1: Double = 1.2, b: Double = 0.75,
      instrument: Boolean = true): DataFrame = {
    require(nQueries >= 1 && qTerms >= 1 && k >= 1 && topPerTerm >= 1,
      s"impactSearch: bad params nQueries=$nQueries qTerms=$qTerms k=$k topPerTerm=$topPerTerm")
    // the tf handle stays aboard the returned plan (both rankings read
    // it), so the consumer's CacheHygiene.releaseTree sweep frees it —
    // the Verify/Bench discipline for checkpoint-backed results
    val (dfc, stats, corpusU, _) = lexCorpusFrames(
      docs.filter(col("doc_id") >= nQueries), k1, b, materialize = true)
    val qbag = queryBag(
      bm25ScoreU(termCounts(docs.filter(col("doc_id") < nQueries)),
        dfc, stats, k1, b), qTerms)
    val postings = VectorOps.rankTopK(corpusU,
        "term", "doc_id", "score_u", topPerTerm)
      .select(col("term"), col("doc_id").as("c_id"), col("score_u"))
    val pruned = VectorOps.rankTopK(
      postings.join(broadcast(qbag), "term")
        .groupBy("q_id", "c_id").agg(sum("score_u").as("lex_u")),
      "q_id", "c_id", "lex_u", k)
      .select(col("q_id"), col("c_id"), col("lex_u"), col("rk"))
    if (!instrument) pruned
    else {
      val exact = VectorOps.rankTopK(
        corpusU.join(broadcast(qbag), "term")
          .select(col("q_id"), col("doc_id").as("c_id"), col("score_u"))
          .groupBy("q_id", "c_id").agg(sum("score_u").as("lex_u")),
        "q_id", "c_id", "lex_u", k)
        .select(col("q_id"), col("c_id"), col("rk").as("exact_rk"))
      pruned.join(broadcast(exact), Seq("q_id", "c_id"), "left")
    }
  }

  def q152ImpactSearch(s: SparkSession, d: String): DataFrame =
    // nQueries pinned to the SHARED constant the oracle interpolates —
    // relying on impactSearch's own default would let a LexQueryDocs
    // retune desync this query from its oracle silently
    impactSearch(documents(s, d), nQueries = LexQueryDocs)

  private val q153Cache = new Lifecycle.ScratchCache("graft_q153")

  /** q153: the lexical retrieval tier through PURE SQL (r19 verdict item
    * 6 — the vector tier reached SQL at q61 via vec_* functions while
    * BM25/impact stayed Scala-only): `CALL graft_impact_build` freezes
    * the corpus-split store once per (scale dir, JVM) — the q77/q79
    * landed-scratch discipline, so repeated invocations time the SERVING
    * read the surface exists for — and `CALL graft_impact_search`
    * retrieves the query docs through it, returning rows identical to
    * [[impactSearchServe]] (= q152's pruned read without the exact
    * instrument), which the oracle restates. Both statements are plain
    * strings through `spark.sql` — a SQL-only user drives the whole
    * build-once/serve-many lifecycle without touching Scala.
    */
  def q153SqlImpact(s: SparkSession, d: String): DataFrame = {
    val idx = q153Cache.get(d) { root =>
      val t = s"$root/impact_store"
      documents(s, d).filter(col("doc_id") >= LexQueryDocs)
        .createOrReplaceTempView("graft_q153_corpus")
      s.sql(s"CALL graft_impact_build('graft_q153_corpus', '$t')").collect()
      t
    }
    documents(s, d).filter(col("doc_id") < LexQueryDocs)
      .createOrReplaceTempView("graft_q153_queries")
    s.sql(s"CALL graft_impact_search('$idx', 'graft_q153_queries', 10, 10)")
  }

  // ---- impact index persistence: the build-once/serve-many lifecycle ----

  /** How many partitions the persisted postings and df tables split into.
    * A query bag's terms touch at most min(bag size, ImpactTermBuckets)
    * partitions, so a serving read PRUNES the store scan (the
    * saveIvfIndex cid discipline); 64 keeps per-partition files large at
    * any realistic vocabulary while still pruning a 10-term bag's read
    * ~6×. The bucket is recomputable from the term alone — build and
    * serve agree without a routing table (the ivf shardOf discipline).
    */
  val ImpactTermBuckets = 64

  private def termBucket(term: Column): Column =
    pmod(xxhash64(lit("impact-tb"), term), lit(ImpactTermBuckets)).cast("int")

  /** Partition count of the `ids/` indexed-doc registry — doc-id space
    * analog of [[ImpactTermBuckets]]: an append's collision check prunes
    * its registry scan to the batch's own id buckets.
    */
  val ImpactIdBuckets = 64

  private def idBucket(id: Column): Column =
    pmod(xxhash64(lit("impact-ib"), id), lit(ImpactIdBuckets)).cast("int")

  /** log₂-df histogram of a vocabulary — the freshness probe's reference
    * shape: vocab-sized input folds to ≤ ~32 integer rows, so the drift
    * arithmetic never touches corpus volume.
    */
  private def dfHist(dfc: DataFrame): DataFrame =
    dfc.groupBy(floor(log(2.0, col("df").cast("double"))).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Persist an impact-ordered postings index — the lexical tier's
    * build-once/serve-many artifact, parity with
    * [[VectorOps.saveIvfIndex]] (an impact list exists to be SERVED, not
    * rebuilt per query batch). Layout under `path`:
    *
    *   - `postings/` — per-term top-`topPerTerm` (term, c_id, score_u,
    *     rk), partitioned by `tb` = hash(term) % [[ImpactTermBuckets]] so
    *     a query bag's term lookups prune the scan;
    *   - `df/` — the corpus term→df table (same `tb` partitioning):
    *     incoming query docs are scored against THESE statistics;
    *   - `stats/` — one row (nd, avgl, k1, b, top_per_term): the frozen
    *     scoring context, read back by [[impactSearchServe]] so a serve
    *     can never run with parameters the build didn't freeze;
    *   - `dfhist/` — the log₂-df histogram [[impactIndexDrift]] compares
    *     every later corpus snapshot against;
    *   - `ids/` — the indexed-doc-id registry (every doc_id that has
    *     EVER entered this store, `ib`-partitioned by hash(id) %
    *     [[ImpactIdBuckets]]): [[impactIndexAppend]]'s re-ingestion
    *     check reads the batch's own buckets from it, which is EXACT —
    *     the r19 guard scanned only posting heads in touched `tb`
    *     buckets, so a doc re-ingested with changed text (old postings
    *     in untouched buckets) or whose old postings had been evicted
    *     from heads slipped through to duplicate representation;
    *   - `_version` — the store's version stamp ([[ImpactHandle]]):
    *     dropped first and rewritten last, so a serve never opens a
    *     half-frozen store and the next serve of a re-frozen path
    *     reopens instead of reusing the old version's handle.
    *
    * `corpus` must be the corpus docs only — never let a query batch
    * occupy posting slots (the q151 contract).
    */
  def writeImpactIndex(corpus: DataFrame, path: String, topPerTerm: Int = 16,
      k1: Double = 1.2, b: Double = 0.75): Unit = {
    require(topPerTerm >= 1,
      s"writeImpactIndex: topPerTerm must be >= 1, got $topPerTerm")
    ImpactHandle.unstamp(corpus.sparkSession, path)
    val (dfc, stats, corpusU, tf) =
      lexCorpusFrames(corpus, k1, b, materialize = true)
    val dfx = graft.CacheHygiene.materialize(dfc,
      "impact df table") // vocab-sized; feeds df AND dfhist
    try {
      VectorOps.rankTopK(corpusU, "term", "doc_id", "score_u", topPerTerm)
        .select(col("term"), col("doc_id").as("c_id"), col("score_u"), col("rk"))
        .withColumn("tb", termBucket(col("term")))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings")
      dfx.withColumn("tb", termBucket(col("term")))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/df")
      stats.withColumn("k1", lit(k1)).withColumn("b", lit(b))
        .withColumn("top_per_term", lit(topPerTerm))
        .write.mode("overwrite").parquet(s"$path/stats")
      dfHist(dfx).write.mode("overwrite").parquet(s"$path/dfhist")
      // every doc that shaped the frozen context registers — one long
      // per corpus doc, map-side-combinable distinct
      tf.select(col("doc_id").as("c_id")).distinct()
        .withColumn("ib", idBucket(col("c_id")))
        .write.mode("overwrite").partitionBy("ib").parquet(s"$path/ids")
      ImpactHandle.restamp(corpus.sparkSession, path)
    } finally
      // the parquet tables ARE the output — nothing returned references
      // these frames, so a re-freeze loop (the impactIndexDrift cadence)
      // must not pin one corpus-sized checkpoint per freeze
      graft.CacheHygiene.release(tf, dfx)
  }

  private def loudPart(spark: SparkSession, path: String, what: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"impact index: no $what at $path — freeze one with writeImpactIndex " +
        "(serving against a guessed or partial index would silently " +
        "mis-rank; a complete store is five tables: postings, df, " +
        "stats, dfhist, ids)")
  }

  /** The persisted index back as frames: (postings, df, stats). Missing
    * tables are LOUD — a partial store must never serve.
    */
  def readImpactIndex(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame) = {
    Seq("postings" -> "posting lists", "df" -> "df table",
      "stats" -> "frozen scoring stats").foreach { case (t, w) =>
      loudPart(spark, s"$path/$t", w)
    }
    (spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/df"),
      spark.read.parquet(s"$path/stats"))
  }

  /** Retrieval through a PERSISTED impact index — [[impactSearch]]'s
    * serving read without the corpus scan: tokenize the incoming query
    * docs, score their terms against the store's frozen df/avglen
    * context (k1/b/topPerTerm come from the store, not the caller — a
    * serve cannot disagree with its build), form each doc's top-`qTerms`
    * bag, and sum posting-head impacts per (query, candidate).
    * Output is hash-identical to `impactSearch(…, instrument = false)`
    * over the same split (spec-pinned in ImpactIndexSpec).
    *
    * Serve-many shape: the store is opened once per version
    * ([[ImpactHandle]] — pinned `postings/`/`df/`/`ids/` relations and the
    * frozen context as driver scalars; a driver-side stamp read per
    * request detects any write and reopens). A warm request then runs
    * one collect — the query docs' (doc, term, tb) tokens, query-sized,
    * counted on the driver — and one plan: the `df` scan, partition-
    * PRUNED to those tokens' `tb` buckets, scores the terms with nd/avgl
    * as literals, the bag window picks each doc's top terms, and the
    * bag BROADCASTS into the postings scan pruned to the same buckets (a
    * superset of the bag's, so no second collect); the per-(q,c) sum
    * partial-aggregates map-side over ≤ bag × topPerTerm rows whatever
    * the corpus size, and [[VectorOps.rankTopK]] ranks it. The store
    * never shuffles, and the returned plan holds no checkpoint.
    */
  def impactSearchServe(queryDocs: DataFrame, path: String,
      qTerms: Int = 10, k: Int = 10,
      freshnessCorpus: Option[DataFrame] = None,
      maxPsi: Double = 0.25,
      lenRatioBounds: (Double, Double) = (0.8, 1.25)): DataFrame = {
    require(qTerms >= 1 && k >= 1,
      s"impactSearchServe: bad params qTerms=$qTerms k=$k")
    freshnessCorpus.foreach(c =>
      requireImpactFresh(c, path, maxPsi, lenRatioBounds))
    val spark = queryDocs.sparkSession
    val h = ImpactHandle.of(spark, path)
    val (qtf, tbs) = queryTermCounts(queryDocs)
    val qbag = queryBag(frozenScoreU(h, broadcast(qtf), dfIn(h, spark, tbs)), qTerms)
    VectorOps.rankTopK(
      postingsIn(h, spark, tbs).join(broadcast(qbag.select(col("q_id"), col("term"))), "term")
        .groupBy("q_id", "c_id").agg(sum("score_u").as("lex_u")),
      "q_id", "c_id", "lex_u", k)
  }

  /** Refuse a DRIFTED frozen context — the gate-family staleness
    * posture ([[graft.operators.SemanticDedupGate.assignDrift]] /
    * PqDedupGate.distortionDrift made MANDATORY): runs
    * [[impactIndexDrift]] of `corpus` against the store and throws
    * loudly when the vocabulary PSI exceeds `maxPsi` or the average
    * document length moved outside `lenRatioBounds` — postings frozen
    * on yesterday's df/avglen silently mis-weight a shifted corpus and
    * no individual query errors, so a policy-bound serve must refuse
    * rather than degrade (r19 verdict item: the probe existed, nothing
    * enforced it). One corpus tokenize per check — the per-deploy /
    * per-batch-window cadence, not per-query; callers on a tight serve
    * loop check once and pass `freshnessCorpus = None` thereafter.
    */
  def requireImpactFresh(corpus: DataFrame, path: String,
      maxPsi: Double = 0.25,
      lenRatioBounds: (Double, Double) = (0.8, 1.25)): Unit = {
    val (lo, hi) = lenRatioBounds
    require(maxPsi > 0 && lo > 0 && hi > lo,
      s"requireImpactFresh: bad policy maxPsi=$maxPsi bounds=$lenRatioBounds")
    val drift = impactIndexDrift(corpus, path)
    val r = drift.head()
    // the drift frame carries a corpus-sized term-count checkpoint
    // aboard its plan; head() was its final consumer — release it, or a
    // per-window freshness cadence pins one corpus-sized frame per check
    graft.CacheHygiene.releaseTree(drift)
    val psi = r.getAs[Double]("psi")
    val lenRatio = r.getAs[Double]("len_ratio")
    require(psi <= maxPsi && lenRatio >= lo && lenRatio <= hi,
      f"impact index at $path is STALE for this corpus: df-histogram " +
        f"psi=$psi%.4f (policy max $maxPsi) len_ratio=$lenRatio%.4f " +
        f"(policy [$lo, $hi]) — serving from a drifted frozen context " +
        "mis-ranks silently; re-freeze with writeImpactIndex and rebuild " +
        "dependent stores")
  }

  /** q145's quantized BM25 contribution as a column over a frame with
    * `n`, `len` and `df` in scope — the ONE formula the in-plan scorers,
    * the serve, the append scorer and the gate's novel-mass read all
    * restate (a drifted copy of it would silently de-sync a consumer
    * from the store it reads). `nd`/`avgl` are an in-plan stats row's
    * columns, or an opened store's literals.
    */
  private def scoreUExpr(k1: Double, b: Double, nd: Column, avgl: Column): Column = {
    val idf = log((nd.cast("double") - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val norm = lit(k1) * (lit(1 - b) + lit(b) * col("len").cast("double") / avgl)
    round(idf * (col("n") * lit(k1 + 1)) / (col("n") + norm) * lit(1e6), 0)
      .cast("long")
  }

  private def scoreUExpr(h: ImpactHandle): Column =
    scoreUExpr(h.k1, h.b, lit(h.nd), lit(h.avgl))

  /** (doc_id, term, score_u) of a (doc_id, term, n, len) frame under an
    * opened store's frozen context: terms without a row in `dfc` drop.
    */
  private def frozenScoreU(h: ImpactHandle, tf: DataFrame, dfc: DataFrame): DataFrame =
    tf.join(dfc, Seq("term"))
      .select(col("doc_id"), col("term"), scoreUExpr(h).as("score_u"))

  /** The store's (term, df) rows in the `tbs` buckets — a pruned scan. */
  private def dfIn(h: ImpactHandle, spark: SparkSession, tbs: Seq[Int]): DataFrame =
    h.df(spark).where(col("tb").isin(tbs.map(Integer.valueOf): _*))
      .select(col("term"), col("df"))

  /** The store's posting heads in the `tbs` buckets — a pruned scan. */
  private def postingsIn(h: ImpactHandle, spark: SparkSession, tbs: Seq[Int]): DataFrame =
    h.postings(spark).where(col("tb").isin(tbs.map(Integer.valueOf): _*))
      .select(col("term"), col("c_id"), col("score_u"))

  /** The head of every read of an opened store (the serve and the
    * gate): the docs' (doc_id, term, tb) tokens in one collect, counted
    * on the driver into a local (doc_id, term, n, len) frame —
    * [[termCounts]]'s rows without its shuffle — and the distinct `tb`
    * buckets they touch (≤ [[ImpactTermBuckets]] ints). Query- or
    * micro-batch-sized by contract: both consumers BROADCAST these
    * counts into the store's df scan, so the driver holds them either
    * way, and the token collect is of the same order.
    */
  private def queryTermCounts(queryDocs: DataFrame): (DataFrame, Seq[Int]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructType}
    val toks = docTerms(queryDocs).withColumn("tb", termBucket(col("term")))
    val rows = toks.collect()
    val n = rows.groupMapReduce(r => (r.get(0), r.getString(1)))(_ => 1L)(_ + _)
    val len = n.groupMapReduce(_._1._1)(_._2)(_ + _)
    val qtf = queryDocs.sparkSession.createDataFrame(
      java.util.Arrays.asList(n.toSeq.map { case ((d, t), c) => Row(d, t, c, len(d)) }: _*),
      StructType(toks.schema.fields.take(2)).add("n", LongType).add("len", LongType))
    (qtf, rows.map(_.getInt(2)).distinct.toSeq)
  }

  /** Per-batch-doc lexical duplicate evidence against a persisted
    * impact index — [[ImpactDedupGate]]'s kernel: (doc_id, self_u,
    * top_u, top_c_id) where `self_u` is the doc's own lexical mass (the
    * bag's self-score PLUS its out-of-vocabulary terms scored at df=0 —
    * maximum idf, the mass a novel term carries) and `top_u` the best
    * stored candidate's summed head impacts over the bag (NULL when no
    * posting head shares a term). An identical doc scores identically
    * under the frozen context and has no novel terms, so its stored
    * twin covers self_u exactly (ratio 1.0); a doc whose distinctive
    * content is NOVEL vocabulary keeps a large uncoverable self mass
    * and admits even when its only in-vocab terms are corpus-wide
    * filler — without the novel-mass component the gate would refuse
    * precisely the freshest documents. The head is the serve's: the
    * store's [[ImpactHandle]] and one collect of the batch's term counts,
    * whose `tb` buckets prune both store scans; the bag is materialized
    * (both the self mass and the candidate read consume it). Store never
    * shuffles; everything right of the pruned head scan is batch-sized.
    * The returned frame is MATERIALIZED (batch-bounded) with the bag's
    * checkpoint already released — the caller owns exactly one handle
    * to free via [[graft.CacheHygiene.release]].
    */
  private[operators] def impactGateEvidence(batch: DataFrame, path: String,
      qTerms: Int): DataFrame = {
    val spark = batch.sparkSession
    val h = ImpactHandle.of(spark, path)
    val (qtf, tbs) = queryTermCounts(batch)
    val dfc = dfIn(h, spark, tbs)
    val qbag = graft.CacheHygiene.materialize(
      queryBag(frozenScoreU(h, broadcast(qtf), dfc), qTerms),
      "impact gate bag") // bag-sized
    // in-vocab terms of the batch (batch-bounded: the covered side of
    // the already-pruned df scan, independent of bag truncation)
    val covered = dfc.select(col("term"))
      .join(broadcast(qtf.select(col("doc_id"), col("term"))),
        Seq("term"))
      .select(col("doc_id"), col("term"))
    // novel terms score at df=0 — they mint no candidate evidence (no
    // postings exist) but their mass counts toward what a candidate
    // would have to cover
    val novelU = qtf
      .join(broadcast(covered), Seq("doc_id", "term"), "left_anti")
      .withColumn("df", lit(0L))
      .select(col("doc_id").as("q_id"), scoreUExpr(h).as("q_score_u"))
    val selfU = qbag.select(col("q_id"), col("q_score_u"))
      .unionByName(novelU)
      .groupBy("q_id").agg(sum("q_score_u").as("self_u"))
    val top = VectorOps.rankTopK(
      postingsIn(h, spark, tbs).join(broadcast(qbag.select(col("q_id"), col("term"))), "term")
        .groupBy("q_id", "c_id").agg(sum("score_u").as("lex_u")),
      "q_id", "c_id", "lex_u", k = 1)
      .select(col("q_id"), col("lex_u").as("top_u"), col("c_id").as("top_c_id"))
    val out = graft.CacheHygiene.materialize(
      selfU.join(top, Seq("q_id"), "left")
        .select(col("q_id").as("doc_id"), col("self_u"),
          col("top_u"), col("top_c_id")),
      "impact gate evidence")
    graft.CacheHygiene.release(qbag) // fully consumed by the materialize
    out
  }

  /** The store's indexed-doc-id registry (c_id, ib). LOUD when absent:
    * a store frozen before r20 predates the registry — re-freeze it
    * with [[writeImpactIndex]] rather than guess which docs it holds.
    */
  def impactRegisteredIds(spark: SparkSession, path: String): DataFrame = {
    loudPart(spark, s"$path/ids",
      "indexed-doc-id registry (this store predates the exact " +
        "re-ingestion guard; re-freeze with writeImpactIndex)")
    spark.read.parquet(s"$path/ids")
  }

  /** The subset of `batchIds` (a `doc_id` column, batch-bounded)
    * already present in the store's registry — the `ids/` relation its
    * [[ImpactHandle]] pinned, so no call re-lists it. Gate join
    * direction: the registry scan prunes to the batch's own id buckets
    * and STREAMS while the batch broadcasts — an anti-join against the
    * raw registry would instead build/shuffle the corpus-sized side.
    * Output is batch-bounded.
    */
  private[operators] def impactCollidingIds(batchIds: DataFrame,
      path: String): DataFrame = {
    val spark = batchIds.sparkSession
    val ibs = batchIds.select(idBucket(col("doc_id")).as("ib"))
      .distinct().collect().map(_.getInt(0)) // ≤ ImpactIdBuckets ints
    ImpactHandle.of(spark, path).ids(spark)
      .where(col("ib").isin(ibs.map(Integer.valueOf): _*))
      .select(col("c_id").as("doc_id"))
      .join(broadcast(batchIds), Seq("doc_id"))
  }

  /** Incremental growth of a persisted impact index — the lexical
    * [[VectorOps.ivfAppend]]: new corpus docs score under the FROZEN
    * context (the store's df/nd/avgl/k1/b — the frozen-geometry
    * contract; scoring drift is [[impactIndexDrift]]'s job, appends are
    * the between-freezes path) and merge into the per-term posting
    * heads. The merge is EXACT under frozen scoring: a stored head is
    * the true top-N of the old corpus, stored scores never change, so
    * top-N(head ∪ new postings) = top-N(old ∪ new) — any evicted
    * non-head posting was already dominated by N stored entries. Hence
    * appends are also split-invariant (append B then C ≡ append B∪C,
    * spec-pinned).
    *
    * A new doc's terms OUTSIDE the frozen vocabulary have no df row, so
    * they score nothing and mint no postings — the doc is reachable
    * only through frozen-vocab terms until the next re-freeze (exactly
    * IVF's "new modes need re-clustering" posture); a batch of pure
    * novel vocabulary leaves the store untouched.
    *
    * Scale shape: the batch tokenizes once and broadcasts into the
    * scanned df store (the gate join direction); only the tb partitions
    * the batch's terms TOUCH are read and rewritten (dynamic partition
    * overwrite — untouched buckets' files are never opened, the
    * [[VectorOps.ivfPartialRebuild]] discipline), and each rewrite is
    * bounded by bucket-vocab × (topPerTerm + batch postings).
    *
    * Single-writer contract (the saveIvfIndex/ivfAppend posture): the
    * dynamic partition overwrite is not transactional — two concurrent
    * appends racing the same bucket lose one batch's merge, and a CRASH
    * mid-append can leave a torn store (some buckets merged, the id
    * registry not yet extended) — serialize appends (one maintenance
    * job owns the store), re-freeze with [[writeImpactIndex]] after a
    * crashed append, or put the store behind a ManifestTable-style
    * commit if multi-writer is ever needed.
    *
    * Re-ingestion guard (r20, closing the r19 advice): the batch is
    * checked against the store's `ids/` registry — EXACT over every doc
    * that ever entered the store, where the r19 head-scan guard missed
    * docs whose old postings sat in untouched buckets or had been
    * evicted from heads. The registry scan prunes to the batch's id
    * buckets; the batch side broadcasts. `ifAbsent = false` (default,
    * the maintenance-append contract) refuses collisions LOUDLY;
    * `ifAbsent = true` (the streaming-replay contract —
    * [[graft.streaming.BronzePipeline]] re-records a committed batch
    * after a crash between commit and record) silently drops
    * already-registered docs and appends the rest, making replays
    * idempotent.
    */
  def impactIndexAppend(newDocs: DataFrame, path: String,
      ifAbsent: Boolean = false): Unit = {
    val spark = newDocs.sparkSession
    val h = ImpactHandle.of(spark, path)
    val ntf0 = graft.CacheHygiene.materialize(termCounts(newDocs),
      "impact append terms")
    try {
      val batchIds = ntf0.select(col("doc_id")).distinct()
      // batch-bounded collision set; materialized because the refusal
      // read and the survivor filter both consume it and neither should
      // rescan the registry
      val collided = graft.CacheHygiene.materialize(
        impactCollidingIds(batchIds, path), "impact append collisions")
      if (!ifAbsent) require(collided.isEmpty,
        "impactIndexAppend: batch doc_ids collide with the store's " +
          "indexed-doc registry — an already-ingested doc must not " +
          "append again, even re-worded (gate the batch with the " +
          "dedup family first, re-freeze, or pass ifAbsent = true " +
          "for replay-idempotent recording)")
      // survivor ids feed BOTH the term filter and the registry append
      // below; materializing them consumes collided, which can then go
      val keepIds =
        try graft.CacheHygiene.materialize(
          if (ifAbsent)
            batchIds.join(broadcast(collided), Seq("doc_id"), "left_anti")
          else batchIds,
          "impact append survivor ids")
        finally graft.CacheHygiene.release(collided)
      val ntf =
        if (ifAbsent) ntf0.join(broadcast(keepIds), Seq("doc_id"))
        else ntf0
      val newU = graft.CacheHygiene.materialize(
        frozenScoreU(h,
          ntf.withColumn("len", sum("n").over(Window.partitionBy("doc_id"))),
          h.df(spark).select(col("term"), col("df"))),
        "impact append postings")
      try {
        val touched = newU.select(termBucket(col("term")).as("tb"))
          .distinct().collect().map(_.getInt(0)).toSeq // ≤ ImpactTermBuckets
        if (touched.nonEmpty) {
          // whole touched buckets re-rank (they hold every term the
          // merge can move), so the dynamic overwrite below rewrites
          // exactly those partitions completely
          val old = postingsIn(h, spark, touched)
          // torn-store tripwire (r20 review): these docs passed the id
          // REGISTRY as unseen, so their postings must not already sit
          // in the heads — if they do, a previous append crashed between
          // the postings write and the registry append, and merging
          // again would silently DOUBLE every affected head row (the
          // ifAbsent replay path would otherwise do exactly that).
          // Refuse loudly instead; the batch's own terms are by
          // definition inside the touched buckets, so this scan sees
          // every possible collision.
          require(old.select(col("c_id")).distinct()
              .join(broadcast(newU.select(col("doc_id").as("c_id")).distinct()),
                Seq("c_id"))
              .isEmpty,
            "impactIndexAppend: unregistered batch docs already hold " +
              "postings — a previous append crashed between the postings " +
              "write and the registry append (the documented torn-store " +
              "case); re-freeze with writeImpactIndex")
          val union = old
            .unionByName(newU
              .select(col("term"), col("doc_id").as("c_id"), col("score_u")))
          val merged = VectorOps.rankTopK(union,
              "term", "c_id", "score_u", h.topPerTerm)
            .select(col("term"), col("c_id"), col("score_u"), col("rk"))
            .withColumn("tb", termBucket(col("term")))
            // the self-read-then-overwrite hazard: the merged plan READS
            // the postings partitions the write is about to replace, so
            // it must be fully materialized before the write starts
            .transform(m => graft.CacheHygiene.materialize(m, "impact append merge"))
          val prevMode = spark.conf
            .get("spark.sql.sources.partitionOverwriteMode", "static")
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          try merged.write.mode("overwrite").partitionBy("tb")
            .parquet(s"$path/postings")
          finally {
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
            graft.CacheHygiene.release(merged)
          }
        }
        // register survivors — ALL of them, postings or not: a doc whose
        // terms were all out-of-vocab minted nothing, but its CONTENT was
        // ingested; a later re-append of a changed version of it is
        // exactly the stale-representation hazard the registry exists to
        // refuse. AFTER the postings write, so the registry never claims
        // docs whose postings a crash prevented (a crash between the two
        // writes is the documented torn-store case: re-freeze).
        keepIds.select(col("doc_id").as("c_id"))
          .withColumn("ib", idBucket(col("c_id")))
          .write.mode("append").partitionBy("ib").parquet(s"$path/ids")
        // last: stamp the committed version and hand it to the registered
        // handle, so the next read reuses it instead of reopening
        ImpactHandle.appended(spark, path, h, postingsRewritten = touched.nonEmpty)
      } finally {
        graft.CacheHygiene.release(newU)
        graft.CacheHygiene.release(keepIds)
      }
    } finally graft.CacheHygiene.release(ntf0)
  }

  /** Freshness probe for a persisted impact index — THE re-freeze
    * trigger for a lexical deployment (the
    * [[PqDedupGate.distortionDrift]] discipline): postings frozen on
    * yesterday's df/avglen silently mis-weight tomorrow's shifted
    * vocabulary — idf moves with df, length norm with avglen — and no
    * individual query errors. Compares the CURRENT corpus snapshot's
    * log₂-df histogram against the store's frozen one (PSI, same
    * reading scale as [[graft.streaming.DriftMonitor]]: <0.1 stable,
    * 0.1–0.25 drifting, >0.25 re-run [[writeImpactIndex]]) and restates
    * both avglen scalars beside their ratio (re-freeze outside
    * ~[0.8, 1.25] even at low PSI — length norm drifts independently of
    * vocabulary shape). One corpus tokenize into a vocab-sized
    * aggregate; all drift arithmetic runs on ≤ ~32 joined histogram
    * rows. Output: one row (n_ref, n_cur, psi, avgl_ref, avgl_cur,
    * len_ratio).
    */
  def impactIndexDrift(corpus: DataFrame, path: String): DataFrame = {
    val spark = corpus.sparkSession
    Seq(("dfhist", "reference df histogram (this index predates the " +
      "drift probe; re-freeze with writeImpactIndex)"),
      ("stats", "frozen scoring stats")).foreach { case (t, w) =>
      loudPart(spark, s"$path/$t", w)
    }
    val tf = graft.CacheHygiene.materialize(
      termCounts(corpus), "impact drift term counts")
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val curLen = tf.groupBy("doc_id").agg(sum("n").as("len"))
      .agg(avg("len").as("avgl_cur"))
    val wide = spark.read.parquet(s"$path/dfhist").withColumnRenamed("n", "nr")
      .join(dfHist(dfc).withColumnRenamed("n", "nc"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("nr", "nc"))
      .withColumn("__g", lit("impact"))
    psiFromWide(wide, "__g")
      .select(col("n_ref"), col("n_cur"), col("psi"))
      .crossJoin(broadcast(
        spark.read.parquet(s"$path/stats").select(col("avgl").as("avgl_ref"))))
      .crossJoin(broadcast(curLen))
      .withColumn("len_ratio", round(col("avgl_cur") / col("avgl_ref"), 4))
  }

  /** q145: top-3 BM25 terms per doc (k1=1.2, b=0.75, the standard
    * defaults) over `documents`. */
  def q145Bm25(s: SparkSession, d: String): DataFrame =
    bm25(documents(s, d))

  /** Deterministic corpus shuffle with a SCALABLE global rank. Training
    * pipelines shuffle the corpus before sharding/packing so adjacent
    * source documents (same crawl host, same dump file) don't land in
    * the same training batch; the engine-portable, partitioning-
    * independent order is a salted content-hash. The naive form —
    * `row_number() OVER (ORDER BY hash)` — funnels the ENTIRE corpus
    * through one task (a global-order window is a single partition);
    * here the rank assembles distributively, the classic zipWithIndex
    * shape: range-partition on the hash (parallel sampled-boundary
    * sort), count each partition (driver state = one long per
    * partition), then offset each partition's local row_number by the
    * rows before it. The local window partitions by the physical
    * partition id, so every task ranks only its own slice; the global
    * rank is exact because range partitioning preserves the total
    * (hash, key) order across partition boundaries.
    *
    * `key` must be unique (it tie-breaks hash collisions); rank is
    * 1-based in hash order.
    *
    * The rank's two passes (per-partition count, then offset join) must
    * see FROZEN partition contents — recomputing the sorted frame
    * between passes could legally re-draw the range sampler's
    * boundaries and shift every rank — so the frame is materialized
    * once, through [[graft.CacheHygiene.materializeLazy]]: a lazy
    * `localCheckpoint` by default (blocks in executor storage; losing
    * an executor fails the job), a reliable `checkpoint()` under
    * `spark.graft.reliableCheckpoints=true` (executor loss re-reads the
    * lost partition; needs a checkpoint dir and refuses without one).
    * Both modes produce identical ranks (spec-asserted); see
    * docs/TUNING.md "Materialization posture at cluster scale".
    */
  def shuffleRank(docs: DataFrame, key: Column, salt: String): DataFrame =
    globalRankCore(
      docs.withColumn("__sk", md5(concat(lit(salt), key.cast("string")))),
      Seq(col("__sk"), key), "shuffle_rank")._1.drop("__sk")

  /** Distributed global rank over an ARBITRARY total order — the
    * [[shuffleRank]] machinery generalized from hash order to any unique
    * `sortCols` tuple (e.g. a score for curriculum ordering). Returns the
    * ranked frame (1-based `global_rank` column appended) and the total
    * row count (already on the driver from the offset pass — callers
    * binning rank into quantiles need it without a second scan).
    */
  def globalRankBy(df: DataFrame, sortCols: Seq[Column]): (DataFrame, Long) =
    globalRankCore(df, sortCols, "global_rank")

  private def globalRankCore(df: DataFrame, sortCols: Seq[Column],
      outCol: String): (DataFrame, Long) = {
    val s = df.sparkSession
    import s.implicits._
    // r22 examined-and-rejected (r21 verdict item 6): lazy-checkpointing
    // the INPUT so the range sampler's pass doubles as its materialization
    // measured wall-neutral locally (r22 isolated probe, OPTIMIZATION_r22.md:
    // q85 0.447 vs 0.466, q119 0.998 vs 0.965, same job counts) and is
    // WRONG at scale: the sampler and the sort share every shuffle stage
    // of the input's lineage (same RDD → same ShuffleMapStages, reused
    // across the two jobs), so only
    // the narrow post-exchange tail was ever computed twice — while the
    // checkpoint persists the entire corpus-sized input to block storage
    // to save it (§5 memory pressure for a tail of cheap maps). For
    // exchange-free inputs (q85's scan+md5) the saved scan roughly pays
    // for the block round-trip — a wash, not a win.
    val arranged = df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
    // Local mode: the counts aggregation below is the job that computes,
    // persists and lineage-truncates the sorted frame (r21). The
    // frozen-order contract holds: the range boundaries are sampled once
    // when the exchange first executes and live in the partitioner, so a
    // retried task re-sorts into identical partitions and every later
    // read hits the persisted blocks.
    val sorted = graft.CacheHygiene.materializeLazy(arranged, "globalRank sorted frame")
    val counts = sorted.groupBy("__pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // The local row_number() below is a 32-bit int; a range partition
    // holding more than Int.MaxValue rows would overflow it silently
    // before the cast to long. Fail loudly instead — at that width the
    // fix is more partitions, not a bigger int.
    counts.find(_._2 > Int.MaxValue).foreach { case (p, n) =>
      throw new IllegalStateException(
        s"globalRank: partition $p holds $n rows > Int.MaxValue; " +
          "raise spark.sql.shuffle.partitions so per-partition row counts fit a 32-bit row_number")
    }
    var acc = 0L
    val offsets = counts.map { case (p, n) => val o = (p, acc); acc += n; o }
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
    val ranked = sorted.join(broadcast(offDf), Seq("__pid"))
      .withColumn(outCol,
        (col("__off") + row_number().over(w)).cast("long"))
      .drop("__pid", "__off")
    (ranked, acc)
  }

  /** q85: the corpus shuffle over `documents`, oracled — the DuckDB
    * oracle computes the SAME order with a naive global window, so the
    * hash-match proves the distributed rank assembly reproduces the
    * single-task order exactly, rank by rank.
    */
  def q85CorpusShuffle(s: SparkSession, d: String): DataFrame =
    shuffleRank(documents(s, d).select(col("doc_id")), col("doc_id"), "r13:")
      .select(col("doc_id"), col("shuffle_rank"))

  /** Bloom-prefiltered EXACT incremental dedup admit — the cross-batch
    * ingest gate at the scale where "join every batch against the whole
    * corpus" stops being a plan. One corpus pass builds a Bloom filter
    * over normalized fingerprints (distributed, via Spark's sketch
    * aggregate); batch rows the filter rules out are admitted with NO
    * join at all (a Bloom negative is definite), and only the suspects —
    * true duplicates plus an fpp-sized sliver of false positives — are
    * exact-verified. The verify step BROADCASTS the suspect fingerprints
    * and semi-joins the corpus against them, so the corpus is scanned,
    * never shuffled: at 100 TB the only wide operation in the whole gate
    * is the final suspects-minus-hits anti-join between two small sets.
    * Result is exactly "batch rows whose fingerprint is absent from the
    * corpus" — the Bloom filter is invisible in the answer (spec-forced
    * with a saturated filter), it only prices the verification.
    *
    * Sizing: a 10⁹-item corpus at fpp=0.01 is a ≈1.2 GB filter —
    * per-executor broadcast weight (see [[graft.plans.BloomMightContain]]);
    * shard the gate by source past that. `expectedItems` skips the
    * separate sizing count() job over the fingerprint checkpoint when
    * the caller already knows the corpus cardinality (e.g. from manifest
    * stats) — since r21 eagerly materializes the fingerprints, the one
    * corpus text scan happens either way; the parameter saves a job, not
    * the scan.
    */
  def bloomGate(corpus: DataFrame, batch: DataFrame, textCol: String = "text",
      fpp: Double = 0.01, expectedItems: Option[Long] = None): DataFrame = {
    val s = corpus.sparkSession
    // corpus fingerprints materialized once (r21, guide §1.2 step 1): the
    // sizing count, the filter-build aggregate and the verify semi-join
    // each re-ran the corpus text scan + md5 — three full passes for one
    // 8-byte-per-row frame. One checkpoint, three block reads; the handle
    // rides the returned plan (admit's hits join), so the Verify/Bench
    // sweep reaps it. At corpus scale this is the difference between one
    // and three 100-TB text scans per gate build.
    val corpusFp = graft.CacheHygiene.materialize(
      corpus.select(fingerprint(col(textCol)).as("fp")), "bloom gate corpus fps")
    val n = math.max(expectedItems.getOrElse(corpusFp.count()), 1L)
    val bc = s.sparkContext.broadcast(
      BloomDedupGate.buildFilter(corpusFp, n, fpp)) // empty-corpus safe
    val batchFp = batch.select(col("doc_id"), fingerprint(col(textCol)).as("fp"))
    // the one-shot admit plan (BloomDedupGate.admit): bloom negatives
    // join nothing, suspects broadcast-verify against the corpus
    BloomDedupGate.admit(batchFp, "fp", bc, corpusFp)
  }

  /** q86: the Bloom gate over `documents` — every third doc plays the
    * incoming batch, the rest the standing corpus.
    */
  def q86BloomGate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    bloomGate(docs.filter(col("doc_id") % 3 =!= 0),
      docs.filter(col("doc_id") % 3 === 0))
      .select(col("doc_id"), col("fp"))
  }

  /** q87: unigram Shannon entropy per document — the information-density
    * quality signal (template/boilerplate pages score low even when the
    * q66 adjacent-repetition score misses them). Entropy over token
    * frequencies computed as ln T − (Σ n·ln n)/T, so the whole operator
    * is two keyed aggregations — (doc_id, token) then doc_id — both
    * high-cardinality, map-side-combinable shuffle keys at any scale.
    */
  def q87WordEntropy(s: SparkSession, d: String): DataFrame =
    wordEntropy(documents(s, d))

  def wordEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("total"),
        sum(col("n").cast("double") * log(col("n").cast("double"))).as("s"))
      .select(col("doc_id"), col("total").cast("long").as("n_tokens"),
        round(log(col("total").cast("double")) - col("s") / col("total"), 4)
          .as("entropy"))

  /** Curriculum binning: rank the corpus by a score and cut the rank into
    * k equal quantile bins (easy→hard ordering for curriculum training
    * schedules). The global order comes from [[globalRankBy]] — the
    * distributed rank, NOT a single-partition window — and the bin is
    * pure arithmetic on (rank, total), both already in hand, so binning
    * adds zero passes. Bin b = ⌊(rank−1)·k / total⌋ + 1: contiguous in
    * score order, sizes within 1 of each other, engine-portable integer
    * arithmetic (spec + oracle share the formula exactly).
    */
  def curriculumBins(scored: DataFrame, score: Column, id: Column,
      k: Int): DataFrame = {
    require(k > 0, s"curriculumBins: k must be positive, got $k")
    val (ranked, total) = globalRankBy(scored, Seq(score, id))
    ranked
      .withColumn("curriculum_rank", col("global_rank"))
      .withColumn("bin",
        expr(s"((curriculum_rank - 1) * ${k.toLong}) div ${math.max(total, 1L)}")
          .cast("long") + 1L)
      .drop("global_rank")
  }

  /** q88: decile curriculum over the q33 quality score. */
  def q88CurriculumDecile(s: SparkSession, d: String): DataFrame =
    curriculumBins(q33QualityScore(s, d), col("quality"), col("doc_id"), 10)
      .select(col("doc_id"), col("quality"), col("curriculum_rank"),
        col("bin").as("decile"))

  /** Temperature-balanced source mixing — the multilingual-pretraining
    * rebalance (the α=0.5 "square-root smoothing" of XLM/mBERT sampling):
    * a source's keep-probability is proportional to √n_s / n_s, so
    * over-represented sources downsample hard while rare sources keep
    * (nearly) everything, flattening the mix toward — but not all the
    * way to — uniform. Unlike q60's FIXED per-language rates, the rates
    * here are computed IN-PLAN from the observed counts: one tiny
    * keyed count (low-cardinality, map-side combined), a 1-row total,
    * a broadcast rate join, then a pure codegen'd scan filter — the
    * whole operator adds zero wide shuffles over the corpus. The keep
    * decision is the house salted-hash contract (deterministic,
    * partitioning-independent, engine-portable).
    *
    * rate_s = min(1, targetFrac · N · √n_s / (Σ√n · n_s)), rounded to
    * 6 decimals so the threshold is the same literal double in every
    * engine; Σ over groups uses sqrt (correctly rounded IEEE — this is
    * why the smoothing exponent is fixed at 0.5 rather than a free α:
    * pow() is not bit-portable across engines, sqrt is).
    */
  def sqrtTemperatureSample(docs: DataFrame, grp: String,
      targetFrac: Double, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.join(broadcast(sqrtTemperatureRates(docs, grp, targetFrac)), grp)
      .filter(mixtureKeep(col(textCol), col("keep_rate")))
      .select(col(idCol), col(grp), col("keep_rate"))

  /** The (group, keep_rate) table of [[sqrtTemperatureSample]] alone —
    * the persistable half: [[graft.streaming.MixtureGate]] computes it
    * once from a reference window and applies it per ingest batch. */
  def sqrtTemperatureRates(docs: DataFrame, grp: String,
      targetFrac: Double): DataFrame = {
    require(targetFrac > 0 && targetFrac <= 1,
      s"targetFrac must be in (0,1]: $targetFrac")
    val counts = docs.groupBy(col(grp)).agg(count(lit(1)).as("n"))
    val tots = counts.agg(sum("n").cast("double").as("total"),
      sum(sqrt(col("n").cast("double"))).as("wsum"))
    counts.crossJoin(broadcast(tots))
      .select(col(grp),
        round(least(lit(1.0),
          lit(targetFrac) * col("total") * sqrt(col("n").cast("double")) /
            (col("wsum") * col("n").cast("double"))), 6).as("keep_rate"))
  }

  /** THE mixture admit decision — salted content hash under a rate
    * threshold: deterministic, partitioning- and batch-composition-
    * independent, so batch and streaming application of the same rates
    * admit the same documents. */
  def mixtureKeep(text: Column, rate: Column): Column =
    hashKey(concat(lit("temp:"), text)) % 1000000L < rate * 1000000L

  /** q89: √-temperature mix over `documents` sources at half the corpus. */
  def q89TempMixture(s: SparkSession, d: String): DataFrame =
    sqrtTemperatureSample(documents(s, d), "source", 0.5)

  /** Duplicated-span fraction — the exact-substring dedup *signal* of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (2022): for each document, the fraction of its distinct
    * n-word spans that also occur in at least one OTHER document. Docs
    * with a high fraction are near-copies or heavy quoters even when no
    * single fingerprint matches; the score drives removal thresholds
    * without ever comparing documents pairwise.
    *
    * Shape: per-row codegen'd [[graft.plans.Shingles]] span construction
    * (no shuffle), one span-keyed count to find spans living in ≥2 docs
    * (map-side combinable — the span string is the shuffle key), then a
    * LEFT join of the doc→span index against ONLY the duplicated spans —
    * the small side, since boilerplate is the minority of distinct spans
    * — and a final doc_id-keyed aggregate. Candidate volume is linear in
    * corpus spans, never n² in documents. `hashSpans` swaps the span
    * string for its xxhash64 as join/shuffle key (8-byte keys at 100 TB;
    * a collision can only nudge a fraction by 1/n_spans — off for the
    * oracle, on in production).
    */
  def spanDupFraction(docs: DataFrame, n: Int = 5,
      hashSpans: Boolean = false): DataFrame = {
    val raw = docs.select(col("doc_id"), explode(array_distinct(
      graft.plans.GraftFunctions.shingles(tokens(col("text")), n))).as("g"))
    val grams = if (hashSpans) raw.select(col("doc_id"), xxhash64(col("g")).as("g"))
      else raw
    val dup = grams.groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("g"), lit(1.0).as("isdup"))
    grams.join(dup, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        round(avg(coalesce(col("isdup"), lit(0.0))), 4).as("dup_frac"))
      .select(col("doc_id"), col("n_spans").cast("long").as("n_spans"),
        col("dup_frac"))
  }

  /** q90: 5-word duplicated-span fraction over `documents` (docs shorter
    * than 5 tokens have no spans and no row — both engines agree). */
  def q90SpanDupfrac(s: SparkSession, d: String): DataFrame =
    spanDupFraction(documents(s, d))

  /** Exact-substring dedup ACTION (q101, r15) — the removal step behind
    * q90's signal (Lee et al. 2022: scrubbing repeated substrings from
    * training data, not just dropping whole near-dup docs): every token
    * covered by an n-gram span occurring in ≥2 DISTINCT documents is
    * removed; each doc keeps its unique remainder in original order.
    * Within-doc repeats don't scrub (cross-doc only — q90's convention),
    * docs shorter than n tokens are untouched, and the rebuilt text is
    * whitespace-normalized lowercase (the tokenization both engines
    * share).
    *
    * Scale shape: ONE corpus scan into a checkpointed (doc_id, tokens)
    * frame (it feeds both the positional-gram path and the rebuild
    * join); spans travel as xxhash64 keys (q90's hashSpans discipline —
    * spans never reach the output, so the oracle is unaffected); the
    * duplicated-span set is the distinct-(doc, span) count filter —
    * linear in corpus spans, never pairwise; covered positions aggregate
    * per doc (bounded by doc length) and the rebuild is a per-row
    * higher-order-function filter, no shuffle beyond the cover join.
    * The per-token array_contains against the covered set is O(len·cov)
    * per doc — fine at chat/web doc lengths; a 100 TB run on book-length
    * docs would swap it for a sorted-array merge kernel.
    */
  def spanScrub(docs: DataFrame, n: Int = 5): DataFrame = {
    require(n >= 2, s"spanScrub: span width must be >= 2, got $n")
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .transform(d => graft.CacheHygiene.materialize(d))
    // positional n-grams: the Shingles kernel's array index IS the span
    // start position
    val pos = toks.select(col("doc_id"),
        posexplode(graft.plans.GraftFunctions.shingles(col("ws"), n)))
      .select(col("doc_id"), col("pos").as("p"), xxhash64(col("col")).as("g"))
    val dup = pos.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("g")
    rebuildWithoutCovered(toks, pos.join(dup, "g"), n)
  }

  /** Shared scrub tail for [[spanScrub]]/[[templateScrub]]: expand
    * flagged span STARTS (doc_id, p) into covered token positions,
    * aggregate per doc (bounded by doc length), and rebuild each doc's
    * text without them — a per-row higher-order-function filter, no
    * UDF. `toks` must carry (doc_id, ws). */
  private def rebuildWithoutCovered(toks: DataFrame, starts: DataFrame,
      n: Int): DataFrame = {
    val covered = starts
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(n - 1))).as("cp"))
      .distinct()
      .groupBy("doc_id").agg(collect_set(col("cp")).as("cov"))
    val zipped = zip_with(col("ws"), sequence(lit(0), size(col("ws")) - 1),
      (t, i) => struct(t.as("t"), i.as("i")))
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        when(col("cov").isNull, array_join(col("ws"), " "))
          .otherwise(array_join(
            transform(
              filter(zipped, s => !array_contains(col("cov"), s.getField("i"))),
              s => s.getField("t")),
            " ")).as("text_clean"))
  }

  /** q101: 5-gram exact-substring scrub over `documents`. */
  def q101SpanScrub(s: SparkSession, d: String): DataFrame =
    spanScrub(documents(s, d))

  /** q121: INTRA-doc repeated-span collapse — the surgical form of the
    * repetition problem q66 only measures: a span (5-gram) occurrence
    * whose identical gram appeared EARLIER in the same document is
    * excised, the first occurrence stays. This is the RefinedWeb-style
    * repetition removal for long crawl pages that repeat nav chrome /
    * boilerplate internally — cross-doc structure is deliberately
    * ignored (that is q101's corpus-wide job; this one never shuffles
    * beyond doc_id keys). Overlapping self-repeats collapse to the
    * leading span: `x×7` keeps exactly one `x`.
    */
  def q121SelfScrub(s: SparkSession, d: String): DataFrame =
    selfScrub(documents(s, d))

  /** Scale shape: one checkpointed token frame feeds the positional
    * grams AND the rebuild (the q101 discipline); the first-occurrence
    * table is a (doc_id, g)-keyed min and the repeat filter joins it on
    * the SAME key — one exchange, reused; every stage is doc_id-local,
    * so the operator composes with any partitioning-by-doc upstream
    * without a corpus-wide shuffle. Shared [[rebuildWithoutCovered]]
    * tail (per-row HOF filter, no UDF). */
  def selfScrub(docs: DataFrame, n: Int = 5): DataFrame = {
    require(n >= 2, s"selfScrub: span width must be >= 2, got $n")
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val pos = toks.select(col("doc_id"),
        posexplode(graft.plans.GraftFunctions.shingles(col("ws"), n)))
      .select(col("doc_id"), col("pos").as("p"), xxhash64(col("col")).as("g"))
    val firsts = pos.groupBy("doc_id", "g").agg(min("p").as("p0"))
    val repeats = pos.join(firsts, Seq("doc_id", "g"))
      .filter(col("p") > col("p0")).select("doc_id", "p")
    rebuildWithoutCovered(toks, repeats, n)
  }

  /** q127: winnowing fingerprints + candidate pairs (Schleimer et al.
    * 2003 — the MOSS sketch, the fourth member of the near-dup sketch
    * family next to MinHash/SimHash/exact shingles). Per doc, slide a
    * w-gram window over the k-gram hash sequence and keep each window's
    * MINIMUM hash: the selected set is ~2/(w+1) of the grams, position-
    * robust, and carries winnowing's guarantee — any shared token run of
    * length ≥ w+k−1 shares at least one fingerprint, so long verbatim
    * overlap CANNOT hide (MinHash has no such floor; it samples). Pairs
    * sharing ≥ `minShared` fingerprints emit with their fingerprint
    * resemblance — the candidate step a verbatim-overlap detector
    * verifies exactly (q101/q90 machinery).
    *
    * Engine-portable selection: the per-gram hash is md5 hex and the
    * window minimum is LEXICOGRAPHIC — identical in any engine (a
    * 64-bit engine-specific hash in the selection path would make the
    * sketch unreproducible outside Spark). The 64-bit xxhash64 appears
    * only as the pair join's shuffle key (the q65/q90 discipline:
    * narrow key, exact string residual). Windows are doc-local
    * (partition by doc_id — composes with upstream partitioning); a doc
    * shorter than w grams contributes its single whole-doc window; the
    * inverted index takes the same `maxFpDF` width cap as q35 — a
    * fingerprint flooding the corpus (boilerplate) is dropped from the
    * index before it mints C(DF,2) candidates, the cap-binding probe's
    * lesson.
    */
  def q127WinnowPairs(s: SparkSession, d: String): DataFrame =
    winnowPairs(documents(s, d))

  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints: k>=1, w>=1, got k=$k w=$w")
    val pos = docs.select(col("doc_id"),
        posexplode(graft.plans.GraftFunctions.shingles(tokens(col("text")), k)))
      .select(col("doc_id"), col("pos").as("p"), md5(col("col")).as("h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    pos.withColumn("m", min(col("h")).over(win))
      .withColumn("ng", count(lit(1)).over(whole))
      .filter(col("p") <= col("ng") - w || (col("ng") < w && col("p") === 0))
      .select(col("doc_id"), col("m").as("fp")).distinct()
  }

  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 5,
      minShared: Long = 2L, maxFpDF: Int = Int.MaxValue): DataFrame = {
    require(minShared >= 1 && maxFpDF >= 1,
      s"winnowPairs: minShared>=1, maxFpDF>=1, got $minShared/$maxFpDF")
    val fps = winnowFingerprints(docs, k, w).transform(d => graft.CacheHygiene.materialize(d))
    val idx = if (maxFpDF == Int.MaxValue) fps else {
      val df = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      fps.join(df.filter(col("__df") <= maxFpDF).select("fp"), "fp")
    }
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val a = idx.select(col("doc_id").as("a_id"), col("fp").as("a_fp"),
      xxhash64(col("fp")).as("fph"))
    val b = idx.select(col("doc_id").as("b_id"), col("fp").as("b_fp"),
      xxhash64(col("fp")).as("fph"))
    a.join(b, Seq("fph")).filter(col("a_fp") === col("b_fp") &&
        col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("doc_id").as("a_id"), col("nf").as("__na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("nf").as("__nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_shared"),
        round(col("n_shared").cast("double")
          / (col("__na") + col("__nb") - col("n_shared")), 4).as("resemblance"))
  }

  /** Per-source boilerplate TEMPLATE detection (q102, r15) — the
    * diagnosis lens on the problem q101 scrubs corpus-wide: which spans
    * FLOOD a source (nav chrome, license footers, scraper wrappers).
    * For each source, the top-k n-gram spans by document incidence,
    * floored at `minDocs` docs and `minIncidencePct`% of the source —
    * the row a scraper regression shows up as, the input a per-source
    * scrub allowlist is built from.
    *
    * Scale shape: one corpus TOKEN scan plus one column-pruned
    * source-count scan (the denominator must count docs too short to
    * span — deriving it from the gram stream would undercount); per-doc
    * `array_distinct` makes the (source, span) aggregation count
    * DOCUMENT incidence directly (no doc-level distinct shuffle); the
    * incidence floor is integer-exact
    * (n_docs·100 ≥ pct·n_src — no float boundary between engines). The
    * per-source rank runs AFTER the floor, whose output is bounded by
    * construction: spans with incidence ≥ p in a source number at most
    * (avg spans/doc)/p — ~650 rows/source at p=8% on 52-span docs —
    * so the window is arithmetic on aggregates, never a corpus sort.
    * Span strings ride the one aggregation shuffle because the OUTPUT
    * needs them (unlike q99/q101, where keys hash).
    */
  def sourceTemplates(docs: DataFrame, n: Int = 5, k: Int = 3,
      minIncidencePct: Int = 8, minDocs: Long = 2): DataFrame = {
    require(n >= 2 && k > 0 && minIncidencePct >= 0 && minDocs >= 1,
      s"sourceTemplates: n>=2, k>0, pct>=0, minDocs>=1 required")
    val spans = docs.select(col("source"), explode(array_distinct(
      graft.plans.GraftFunctions.shingles(tokens(col("text")), n))).as("g"))
    val counts = spans.groupBy("source", "g").agg(count(lit(1)).as("n_docs"))
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val floored = counts.join(broadcast(sizes), "source")
      .filter(col("n_docs") >= minDocs &&
        col("n_docs") * 100 >= lit(minIncidencePct) * col("n_src"))
    val w = Window.partitionBy("source")
      .orderBy(col("n_docs").desc, col("g"))
    floored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("g").as("span"),
        col("n_docs").cast("long").as("n_docs"),
        round(col("n_docs").cast("double") / col("n_src"), 4).as("incidence"))
  }

  /** q102: per-source top-3 template spans over `documents`. */
  def q102Templates(s: SparkSession, d: String): DataFrame =
    sourceTemplates(documents(s, d))

  /** Per-source template SCRUB (q103, r15) — q102's diagnosis wired to
    * q101's action in one pass: every span flooding its OWN source
    * (same integer-exact floor as q102, no top-k cap — scrubbing wants
    * every qualifying template, not the podium) is removed from that
    * source's docs. Unlike corpus-wide q101, a span is scrubbed ONLY
    * where it floods: the same 5-gram appearing once each in two
    * sources survives both — the CCNet-style per-source boilerplate
    * pass that removes nav chrome without touching organic cross-source
    * quotes.
    *
    * Scale shape: ONE corpus scan into the checkpointed (doc_id,
    * source, tokens) frame feeding the positional grams, the source
    * sizes, AND the rebuild; spans travel hashed (never output); the
    * template set is the incidence-floored aggregate — bounded per
    * source like q102's — and BROADCASTS into the cover join, so the
    * corpus-sized gram stream never reshuffles for it.
    */
  def templateScrub(docs: DataFrame, n: Int = 5,
      minIncidencePct: Int = 8, minDocs: Long = 2): DataFrame = {
    require(n >= 2 && minIncidencePct >= 0 && minDocs >= 1,
      s"templateScrub: n>=2, pct>=0, minDocs>=1 required")
    val toks = docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("ws"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val pos = toks.select(col("source"), col("doc_id"),
        posexplode(graft.plans.GraftFunctions.shingles(col("ws"), n)))
      .select(col("source"), col("doc_id"), col("pos").as("p"),
        xxhash64(col("col")).as("g"))
    val counts = pos.select("source", "doc_id", "g").distinct()
      .groupBy("source", "g").agg(count(lit(1)).as("n_docs"))
    val sizes = toks.groupBy("source").agg(count(lit(1)).as("n_src"))
    val tmpl = counts.join(broadcast(sizes), "source")
      .filter(col("n_docs") >= minDocs &&
        col("n_docs") * 100 >= lit(minIncidencePct) * col("n_src"))
      .select("source", "g")
    rebuildWithoutCovered(toks, pos.join(broadcast(tmpl), Seq("source", "g")), n)
  }

  /** q103: per-source template scrub over `documents`. */
  def q103TemplateScrub(s: SparkSession, d: String): DataFrame =
    templateScrub(documents(s, d))

  /** KEEP-FIRST exact-substring dedup (q140, r16) — the third point in
    * the substring-scrub design space, and the one Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * actually specify: every duplicated n-gram keeps its FIRST corpus
    * occurrence (min (doc_id, position)) and is scrubbed everywhere
    * else. Contrast: [[spanScrub]] (q101) removes EVERY occurrence of a
    * cross-doc span — both copies lose it, destroying the information —
    * and [[selfScrub]] (q121) keeps first only WITHIN a doc, blind to
    * the corpus. Keep-first preserves exactly one copy of each
    * duplicated run, so the corpus still contains every substring it
    * started with. Like Lee et al.'s character ranges, the kept
    * occurrence is canonical PER GRAM: a kept gram's tokens can still
    * be removed by a DIFFERENT overlapping gram whose first occurrence
    * lives elsewhere — per-gram keep-first, not per-token immunity.
    * Within-doc repeats scrub too (occurrence 2+ regardless of doc),
    * matching q121 locally while also deduplicating across docs.
    *
    * Scale shape: the q101 discipline — ONE corpus scan into a
    * checkpointed (doc_id, tokens) frame feeding both the positional
    * grams and the rebuild; grams travel as xxhash64 keys. The first
    * occurrence per gram is a gram-keyed `min(struct(doc_id, p))` —
    * MAP-SIDE COMBINABLE, unlike a row_number window, so a viral
    * boilerplate gram duplicated in millions of docs partial-aggregates
    * on every mapper instead of sort-shuffling one hot partition. The
    * `count >= 2` filter keeps the rejoin side to duplicated grams only
    * (the minority), and [[rebuildWithoutCovered]] finishes per-doc.
    */
  def keepFirstScrub(docs: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, s"keepFirstScrub: span width must be >= 2, got $n")
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val pos = toks.select(col("doc_id"),
        posexplode(graft.plans.GraftFunctions.shingles(col("ws"), n)))
      .select(col("doc_id"), col("pos").as("p"), xxhash64(col("col")).as("g"))
    val firsts = pos
      .groupBy("g")
      .agg(min(struct(col("doc_id"), col("p"))).as("first"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("g"), col("first.doc_id").as("f_doc"), col("first.p").as("f_p"))
    val rest = pos.join(firsts, "g")
      .filter(!(col("doc_id") === col("f_doc") && col("p") === col("f_p")))
      .select("doc_id", "p")
    rebuildWithoutCovered(toks, rest, n)
  }

  /** q140: 8-gram keep-first substring scrub over `documents`. */
  def q140KeepfirstScrub(s: SparkSession, d: String): DataFrame =
    keepFirstScrub(documents(s, d))

  /** Benchmark decontamination SCRUB (q104, r15) — [[decontaminate]]'s
    * detection turned into the surgical action the strictest eval
    * hygiene wants: instead of dropping every training doc that shares
    * a 13-gram with the benchmark registry (q65's flag), remove JUST
    * the overlapping spans and keep the doc's unique remainder. Eval
    * docs themselves are excluded from the output — the registry is
    * never trained on.
    *
    * Scale shape: the training side is the one checkpointed token frame
    * (grams + rebuild, q101's machinery); the eval side reduces to a
    * DISTINCT 64-bit gram-hash set — registry-sized in production
    * (benchmarks are MBs while the corpus is TBs), so the cover join's
    * build side is small however big training gets; here the stand-in
    * registry is corpus/17, and AQE picks the join strategy. A hash
    * collision (2⁻⁶⁴, the q99/q101 trade) could scrub one innocent
    * span; q65 keeps the string-residual form for exact counting.
    */
  def decontaminateScrub(docs: DataFrame, isEval: Column,
      n: Int = ContamN): DataFrame = {
    require(n >= 2, s"decontaminateScrub: span width must be >= 2, got $n")
    val train = docs.filter(!isEval)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val evalGrams = docs.filter(isEval)
      .select(explode(
        graft.plans.GraftFunctions.shingles(tokens(col("text")), n)).as("g"))
      .select(xxhash64(col("g")).as("g")).distinct()
    val pos = train.select(col("doc_id"),
        posexplode(graft.plans.GraftFunctions.shingles(col("ws"), n)))
      .select(col("doc_id"), col("pos").as("p"), xxhash64(col("col")).as("g"))
    rebuildWithoutCovered(train, pos.join(evalGrams, "g"), n)
  }

  /** q104: 13-gram eval-overlap scrub over `documents` (every 17th doc
    * plays the benchmark registry — q65's convention). */
  def q104DecontamScrub(s: SparkSession, d: String): DataFrame =
    decontaminateScrub(documents(s, d), col("doc_id") % 17 === 0)

  /** Corpus unigram language-model score — the CCNet-style perplexity
    * proxy: train a unigram LM on the corpus itself (p(w) = n_w / N) and
    * score each document by its mean token negative log-likelihood in
    * nats. Low-NLL docs are made of common words (fluent or boilerplate);
    * high-NLL docs are rare-token soup (OCR noise, code dumps, lists) —
    * the standard cut for training-data curation when no external LM is
    * available.
    *
    * Shape: token counts are two high-cardinality keyed aggregations
    * ((doc_id, w) and w — both map-side combinable); the corpus total is
    * a 1-row broadcast; the vocab→doc join is an equi-join on the token
    * (at 100 TB the vocabulary side is millions of rows — broadcast when
    * it fits, shuffle-hash otherwise; the plan is AQE's choice). No
    * pairwise anything.
    */
  def unigramNll(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    // vocab derives from the doc-keyed count (Σ_doc n ≡ occurrence
    // count), so the token stream explodes ONCE and the two consumers
    // share the (doc_id, w) exchange — the former independent
    // vocab-keyed agg re-ran the scan+explode (r21, guide §2.3
    // aggregate-before-shuffle)
    val dc = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
    val vocab = dc.groupBy("w").agg(sum("n").as("nw"))
    val total = vocab.agg(sum("nw").cast("double").as("N"))
    val probs = vocab.crossJoin(broadcast(total))
      .select(col("w"), (log(col("nw").cast("double")) - log(col("N"))).as("lnp"))
    dc.join(probs, "w")
      .groupBy("doc_id")
      .agg(sum("n").cast("long").as("n_tokens"),
        round(-sum(col("n").cast("double") * col("lnp")) / sum("n"), 4).as("nll"))
  }

  /** q91: unigram-LM mean NLL per document over `documents`. */
  def q91UnigramLm(s: SparkSession, d: String): DataFrame =
    unigramNll(documents(s, d))

  /** q125: surprise-tail score — the min-k%-style lens on the q91 LM:
    * per doc, the mean NLL of its `tailPct`% MOST-surprising token
    * occurrences (rarest under the corpus unigram LM), next to the
    * full-doc mean and their ratio. A doc whose surprise mass is
    * concentrated (high ratio) is burst-of-rare-tokens text — OCR
    * garbage, symbol spam, specialized vocab — invisible to the q91
    * mean alone; a flat ratio ≈ 1 is uniformly-typical prose. The
    * tail aggregation is the same shape membership-inference audits
    * (min-k% prob) run over a real LM's scores.
    *
    * Scale shape: the LM is q91's (w)-keyed map-side-combinable agg +
    * broadcast total; everything after the (doc_id, w) count is
    * DOC-LOCAL — the cumulative-occurrence window partitions by doc_id
    * (never SinglePartition), and the boundary word contributes only
    * the occurrences that fit (`n_tail − (cum − n)` clamped), so the
    * tail is exact at occurrence granularity, not word granularity.
    * n_tail = ⌈pct·n/100⌉ in integer arithmetic; equal-lnp ties can't
    * change the tail SUM (any resolution takes the same occurrence
    * count at the same lnp). round(4) keeps the hash oracle exact.
    */
  def q125SurpriseTail(s: SparkSession, d: String): DataFrame =
    surpriseTail(documents(s, d), tailPct = 20)

  def surpriseTail(docs: DataFrame, tailPct: Int): DataFrame = {
    require(tailPct >= 1 && tailPct <= 100,
      s"surpriseTail: tailPct must be in [1,100], got $tailPct")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    // one explode: vocab derives from the doc-keyed count (the q91 r21
    // restructure — Σ_doc n ≡ occurrence count, exchange shared)
    val dc = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
    val vocab = dc.groupBy("w").agg(sum("n").as("nw"))
    val total = vocab.agg(sum("nw").cast("double").as("N"))
    val probs = vocab.crossJoin(broadcast(total))
      .select(col("w"), (log(col("nw").cast("double")) - log(col("N"))).as("lnp"))
    val dj = dc.join(probs, "w")
    val tot = dj.groupBy("doc_id")
      .agg(sum("n").cast("long").as("n_tokens"),
        sum(col("n").cast("double") * col("lnp")).as("sum_lnp"))
      .withColumn("n_tail",
        floor((lit(tailPct.toLong) * col("n_tokens") + 99L) / 100L).cast("long"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("lnp").asc, col("w").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tail = dj.withColumn("cum", sum("n").over(wOrd))
      .join(tot.select("doc_id", "n_tail"), "doc_id")
      .select(col("doc_id"),
        greatest(lit(0L),
          least(col("n"), col("n_tail") - (col("cum") - col("n")))).as("take_n"),
        col("lnp"))
      .groupBy("doc_id")
      .agg(sum(col("take_n").cast("double") * col("lnp")).as("tail_lnp"))
    tot.join(tail, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_tail"),
        round(-col("tail_lnp") / col("n_tail"), 4).as("tail_nll"),
        round(-col("sum_lnp") / col("n_tokens"), 4).as("nll"),
        round((col("tail_lnp") / col("n_tail"))
          / (col("sum_lnp") / col("n_tokens")), 4).as("tail_ratio"))
  }

  /** q128: interpolated bigram-LM NLL per doc — the context-sensitive
    * member of the LM family (q91 unigram, q119 per-language, this one
    * conditional): p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/N,
    * Jelinek-Mercer smoothing at λ = `lambdaPct`/100 (exact decimal —
    * no float λ to diverge cross-engine). The signal q91 cannot give:
    * "the the the" is high-probability unigram-wise but its bigrams
    * betray it, while rare-but-coherent prose scores better here than
    * its rare unigrams suggest — the shape real pipelines get from a
    * 5-gram KenLM, at the bigram scale a JVM reproduces exactly.
    *
    * Scale: both LM tables are vocab-sized map-side-combinable aggs
    * (c(w₁·) derives from the BIGRAM table, never a second corpus
    * scan); the unigram backoff joins the bigram vocab (vocab×vocab
    * sized, AQE picks the strategy); the per-doc scoring join is the
    * q91/q113 gram-keyed shape; round(4) keeps the hash oracle exact.
    * Docs with <2 tokens have no bigrams and are absent, like q91's
    * token-free docs.
    */
  def q128BigramLm(s: SparkSession, d: String): DataFrame =
    bigramNll(documents(s, d))

  def bigramNll(docs: DataFrame, lambdaPct: Int = 80): DataFrame = {
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"bigramNll: lambdaPct must be in [0,100], got $lambdaPct")
    val lam = lit(lambdaPct.toDouble / 100)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val uni = toks.groupBy("w").agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum("cu").cast("double").as("N"))
    val bi = docs.select(col("doc_id"),
      explode(graft.plans.GraftFunctions.shingles(tokens(col("text")), 2)).as("g"))
    // one bigram explode: the corpus bigram table derives from the
    // doc-keyed count (Σ_doc n ≡ cb), so the scoring join and the LM
    // table share the (doc_id, g) exchange instead of each re-running
    // the scan+shingle explode (r21, the q91 restructure)
    val tb = bi.groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
    val bCounts = tb.groupBy("g").agg(sum("n").as("cb"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
      .withColumn("w2", element_at(split(col("g"), " "), 2))
    val c1 = bCounts.groupBy("w1").agg(sum("cb").as("c1"))
    val probs = bCounts.join(c1, "w1")
      .join(uni.withColumnRenamed("w", "w2"), "w2")
      .crossJoin(broadcast(total))
      .select(col("g"),
        log(lam * col("cb").cast("double") / col("c1")
          + (lit(1.0) - lam) * col("cu").cast("double") / col("N")).as("lnp"))
    tb.join(probs, "g")
      .groupBy("doc_id")
      .agg(sum("n").cast("long").as("n_bigrams"),
        round(-sum(col("n").cast("double") * col("lnp")) / sum("n"), 4)
          .as("nll"))
  }

  /** Population Stability Index of the quality-score distribution, per
    * group — THE production drift monitor for a curation pipeline: when
    * a source's quality distribution shifts between a reference window
    * and the current window (scraper broke, boilerplate flood, language
    * mix moved), PSI spikes long before any single gate trips. Industry
    * reading: <0.1 stable, 0.1–0.25 drifting, >0.25 investigate.
    *
    * PSI = Σ_bins (p_cur − p_ref)·ln(p_cur / p_ref) over `bins` fixed
    * equal-width bins of [0,1], ε-smoothed (1e-6) so empty bins stay
    * finite. Everything after the per-(group, split, bin) count — a
    * low-cardinality, map-side-combined keyed agg, the ONLY pass over
    * the corpus — operates on ≤ groups×2×bins rows.
    */
  def qualityPsi(docs: DataFrame, grp: String, refSide: Column,
      bins: Int = 10): DataFrame = {
    // ONE corpus pass: the split is pivoted into (nr, nc) columns inside
    // a single aggregation tree — filter-splitting a shared aggregate
    // into ref/cur branches would re-scan the corpus per branch (the
    // sf1.0 probe caught exactly that plan).
    val wide = docs
      .select(col(grp), qualityExpr(col("text")).as("quality"), refSide.as("isRef"))
      .withColumn("bin",
        least(floor(col("quality") * bins).cast("int"), lit(bins - 1)))
      .groupBy(grp, "bin")
      .agg(sum(when(col("isRef"), 1L).otherwise(0L)).as("nr"),
        sum(when(col("isRef"), 0L).otherwise(1L)).as("nc"))
    psiFromWide(wide, grp)
  }

  /** Per-(group, bin) quality-score histogram — the persistable half of
    * the PSI monitor: ONE corpus pass, output is ≤ groups×bins rows.
    * [[graft.streaming.DriftMonitor]] writes this once for the reference
    * window and compares every ingest batch against it. */
  def qualityHistogram(docs: DataFrame, grp: String, textCol: String,
      bins: Int = 10): DataFrame =
    qualityBins(docs, grp, textCol, bins).groupBy(grp, "bin").agg(count(lit(1)).as("n"))

  /** Each doc's (grp, bin): the rows [[qualityHistogram]] counts. */
  def qualityBins(docs: DataFrame, grp: String, textCol: String, bins: Int): DataFrame =
    docs.select(col(grp),
      least(floor(qualityExpr(col(textCol)) * bins).cast("int"), lit(bins - 1)).as("bin"))

  /** The PSI tail over two (grp, bin, n) histograms — tiny inputs (e.g.
    * DriftMonitor's persisted reference vs a batch histogram), so the
    * full-outer bin alignment here is arithmetic on aggregates, never a
    * corpus pass. Groups present on only one side still score (the other
    * side is all-ε bins): a brand-new source spikes instead of hiding. */
  def psiFromHistograms(refHist: DataFrame, curHist: DataFrame,
      grp: String): DataFrame = {
    val r = refHist.select(col(grp), col("bin"), col("n").as("nr"))
    val c = curHist.select(col(grp).as("gc"), col("bin").as("bc"),
      col("n").as("nc"))
    val wide = r.join(c, r(grp) === c("gc") && r("bin") === c("bc"),
        "full_outer")
      .select(coalesce(col(grp), col("gc")).as(grp),
        coalesce(col("nr"), lit(0L)).as("nr"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    psiFromWide(wide, grp)
  }

  /** PSI over the pivoted (grp, bin, nr, nc) bin counts. An all-zero side
    * (group absent from ref or cur) prices as all-ε bins. */
  private[operators] def psiFromWide(wide: DataFrame, grp: String): DataFrame = {
    val eps = 1e-6
    // group totals via a window over the aggregate, NOT a self-join: a
    // join against wide.groupBy(...) re-executes wide's whole subplan —
    // a second corpus scan when wide is the q92 histogram pass. The
    // window partitions carry ≤ bins rows each, so no funnel at any
    // group count.
    val w = Window.partitionBy(grp)
    wide
      .withColumn("tr", sum("nr").over(w))
      .withColumn("tc", sum("nc").over(w))
      .select(col(grp), col("nr"), col("nc"),
        when(col("tr") > 0,
          greatest(col("nr").cast("double") / col("tr"), lit(eps)))
          .otherwise(lit(eps)).as("pr"),
        when(col("tc") > 0,
          greatest(col("nc").cast("double") / col("tc"), lit(eps)))
          .otherwise(lit(eps)).as("pc"))
      .groupBy(grp).agg(
        sum("nr").cast("long").as("n_ref"),
        sum("nc").cast("long").as("n_cur"),
        round(sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))), 4)
          .as("psi"))
  }

  /** q92: per-source quality PSI between the deterministic hash-split
    * halves of `documents` (the oracle-able stand-in for "last week vs
    * this week"). */
  def q92QualityPsi(s: SparkSession, d: String): DataFrame =
    qualityPsi(documents(s, d), "source",
      hashBucket(concat(lit("psi:"), col("text")), 1000) < 500)

  /** Token-budget data selection — "give me the best B tokens per
    * source": admit documents from the top of the quality distribution
    * down until the source's token budget is spent. The naive plan is a
    * per-source global sort + running sum — a single task per source at
    * 100 TB. This is the histogram form that scales: ONE corpus pass
    * builds per-(source, quality-bin) token sums (low-cardinality keyed
    * agg), the cutoff bin is found on the tiny ≤ groups×bins aggregate
    * (cumulative sum from the top bin down, stop before exceeding B),
    * and a broadcast of the cutoffs filters the corpus in a second
    * codegen'd pass. Budget precision is one bin of quality width —
    * raise `bins` for a tighter landing, the aggregate stays tiny.
    * A source whose top bin alone exceeds B admits nothing (no row in
    * the cutoff table), loudly visible in the output.
    */
  def tokenBudgetSelect(docs: DataFrame, grp: String, budget: Long,
      bins: Int = 1000): DataFrame = {
    require(budget > 0, s"tokenBudgetSelect: budget must be positive: $budget")
    val m = docs.select(col("doc_id"), col(grp),
      qualityExpr(col("text")).as("quality"),
      size(split(trim(col("text")), ws)).cast("long").as("n_tokens"))
    val binned = m.withColumn("bin",
      least(floor(col("quality") * bins).cast("int"), lit(bins - 1)))
    val perBin = binned.groupBy(grp, "bin").agg(sum("n_tokens").as("btok"))
    // The window below runs over the AGGREGATED table (≤ groups×bins
    // rows), not the corpus — that is the point of the design.
    val w = Window.partitionBy(grp).orderBy(col("bin").desc)
    val cut = perBin.withColumn("cumtok", sum("btok").over(w))
      .filter(col("cumtok") <= budget)
      .groupBy(grp).agg(min("bin").as("cutoff"))
    binned.join(broadcast(cut), grp)
      .filter(col("bin") >= col("cutoff"))
      .select("doc_id", grp, "quality", "n_tokens")
  }

  /** q93: best-800-tokens-per-source selection over `documents`. */
  def q93TokenBudget(s: SparkSession, d: String): DataFrame =
    tokenBudgetSelect(documents(s, d), "source", 800L)

  /** q94: CONVERGED dedup cluster assignment, oracled — near-dup pairs
    * (the q35 ≥0.8 Jaccard edges) closed into connected components by
    * [[ConnectedComponents]] (large-star/small-star, O(log n) rounds
    * regardless of chain length), every doc labeled with its component's
    * minimum id, singletons with themselves. This is the exact closure
    * the q51 family approximates in one pass — and unlike q51/q36 it
    * hash-matches a DuckDB recursive-CTE oracle, so transitive
    * chains (A~B~C with A≁C) are verified to land in ONE cluster.
    */
  def q94DedupComponents(s: SparkSession, d: String): DataFrame =
    dedupComponentsOn(documents(s, d))

  def dedupComponentsOn(docs: DataFrame): DataFrame = {
    // shared form + immediate release: ConnectedComponents.run consumes
    // the pair plan EAGERLY (its base checkpoint executes the mining
    // during the call), so the shingle-index checkpoint is dead the
    // moment it returns — holding it would leak one corpus-sized block
    // set per closure in a long session (r21)
    val (pairs, shingleIndex) =
      ngramJaccardShared(docs, maxShingleDF = Int.MaxValue)
    // member-only labels (r21): the left join + coalesce below supplies
    // the id universe, so CC's node-universe union+distinct+left-join is
    // redundant here — centers and singletons label themselves either way
    val labels = ConnectedComponents.runMembers(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
    graft.CacheHygiene.release(shingleIndex)
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_rep"))
      .withColumn("is_keeper", col("cluster_rep") === col("doc_id"))
  }

  /** q126: the dedup-pressure card — the "how duplicated is my corpus"
    * table a data card reports BEFORE choosing between dropping (q96),
    * down-weighting (q120), or ignoring near-dups: one row per distinct
    * cluster size with cluster/doc/token mass, the excess docs a
    * hard-dedup pass would remove, and each row's share of the corpus.
    * Mass concentrated at cluster_size 1 = clean corpus; a fat size-k
    * tail = the burden (and the 1/k weighting impact) quantified.
    * Exact sizes, not log buckets — size cardinality is tiny in
    * practice, and integer rows keep the hash oracle float-free.
    */
  def q126DupCard(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // labels materialized (r21, guide §3.3): dupCardOn reads the frame
    // TWICE (sizes agg + join back), and the two consumers' pushed
    // filters differ, so exchange reuse cannot merge them — lazy, the
    // docs⋈closure join ran twice. The card's own eager checkpoint
    // consumes labels fully during the call, so the handle is released
    // before returning. Interleaved A/B: min 5.14 vs 5.50 (q134 shape).
    val labels = graft.CacheHygiene.materialize(
      dedupComponentsOn(docs), "q126 closure labels")
    val out = dupCardOn(labels, docs)
    graft.CacheHygiene.release(labels)
    out
  }

  /** The card over PRECOMPUTED labels (the keepBestOn/dupWeightsOn
    * discipline — composed chains feed the materialized q94 closure).
    * Shape: one cluster-keyed count, a join back on the SAME key
    * (exchange reuse), the doc-keyed token join, then everything
    * collapses into a ≤distinct-sizes aggregate; the corpus-scale work
    * ends there — the share arithmetic runs on the CHECKPOINTED tiny
    * card (one execution of the upstream however many branches read
    * it; the q92 shared-aggregate lesson).
    *
    * CONTRACT (r22, the r21 wrappers' release coupling): the card's
    * eager checkpoint above fully consumes `labels` DURING this call —
    * q126/q134 release their labels checkpoint the moment this returns.
    * If the card materialize is ever made lazy or removed, those
    * wrappers' returned frames would read released storage and fail on
    * first action; move their release into the Verify/Bench sweep
    * first. (Same contract on [[memorizationCardOn]].) */
  def dupCardOn(labels: DataFrame, docs: DataFrame): DataFrame = {
    val sizes = labels.groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
    val card = labels.select("doc_id", "cluster_rep")
      .join(sizes, "cluster_rep")
      .join(docs.select(col("doc_id"),
        size(split(trim(col("text")), ws)).cast("long").as("__nt")), "doc_id")
      .groupBy("cluster_size")
      .agg(countDistinct("cluster_rep").as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum("__nt").as("n_tokens"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val totals = card.agg(sum("n_docs").cast("double").as("__td"),
      sum("n_tokens").cast("double").as("__tt"))
    card.crossJoin(broadcast(totals))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        (col("n_docs") - col("n_clusters")).as("excess_docs"),
        col("n_tokens"),
        round(col("n_docs").cast("double") / col("__td"), 4).as("pct_docs"),
        round(col("n_tokens").cast("double") / col("__tt"), 4).as("pct_tokens"))
  }

  /** Memorization-risk card (the Carlini et al. 2022 / Lee et al. 2022
    * joint read): duplication drives verbatim memorization, and the
    * extraction-risk mass sits where HIGH duplication meets LOW
    * perplexity — text the model already finds maximally predictable,
    * duplicated enough to be reinforced every epoch. Per (dup-tier ×
    * NLL-tercile) cell: doc count, token mass, corpus share, and the
    * `hot` flag (duplicated AND lowest-NLL tercile) a data card
    * escalates on. Dup tiers are exact integer cuts (1 / 2 / 3-4 / 5+);
    * terciles are the q88 distributed-rank cut on the round(4) q91 NLL
    * with doc_id tie-break — both engine-portable by construction.
    *
    * Labels-consuming form (the q116/q120/q126 discipline): composed
    * chains feed the materialized q94 closure; only the one-arg q134
    * wrapper mines it. Everything after the two doc-keyed joins is a
    * ≤(tiers×terciles)-row aggregate; docs with no tokens have no NLL
    * evidence and are absent (the q91 contract).
    *
    * CONTRACT: the card's eager checkpoint fully consumes `labels`
    * during this call — see [[dupCardOn]]'s release-coupling note.
    */
  def memorizationCardOn(labels: DataFrame, docs: DataFrame): DataFrame = {
    val sizes = labels.groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
    val dup = labels.select("doc_id", "cluster_rep").join(sizes, "cluster_rep")
      .select(col("doc_id"),
        when(col("cluster_size") === 1, 1L)
          .when(col("cluster_size") === 2, 2L)
          .when(col("cluster_size") <= 4, 3L)
          .otherwise(4L).as("dup_tier"))
    val binned = curriculumBins(unigramNll(docs), col("nll"), col("doc_id"), 3)
      .select(col("doc_id"), col("n_tokens"), col("bin").as("nll_tercile"))
    val card = dup.join(binned, "doc_id")
      .groupBy("dup_tier", "nll_tercile")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .transform(d => graft.CacheHygiene.materialize(d)) // tiny; feeds the total AND the share rows
    val tot = card.agg(sum("n_docs").cast("double").as("__td"))
    card.crossJoin(broadcast(tot))
      .select(col("dup_tier"), col("nll_tercile"), col("n_docs"),
        col("n_tokens"),
        round(col("n_docs").cast("double") / col("__td"), 4).as("pct_docs"),
        (col("dup_tier") >= 2 && col("nll_tercile") === 1).as("hot"))
  }

  /** q134: the memorization-risk card, mining the closure itself. In a
    * composed chain pass the materialized labels to
    * [[memorizationCardOn]] instead.
    */
  def q134MemorizationCard(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // labels materialized + released after the card's eager checkpoint —
    // the q126 discipline (r21); memorizationCardOn reads labels twice
    val labels = graft.CacheHygiene.materialize(
      dedupComponentsOn(docs), "q134 closure labels")
    val out = memorizationCardOn(labels, docs)
    graft.CacheHygiene.release(labels)
    out
  }

  /** The (source, trigram-hash) DISTINCT index both KMV cards read:
    * one corpus scan, hashed with the engine-portable [[hashKey]] (the
    * sketch AND the exact instruments must see identical values in
    * both engines). KMV over a distinct stream ≡ KMV over the multiset
    * — the sketch keeps distinct minima by definition — so one index
    * serves the sketch side and the exact side without a second scan.
    */
  private def sourceGramIndex(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(graft.plans.GraftFunctions.shingles(tokens(col("text")), 3))
          .as("g"))
      .select(col("source"), hashKey(col("g")).as("h"))
      .distinct()

  /** Per-source distinct-trigram cardinality via the KMV sketch
    * ([[graft.plans.KmvSketch]] — Bar-Yossef et al. 2002), with the
    * exact count as the in-query instrument: D̂ = (k−1)·2³² / v_k off
    * ≤k longs of mergeable state per source, vs the exact distinct that
    * would cost a full per-source key shuffle at corpus scale. Because
    * the sketch is DETERMINISTIC (the k smallest distinct portable-hash
    * values — partitioning- and merge-order-independent), the estimate
    * itself hash-matches the oracle bit for bit: no tolerance gate
    * needed, unlike HLL-style sketches (q44). A source whose distinct
    * count ≤ k degrades to exact (n_kept < k reads the sketch AS the
    * set). v_k ≥ 1 always at k ≥ 2 (0 can only be the largest of k
    * distinct non-negatives when k = 1), so the division is ANSI-safe.
    */
  def kmvCardinality(docs: DataFrame, k: Int = 128): DataFrame = {
    val hs = sourceGramIndex(docs)
    hs.groupBy("source")
      .agg(graft.plans.GraftFunctions.kmv_sketch(col("h"), k).as("kmv"),
        count(lit(1)).as("exact_distinct"))
      .select(col("source"),
        size(col("kmv")).cast("long").as("n_kept"),
        when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(4294967296.0) /
            element_at(col("kmv"), k).cast("double")).cast("long"))
          .as("est_distinct"),
        col("exact_distinct"))
      .withColumn("err_pct",
        when(col("exact_distinct") > 0,
          round(abs(col("est_distinct") - col("exact_distinct"))
            .cast("double") / col("exact_distinct") * 100, 2)))
  }

  /** q135: the per-source vocabulary-cardinality card (KMV estimate +
    * exact instrument; deployable reads drop the exact column). */
  def q135KmvCardinality(s: SparkSession, d: String): DataFrame =
    kmvCardinality(documents(s, d))

  /** Pairwise source vocabulary overlap from MERGED KMV sketches — the
    * set-operation payoff no single-set sketch (HLL, q44) gives: the
    * combined k minima of A∪B are computable from the two sketches
    * alone, and KMV-Jaccard = |comb ∩ S_A ∩ S_B| / |comb| (Beyer et
    * al. 2007). At 100 TB the pairwise-overlap question costs sources²
    * arithmetic over k-long arrays — the corpora are never rescanned
    * or re-joined per pair. The exact Jaccard rides along as the
    * instrument, computed the q99 way (hash-keyed index self-join,
    * intersection bounded by sources² per gram) — deployable serving
    * drops it.
    */
  def kmvOverlap(docs: DataFrame, k: Int = 128): DataFrame = {
    val hs = sourceGramIndex(docs).transform(d => graft.CacheHygiene.materialize(d))
    val sk = hs.groupBy("source")
      .agg(graft.plans.GraftFunctions.kmv_sketch(col("h"), k).as("kmv"),
        count(lit(1)).as("sz"))
      .transform(d => graft.CacheHygiene.materialize(d)) // sources-sized; feeds both pair sides
    val pairs = sk.select(col("source").as("src_a"), col("kmv").as("ka"),
        col("sz").as("sza"))
      .crossJoin(sk.select(col("source").as("src_b"), col("kmv").as("kb"),
        col("sz").as("szb")))
      .filter(col("src_a") < col("src_b"))
    val comb = slice(array_sort(array_union(col("ka"), col("kb"))), 1, k)
    // hash-set intersections, NOT filter+array_contains: contains is a
    // linear scan per element, O(k²) per pair — measured 23 s vs 1 s at
    // k=4096 over sf1.0 (the r16 adversarial-k probe); array_intersect
    // builds a hash set once per array and stays O(k)
    val both = size(array_intersect(array_intersect(comb, col("ka")),
      col("kb")))
    val est = pairs.select(col("src_a"), col("src_b"), col("sza"),
      col("szb"), round(both.cast("double") / size(comb), 4)
        .as("est_jaccard"))
    val inter = hs.select(col("source").as("src_a"), col("h"))
      .join(hs.select(col("source").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("ni"))
    est.join(inter, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("ni"))
      .select(col("src_a"), col("src_b"), col("est_jaccard"),
        round(col("ni").cast("double") /
          (col("sza") + col("szb") - col("ni")), 4).as("exact_jaccard"))
  }

  /** q136: the pairwise source-overlap card off merged KMV sketches. */
  def q136KmvOverlap(s: SparkSession, d: String): DataFrame =
    kmvOverlap(documents(s, d))

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006): each doc draws the deterministic uniform
    * u = (hash+1)/2³² from the house salted content hash, and the k
    * largest u^(1/w) win — selection probability proportional to weight
    * w (here the q33 quality score), with zero RNG: the same corpus
    * gives the same sample on any engine, any partitioning, any rerun
    * (the q59/q60 hash-decision contract, upgraded from uniform to
    * WEIGHTED). Ranked in log space — key = ln(u)/w is monotone in
    * u^(1/w) and ln is correctly-rounded IEEE where pow is not (the
    * q89 lesson; this is exactly why the key is not written u^(1/w)).
    * Zero-weight docs take a 1e-4 floor: still sampleable, never an
    * ANSI divide error, and the floor is the documented "minimum
    * representation" knob.
    *
    * Scale: one corpus scan; the top-k is a TakeOrderedAndProject
    * (per-partition bounded heaps merged on the driver — no global
    * sort, no corpus-wide window); the rank window runs over the ≤k-row
    * survivor set only (the q95-stage-2 shape).
    */
  def weightedSample(docs: DataFrame, k: Int = 100,
      salt: String = "wsample:"): DataFrame = {
    require(k >= 1, s"weightedSample: k must be >= 1, got $k")
    val q = qualityExpr(col("text"))
    val u = (hashKey(concat(lit(salt), col("text"))) + 1).cast("double") /
      lit(4294967296.0)
    val key = round(log(u) / greatest(q, lit(0.0001)), 8)
    // null text has no content hash, hence no draw — absent, not a
    // null-keyed row whose sort position differs between engines
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), q.as("quality"), key.as("skey"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("skey").desc, col("doc_id"))).cast("long"))
  }

  /** q137: the deterministic quality-weighted 100-doc sample. */
  def q137WeightedSample(s: SparkSession, d: String): DataFrame =
    weightedSample(documents(s, d))

  /** q96: quality-aware dedup survivor selection — the step after q94's
    * closure: each near-dup cluster keeps its highest-QUALITY member
    * (tie → smallest id), not the smallest id blindly: when a page and
    * its mangled re-crawl near-dup, the cleaner copy survives. One keyed
    * aggregation over the labeled corpus (max of a (quality, −id)
    * struct — no per-cluster window, no second pass).
    */
  def q96KeepBest(s: SparkSession, d: String): DataFrame =
    keepBestOn(documents(s, d))

  /** Convenience form: mines the closure itself. A caller that ALSO
    * wants the cluster labels (every real curation chain does — q94's
    * labels and q96's survivors are two views of one closure) must NOT
    * call this next to [[dedupComponentsOn]]: the closure — the most
    * expensive job in the suite — would run twice. Materialize the
    * labels once and feed the two-arg overload (r14 verdict item 1;
    * PipelineEndToEndSpec pins the single-mining shape).
    */
  def keepBestOn(docs: DataFrame): DataFrame =
    keepBestOn(dedupComponentsOn(docs), docs)

  /** Survivor selection over PRECOMPUTED cluster labels (`labels` needs
    * doc_id + cluster_rep, i.e. [[dedupComponentsOn]]'s output — pass it
    * materialized): one keyed aggregation, zero pair mining. */
  def keepBestOn(labels: DataFrame, docs: DataFrame): DataFrame =
    labels.select("doc_id", "cluster_rep")
      .join(docs.select(col("doc_id"), qualityExpr(col("text")).as("quality")),
        "doc_id")
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("neg"))).as("best"))
      .select(col("cluster_rep"), col("n_members"),
        col("best.quality").as("keep_quality"),
        (-col("best.neg")).as("keep_id"))

  /** q116: leakage-safe train/valid/test split — the q59 hash split with
    * the one change that makes it sound for evaluation: the bucket is
    * keyed on the near-dup CLUSTER representative (q94's closure label),
    * not the document's own text, so a document and its near-duplicates
    * land in the SAME split by construction. Under q59, a page and its
    * mangled re-crawl hash to different buckets and one can sit in train
    * while the other "tests" the model on memorized content — the classic
    * train/test contamination a 100 TB web corpus is full of. Keying on
    * `cluster_rep` makes straddling structurally impossible (one key, one
    * bucket) while exact-unique docs (singleton clusters, rep = own id)
    * split independently as before.
    *
    * Scale: the split itself is a projection over the label frame — zero
    * additional shuffles beyond q94's closure, which every curation chain
    * has already materialized (feed it to [[leakSplitOn]]; the one-arg
    * query form mines it for the oracle's sake, same as q96's).
    */
  def q116LeakSplit(s: SparkSession, d: String): DataFrame =
    leakSplitOn(dedupComponentsOn(documents(s, d)))

  /** Split assignment over PRECOMPUTED cluster labels
    * ([[dedupComponentsOn]]'s output — pass it materialized, the
    * keepBestOn discipline): pure per-row arithmetic, no joins, no pair
    * mining. Salted `"leak:"` so the decision is independent of every
    * other hash-bucket decision (q59/q60/q68) on the same corpus.
    */
  def leakSplitOn(labels: DataFrame): DataFrame = {
    val b = hashBucket(concat(lit("leak:"), col("cluster_rep").cast("string")))
    labels.select(col("doc_id"), col("cluster_rep"), b.as("split_bucket"),
      when(b < 80, "train").when(b < 90, "valid").otherwise("test").as("split"))
  }

  /** q117: split-leakage audit — the one-row mart that quantifies what
    * q116 fixes: under the naive per-doc q59 split, how many near-dup
    * clusters straddle splits, and how many documents sit in a split
    * their cluster leaks out of. `leaked_valid`/`leaked_test` ARE the
    * eval-contamination counts (eval docs with a near-dup elsewhere —
    * memorization masquerading as generalization); `leaked_train` is the
    * symmetric train-side count. Run it before trusting any eval number
    * on a corpus that was split per-doc.
    */
  def q117SplitLeakage(s: SparkSession, d: String): DataFrame =
    splitLeakageOn(dedupComponentsOn(documents(s, d)), documents(s, d))

  /** The audit over PRECOMPUTED labels (the keepBestOn discipline).
    * Scale: one doc_id equi-join to fetch the naive bucket, ONE
    * cluster-keyed agg folding per-split member counts (map-side
    * combinable), then a global aggregate over the cluster-sized frame —
    * nothing pairwise, nothing collected.
    */
  def splitLeakageOn(labels: DataFrame, docs: DataFrame): DataFrame = {
    val b = hashBucket(col("text"))
    val member = labels.select("doc_id", "cluster_rep")
      .join(docs.select(col("doc_id"),
        when(b < 80, "train").when(b < 90, "valid").otherwise("test").as("split")),
        "doc_id")
    val cl = member.groupBy("cluster_rep").agg(
      count(lit(1)).as("n"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("nt"),
      sum(when(col("split") === "valid", 1L).otherwise(0L)).as("nv"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("nx"))
    val straddle = ((col("nt") > 0).cast("int") + (col("nv") > 0).cast("int") +
      (col("nx") > 0).cast("int")) > 1
    cl.select(col("n"), col("nt"), col("nv"), col("nx"),
        straddle.cast("long").as("st"))
      .agg(sum(col("n")).as("n_docs"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_multi_clusters"),
        sum(col("st")).as("n_straddling"),
        sum(col("st") * col("nt")).as("leaked_train"),
        sum(col("st") * col("nv")).as("leaked_valid"),
        sum(col("st") * col("nx")).as("leaked_test"))
  }

  /** q118: UniMax language-budget allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling") — given a
    * token budget larger than the corpus (here 3·total/2) and an epoch
    * cap (2), allocate each language the UNIFORM share of the remaining
    * budget, capped at epochCap·n_tokens, smallest language first: small
    * languages stop at the cap (never over-epoched into memorization),
    * their unused share waterfalls to the larger ones. The closed loop
    * is exact integer waterfilling — ascending capacity order makes the
    * greedy pass optimal — so the mart carries a full hash oracle (the
    * DuckDB side replays the same fold as a recursive CTE over the
    * language table).
    */
  def q118Unimax(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    unimaxAlloc(docs, epochCap = 2L)
  }

  /** The allocation over any (lang, text) frame. Scale: ONE map-side
    * combinable keyed agg over the corpus; the waterfill itself runs on
    * the LANGUAGE table — driver-side over ≤ a few thousand rows (loudly
    * guarded), the same bounded-collect discipline as q115's argmax.
    * `budgetNum/budgetDen` set the budget as a fraction of total corpus
    * tokens (default 3/2).
    */
  def unimaxAlloc(docs: DataFrame, epochCap: Long,
      budgetNum: Long = 3L, budgetDen: Long = 2L): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val counts = docs.groupBy("lang")
      .agg(sum(size(split(trim(col("text")), ws)).cast("long")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(counts.length <= 10000,
      s"unimaxAlloc: ${counts.length} languages — this fold is for language-" +
        "cardinality tables; a high-cardinality key needs a distributed kernel")
    val total = counts.map(_._2).sum
    var r = budgetNum * total / budgetDen
    val langs = counts.sortBy { case (l, n) => (n, l) }
    val k = langs.length
    val rows = langs.zipWithIndex.map { case ((l, n), idx) =>
      val cap = epochCap * n
      val alloc = math.min(cap, r / (k - idx))
      r -= alloc
      (l, n, cap, alloc)
    }
    rows.toSeq.toDF("lang", "n_tokens", "cap_tokens", "alloc_tokens")
  }

  /** q119: CCNet perplexity buckets (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data")
    * — the classic head/middle/tail split: score every document with its
    * LANGUAGE'S LM (per-language unigram model here, the q91 kernel
    * conditioned on lang), rank within the language by mean NLL
    * ascending, cut into terciles. `head` is what CCNet-style pipelines
    * train on, `tail` is what they drop, and keeping the explicit bucket
    * (rather than filtering) lets downstream mix buckets with q60/q89.
    */
  def q119CcnetBuckets(s: SparkSession, d: String): DataFrame =
    ccnetBuckets(documents(s, d))

  /** Scale shape: the LM is the q91 discipline keyed by (lang, w) — all
    * aggs map-side combinable, the per-lang totals a language-cardinality
    * broadcast, the vocab→doc join an equi-join AQE sizes. The tercile
    * cut is the q85/q88 DISTRIBUTED rank (range-partitioned, never a
    * lang-partitioned window — `en` at 100 TB would be one straddling
    * task): one global rank over (lang, nll, id) converts to
    * within-language rank by subtracting per-language offsets read off
    * the checkpointed rank frame (language-cardinality collect, loudly
    * guarded). All-integer bucket arithmetic; nll carries the q91
    * round(4) convention, so ordering — and the hash oracle — is exact
    * cross-engine.
    */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    // one explode: the per-language vocab derives from the doc-keyed
    // count (Σ_doc n ≡ occurrence count), sharing the (doc_id, lang, w)
    // exchange with the scoring join (r21, the q91 restructure)
    val dc = toks.groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("n"))
    val vocab = dc.groupBy("lang", "w").agg(sum("n").as("nw"))
    val totals = vocab.groupBy("lang").agg(sum("nw").cast("double").as("N"))
    val probs = vocab.join(broadcast(totals), "lang")
      .select(col("lang"), col("w"),
        (log(col("nw").cast("double")) - log(col("N"))).as("lnp"))
    val nll = dc.join(probs, Seq("lang", "w"))
      .groupBy("doc_id", "lang")
      .agg(sum("n").cast("long").as("n_tokens"),
        round(-sum(col("n").cast("double") * col("lnp")) / sum("n"), 4).as("nll"))
    val (ranked, _) = globalRankBy(nll, Seq(col("lang"), col("nll"), col("doc_id")))
    // per-language offsets/sizes off the checkpointed rank frame: the
    // frame is already materialized, so this is one cheap agg, and the
    // collect is language-cardinality (the unimaxAlloc guard)
    val counts = ranked.groupBy("lang").agg(count(lit(1)).as("nl")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    require(counts.length <= 10000,
      s"ccnetBuckets: ${counts.length} languages — offsets assume language cardinality")
    var acc = 0L
    val offs = counts.map { case (l, n) => val o = (l, acc, n); acc += n; o }
    val offDf = offs.toSeq.toDF("lang", "__loff", "__nl")
    ranked.join(broadcast(offDf), "lang")
      .withColumn("ppl_rank", col("global_rank") - col("__loff"))
      .withColumn("__b", expr("((ppl_rank - 1) * 3) div __nl"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("nll"),
        col("ppl_rank"),
        when(col("__b") === 0, "head").when(col("__b") === 1, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** q120: duplicate-aware training weights — the SOFT alternative to
    * dropping near-dups: every doc keeps a `train_weight` of
    * 1/cluster_size, so a cluster contributes one document's worth of
    * gradient in expectation (exactly one deduped epoch) while the
    * sampler still sees every variant (q96 keeps one and discards the
    * phrasing diversity; this keeps all and discounts them). Compose
    * with q113/q112 multiplicatively — the weights are independent
    * signals.
    */
  def q120DupWeights(s: SparkSession, d: String): DataFrame =
    // labels materialized (r21): dupWeightsOn reads the frame twice
    // (sizes + join back — different pruned columns defeat exchange
    // reuse); the checkpoint rides the returned plan as its leaf, so
    // Verify's releaseTree / Bench's blanket unpersist reap it.
    // Interleaved A/B: min 2.65 vs 2.92, one docs⋈closure join saved.
    dupWeightsOn(graft.CacheHygiene.materialize(
      dedupComponentsOn(documents(s, d)), "q120 closure labels"))

  /** Weights over PRECOMPUTED labels (the keepBestOn discipline): one
    * cluster-keyed count plus a join on the SAME key — Catalyst reuses
    * the exchange, so the corpus shuffles once. */
  def dupWeightsOn(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
    labels.select("doc_id", "cluster_rep").join(sizes, "cluster_rep")
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size").cast("double"), 6).as("train_weight"))
  }

  /** q97: the per-source corpus "data card" — the one-pass summary mart
    * every training run wants next to its manifest: volume (docs,
    * tokens), length shape (median/p90 tokens), quality center, language
    * spread, and exact-dup pressure (distinct fingerprints vs docs). All
    * columns are aggregates of ONE source-keyed pass; the percentiles are
    * Spark's exact `percentile` (the q29 convention — DuckDB's
    * quantile_cont computes the same linear interpolation).
    */
  def q97CorpusCard(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), col("lang"),
        size(split(trim(col("text")), ws)).cast("long").as("n_tokens"),
        qualityExpr(col("text")).as("quality"),
        fingerprint(col("text")).as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        round(expr("percentile(n_tokens, 0.5)"), 4).as("median_tokens"),
        round(expr("percentile(n_tokens, 0.9)"), 4).as("p90_tokens"),
        // 5 decimals, NOT 4 (r17, caught by the extended sf0.1 gate): an
        // even group's median interpolates halfway between two 4-decimal
        // qualities — a value ENDING at the 5th decimal's 5, i.e. exactly
        // on round(,4)'s half-up boundary, where Spark and DuckDB flip
        // opposite ways from ulp-level noise. round(,5) is identity on
        // every reachable value (≤5 true decimals), so it's boundary-free.
        round(expr("percentile(quality, 0.5)"), 5).as("median_quality"),
        countDistinct("lang").as("n_langs"),
        countDistinct("fp").as("n_unique_fp"))

  /** q99: cross-source span-overlap matrix — the provenance signal
    * "which crawls duplicate each other": for every source pair, the
    * count of distinct 5-word spans they share and the containment of
    * the smaller side (shared / min(grams)). Two mirrors of the same
    * dump show containment near 1 long before any per-doc signal
    * aggregates to a verdict.
    *
    * Scale shape: the index is (source, span)-DISTINCT — far smaller
    * than the doc-level q90 index — and the span self-join's per-span
    * candidate volume is bounded by sources² with `sources` a small
    * cardinality, so the join cannot go quadratic in the corpus no
    * matter how hot a span is. Same inverted-index family as q35/q65.
    *
    * The index key is xxhash64 of the span by default — the q90
    * `hashSpans` discipline (r14 verdict item 2): the distinct, the
    * checkpoint blocks, and the self-join all move a fixed 8-byte key
    * instead of a multi-word string, several-fold fewer shuffled bytes
    * at 100 TB. Spans never reach the output (only source pairs and
    * counts do), so the oracle sees identical answers; a 2⁻⁶⁴ hash
    * collision is the only semantic delta (same trade q90/q32 price).
    */
  def q99SourceOverlap(s: SparkSession, d: String): DataFrame =
    sourceOverlapOn(documents(s, d))

  def sourceOverlapOn(docs: DataFrame, hashSpans: Boolean = true): DataFrame = {
    // the (source, span) index feeds three consumers (both self-join
    // sides + the sizes agg) — without this checkpoint each one re-runs
    // the shingle explode over the corpus (the probe's shape fingerprint
    // showed FOUR FileScans); materialized once, the corpus is scanned
    // once and the index blocks serve the rest. Hashing happens BEFORE
    // the distinct so even the index build shuffles 8-byte keys.
    val raw = docs.select(col("source"),
      explode(graft.plans.GraftFunctions.shingles(tokens(col("text")), 5)).as("g"))
    val grams = (if (hashSpans) raw.select(col("source"), xxhash64(col("g")).as("g"))
      else raw)
      .distinct()
      .transform(d => graft.CacheHygiene.materialize(d))
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n_grams"))
    grams.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.as("na")), col("source_a") === col("na.source"))
      .join(broadcast(sizes.as("nb")), col("source_b") === col("nb.source"))
      .select(col("source_a"), col("source_b"),
        col("n_shared").cast("long").as("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("na.n_grams"), col("nb.n_grams")), 4).as("containment"))
  }

  /** q100: PMI collocation extraction — the classic corpus-analysis
    * operator (multi-word expressions, entity phrases): token pairs
    * co-occurring within a `window` of 5, scored by pointwise mutual
    * information ln(p(a,b)/(p(a)p(b))), count-floored, global top-k by
    * (rounded) PMI.
    *
    * Shape: pairs at every distance 1..window−1 come from ONE corpus
    * scan — the d+1-gram arrays of the per-row Shingles kernel are
    * concatenated and exploded once, and a gram's first/last words ARE
    * the co-occurrence (no positional self-join). Unigram and pair
    * count tables are checkpointed aggregates (each feeds multiple
    * consumers — totals and join sides — and would otherwise re-run its
    * corpus pass per consumer). The top-k is TakeOrdered on the scored
    * pair vocabulary, round-before-rank for engine-stable ties.
    */
  def q100Collocations(s: SparkSession, d: String): DataFrame =
    collocations(documents(s, d))

  def collocations(docs: DataFrame, window: Int = 5, minCount: Long = 5,
      k: Int = 50): DataFrame = {
    require(window >= 2 && minCount > 0 && k > 0,
      s"collocations: window>=2, minCount>0, k>0 required")
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val nTok = uni.agg(sum("cw").cast("double").as("n_tok"))
    val gramArrays = (2 to window).map(n =>
      graft.plans.GraftFunctions.shingles(tokens(col("text")), n))
    val pcAll = docs.select(explode(concat(gramArrays: _*)).as("g"))
      .select(substring_index(col("g"), " ", 1).as("x"),
        substring_index(col("g"), " ", -1).as("y"))
      .filter(length(col("x")) > 0 && length(col("y")) > 0)
      .select(least(col("x"), col("y")).as("wa"),
        greatest(col("x"), col("y")).as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("cab"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val nPair = pcAll.agg(sum("cab").cast("double").as("n_pair"))
    pcAll.filter(col("cab") >= minCount)
      .join(uni.select(col("w").as("wa"), col("cw").as("ca")), "wa")
      .join(uni.select(col("w").as("wb"), col("cw").as("cb")), "wb")
      .crossJoin(broadcast(nPair)).crossJoin(broadcast(nTok))
      .select(col("wa"), col("wb"), col("cab").cast("long").as("cab"),
        round(log((col("cab") / col("n_pair")) /
          ((col("ca") / col("n_tok")) * (col("cb") / col("n_tok")))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("wa"), col("wb"))
      .limit(k)
  }

  /** The Gopher stop-word list (Rae et al. 2021 Appendix A) — the rule
    * checks for "at least 2 of" these as a fluency floor. */
  private val GopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality rule flags (Rae et al. 2021, Appendix A — the
    * published rule set most large-corpus curations start from): per
    * document the raw counts plus one boolean per rule and the
    * conjunctive `pass`:
    *
    *   - word count in [50, 100 000]
    *   - mean word length in [3, 10] characters
    *   - ≥ 80% of words contain an alphabetic character
    *   - symbol-to-word ratio (`#` or `...`) ≤ 0.1
    *   - ≥ 2 of the 8 Gopher stop-words present
    *
    * Every threshold is evaluated in INTEGER arithmetic (`3·n ≤ chars`,
    * `5·alpha ≥ 4·n`, `10·sym ≤ n`) — no float ratios — so this mart,
    * unusually for a quality filter, carries a full cross-engine hash
    * oracle instead of a rounded score.
    *
    * Scale: one corpus scan, per-row codegen'd HOF arithmetic over the
    * token array, zero shuffles (the q106 diagnostics shape). The flags
    * are the standard pre-LM curation gate; the counts ride along so an
    * operator can re-threshold without a second scan.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val counts = docs
      .withColumn("wsa", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("wsa")).cast("long").as("n_words"),
        aggregate(col("wsa"), lit(0L), (a, w) => a + length(w))
          .as("n_word_chars"),
        size(filter(col("wsa"), _.rlike("[a-z]"))).cast("long")
          .as("n_alpha_words"),
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).cast("long")
          .as("n_symbols"),
        size(filter(col("wsa"), w => w.isin(GopherStopwords: _*)))
          .cast("long").as("n_stopwords"))
    counts
      .withColumn("ok_word_count",
        col("n_words") >= 50 && col("n_words") <= 100000L)
      .withColumn("ok_word_len",
        lit(3) * col("n_words") <= col("n_word_chars") &&
          col("n_word_chars") <= lit(10) * col("n_words"))
      .withColumn("ok_alpha",
        lit(5) * col("n_alpha_words") >= lit(4) * col("n_words"))
      .withColumn("ok_symbol", lit(10) * col("n_symbols") <= col("n_words"))
      .withColumn("ok_stop", col("n_stopwords") >= 2)
      .withColumn("pass",
        col("ok_word_count") && col("ok_word_len") && col("ok_alpha") &&
          col("ok_symbol") && col("ok_stop"))
  }

  /** q111: the Gopher rule card over `documents`. */
  def q111GopherRules(s: SparkSession, d: String): DataFrame =
    gopherRules(documents(s, d))

  /** DSIR importance weights (Xie et al., NeurIPS 2023 — Data Selection
    * via Importance Resampling): score every document by how much more
    * likely its n-grams are under the TARGET distribution than under the
    * RAW distribution; resampling by these weights shifts a generic
    * crawl toward the target domain without training a classifier.
    * Per doc: `logw` = mean over its n-gram occurrences of
    * `ln p̂_t(g) − ln p̂_r(g)` with add-1 smoothed gram probabilities
    * (mean, not sum, so long documents aren't favored), rounded to 4
    * decimals (the q91 float convention).
    *
    * This is the EXACT-gram form, fully hash-oracled. The paper's hashed
    * form (grams bucketed into 10⁴ hash features so the gram table stays
    * O(buckets) however large the corpus) is [[dsirHashedWeights]] —
    * same pipeline with `xxhash64(g) pmod buckets` as the gram key.
    *
    * Scale shape: ONE corpus scan into a checkpointed gram stream
    * (q101's token-frame discipline) feeding (a) the global gram table —
    * a map-side-combinable keyed agg, itself checkpointed because both
    * the 1-row totals and the per-doc join consume it — and (b) the
    * per-doc gram counts. The scoring join is gram-keyed (vocabulary-
    * sized build side under AQE — and O(buckets) in the hashed form);
    * totals ride a 1-row broadcast. Nothing pairwise, no windows. Both
    * checkpoints back the returned plan — callers that own the result
    * release them via CacheHygiene.releaseTree (Verify does; Bench
    * blanket-unpersists between timings).
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, n: Int = 2,
      gramKey: Column => Column = identity): DataFrame = {
    val grams = docs
      .select(col("doc_id"), isTarget.as("is_t"),
        explode(graft.plans.GraftFunctions.shingles(tokens(col("text")), n))
          .as("g0"))
      .select(col("doc_id"), col("is_t"), gramKey(col("g0")).as("g"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val vocab = grams.groupBy("g")
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("is_t"), 0L).otherwise(1L)).as("cr"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val totals = vocab.agg(sum("ct").as("nt"), sum("cr").as("nr"),
      count(lit(1)).as("v"))
    val perDoc = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("ng"))
    perDoc.join(vocab, "g").crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(sum("ng").cast("long").as("n_grams"),
        round(
          sum(col("ng") *
            (log((col("ct") + lit(1L)).cast("double") /
              (col("nt") + col("v")).cast("double")) -
              log((col("cr") + lit(1L)).cast("double") /
                (col("nr") + col("v")).cast("double")))) / sum("ng"),
          4).as("logw"))
  }

  /** The production DSIR form: grams bucketed to `buckets` 64-bit-hash
    * features, so the gram table and the scoring join's build side stay
    * O(buckets) — constant — however large the corpus grows. Weights
    * differ from the exact form only by hash-collision smearing (the
    * paper's trade); TextOpsSpec pins that a collision-free bucket count
    * reproduces the exact weights bit-for-bit.
    */
  def dsirHashedWeights(docs: DataFrame, isTarget: Column, n: Int = 2,
      buckets: Int = 10000): DataFrame = {
    require(buckets > 0, s"dsirHashedWeights: buckets must be > 0, got $buckets")
    dsirWeights(docs, isTarget, n, g => pmod(xxhash64(g), lit(buckets.toLong)))
  }

  /** q113: DSIR importance weights over `documents` — target = the
    * English slice (the "want more like this" set), raw = the rest. */
  def q113Dsir(s: SparkSession, d: String): DataFrame =
    dsirWeights(documents(s, d), col("lang") === "en")

  // ---- BPE merge learning (Sennrich et al. 2016) --------------------

  /** A token's BPE base symbols: its code points, in order. `(?s)`
    * because Java's `.` skips U+0085, U+2028 and U+2029, which `\s+`
    * leaves inside tokens — without it the token a, U+2028, b yields
    * [a, b], a pair the text never holds. */
  private def charSyms(w: Column): Column =
    regexp_extract_all(w, lit("(?s)."), lit(0))

  /** Non-empty lowercased tokens — BPE never sees zero-length words. */
  private def bpeTokens(text: Column): Column =
    filter(tokens(text), w => length(w) > 0)

  /** Adjacent symbol pairs of one word as (a, b) structs. */
  private def adjacentPairs(sym: Column): Column =
    zip_with(slice(sym, lit(1), size(sym) - 1), slice(sym, lit(2), size(sym) - 1),
      (x, y) => struct(x.as("a"), y.as("b")))

  /** One BPE merge (a, b) → ab applied greedily left-to-right to a
    * symbol array — [[bpeLearn]]'s per-round vocab update, an
    * aggregate-HOF fold, no UDF. Matches the reference implementation's
    * non-overlapping semantics (and the oracle's bracketed-string
    * `replace`): [a, a, a] under (a, a) → [aa, a]. The empty-accumulator
    * branch guards the ANSI element_at(…, 0) error lazily (CaseWhen
    * branches don't evaluate until taken — the §7 ANSI-division lesson).
    */
  private def applyMerge(sym: Column, a: String, b: String): Column =
    aggregate(sym, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, concat(acc, array(x)))
        .otherwise(
          when(element_at(acc, size(acc)) === lit(a) && (x === lit(b)),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))))

  /** q114: corpus-wide adjacent character-pair counts, top 20 — the
    * table the FIRST BPE merge decision reads, and the vocabulary-
    * construction diagnosis mart (which bigrams dominate the corpus's
    * byte stream). One explode over token occurrences into a map-side-
    * combinable keyed agg; the top-k is a TakeOrderedAndProject over
    * the pair-vocabulary-sized aggregate, never a corpus sort.
    */
  def q114BpePairs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(bpeTokens(col("text"))).as("w"))
      // the bpeLearn Zipf trick (r21): fold the token stream into the
      // distinct-word frequency table FIRST, then explode pairs once per
      // distinct word weighted by its count — pair occurrences per word
      // are a pure function of the word, so Σ_word n·pairs(word) is
      // bit-identical to counting every occurrence row, while the char-
      // pair explode (the dominant per-task work) shrinks from the token
      // stream to the vocabulary
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(explode(adjacentPairs(charSyms(col("w")))).as("p"), col("n"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("n").cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(20)

  /** Learn `merges` BPE merge rules from the corpus (Sennrich et al.
    * 2016): per round, count adjacent symbol pairs over every token
    * occurrence, take the most frequent (ties → lexicographically
    * smallest (a, b) — engine-deterministic, the k-means seed
    * discipline), fuse it everywhere, repeat. Returns the rules in
    * learned order.
    *
    * Scale shape — the reference trainer's own trick: the corpus is
    * folded ONCE into the distinct-word frequency table (Zipf makes the
    * vocabulary orders of magnitude smaller than the token stream at
    * any corpus size), and every round thereafter runs on that
    * vocab-sized frame — pair counts are `sum(word_count)` keyed aggs,
    * the argmax collects one row, the merge application is a per-row
    * codegen'd fold. The checkpoint-per-round Lloyd discipline caps
    * lineage; the one corpus-scale job is the initial word count.
    */
  def bpeLearn(docs: DataFrame, merges: Int): Seq[(String, String)] = {
    require(merges >= 1, s"bpeLearn: merges must be >= 1, got $merges")
    // each round's argmax collect is the single first-touch action of
    // its vocab frame (r22). Deterministic under retry: keyed agg +
    // per-row fold over a checkpointed input.
    var cur = graft.CacheHygiene.materializeLazy(docs
      .select(explode(bpeTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(charSyms(col("w")).as("sym"), col("n")), "bpe vocab")
    var prev: DataFrame = null // released once `cur` is first-touched
    val learned = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    while (learned.length < merges && !exhausted) {
      val want = merges - learned.length
      // BATCHED rounds (r22, r21 verdict item 4): collect the top
      // (want+1) candidates once and apply the longest PREFIX that is
      // provably the exact sequential merge order, cutting driver
      // round-trips per learned merge. Candidate i (after the argmax,
      // which is always exact) stays the next round's argmax iff
      // nothing an earlier accepted merge touched can reach its count:
      //   - i's own symbols are disjoint from every accepted merge's
      //     {a, b} (so its count is invariant — an occurrence of (c, d)
      //     is destroyed only by a merge consuming c or d, and created
      //     only by one producing c or d);
      //   - every TABLE pair sharing a symbol with an accepted merge
      //     counts STRICTLY below i (each new pair (x, ab)/(ab, y)
      //     occurrence was an (x, a)/(b, y) occurrence, so new-pair
      //     counts are bounded by their interacting parents'; diminished
      //     pairs only fall; strictness beats lex-tie ambiguity);
      //   - the (want+1)-th count — the cut bound on every pair BELOW
      //     the table — is strictly below i (bounds out-of-table
      //     parents the same way); a table shorter than the limit was
      //     never cut, so nothing lies below it;
      //   - no accepted product a+b collides with an EXISTING symbol
      //     (the symbol universe is exactly single chars plus prior
      //     products, known driver-side) or with another product
      //     accepted in the same batch: a collision would conflate
      //     new (x, ab) pairs with live (x, ab) counts, and the SUM of
      //     two individually-bounded counts is not bounded.
      // Equal counts among accepted non-interacting candidates are safe:
      // table order IS the (cnt desc, a, b) tie-break order. Candidates
      // failing any test end the batch — the next collect re-derives
      // exact counts, so a conservative stop costs a round-trip, never
      // correctness. Equality with the sequential learner is spec-pinned
      // (BpeEncodeSpec, batched-vs-local adversarial corpora).
      val top = cur
        .select(explode(adjacentPairs(col("sym"))).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(want + 1).collect()
      // that collect materialized `cur`; the previous round frame is dead
      if (prev != null) { graft.CacheHygiene.release(prev); prev = null }
      if (top.isEmpty) exhausted = true
      else {
        val cand = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val complete = cand.length <= want // table never cut
        val usable = if (complete) cand.length else cand.length - 1
        // prior products. Assumes one single symbol = one UTF-16 code
        // unit, so no single can equal a product (2+ units). charSyms
        // splits by code point — a supplementary char is one 2-unit
        // symbol, still safe only because its two halves never stand as
        // adjacent symbols of their own
        val known: Set[String] = learned.map(p => p._1 + p._2).toSet
        val accepted = scala.collection.mutable.ArrayBuffer(cand(0))
        var stop = known.contains(cand(0)._1 + cand(0)._2)
        while (!stop && accepted.length < usable.min(want)) {
          val c = cand(accepted.length)
          val prevSyms = accepted.flatMap(x => Seq(x._1, x._2)).toSet
          val product = c._1 + c._2
          val safe =
            !prevSyms.contains(c._1) && !prevSyms.contains(c._2) &&
            !known.contains(product) &&
            !accepted.exists(x => x._1 + x._2 == product) &&
            (complete || cand.last._3 < c._3) &&
            // a self-pair (s, s) fuses OVERLAPPING runs: its products
            // pair up — (ss, ss), (ss, s) — from its own occurrences,
            // bounded only by its own count, which no later candidate
            // beats (10×"aaaa" + 5×"cd": (aa, aa) = 10 outranks (c, d))
            accepted.forall(x => x._1 != x._2) &&
            // otherwise accepted pairs are exempt from the interaction
            // bound: a fully-applied merge's own pair count is 0
            // afterwards (a greedy pass leaves no adjacent (a, b), and
            // merges never re-create one — symbols only fuse, never split)
            cand.take(usable).forall(x =>
              accepted.contains(x) ||
                !(Seq(x._1, x._2).exists(prevSyms.contains) && x._3 >= c._3))
          if (safe) accepted += c else stop = true
        }
        learned ++= accepted.map(x => (x._1, x._2))
        if (learned.length < merges) {
          // the LAST round never builds its merged frame — the learned
          // list is complete and nobody reads it (r22; the old loop paid
          // a full materialize job to throw the result away)
          val next = graft.CacheHygiene.materializeLazy(accepted.foldLeft(cur) { case (d, (a, b, _)) =>
            d.withColumn("sym", applyMerge(col("sym"), a, b))
          }, "bpe merged vocab")
          prev = cur
          cur = next
        }
      }
    }
    if (prev != null) graft.CacheHygiene.release(prev)
    graft.CacheHygiene.release(cur)
    learned.toList
  }

  /** Exact in-memory mirror of [[bpeLearn]] over a collected word-
    * frequency table: identical pair counting (sum of word counts over
    * every adjacent occurrence), identical argmax tie-break (count
    * descending, then (a, b) lexicographically — the orderBy(cnt.desc,
    * a, b) discipline), identical greedy left-to-right merge
    * application. This is how a PRODUCTION-size vocabulary trains: the
    * corpus folds once into the distinct-word frequency table (Zipf
    * keeps it orders of magnitude below the token stream at any corpus
    * size — the one distributed job), and the thousand-round merge loop
    * runs driver-side over that bounded table instead of paying a Spark
    * job per merge. SentencePiece/HF trainers share the shape: count
    * distributed, learn local. Equality with the distributed learner is
    * spec-pinned (BpeEncodeSpec).
    */
  def bpeLearnLocal(wordCounts: Seq[(String, Long)], merges: Int): Seq[(String, String)] = {
    require(merges >= 1, s"bpeLearnLocal: merges must be >= 1, got $merges")
    // words as mutable symbol buffers; counts ride along
    val vocab = wordCounts.iterator.filter(_._1.nonEmpty).map { case (w, n) =>
      val syms = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cc = Character.charCount(w.codePointAt(i))
        syms += w.substring(i, i + cc)
        i += cc
      }
      (syms, n)
    }.toArray
    val learned = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    while (learned.length < merges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, n) <- vocab) {
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          counts.update(p, counts.getOrElse(p, 0L) + n)
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        for ((p, n) <- counts) {
          if (best == null || n > best._2 ||
              (n == best._2 && (p._1 < best._1._1 ||
                (p._1 == best._1._1 && p._2 < best._1._2)))) best = (p, n)
        }
        val (a, b) = best._1
        learned += ((a, b))
        val ab = a + b
        for ((syms, _) <- vocab) {
          var k = 0
          while (k < syms.length - 1) {
            if (syms(k) == a && syms(k + 1) == b) {
              syms(k) = ab
              syms.remove(k + 1)
            } else k += 1
          }
        }
      }
    }
    learned.toList
  }

  /** q115: learn 2 BPE merges from `documents` and segment the corpus
    * with them — the first ITERATIVE text kernel under the full hash
    * oracle (the q108 trick, text edition: integer pair counts +
    * deterministic tie-breaks make every round exact, and DuckDB
    * unrolls the same two rounds over bracketed-symbol strings whose
    * greedy `replace` provably matches sequential rule application). */
  def q115BpeLearn(s: SparkSession, d: String): DataFrame =
    bpeEncodeFrozen(documents(s, d), bpeLearn(documents(s, d), 2))

  /** Segment every document with an ordered merge table through the
    * rank-table kernel ([[graft.plans.BpeEncode]]): one corpus scan,
    * zero shuffles, work per word independent of table size. Emits per
    * doc the symbol count and the space-joined segmentation (the symbol
    * stream is flattened across words, which joins to the per-word
    * string). Throws on a table that is not sequential-collision-free.
    */
  def bpeEncodeFrozen(docs: DataFrame, rules: Seq[(String, String)]): DataFrame =
    docs
      .select(col("doc_id"),
        // raw tokens, not bpeTokens: the kernel skips empty/null words
        // itself, and the filter() HOF is CodegenFallback — it alone
        // would evict this projection from the whole-stage span
        graft.plans.GraftFunctions.bpe_encode(tokens(col("text")), rules).as("syms"))
      .select(col("doc_id"),
        size(col("syms")).cast("long").as("n_symbols"),
        array_join(col("syms"), " ").as("text_bpe"))

  /** Bench-only table-size control for q146: the SAME encode with the
    * rank table padded to 1,500 entries by rules whose operands carry
    * uppercase letters — impossible in the lowercased token stream, so
    * they can never fire and the OUTPUT is provably identical to q146
    * (spec-pinned) while the kernel's hash map holds 23× the entries.
    * The bench row evidences the design claim directly: per-word cost
    * independent of vocabulary size.
    */
  def q146Big(s: SparkSession, d: String): DataFrame =
    bpeEncodeFrozen(documents(s, d), paddedMerges)

  private[graft] lazy val paddedMerges: Seq[(String, String)] =
    BpeMerges.Table ++ (0 until (1500 - BpeMerges.Table.length)).map { i =>
      (s"${('A' + i % 26).toChar}${i / 26}", "Z")
    }

  /** q146: the corpus segmented with the frozen [[BpeMerges]] vocabulary
    * (64 rules learned once from sf0.01 by the exact driver-side
    * trainer — the tokenizer-as-artifact discipline; vocab size is the
    * hyperparameter, the corpus's 31-word vocabulary saturates at 89).
    * The oracle replays the full encode: every rule applied in rank
    * order as a bracketed-string replace chain via a recursive CTE over
    * the distinct words, then rejoined positionally. Sequential replay
    * equals the kernel's lowest-rank-first because the table is
    * sequential-collision-free (the generator asserts it, and
    * `bpe_encode` rejects any table that is not).
    */
  def q146BpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeFrozen(documents(s, d), BpeMerges.Table)

  private def q146OracleSql: String = {
    val n = BpeMerges.Table.length
    def sq(x: String) = x.replace("'", "''")
    val aList = BpeMerges.Table.map(p => s"'${sq(p._1)}'").mkString(", ")
    val bList = BpeMerges.Table.map(p => s"'${sq(p._2)}'").mkString(", ")
    s"""WITH RECURSIVE t AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                w -> length(w) > 0) AS ws FROM documents),
       | dw AS (SELECT DISTINCT unnest(ws) AS w FROM t),
       | chk AS (SELECT CASE WHEN EXISTS (
       |     SELECT 1 FROM dw WHERE w LIKE '%<%' OR w LIKE '%>%')
       |   THEN error('q146 oracle: a corpus token contains a literal < or > - the bracketed symbol encoding below would corrupt; extend the encoding before trusting this oracle')
       |   ELSE 1 END AS ok),
       | mr AS (SELECT unnest([$aList]) AS a, unnest([$bList]) AS b,
       |        unnest(range(1, ${n + 1})) AS r),
       | enc AS (
       |  SELECT w, '>' || array_to_string(
       |      list_transform(range(1, length(w)+1), i -> w[i]), '< >') || '<' AS bw,
       |    1 AS nxt
       |  FROM dw, chk
       |  UNION ALL
       |  SELECT e.w,
       |    replace(e.bw, '>'||m.a||'< >'||m.b||'<', '>'||m.a||m.b||'<') AS bw,
       |    e.nxt + 1
       |  FROM enc e JOIN mr m ON m.r = e.nxt),
       | fw AS (SELECT w, regexp_extract_all(bw, '>([^<>]*)<', 1) AS syms
       |        FROM enc WHERE nxt = ${n + 1}),
       | wd AS (SELECT doc_id, unnest(ws) AS w,
       |        unnest(range(1, len(ws)+1)) AS pos FROM t),
       | per AS (SELECT wd.doc_id, wd.pos, fw.syms FROM wd JOIN fw USING (w)),
       | agg AS (SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_symbols,
       |         string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos) AS text_bpe
       |         FROM per GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(a.n_symbols, 0) AS n_symbols,
       |  coalesce(a.text_bpe, '') AS text_bpe
       |FROM t LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** Tokenizer fertility card: per language, symbols-per-token
    * (fertility) and symbols-per-character (compression) after applying
    * the learned BPE merges — THE table a multilingual tokenizer design
    * is judged by (a language whose fertility stays near its raw
    * character count is being tokenized into dust: its text costs that
    * many times more sequence positions per word than the vocabulary's
    * favored language). Compression = 1.0 means no merge binds at all.
    *
    * Scale: ONE corpus scan computes token and character counts beside
    * the [[graft.plans.BpeEncode]] kernel's symbol stream (joining a
    * separate segmentation pass back to the corpus would re-scan it),
    * then a languages-sized map-side-combinable agg; the ratio
    * arithmetic runs on the aggregate only, division guarded so a
    * token-less language reads null rather than an ANSI divide error.
    * Tokens are the non-empty `\s+`-split words; a null text counts as
    * zero tokens, characters and symbols. Throws on a merge table that
    * is not sequential-collision-free.
    */
  def bpeFertility(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    // every per-row expression codegen-native (r17 review: filter()/
    // aggregate() HOFs are CodegenFallback — each evicts the WHOLE
    // projection, kernel included, from the whole-stage span). Spark's
    // trim strips only U+0020, so strip every edge \s run instead: then
    // split mints an empty token only for the empty string (\z, not $,
    // which also matches before a final U+2028 line terminator)
    val text = regexp_replace(lower(coalesce(col("text"), lit(""))), "^\\s+|\\s+\\z", "")
    val toks = split(text, ws)
    docs
      .select(col("lang"),
        when(length(text) === 0, lit(0L))
          .otherwise(size(toks).cast("long")).as("n_tokens"),
        length(regexp_replace(text, ws, "")).cast("long").as("n_chars"),
        size(graft.plans.GraftFunctions.bpe_encode(toks, merges))
          .cast("long").as("n_symbols"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"), sum("n_symbols").as("n_symbols"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_symbols"),
        when(col("n_tokens") > 0,
          round(col("n_symbols").cast("double") / col("n_tokens"), 4))
          .as("fertility"),
        when(col("n_chars") > 0,
          round(col("n_symbols").cast("double") / col("n_chars"), 4))
          .as("compression"))
  }

  /** q132: the fertility card over the q115-learned 2-merge vocabulary. */
  def q132BpeFertility(s: SparkSession, d: String): DataFrame =
    bpeFertility(documents(s, d), bpeLearn(documents(s, d), 2))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q121_self_scrub" -> q121SelfScrub _,
    "q120_dup_weights" -> q120DupWeights _,
    "q119_ccnet_buckets" -> q119CcnetBuckets _,
    "q118_unimax" -> q118Unimax _,
    "q117_split_leakage" -> q117SplitLeakage _,
    "q116_leak_split" -> q116LeakSplit _,
    "q115_bpe_learn" -> q115BpeLearn _,
    "q146_bpe_encode" -> q146BpeEncode _,
    "q132_bpe_fertility" -> q132BpeFertility _,
    "q133_gate_health" -> q133GateHealth _,
    "q134_memorization_card" -> q134MemorizationCard _,
    "q135_kmv_cardinality" -> q135KmvCardinality _,
    "q136_kmv_overlap" -> q136KmvOverlap _,
    "q137_weighted_sample" -> q137WeightedSample _,
    "q138_pack_card" -> q138PackCard _,
    "q114_bpe_pairs" -> q114BpePairs _,
    "q113_dsir" -> q113Dsir _,
    "q111_gopher_rules" -> q111GopherRules _,
    "q104_decontam_scrub" -> q104DecontamScrub _,
    "q103_template_scrub" -> q103TemplateScrub _,
    "q102_templates" -> q102Templates _,
    "q101_span_scrub" -> q101SpanScrub _,
    "q140_keepfirst_scrub" -> q140KeepfirstScrub _,
    "q141_fim_transform" -> q141FimTransform _,
    "q142_span_corruption" -> q142SpanCorruption _,
    "q100_collocations" -> q100Collocations _,
    "q99_source_overlap" -> q99SourceOverlap _,
    "q97_corpus_card" -> q97CorpusCard _,
    "q96_keep_best" -> q96KeepBest _,
    "q94_dedup_components" -> q94DedupComponents _,
    "q90_span_dupfrac" -> q90SpanDupfrac _,
    "q91_unigram_lm" -> q91UnigramLm _,
    "q92_quality_psi" -> q92QualityPsi _,
    "q93_token_budget" -> q93TokenBudget _,
    "q89_temp_mixture" -> q89TempMixture _,
    "q86_bloom_gate" -> q86BloomGate _,
    "q87_word_entropy" -> q87WordEntropy _,
    "q88_curriculum_decile" -> q88CurriculumDecile _,
    "q85_corpus_shuffle" -> q85CorpusShuffle _,
    "q78_tfidf" -> q78Tfidf _,
    "q145_bm25" -> q145Bm25 _,
    "q151_impact_index" -> q151ImpactIndex _,
    "q152_impact_search" -> q152ImpactSearch _,
    "q153_sql_impact" -> q153SqlImpact _,
    "q69_quality_gate" -> q69QualityGate _,
    "q70_pack" -> q70Pack _,
    "q65_decontaminate" -> q65Decontaminate _,
    "q123_eval_containment" -> q123EvalContainment _,
    "q125_surprise_tail" -> q125SurpriseTail _,
    "q126_dup_card" -> q126DupCard _,
    "q127_winnow_pairs" -> q127WinnowPairs _,
    "q128_bigram_lm" -> q128BigramLm _,
    "q66_repetition" -> q66Repetition _,
    "q67_pii_scrub" -> q67PiiScrub _,
    "q68_stratified_sample" -> q68StratifiedSample _,
    "q76_source_cap" -> q76SourceCap _,
    "q59_hash_split" -> q59HashSplit _,
    "q60_mixture_sample" -> q60MixtureSample _,
    "q52_heavy_hitters" -> q52HeavyHitters _,
    "q53_sql_surface" -> q53SqlSurface _,
    "q56_chunking" -> q56Chunking _,
    "q30_dedup_exact" -> q30DedupExact _,
    "q31_token_count" -> q31TokenCount _,
    "q32_fingerprint" -> q32Fingerprint _,
    "q33_quality_score" -> q33QualityScore _,
    "q34_lang_id" -> q34LangId _,
    "q35_ngram_jaccard" -> q35NgramJaccard _,
    "q144_signal_bundle" -> q144SignalBundle _,
  )

  /** The q94 closure as a DuckDB recursive CTE, shared by every oracle
    * that verifies cluster-keyed behavior (q94 itself, q116's split):
    * 3-shingle Jaccard ≥0.8 pairs within language, closed transitively,
    * ending in `comp(doc_id, cluster_rep)` for non-singleton members.
    */
  private val DedupClosureCte: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lang,
      |   regexp_split_to_array(lower(trim(text)), '\s+') AS wl FROM documents),
      | sh AS (
      |  SELECT doc_id, lang, list_distinct(list_transform(range(1, len(wl)-1),
      |    i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2])) AS shl FROM t),
      | sz AS (SELECT doc_id, len(shl) AS sz FROM sh),
      | ex AS (SELECT doc_id, lang, unnest(shl) AS s FROM sh),
      | inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM ex a JOIN ex b ON a.s=b.s AND a.lang=b.lang AND a.doc_id<b.doc_id
      |  GROUP BY 1, 2),
      | pairs AS (
      |  SELECT a_id, b_id FROM inter
      |  JOIN sz sa ON sa.doc_id=a_id JOIN sz sb ON sb.doc_id=b_id
      |  WHERE CAST(inter AS DOUBLE)/(sa.sz+sb.sz-inter) >= 0.8),
      | edges AS (SELECT a_id AS u, b_id AS v FROM pairs
      |           UNION SELECT b_id, a_id FROM pairs),
      | reach AS (
      |  SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u),
      | comp AS (SELECT u AS doc_id, min(label) AS cluster_rep FROM reach GROUP BY u)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q121_self_scrub" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | g0 AS (SELECT doc_id,
        |   unnest(list_transform(range(0, greatest(len(ws)-4, 0)),
        |     i -> array_to_string(ws[i+1:i+5], ' '))) AS g,
        |   unnest(range(0, greatest(len(ws)-4, 0))) AS i FROM t),
        | f AS (SELECT doc_id, g, min(i) AS i0 FROM g0 GROUP BY 1, 2),
        | rep AS (SELECT g0.doc_id, g0.i FROM g0
        |         JOIN f USING (doc_id, g) WHERE g0.i > f.i0),
        | cov AS (SELECT DISTINCT rep.doc_id, rep.i + x.o AS p
        |         FROM rep CROSS JOIN (SELECT unnest(range(0, 5)) AS o) x),
        | tok AS (SELECT doc_id, unnest(ws) AS w,
        |         unnest(range(0, len(ws))) AS p FROM t),
        | kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok
        |          LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |          WHERE cov.p IS NULL),
        | k AS (SELECT doc_id, count(*) AS nk,
        |        string_agg(w, ' ' ORDER BY p) AS txt FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        | CAST(len(t.ws) - coalesce(k.nk, 0) AS BIGINT) AS n_removed,
        | coalesce(k.txt, '') AS text_clean
        |FROM t LEFT JOIN k USING (doc_id)""".stripMargin,
    "q120_dup_weights" -> (DedupClosureCte +
      """,
        | lab AS (
        |  SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        | csz AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
        |         FROM lab GROUP BY 1)
        |SELECT lab.doc_id, lab.cluster_rep, csz.cluster_size,
        | round(CAST(1.0 AS DOUBLE) / csz.cluster_size, 6) AS train_weight
        |FROM lab JOIN csz USING (cluster_rep)""".stripMargin),
    "q126_dup_card" -> (DedupClosureCte +
      """,
        | lab AS (
        |  SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        | csz AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
        |         FROM lab GROUP BY 1),
        | dtok AS (SELECT doc_id,
        |          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |            AS nt FROM documents),
        | pd AS (SELECT lab.doc_id, lab.cluster_rep, csz.cluster_size, dtok.nt
        |        FROM lab JOIN csz USING (cluster_rep) JOIN dtok USING (doc_id)),
        | card AS (SELECT cluster_size,
        |           CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
        |           CAST(count(*) AS BIGINT) AS n_docs,
        |           CAST(sum(nt) AS BIGINT) AS n_tokens
        |          FROM pd GROUP BY 1),
        | tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS td,
        |          CAST(sum(n_tokens) AS DOUBLE) AS tt FROM card)
        |SELECT cluster_size, n_clusters, n_docs,
        | n_docs - n_clusters AS excess_docs, n_tokens,
        | round(n_docs / tot.td, 4) AS pct_docs,
        | round(n_tokens / tot.tt, 4) AS pct_tokens
        |FROM card CROSS JOIN tot""".stripMargin),
    "q134_memorization_card" -> (DedupClosureCte +
      """,
        | lab AS (
        |  SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        | csz AS (SELECT cluster_rep, count(*) AS cluster_size
        |         FROM lab GROUP BY 1),
        | dup AS (SELECT lab.doc_id,
        |    CAST(CASE WHEN cluster_size = 1 THEN 1
        |              WHEN cluster_size = 2 THEN 2
        |              WHEN cluster_size <= 4 THEN 3 ELSE 4 END AS BIGINT)
        |      AS dup_tier
        |   FROM lab JOIN csz USING (cluster_rep)),
        | toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        | t2 AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
        | v AS (SELECT w, count(*) AS nw FROM t2 GROUP BY 1),
        | n AS (SELECT CAST(sum(nw) AS DOUBLE) AS total FROM v),
        | p AS (SELECT v.w, ln(CAST(v.nw AS DOUBLE)) - ln(n.total) AS lnp
        |       FROM v CROSS JOIN n),
        | dc AS (SELECT doc_id, w, count(*) AS n FROM t2 GROUP BY 1, 2),
        | nll AS (SELECT dc.doc_id, CAST(sum(dc.n) AS BIGINT) AS n_tokens,
        |    round(-sum(dc.n * p.lnp) / sum(dc.n), 4) AS nll
        |   FROM dc JOIN p USING (w) GROUP BY 1),
        | r AS (SELECT doc_id, n_tokens,
        |    CAST(row_number() OVER (ORDER BY nll, doc_id) AS BIGINT) AS rk,
        |    count(*) OVER () AS total FROM nll),
        | terc AS (SELECT doc_id, n_tokens,
        |    CAST((rk - 1) * 3 // total + 1 AS BIGINT) AS nll_tercile FROM r),
        | card AS (SELECT dup.dup_tier, terc.nll_tercile,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(terc.n_tokens) AS BIGINT) AS n_tokens
        |   FROM dup JOIN terc USING (doc_id) GROUP BY 1, 2),
        | tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS td FROM card)
        |SELECT dup_tier, nll_tercile, n_docs, n_tokens,
        | round(n_docs / tot.td, 4) AS pct_docs,
        | (dup_tier >= 2 AND nll_tercile = 1) AS hot
        |FROM card CROSS JOIN tot""".stripMargin),
    "q138_pack_card" ->
      """WITH t AS (
        |  SELECT lang,
        |   ('0x' || substr(md5('pack:' || text), 1, 8))::BIGINT % 16 AS shard,
        |   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | sh AS (SELECT lang, shard, sum(n_tokens) AS st FROM t GROUP BY 1, 2),
        | g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_shards,
        |        CAST(sum(st) AS BIGINT) AS n_tokens,
        |        CAST(sum(CAST(ceil(CAST(st AS DOUBLE) / 512) AS BIGINT)) AS BIGINT) AS n_packs
        |       FROM sh GROUP BY 1)
        |SELECT lang, n_shards, n_tokens, n_packs,
        | CASE WHEN n_packs > 0
        |      THEN round(CAST(n_tokens AS DOUBLE) / (n_packs * 512), 4) END AS fill_pct
        |FROM g""".stripMargin,
    "q137_weighted_sample" ->
      """WITH m AS (
        |  SELECT doc_id, round(
        |   least(CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE)/100.0, 1.0)*0.5
        |   + (CAST(len(regexp_extract_all(' '||lower(text)||' ', ' (the|a|of|and|to|in|is) ')) AS DOUBLE)
        |      / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE))*0.3
        |   + (1.0 - CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE))*0.2, 4) AS quality,
        |   (('0x' || substr(md5('wsample:' || text), 1, 8))::BIGINT + 1)
        |     / 4294967296.0 AS u
        |  FROM documents),
        | sc AS (SELECT doc_id, quality,
        |         round(ln(u) / greatest(quality, 0.0001), 8) AS skey
        |        FROM m WHERE u IS NOT NULL)
        |SELECT doc_id, quality, skey,
        | CAST(row_number() OVER (ORDER BY skey DESC, doc_id) AS BIGINT) AS rk
        |FROM sc ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin,
    "q135_kmv_cardinality" ->
      """WITH t AS (SELECT source,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS wl FROM documents),
        | g AS (SELECT source,
        |   unnest(list_transform(range(1, len(wl)-1),
        |     i -> array_to_string(wl[i:i+2], ' '))) AS g FROM t),
        | h AS (SELECT DISTINCT source,
        |   ('0x' || substr(md5(g), 1, 8))::BIGINT AS h FROM g),
        | mins AS (SELECT source, h,
        |   row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
        | agg AS (SELECT source,
        |   CAST(count(*) FILTER (WHERE rn <= 128) AS BIGINT) AS n_kept,
        |   max(CASE WHEN rn = 128 THEN h END) AS vk,
        |   CAST(count(*) AS BIGINT) AS exact_distinct
        |  FROM mins GROUP BY 1),
        | est AS (SELECT source, n_kept,
        |   CAST(CASE WHEN n_kept < 128 THEN n_kept
        |        ELSE floor(127.0 * 4294967296.0 / CAST(vk AS DOUBLE)) END
        |     AS BIGINT) AS est_distinct,
        |   exact_distinct FROM agg)
        |SELECT source, n_kept, est_distinct, exact_distinct,
        | CASE WHEN exact_distinct > 0
        |      THEN round(abs(est_distinct - exact_distinct)
        |             / CAST(exact_distinct AS DOUBLE) * 100, 2) END AS err_pct
        |FROM est""".stripMargin,
    "q136_kmv_overlap" ->
      """WITH t AS (SELECT source,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS wl FROM documents),
        | g AS (SELECT source,
        |   unnest(list_transform(range(1, len(wl)-1),
        |     i -> array_to_string(wl[i:i+2], ' '))) AS g FROM t),
        | h AS (SELECT DISTINCT source,
        |   ('0x' || substr(md5(g), 1, 8))::BIGINT AS h FROM g),
        | mins AS (SELECT source, h,
        |   row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
        | sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM h GROUP BY 1),
        | pairs AS (SELECT a.source AS src_a, b.source AS src_b,
        |            a.sz AS sza, b.sz AS szb
        |           FROM sz a JOIN sz b ON a.source < b.source),
        | u AS (SELECT p.src_a, p.src_b, m.h,
        |        bool_or(m.source = p.src_a AND m.rn <= 128) AS ina,
        |        bool_or(m.source = p.src_b AND m.rn <= 128) AS inb
        |       FROM pairs p JOIN mins m
        |         ON m.source = p.src_a OR m.source = p.src_b
        |       GROUP BY 1, 2, 3),
        | cu AS (SELECT src_a, src_b, ina, inb,
        |         row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
        |        FROM u),
        | est AS (SELECT src_a, src_b,
        |   round(CAST(count(*) FILTER (WHERE ina AND inb) AS DOUBLE)
        |     / count(*), 4) AS est_jaccard
        |  FROM cu WHERE rn <= 128 GROUP BY 1, 2),
        | ix AS (SELECT ha.source AS src_a, hb.source AS src_b,
        |         CAST(count(*) AS BIGINT) AS ni
        |        FROM h ha JOIN h hb ON ha.h = hb.h AND ha.source < hb.source
        |        GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, est.est_jaccard,
        | round(coalesce(ix.ni, 0)
        |   / CAST(p.sza + p.szb - coalesce(ix.ni, 0) AS DOUBLE), 4)
        |   AS exact_jaccard
        |FROM pairs p JOIN est USING (src_a, src_b)
        |LEFT JOIN ix USING (src_a, src_b)""".stripMargin,
    "q128_bigram_lm" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS wl FROM documents),
        | tok AS (SELECT doc_id, unnest(wl) AS w FROM t),
        | t2 AS (SELECT doc_id, w FROM tok WHERE length(w) > 0),
        | uni AS (SELECT w, count(*) AS cu FROM t2 GROUP BY 1),
        | n AS (SELECT CAST(sum(cu) AS DOUBLE) AS total FROM uni),
        | bg AS (SELECT doc_id,
        |   unnest(list_transform(range(1, len(wl)),
        |     i -> array_to_string(wl[i:i+1], ' '))) AS g,
        |   unnest(list_transform(range(1, len(wl)), i -> wl[i])) AS w1,
        |   unnest(list_transform(range(1, len(wl)), i -> wl[i+1])) AS w2
        |  FROM t),
        | bc AS (SELECT g, w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2, 3),
        | c1 AS (SELECT w1, sum(cb) AS c1 FROM bc GROUP BY 1),
        | p AS (SELECT bc.g,
        |        ln(CAST(80 AS DOUBLE) / 100 * CAST(bc.cb AS DOUBLE) / c1.c1
        |         + (1 - CAST(80 AS DOUBLE) / 100) * CAST(uni.cu AS DOUBLE)
        |           / n.total) AS lnp
        |       FROM bc JOIN c1 USING (w1) JOIN uni ON uni.w = bc.w2
        |       CROSS JOIN n),
        | dc AS (SELECT doc_id, g, count(*) AS n FROM bg GROUP BY 1, 2)
        |SELECT dc.doc_id, CAST(sum(dc.n) AS BIGINT) AS n_bigrams,
        | round(-sum(dc.n * p.lnp) / sum(dc.n), 4) AS nll
        |FROM dc JOIN p USING (g) GROUP BY 1""".stripMargin,
    "q127_winnow_pairs" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS wl FROM documents),
        | g AS (SELECT doc_id,
        |   unnest(list_transform(range(0, greatest(len(wl)-3, 0)),
        |     i -> md5(array_to_string(wl[i+1:i+4], ' ')))) AS h,
        |   unnest(range(0, greatest(len(wl)-3, 0))) AS p FROM t),
        | wm AS (SELECT doc_id, p,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS m,
        |         count(*) OVER (PARTITION BY doc_id) AS ng FROM g),
        | fp AS (SELECT DISTINCT doc_id, m AS fp FROM wm
        |        WHERE p <= ng - 5 OR (ng < 5 AND p = 0)),
        | sz AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY 1),
        | pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2)
        |SELECT a_id, b_id, n_shared,
        | round(CAST(n_shared AS DOUBLE) / (sa.nf + sb.nf - n_shared), 4)
        |   AS resemblance
        |FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        |WHERE n_shared >= 2""".stripMargin,
    "q119_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |   unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        | t2 AS (SELECT doc_id, lang, w FROM toks WHERE length(w) > 0),
        | v AS (SELECT lang, w, count(*) AS nw FROM t2 GROUP BY 1, 2),
        | n AS (SELECT lang, CAST(sum(nw) AS DOUBLE) AS total FROM v GROUP BY 1),
        | p AS (SELECT v.lang, v.w, ln(CAST(v.nw AS DOUBLE)) - ln(n.total) AS lnp
        |       FROM v JOIN n USING (lang)),
        | dc AS (SELECT doc_id, lang, w, count(*) AS n FROM t2 GROUP BY 1, 2, 3),
        | s AS (SELECT dc.doc_id, dc.lang, CAST(sum(dc.n) AS BIGINT) AS n_tokens,
        |        round(-sum(dc.n * p.lnp) / sum(dc.n), 4) AS nll
        |       FROM dc JOIN p USING (lang, w) GROUP BY 1, 2),
        | r AS (SELECT *,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY nll, doc_id)
        |          AS BIGINT) AS ppl_rank,
        |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS nl
        |       FROM s)
        |SELECT doc_id, lang, n_tokens, nll, ppl_rank,
        | CASE ((ppl_rank - 1) * 3) // nl WHEN 0 THEN 'head'
        |      WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM r""".stripMargin,
    "q118_unimax" ->
      """WITH RECURSIVE t AS (
        |  SELECT lang,
        |   CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        | o AS (
        |  SELECT lang, n, 2*n AS cap,
        |   CAST(row_number() OVER (ORDER BY n, lang) AS BIGINT) AS i,
        |   CAST(count(*) OVER () AS BIGINT) AS k,
        |   (3 * CAST((SELECT sum(n) FROM t) AS BIGINT)) // 2 AS b
        |  FROM t),
        | a AS (
        |  SELECT CAST(0 AS BIGINT) AS i, max(b) AS r FROM o
        |  UNION ALL
        |  SELECT o.i, a.r - least(o.cap, a.r // (o.k - o.i + 1))
        |  FROM a JOIN o ON o.i = a.i + 1)
        |SELECT o.lang, o.n AS n_tokens, o.cap AS cap_tokens,
        | least(o.cap, a.r // (o.k - o.i + 1)) AS alloc_tokens
        |FROM o JOIN a ON a.i = o.i - 1""".stripMargin,
    "q117_split_leakage" -> (DedupClosureCte +
      """,
        | lab AS (
        |  SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep,
        |   CAST(('0x' || substr(md5(d.text), 1, 8))::BIGINT % 100 AS BIGINT) AS b
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        | s AS (
        |  SELECT doc_id, cluster_rep,
        |   CASE WHEN b < 80 THEN 'train'
        |        WHEN b < 90 THEN 'valid'
        |        ELSE 'test' END AS split
        |  FROM lab),
        | cl AS (
        |  SELECT cluster_rep, count(*) AS n,
        |   sum(CASE WHEN split='train' THEN 1 ELSE 0 END) AS nt,
        |   sum(CASE WHEN split='valid' THEN 1 ELSE 0 END) AS nv,
        |   sum(CASE WHEN split='test' THEN 1 ELSE 0 END) AS nx
        |  FROM s GROUP BY 1),
        | st AS (
        |  SELECT *, CASE WHEN (CASE WHEN nt>0 THEN 1 ELSE 0 END)
        |                    + (CASE WHEN nv>0 THEN 1 ELSE 0 END)
        |                    + (CASE WHEN nx>0 THEN 1 ELSE 0 END) > 1
        |            THEN 1 ELSE 0 END AS straddle
        |  FROM cl)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_clusters,
        | CAST(sum(straddle) AS BIGINT) AS n_straddling,
        | CAST(sum(straddle * nt) AS BIGINT) AS leaked_train,
        | CAST(sum(straddle * nv) AS BIGINT) AS leaked_valid,
        | CAST(sum(straddle * nx) AS BIGINT) AS leaked_test
        |FROM st""".stripMargin),
    "q116_leak_split" -> (DedupClosureCte +
      """,
        | lab AS (
        |  SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        | b AS (
        |  SELECT doc_id, cluster_rep,
        |   CAST(('0x' || substr(md5('leak:' || CAST(cluster_rep AS VARCHAR)), 1, 8))::BIGINT
        |     % 100 AS BIGINT) AS split_bucket
        |  FROM lab)
        |SELECT doc_id, cluster_rep, split_bucket,
        | CASE WHEN split_bucket < 80 THEN 'train'
        |      WHEN split_bucket < 90 THEN 'valid'
        |      ELSE 'test' END AS split
        |FROM b""".stripMargin),
    // q115's oracle encodes symbols as bracketed strings (">a< >b<") so
    // DuckDB's left-to-right non-overlapping replace() implements the
    // same greedy fold as applyMerge. The bracket characters are the
    // encoding's reserved alphabet — valid for this corpus's alnum
    // tokens; the Spark side has no such reservation (it merges arrays).
    "q114_bpe_pairs" ->
      """WITH t AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        | w AS (SELECT unnest(ws) AS w FROM t),
        | c AS (SELECT list_transform(range(1, length(w)+1), i -> w[i]) AS cs
        |       FROM w WHERE length(w) > 0),
        | p AS (SELECT unnest(list_zip(cs[1:len(cs)-1], cs[2:len(cs)])) AS pr FROM c),
        | pc AS (SELECT pr[1] AS a, pr[2] AS b, count(*) AS cnt
        |        FROM p WHERE pr[1] IS NOT NULL AND pr[2] IS NOT NULL GROUP BY 1,2)
        |SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM pc
        |ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin,
    "q146_bpe_encode" -> q146OracleSql,
    "q115_bpe_learn" -> BpeOracle.sql(
      """SELECT doc_id,
        |  CAST(coalesce(list_sum(list_transform(syms, s -> len(s))), 0) AS BIGINT) AS n_symbols,
        |  array_to_string(list_transform(syms, s -> array_to_string(s, ' ')), ' ') AS text_bpe
        |FROM f""".stripMargin),
    "q132_bpe_fertility" -> BpeOracle.sql(
      """ c AS (SELECT f.doc_id, d.lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(d.text)), '\s+'),
        |                         w -> length(w) > 0)) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(list_sum(list_transform(
        |      list_filter(regexp_split_to_array(lower(trim(d.text)), '\s+'),
        |                  w -> length(w) > 0), w -> length(w))), 0) AS BIGINT) AS n_chars,
        |    CAST(coalesce(list_sum(list_transform(f.syms, s -> len(s))), 0) AS BIGINT) AS n_symbols
        |   FROM f JOIN documents d USING (doc_id))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(sum(n_symbols) AS BIGINT) AS n_symbols,
        |  CASE WHEN sum(n_tokens) > 0
        |       THEN round(CAST(sum(n_symbols) AS DOUBLE) / sum(n_tokens), 4) END AS fertility,
        |  CASE WHEN sum(n_chars) > 0
        |       THEN round(CAST(sum(n_symbols) AS DOUBLE) / sum(n_chars), 4) END AS compression
        |FROM c GROUP BY 1""".stripMargin, continued = true),
    "q113_dsir" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS is_t,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | g AS (SELECT doc_id, is_t,
        |   unnest(list_transform(range(0, greatest(len(ws)-1, 0)),
        |     i -> array_to_string(ws[i+1:i+2], ' '))) AS g FROM t),
        | v AS (SELECT g, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
        |              sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
        |       FROM g GROUP BY g),
        | tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM v),
        | pd AS (SELECT doc_id, g, count(*) AS ng FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(ng) AS BIGINT) AS n_grams,
        | round(sum(ng * (ln((ct+1)/CAST(nt+v AS DOUBLE))
        |               - ln((cr+1)/CAST(nr+v AS DOUBLE)))) / sum(ng), 4) AS logw
        |FROM pd JOIN v USING (g) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,
    "q111_gopher_rules" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws,
        |   CAST(len(regexp_extract_all(text, '#')) +
        |        len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_symbols
        |  FROM documents),
        | c AS (SELECT doc_id,
        |   CAST(len(ws) AS BIGINT) AS n_words,
        |   CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS n_word_chars,
        |   CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha_words,
        |   n_symbols,
        |   CAST(len(list_filter(ws, w -> list_contains(
        |     ['the','be','to','of','and','that','have','with'], w))) AS BIGINT) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_symbols, n_stopwords,
        | (n_words BETWEEN 50 AND 100000) AS ok_word_count,
        | (3*n_words <= n_word_chars AND n_word_chars <= 10*n_words) AS ok_word_len,
        | (5*n_alpha_words >= 4*n_words) AS ok_alpha,
        | (10*n_symbols <= n_words) AS ok_symbol,
        | (n_stopwords >= 2) AS ok_stop,
        | ((n_words BETWEEN 50 AND 100000)
        |   AND 3*n_words <= n_word_chars AND n_word_chars <= 10*n_words
        |   AND 5*n_alpha_words >= 4*n_words
        |   AND 10*n_symbols <= n_words
        |   AND n_stopwords >= 2) AS pass
        |FROM c""".stripMargin,
    "q104_decontam_scrub" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |   FROM documents WHERE doc_id % 17 <> 0),
        | ev AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id % 17 = 0),
        | e AS (SELECT DISTINCT
        |   unnest(list_transform(range(0, greatest(len(ws)-12, 0)),
        |     i -> array_to_string(ws[i+1:i+13], ' '))) AS g FROM ev),
        | g0 AS (SELECT doc_id,
        |   unnest(list_transform(range(0, greatest(len(ws)-12, 0)),
        |     i -> array_to_string(ws[i+1:i+13], ' '))) AS g,
        |   unnest(range(0, greatest(len(ws)-12, 0))) AS i FROM t),
        | cov AS (SELECT DISTINCT g0.doc_id, g0.i + x.o AS p
        |         FROM g0 JOIN e USING (g)
        |         CROSS JOIN (SELECT unnest(range(0, 13)) AS o) x),
        | tok AS (SELECT doc_id, unnest(ws) AS w,
        |         unnest(range(0, len(ws))) AS p FROM t),
        | kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok
        |          LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |          WHERE cov.p IS NULL),
        | k AS (SELECT doc_id, count(*) AS nk,
        |        string_agg(w, ' ' ORDER BY p) AS txt FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        | CAST(len(t.ws) - coalesce(k.nk, 0) AS BIGINT) AS n_removed,
        | coalesce(k.txt, '') AS text_clean
        |FROM t LEFT JOIN k USING (doc_id)""".stripMargin,
    "q103_template_scrub" ->
      """WITH t AS (SELECT doc_id, source,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | g0 AS (SELECT doc_id, source,
        |   unnest(list_transform(range(0, greatest(len(ws)-4, 0)),
        |     i -> array_to_string(ws[i+1:i+5], ' '))) AS g,
        |   unnest(range(0, greatest(len(ws)-4, 0))) AS i FROM t),
        | c AS (SELECT source, g, count(*) AS n_docs
        |       FROM (SELECT DISTINCT doc_id, source, g FROM g0) GROUP BY 1, 2),
        | sd AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
        | tm AS (SELECT c.source, c.g FROM c JOIN sd USING (source)
        |        WHERE c.n_docs >= 2 AND c.n_docs * 100 >= 8 * sd.n_src),
        | cov AS (SELECT DISTINCT g0.doc_id, g0.i + x.o AS p
        |         FROM g0 JOIN tm ON g0.source = tm.source AND g0.g = tm.g
        |         CROSS JOIN (SELECT unnest(range(0, 5)) AS o) x),
        | tok AS (SELECT doc_id, unnest(ws) AS w,
        |         unnest(range(0, len(ws))) AS p FROM t),
        | kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok
        |          LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |          WHERE cov.p IS NULL),
        | k AS (SELECT doc_id, count(*) AS nk,
        |        string_agg(w, ' ' ORDER BY p) AS txt FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        | CAST(len(t.ws) - coalesce(k.nk, 0) AS BIGINT) AS n_removed,
        | coalesce(k.txt, '') AS text_clean
        |FROM t LEFT JOIN k USING (doc_id)""".stripMargin,
    "q102_templates" ->
      """WITH t AS (SELECT doc_id, source,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | g0 AS (SELECT doc_id, source,
        |   unnest(list_transform(range(0, greatest(len(ws)-4, 0)),
        |     i -> array_to_string(ws[i+1:i+5], ' '))) AS g FROM t),
        | g AS (SELECT DISTINCT doc_id, source, g FROM g0),
        | c AS (SELECT source, g, count(*) AS n_docs FROM g GROUP BY 1, 2),
        | sd AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
        | f AS (SELECT c.source, c.g, c.n_docs, sd.n_src
        |       FROM c JOIN sd USING (source)
        |       WHERE c.n_docs >= 2 AND c.n_docs * 100 >= 8 * sd.n_src),
        | r AS (SELECT source, g, n_docs, n_src, row_number() OVER
        |        (PARTITION BY source ORDER BY n_docs DESC, g) AS rk FROM f)
        |SELECT source, g AS span, CAST(n_docs AS BIGINT) AS n_docs,
        | round(CAST(n_docs AS DOUBLE) / n_src, 4) AS incidence
        |FROM r WHERE rk <= 3""".stripMargin,
    "q101_span_scrub" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | g0 AS (SELECT doc_id,
        |   unnest(list_transform(range(0, greatest(len(ws)-4, 0)),
        |     i -> array_to_string(ws[i+1:i+5], ' '))) AS g,
        |   unnest(range(0, greatest(len(ws)-4, 0))) AS i FROM t),
        | d AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM g0)
        |       GROUP BY g HAVING count(*) >= 2),
        | cov AS (SELECT DISTINCT g0.doc_id, g0.i + x.o AS p
        |         FROM g0 JOIN d USING (g)
        |         CROSS JOIN (SELECT unnest(range(0, 5)) AS o) x),
        | tok AS (SELECT doc_id, unnest(ws) AS w,
        |         unnest(range(0, len(ws))) AS p FROM t),
        | kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok
        |          LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |          WHERE cov.p IS NULL),
        | k AS (SELECT doc_id, count(*) AS nk,
        |        string_agg(w, ' ' ORDER BY p) AS txt FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        | CAST(len(t.ws) - coalesce(k.nk, 0) AS BIGINT) AS n_removed,
        | coalesce(k.txt, '') AS text_clean
        |FROM t LEFT JOIN k USING (doc_id)""".stripMargin,
    "q140_keepfirst_scrub" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | g0 AS (SELECT doc_id,
        |   unnest(list_transform(range(0, greatest(len(ws)-7, 0)),
        |     i -> array_to_string(ws[i+1:i+8], ' '))) AS g,
        |   unnest(range(0, greatest(len(ws)-7, 0))) AS i FROM t),
        | f AS (SELECT g, min(struct_pack(d := doc_id, p := i)) AS fst
        |       FROM g0 GROUP BY g HAVING count(*) >= 2),
        | rest AS (SELECT g0.doc_id, g0.i FROM g0 JOIN f USING (g)
        |          WHERE NOT (g0.doc_id = f.fst.d AND g0.i = f.fst.p)),
        | cov AS (SELECT DISTINCT rest.doc_id, rest.i + x.o AS p
        |         FROM rest CROSS JOIN (SELECT unnest(range(0, 8)) AS o) x),
        | tok AS (SELECT doc_id, unnest(ws) AS w,
        |         unnest(range(0, len(ws))) AS p FROM t),
        | kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok
        |          LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |          WHERE cov.p IS NULL),
        | k AS (SELECT doc_id, count(*) AS nk,
        |        string_agg(w, ' ' ORDER BY p) AS txt FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        | CAST(len(t.ws) - coalesce(k.nk, 0) AS BIGINT) AS n_removed,
        | coalesce(k.txt, '') AS text_clean
        |FROM t LEFT JOIN k USING (doc_id)""".stripMargin,
    "q141_fim_transform" ->
      """WITH t AS (SELECT doc_id, text,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | c AS (SELECT doc_id, text, ws, len(ws) AS n,
        |   (len(ws) >= 3 AND
        |    ('0x'||substr(md5('fim:'||text),1,8))::BIGINT % 2 = 0) AS app,
        |   CASE WHEN len(ws) >= 3 THEN
        |     1 + ('0x'||substr(md5('fima:'||text),1,8))::BIGINT % (len(ws)-2)
        |   END AS a0 FROM t),
        | c2 AS (SELECT *, CASE WHEN app THEN
        |     a0 + 1 + ('0x'||substr(md5('fimb:'||text),1,8))::BIGINT % (n-1-a0)
        |   END AS b0 FROM c)
        |SELECT doc_id,
        | CASE WHEN app THEN 'psm' ELSE 'plain' END AS mode,
        | CAST(n AS BIGINT) AS n_tokens,
        | CASE WHEN app THEN CAST(a0 AS BIGINT) END AS cut_a,
        | CASE WHEN app THEN CAST(b0 AS BIGINT) END AS cut_b,
        | CASE WHEN app THEN
        |   '<PRE> '||array_to_string(ws[1:a0], ' ')||
        |   ' <SUF> '||array_to_string(ws[b0+1:n], ' ')||
        |   ' <MID> '||array_to_string(ws[a0+1:b0], ' ')
        |  ELSE array_to_string(ws, ' ') END AS text_fim
        |FROM c2""".stripMargin,
    "q142_span_corruption" ->
      """WITH t AS (SELECT doc_id, text,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | c AS (SELECT doc_id, text, ws, len(ws) AS n,
        |   greatest(1, (len(ws)*15) // 300) AS m FROM t),
        | c2 AS (SELECT *, n // m AS seg, n >= 3 AS elig FROM c),
        | sp AS (SELECT doc_id, ws, n, m, seg, elig,
        |   CASE WHEN elig THEN list_transform(range(0, m), j ->
        |     j*seg + ('0x'||substr(md5('sc:'||text||':'||CAST(j AS VARCHAR)),1,8))::BIGINT
        |       % (seg - 2)) END AS ss FROM c2)
        |SELECT doc_id,
        | CASE WHEN elig THEN 't5' ELSE 'plain' END AS mode,
        | CAST(n AS BIGINT) AS n_tokens,
        | CASE WHEN elig THEN CAST(m AS BIGINT) END AS n_spans,
        | CASE WHEN elig THEN array_to_string(
        |   flatten(list_transform(range(0, m), j ->
        |     ws[j*seg+1 : ss[j+1]]
        |     || ['<X'||CAST(j AS VARCHAR)||'>']
        |     || ws[ss[j+1]+4 : (j+1)*seg]))
        |   || ws[m*seg+1 : n], ' ')
        |  ELSE array_to_string(ws, ' ') END AS inputs,
        | CASE WHEN elig THEN array_to_string(
        |   flatten(list_transform(range(0, m), j ->
        |     ['<X'||CAST(j AS VARCHAR)||'>'] || ws[ss[j+1]+1 : ss[j+1]+3]))
        |   || ['<X'||CAST(m AS VARCHAR)||'>'], ' ')
        | END AS targets
        |FROM sp""".stripMargin,
    "q100_collocations" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | tok AS (SELECT doc_id, unnest(ws) AS w,
        |          unnest(range(1, len(ws)+1)) AS i FROM t),
        | tk AS (SELECT doc_id, w, i FROM tok WHERE length(w) > 0),
        | nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok FROM tk),
        | u AS (SELECT w, count(*) AS cw FROM tk GROUP BY 1),
        | p0 AS (SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb
        |        FROM tk a JOIN tk b
        |        ON a.doc_id = b.doc_id AND b.i BETWEEN a.i+1 AND a.i+4),
        | pc AS (SELECT wa, wb, count(*) AS cab FROM p0 GROUP BY 1, 2),
        | np AS (SELECT CAST(sum(cab) AS DOUBLE) AS n_pair FROM pc),
        | s AS (SELECT pc.wa, pc.wb, CAST(pc.cab AS BIGINT) AS cab,
        |        round(ln((pc.cab / np.n_pair) /
        |          ((ua.cw / nt.n_tok) * (ub.cw / nt.n_tok))), 4) AS pmi
        |       FROM pc JOIN u ua ON ua.w = pc.wa JOIN u ub ON ub.w = pc.wb
        |       CROSS JOIN np CROSS JOIN nt
        |       WHERE pc.cab >= 5)
        |SELECT wa, wb, cab, pmi FROM s ORDER BY pmi DESC, wa, wb LIMIT 50""".stripMargin,
    "q99_source_overlap" ->
      """WITH t AS (SELECT source, lower(trim(text)) AS tx FROM documents),
        | g0 AS (SELECT source, unnest(list_transform(
        |   range(0, greatest(len(regexp_split_to_array(tx, '\s+'))-4, 0)),
        |   i -> array_to_string((regexp_split_to_array(tx, '\s+'))[i+1:i+5], ' '))) AS g
        |  FROM t),
        | g AS (SELECT DISTINCT source, g FROM g0),
        | n AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
        | p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
        |       FROM g a JOIN g b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, CAST(p.shared AS BIGINT) AS n_shared,
        | round(CAST(p.shared AS DOUBLE) / least(na.n_grams, nb.n_grams), 4) AS containment
        |FROM p JOIN n na ON na.source = p.source_a
        |JOIN n nb ON nb.source = p.source_b""".stripMargin,
    "q97_corpus_card" ->
      """WITH m AS (
        |  SELECT source, lang,
        |   CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_tokens,
        |   round(least(CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE)/100.0, 1.0)*0.5
        |   + (CAST(len(regexp_extract_all(' '||lower(text)||' ', ' (the|a|of|and|to|in|is) ')) AS DOUBLE)
        |      / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE))*0.3
        |   + (1.0 - CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE))*0.2, 4) AS quality,
        |   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        | round(quantile_cont(n_tokens, 0.5), 4) AS median_tokens,
        | round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
        | round(quantile_cont(quality, 0.5), 5) AS median_quality,
        | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        | CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_fp
        |FROM m GROUP BY source""".stripMargin,
    "q96_keep_best" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS wl FROM documents),
        | sh AS (
        |  SELECT doc_id, lang, list_distinct(list_transform(range(1, len(wl)-1),
        |    i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2])) AS shl FROM t),
        | sz AS (SELECT doc_id, len(shl) AS sz FROM sh),
        | ex AS (SELECT doc_id, lang, unnest(shl) AS s FROM sh),
        | inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM ex a JOIN ex b ON a.s=b.s AND a.lang=b.lang AND a.doc_id<b.doc_id
        |  GROUP BY 1, 2),
        | pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sz sa ON sa.doc_id=a_id JOIN sz sb ON sb.doc_id=b_id
        |  WHERE CAST(inter AS DOUBLE)/(sa.sz+sb.sz-inter) >= 0.8),
        | edges AS (SELECT a_id AS u, b_id AS v FROM pairs
        |           UNION SELECT b_id, a_id FROM pairs),
        | reach AS (
        |  SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u),
        | comp AS (SELECT u AS doc_id, min(label) AS cluster_rep FROM reach GROUP BY u),
        | lab AS (SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep
        |         FROM documents d LEFT JOIN comp c USING (doc_id)),
        | m AS (SELECT doc_id,
        |   round(least(CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE)/100.0, 1.0)*0.5
        |   + (CAST(len(regexp_extract_all(' '||lower(text)||' ', ' (the|a|of|and|to|in|is) ')) AS DOUBLE)
        |      / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE))*0.3
        |   + (1.0 - CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE))*0.2, 4) AS quality
        |  FROM documents),
        | j AS (SELECT lab.cluster_rep, lab.doc_id, m.quality
        |       FROM lab JOIN m USING (doc_id)),
        | r AS (SELECT cluster_rep, doc_id, quality,
        |        row_number() OVER (PARTITION BY cluster_rep
        |                           ORDER BY quality DESC, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY cluster_rep) AS nm FROM j)
        |SELECT cluster_rep, CAST(nm AS BIGINT) AS n_members,
        | quality AS keep_quality, doc_id AS keep_id
        |FROM r WHERE rk = 1""".stripMargin,
    "q94_dedup_components" -> (DedupClosureCte +
      """
        |SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep,
        | (coalesce(c.cluster_rep, d.doc_id) = d.doc_id) AS is_keeper
        |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin),
    "q90_span_dupfrac" ->
      """WITH t AS (SELECT doc_id,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        | g0 AS (SELECT doc_id, unnest(list_transform(
        |   range(0, greatest(len(ws)-4, 0)),
        |   i -> array_to_string(ws[i+1:i+5], ' '))) AS g FROM t),
        | g AS (SELECT DISTINCT doc_id, g FROM g0),
        | c AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        | round(avg(CASE WHEN c.g IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS dup_frac
        |FROM g LEFT JOIN c USING (g) GROUP BY g.doc_id""".stripMargin,
    "q91_unigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        | t2 AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
        | v AS (SELECT w, count(*) AS nw FROM t2 GROUP BY 1),
        | n AS (SELECT CAST(sum(nw) AS DOUBLE) AS total FROM v),
        | p AS (SELECT v.w, ln(CAST(v.nw AS DOUBLE)) - ln(n.total) AS lnp
        |       FROM v CROSS JOIN n),
        | dc AS (SELECT doc_id, w, count(*) AS n FROM t2 GROUP BY 1, 2)
        |SELECT dc.doc_id, CAST(sum(dc.n) AS BIGINT) AS n_tokens,
        | round(-sum(dc.n * p.lnp) / sum(dc.n), 4) AS nll
        |FROM dc JOIN p USING (w) GROUP BY dc.doc_id""".stripMargin,
    "q125_surprise_tail" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        | t2 AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
        | v AS (SELECT w, count(*) AS nw FROM t2 GROUP BY 1),
        | n AS (SELECT CAST(sum(nw) AS DOUBLE) AS total FROM v),
        | p AS (SELECT v.w, ln(CAST(v.nw AS DOUBLE)) - ln(n.total) AS lnp
        |       FROM v CROSS JOIN n),
        | dc AS (SELECT doc_id, w, count(*) AS n FROM t2 GROUP BY 1, 2),
        | dj AS (SELECT dc.doc_id, dc.w, dc.n, p.lnp FROM dc JOIN p USING (w)),
        | tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |          sum(n * lnp) AS sum_lnp FROM dj GROUP BY 1),
        | m AS (SELECT doc_id, n_tokens, sum_lnp,
        |        CAST(floor((20 * n_tokens + 99) / 100.0) AS BIGINT) AS n_tail
        |       FROM tot),
        | c AS (SELECT doc_id, w, n, lnp,
        |        sum(n) OVER (PARTITION BY doc_id ORDER BY lnp ASC, w ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM dj),
        | tl AS (SELECT c.doc_id,
        |         sum(greatest(0, least(c.n, m.n_tail - (c.cum - c.n))) * c.lnp)
        |           AS tail_lnp
        |        FROM c JOIN m USING (doc_id) GROUP BY 1)
        |SELECT m.doc_id, m.n_tokens, m.n_tail,
        | round(-tl.tail_lnp / m.n_tail, 4) AS tail_nll,
        | round(-m.sum_lnp / m.n_tokens, 4) AS nll,
        | round((tl.tail_lnp / m.n_tail) / (m.sum_lnp / m.n_tokens), 4)
        |   AS tail_ratio
        |FROM m JOIN tl USING (doc_id)""".stripMargin,
    "q92_quality_psi" ->
      """WITH m AS (
        |  SELECT source,
        |   round(least(CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE)/100.0, 1.0)*0.5
        |   + (CAST(len(regexp_extract_all(' '||lower(text)||' ', ' (the|a|of|and|to|in|is) ')) AS DOUBLE)
        |      / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE))*0.3
        |   + (1.0 - CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE))*0.2, 4) AS quality,
        |   CASE WHEN ('0x' || substr(md5('psi:' || text), 1, 8))::BIGINT % 1000 < 500
        |        THEN 'ref' ELSE 'cur' END AS split
        |  FROM documents),
        | b AS (SELECT source, split, least(CAST(floor(quality*10) AS INT), 9) AS bin,
        |        count(*) AS n FROM m GROUP BY 1, 2, 3),
        | t AS (SELECT source, split, sum(n) AS tot FROM b GROUP BY 1, 2),
        | p AS (SELECT b.source, b.split, b.bin, CAST(b.n AS DOUBLE)/t.tot AS p
        |       FROM b JOIN t USING (source, split)),
        | r AS (SELECT source, bin, p AS pr FROM p WHERE split='ref'),
        | c AS (SELECT source, bin, p AS pc FROM p WHERE split='cur'),
        | j AS (SELECT coalesce(r.source, c.source) AS source,
        |        greatest(coalesce(pr, 1e-6), 1e-6) AS pr,
        |        greatest(coalesce(pc, 1e-6), 1e-6) AS pc
        |       FROM r FULL JOIN c ON r.source = c.source AND r.bin = c.bin),
        | s AS (SELECT source, round(sum((pc - pr) * ln(pc / pr)), 4) AS psi
        |       FROM j GROUP BY 1),
        | ns AS (SELECT source,
        |        CAST(sum(CASE WHEN split='ref' THEN n ELSE 0 END) AS BIGINT) AS n_ref,
        |        CAST(sum(CASE WHEN split='cur' THEN n ELSE 0 END) AS BIGINT) AS n_cur
        |       FROM b GROUP BY 1)
        |SELECT ns.source, ns.n_ref, ns.n_cur, s.psi FROM ns JOIN s USING (source)""".stripMargin,
    "q93_token_budget" ->
      """WITH m AS (
        |  SELECT doc_id, source,
        |   round(least(CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE)/100.0, 1.0)*0.5
        |   + (CAST(len(regexp_extract_all(' '||lower(text)||' ', ' (the|a|of|and|to|in|is) ')) AS DOUBLE)
        |      / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE))*0.3
        |   + (1.0 - CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE))*0.2, 4) AS quality,
        |   CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | bd AS (SELECT doc_id, source, quality, n_tokens,
        |         least(CAST(floor(quality*1000) AS INT), 999) AS bin FROM m),
        | b AS (SELECT source, bin, sum(n_tokens) AS btok FROM bd GROUP BY 1, 2),
        | cum AS (SELECT source, bin,
        |          sum(btok) OVER (PARTITION BY source ORDER BY bin DESC) AS cumtok FROM b),
        | cut AS (SELECT source, min(bin) AS cutoff FROM cum WHERE cumtok <= 800 GROUP BY 1)
        |SELECT bd.doc_id, bd.source, bd.quality, bd.n_tokens
        |FROM bd JOIN cut USING (source) WHERE bd.bin >= cut.cutoff""".stripMargin,
    "q89_temp_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        | t AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
        |        sum(sqrt(CAST(n AS DOUBLE))) AS wsum FROM c),
        | r AS (SELECT c.source,
        |        round(least(1.0, 0.5 * t.total * sqrt(CAST(c.n AS DOUBLE))
        |          / (t.wsum * CAST(c.n AS DOUBLE))), 6) AS keep_rate
        |       FROM c CROSS JOIN t)
        |SELECT d.doc_id, d.source, r.keep_rate
        |FROM documents d JOIN r USING (source)
        |WHERE ('0x' || substr(md5('temp:' || d.text), 1, 8))::BIGINT % 1000000
        |      < r.keep_rate * 1000000""".stripMargin,
    "q86_bloom_gate" ->
      """WITH fps AS (
        |  SELECT doc_id,
        |   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents)
        |SELECT b.doc_id, b.fp
        |FROM fps b
        |WHERE b.doc_id % 3 = 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM fps c WHERE c.doc_id % 3 <> 0 AND c.fp = b.fp)""".stripMargin,
    "q87_word_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        | t2 AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
        | c AS (SELECT doc_id, w, count(*) AS n FROM t2 GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        | round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 4) AS entropy
        |FROM c GROUP BY doc_id""".stripMargin,
    "q88_curriculum_decile" ->
      """WITH m AS (
        |  SELECT doc_id, round(
        |   least(CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE)/100.0, 1.0)*0.5
        |   + (CAST(len(regexp_extract_all(' '||lower(text)||' ', ' (the|a|of|and|to|in|is) ')) AS DOUBLE)
        |      / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE))*0.3
        |   + (1.0 - CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE))*0.2, 4) AS quality
        |  FROM documents),
        | r AS (
        |  SELECT doc_id, quality,
        |   CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT) AS curriculum_rank,
        |   count(*) OVER () AS total
        |  FROM m)
        |SELECT doc_id, quality, curriculum_rank,
        | CAST(((curriculum_rank - 1) * 10) // total + 1 AS BIGINT) AS decile
        |FROM r""".stripMargin,
    "q85_corpus_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('r13:' || CAST(doc_id AS VARCHAR)), doc_id
        |  ) AS BIGINT) AS shuffle_rank
        |FROM documents""".stripMargin,
    "q78_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), toks2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS n FROM toks2 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS len FROM toks2 GROUP BY 1),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM toks2),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round((tf.n * 1.0 / dl.len) * ln(nd.nd * 1.0 / dfc.df), 6) AS score
        |  FROM tf JOIN dl USING (doc_id) JOIN dfc USING (term) CROSS JOIN nd
        |), ranked AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM scored
        |)
        |SELECT doc_id, term, score, rk FROM ranked WHERE rk <= 3""".stripMargin,
    // q151: the corpus-only BM25 frame ranked per TERM — the
    // impact-sorted posting list, integer-exact end to end (r19: query
    // docs excluded, the artifact q152/impactSearchServe serve through)
    "q151_impact_index" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |  WHERE doc_id >= $LexQueryDocs
        |), toks2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS n FROM toks2 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS len FROM toks2 GROUP BY 1),
        |stats AS (SELECT count(*) AS nd, avg(len) AS avgl FROM dl),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |su AS (SELECT tf.doc_id, tf.term,
        |  CAST(round(ln((nd - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
        |    * (tf.n * 2.2) / (tf.n + 1.2 * (0.25 + 0.75 * dl.len / avgl))
        |    * 1000000.0) AS BIGINT) AS score_u
        |  FROM tf JOIN dl USING (doc_id) JOIN dfc USING (term) CROSS JOIN stats)
        |SELECT term, doc_id, score_u, rk FROM (
        |  SELECT term, doc_id, score_u,
        |   row_number() OVER (PARTITION BY term ORDER BY score_u DESC, doc_id) AS rk
        |  FROM su) WHERE rk <= 16""".stripMargin,
    // q152: the q151 (corpus-only) postings ranked per query bag vs the
    // UNPRUNED scoring over the same bag as the exact_rk instrument —
    // the impact-pruning recall read, integer-exact end to end. r19:
    // query docs score against the CORPUS context (df/nd/avgl from
    // doc_id >= LexQueryDocs), the serving semantics — a query-only
    // term has no df row, hence no bag slot (it has no postings either)
    "q152_impact_search" ->
      s"""WITH ctoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |  WHERE doc_id >= $LexQueryDocs
        |), ctoks2 AS (SELECT doc_id, term FROM ctoks WHERE length(term) > 0),
        |ctf AS (SELECT doc_id, term, count(*) AS n FROM ctoks2 GROUP BY 1, 2),
        |cdl AS (SELECT doc_id, count(*) AS len FROM ctoks2 GROUP BY 1),
        |stats AS (SELECT count(*) AS nd, avg(len) AS avgl FROM cdl),
        |dfc AS (SELECT term, count(*) AS df FROM ctf GROUP BY 1),
        |csu AS (SELECT ctf.doc_id, ctf.term,
        |  CAST(round(ln((nd - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
        |    * (ctf.n * 2.2) / (ctf.n + 1.2 * (0.25 + 0.75 * cdl.len / avgl))
        |    * 1000000.0) AS BIGINT) AS score_u
        |  FROM ctf JOIN cdl USING (doc_id) JOIN dfc USING (term) CROSS JOIN stats),
        |qtoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |  WHERE doc_id < $LexQueryDocs
        |), qtoks2 AS (SELECT doc_id, term FROM qtoks WHERE length(term) > 0),
        |qtf AS (SELECT doc_id, term, count(*) AS n FROM qtoks2 GROUP BY 1, 2),
        |qdl AS (SELECT doc_id, count(*) AS len FROM qtoks2 GROUP BY 1),
        |qsu AS (SELECT qtf.doc_id, qtf.term,
        |  CAST(round(ln((nd - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
        |    * (qtf.n * 2.2) / (qtf.n + 1.2 * (0.25 + 0.75 * qdl.len / avgl))
        |    * 1000000.0) AS BIGINT) AS score_u
        |  FROM qtf JOIN qdl USING (doc_id) JOIN dfc USING (term) CROSS JOIN stats),
        |qbag AS (SELECT doc_id AS q_id, term FROM (
        |  SELECT doc_id, term,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, term) AS qrk
        |  FROM qsu) WHERE qrk <= 10),
        |post AS (SELECT term, doc_id AS c_id, score_u FROM (
        |  SELECT term, doc_id, score_u,
        |   row_number() OVER (PARTITION BY term ORDER BY score_u DESC, doc_id) AS prk
        |  FROM csu) WHERE prk <= 16),
        |ps AS (SELECT qbag.q_id, post.c_id,
        |        CAST(sum(post.score_u) AS BIGINT) AS lex_u
        |       FROM post JOIN qbag USING (term) GROUP BY 1, 2),
        |pruned AS (SELECT q_id, c_id, lex_u, rk FROM (
        |  SELECT q_id, c_id, lex_u,
        |   row_number() OVER (PARTITION BY q_id ORDER BY lex_u DESC, c_id) AS rk
        |  FROM ps) WHERE rk <= 10),
        |lexs AS (SELECT qbag.q_id, csu.doc_id AS c_id, sum(csu.score_u) AS lex_u
        |  FROM csu JOIN qbag USING (term) GROUP BY 1, 2),
        |ex AS (SELECT q_id, c_id, rk AS exact_rk FROM (
        |  SELECT q_id, c_id,
        |   row_number() OVER (PARTITION BY q_id ORDER BY lex_u DESC, c_id) AS rk
        |  FROM lexs) WHERE rk <= 10)
        |SELECT p.q_id, p.c_id, p.lex_u, p.rk, ex.exact_rk
        |FROM pruned p LEFT JOIN ex ON p.q_id = ex.q_id AND p.c_id = ex.c_id""".stripMargin,
    // q153: the pure-SQL CALL surface serves the same pruned read as
    // q152 minus the exact-rk instrument — the oracle is q152's with the
    // instrument CTEs dropped (build defaults: topPerTerm 16, qTerms 10,
    // k 10, the store frozen over the corpus split)
    "q153_sql_impact" ->
      s"""WITH ctoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |  WHERE doc_id >= $LexQueryDocs
        |), ctoks2 AS (SELECT doc_id, term FROM ctoks WHERE length(term) > 0),
        |ctf AS (SELECT doc_id, term, count(*) AS n FROM ctoks2 GROUP BY 1, 2),
        |cdl AS (SELECT doc_id, count(*) AS len FROM ctoks2 GROUP BY 1),
        |stats AS (SELECT count(*) AS nd, avg(len) AS avgl FROM cdl),
        |dfc AS (SELECT term, count(*) AS df FROM ctf GROUP BY 1),
        |csu AS (SELECT ctf.doc_id, ctf.term,
        |  CAST(round(ln((nd - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
        |    * (ctf.n * 2.2) / (ctf.n + 1.2 * (0.25 + 0.75 * cdl.len / avgl))
        |    * 1000000.0) AS BIGINT) AS score_u
        |  FROM ctf JOIN cdl USING (doc_id) JOIN dfc USING (term) CROSS JOIN stats),
        |qtoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |  WHERE doc_id < $LexQueryDocs
        |), qtoks2 AS (SELECT doc_id, term FROM qtoks WHERE length(term) > 0),
        |qtf AS (SELECT doc_id, term, count(*) AS n FROM qtoks2 GROUP BY 1, 2),
        |qdl AS (SELECT doc_id, count(*) AS len FROM qtoks2 GROUP BY 1),
        |qsu AS (SELECT qtf.doc_id, qtf.term,
        |  CAST(round(ln((nd - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
        |    * (qtf.n * 2.2) / (qtf.n + 1.2 * (0.25 + 0.75 * qdl.len / avgl))
        |    * 1000000.0) AS BIGINT) AS score_u
        |  FROM qtf JOIN qdl USING (doc_id) JOIN dfc USING (term) CROSS JOIN stats),
        |qbag AS (SELECT doc_id AS q_id, term FROM (
        |  SELECT doc_id, term,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, term) AS qrk
        |  FROM qsu) WHERE qrk <= 10),
        |post AS (SELECT term, doc_id AS c_id, score_u FROM (
        |  SELECT term, doc_id, score_u,
        |   row_number() OVER (PARTITION BY term ORDER BY score_u DESC, doc_id) AS prk
        |  FROM csu) WHERE prk <= 16),
        |ps AS (SELECT qbag.q_id, post.c_id,
        |        CAST(sum(post.score_u) AS BIGINT) AS lex_u
        |       FROM post JOIN qbag USING (term) GROUP BY 1, 2)
        |SELECT q_id, c_id, lex_u, rk FROM (
        |  SELECT q_id, c_id, lex_u,
        |   row_number() OVER (PARTITION BY q_id ORDER BY lex_u DESC, c_id) AS rk
        |  FROM ps) WHERE rk <= 10""".stripMargin,
    "q145_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), toks2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS n FROM toks2 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS len FROM toks2 GROUP BY 1),
        |stats AS (SELECT count(*) AS nd, avg(len) AS avgl FROM dl),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(
        |      ln((nd - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
        |        * (tf.n * 2.2)
        |        / (tf.n + 1.2 * (0.25 + 0.75 * dl.len / avgl)), 6) AS score
        |  FROM tf JOIN dl USING (doc_id) JOIN dfc USING (term) CROSS JOIN stats
        |), ranked AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM scored
        |)
        |SELECT doc_id, term, score, rk FROM ranked WHERE rk <= 3""".stripMargin,
    "q69_quality_gate" ->
      """WITH m AS (
        |  SELECT doc_id,
        |   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS words,
        |   CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS DOUBLE) AS dw,
        |   CAST(len(regexp_extract_all(' ' || lower(text) || ' ',
        |     ' (the|a|of|and|to|in|is) ')) AS DOUBLE) AS stops,
        |   CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS punct,
        |   CAST(length(text) AS DOUBLE) AS chars
        |  FROM documents)
        |SELECT doc_id,
        | words < 15 AS too_short,
        | dw / words < 0.5 AS low_diversity,
        | stops / words < 0.01 AS low_stopword,
        | punct / chars > 0.1 AS high_punct,
        | NOT (words < 15 OR dw / words < 0.5 OR stops / words < 0.01
        |      OR punct / chars > 0.1) AS keep
        |FROM m""".stripMargin,
    "q133_gate_health" ->
      """WITH m AS (
        |  SELECT source,
        |   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS words,
        |   CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS DOUBLE) AS dw,
        |   CAST(len(regexp_extract_all(' ' || lower(text) || ' ',
        |     ' (the|a|of|and|to|in|is) ')) AS DOUBLE) AS stops,
        |   CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS punct,
        |   CAST(length(text) AS DOUBLE) AS chars
        |  FROM documents),
        | k AS (SELECT source,
        |   NOT (words < 15 OR dw / words < 0.5 OR stops / words < 0.01
        |        OR punct / chars > 0.1) AS keep FROM m),
        | g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |       FROM k GROUP BY 1)
        |SELECT source, n_docs, n_pass,
        | round(CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE), 4) AS pass_rate,
        | round((CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |         + 1.96 * 1.96 / (2.0 * CAST(n_docs AS DOUBLE))
        |       - 1.96 * sqrt(CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |           * (1.0 - CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |           / CAST(n_docs AS DOUBLE)
        |         + 1.96 * 1.96 / (4.0 * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))))
        |   / (1.0 + 1.96 * 1.96 / CAST(n_docs AS DOUBLE)), 4) AS wilson_lo,
        | round((CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |         + 1.96 * 1.96 / (2.0 * CAST(n_docs AS DOUBLE))
        |       + 1.96 * sqrt(CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |           * (1.0 - CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |           / CAST(n_docs AS DOUBLE)
        |         + 1.96 * 1.96 / (4.0 * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))))
        |   / (1.0 + 1.96 * 1.96 / CAST(n_docs AS DOUBLE)), 4) AS wilson_hi
        |FROM g""".stripMargin,
    "q70_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |   ('0x' || substr(md5('pack:' || text), 1, 8))::BIGINT % 16 AS shard
        |  FROM documents),
        | c AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |   sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard,
        | CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
        |FROM c""".stripMargin,
    "q65_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS wl
        |  FROM documents),
        | grams AS (
        |  SELECT doc_id, array_to_string(wl[i:i+12], ' ') AS g
        |  FROM toks, unnest(generate_series(1, greatest(len(wl) - 12, 0))) AS u(i)),
        | ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 0)
        |SELECT doc_id, count(DISTINCT g) AS n_shared_grams
        |FROM grams JOIN ev USING (g)
        |WHERE doc_id % 17 <> 0
        |GROUP BY doc_id""".stripMargin,
    "q123_eval_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS wl
        |  FROM documents),
        | grams AS (
        |  SELECT doc_id, array_to_string(wl[i:i+12], ' ') AS g
        |  FROM toks, unnest(generate_series(1, greatest(len(wl) - 12, 0))) AS u(i)),
        | ev AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 17 = 0),
        | tr AS (SELECT DISTINCT g FROM grams
        |        WHERE doc_id % 17 <> 0 AND g IN (SELECT g FROM ev)),
        | j AS (SELECT ev.doc_id,
        |        CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END AS hit
        |       FROM ev LEFT JOIN tr ON ev.g = tr.g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(hit) AS BIGINT) AS n_hit,
        | round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS containment,
        | (sum(hit) * 100 >= 50 * count(*)) AS contaminated
        |FROM j GROUP BY doc_id""".stripMargin,
    "q66_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS wl
        |  FROM documents),
        | grams AS (
        |  SELECT doc_id, array_to_string(wl[i:i+2], ' ') AS g
        |  FROM toks, unnest(generate_series(1, greatest(len(wl) - 2, 0))) AS u(i))
        |SELECT doc_id, count(*) AS n_grams, count(DISTINCT g) AS n_distinct,
        | round(1 - CAST(count(DISTINCT g) AS DOUBLE) / count(*), 4) AS rep_score
        |FROM grams GROUP BY doc_id""".stripMargin,
    "q67_pii_scrub" ->
      """SELECT event_id,
        | regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
        | CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_numeric,
        | CAST(len(regexp_extract_all(props,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails
        |FROM events""".stripMargin,
    "q68_stratified_sample" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |   row_number() OVER (PARTITION BY lang ORDER BY
        |     ('0x' || substr(md5('strat:' || text), 1, 8))::BIGINT, doc_id) AS rn
        |  FROM documents) s
        |WHERE rn <= 20""".stripMargin,
    "q76_source_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY ('0x' || substr(md5('cap:' || coalesce(text, '')), 1, 8))::BIGINT,
        |       doc_id) AS rn
        |  FROM documents) s
        |WHERE rn <= 10""".stripMargin,
    "q59_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |   CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS BIGINT) AS split_bucket
        |  FROM documents)
        |SELECT doc_id, split_bucket,
        | CASE WHEN split_bucket < 80 THEN 'train'
        |      WHEN split_bucket < 90 THEN 'valid'
        |      ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "q60_mixture_sample" ->
      """WITH b AS (
        |  SELECT lang,
        |   CAST(('0x' || substr(md5('mix:' || text), 1, 8))::BIGINT % 100 AS BIGINT) AS bkt
        |  FROM documents)
        |SELECT lang, count(*) AS n_sampled FROM b
        |WHERE bkt < CASE lang WHEN 'en' THEN 90 WHEN 'de' THEN 70
        |                      WHEN 'es' THEN 50 WHEN 'fr' THEN 30
        |                      WHEN 'zh' THEN 10 ELSE 0 END
        |GROUP BY lang""".stripMargin,
    "q52_heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |  FROM documents)
        |SELECT word, count(*) AS cnt FROM w
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 10""".stripMargin,
    "q53_sql_surface" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, source""".stripMargin,
    "q56_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS wl
        |  FROM documents),
        | c AS (
        |  SELECT doc_id, wl, unnest(range(0, greatest(len(wl), 1), 48)) AS start
        |  FROM t)
        |SELECT doc_id, CAST(start / 48 AS BIGINT) AS chunk_id,
        | array_to_string(list_slice(wl, start + 1, least(start + 64, len(wl))), ' ') AS chunk_text,
        | CAST(len(list_slice(wl, start + 1, least(start + 64, len(wl)))) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,
    "q30_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q31_token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_pieces,
        | CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,
    "q32_fingerprint" ->
      """SELECT doc_id,
        | md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents""".stripMargin,
    "q33_quality_score" ->
      """SELECT doc_id, round(
        | least(CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE)/100.0, 1.0)*0.5
        | + (CAST(len(regexp_extract_all(' '||lower(text)||' ', ' (the|a|of|and|to|in|is) ')) AS DOUBLE)
        |    / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE))*0.3
        | + (1.0 - CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE))*0.2, 4) AS quality
        |FROM documents""".stripMargin,
    "q144_signal_bundle" ->
      """WITH t AS (SELECT doc_id, text,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS wl FROM documents),
        | g AS (SELECT doc_id, text,
        |   list_transform(range(1, len(wl)-1),
        |     i -> wl[i]||' '||wl[i+1]||' '||wl[i+2]) AS gl,
        |   len(regexp_extract_all(' '||lower(text)||' ', ' (the|and|of|to|in|is|that) ')) AS ve,
        |   len(regexp_extract_all(' '||lower(text)||' ', ' (der|die|und|das|ist|nicht|mit) ')) AS vd,
        |   len(regexp_extract_all(' '||lower(text)||' ', ' (el|la|de|los|que|y|en) ')) AS vs,
        |   len(regexp_extract_all(' '||lower(text)||' ', ' (le|la|les|et|des|un|est) ')) AS vf
        |  FROM t)
        |SELECT doc_id,
        | md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_pieces,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | round(
        |  least(CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE)/100.0, 1.0)*0.5
        |  + (CAST(len(regexp_extract_all(' '||lower(text)||' ', ' (the|a|of|and|to|in|is) ')) AS DOUBLE)
        |     / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE))*0.3
        |  + (1.0 - CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
        |     / CAST(length(text) AS DOUBLE))*0.2, 4) AS quality,
        | CASE WHEN ve=0 AND vd=0 AND vs=0 AND vf=0 THEN 'und'
        |      WHEN ve>=vd AND ve>=vs AND ve>=vf THEN 'en'
        |      WHEN vd>=vs AND vd>=vf THEN 'de'
        |      WHEN vs>=vf THEN 'es'
        |      ELSE 'fr' END AS pred_lang,
        | CAST(len(gl) AS BIGINT) AS n_grams3,
        | CASE WHEN len(gl) > 0 THEN
        |   round(1 - CAST(len(list_distinct(gl)) AS DOUBLE)/len(gl), 4)
        | END AS rep3
        |FROM g""".stripMargin,
    "q34_lang_id" ->
      """WITH v AS (SELECT doc_id, lang,
        |  len(regexp_extract_all(' '||lower(text)||' ', ' (the|and|of|to|in|is|that) ')) AS ve,
        |  len(regexp_extract_all(' '||lower(text)||' ', ' (der|die|und|das|ist|nicht|mit) ')) AS vd,
        |  len(regexp_extract_all(' '||lower(text)||' ', ' (el|la|de|los|que|y|en) ')) AS vs,
        |  len(regexp_extract_all(' '||lower(text)||' ', ' (le|la|les|et|des|un|est) ')) AS vf
        | FROM documents)
        |SELECT doc_id, lang AS labeled_lang,
        | CASE WHEN ve=0 AND vd=0 AND vs=0 AND vf=0 THEN 'und'
        |      WHEN ve>=vd AND ve>=vs AND ve>=vf THEN 'en'
        |      WHEN vd>=vs AND vd>=vf THEN 'de'
        |      WHEN vs>=vf THEN 'es'
        |      ELSE 'fr' END AS pred_lang
        |FROM v""".stripMargin,
    "q35_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |   regexp_split_to_array(lower(trim(text)), '\s+') AS wl
        |  FROM documents),
        | sh AS (
        |  SELECT doc_id, lang,
        |   list_distinct(list_transform(range(1, len(wl)-1),
        |     i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2])) AS shl
        |  FROM t),
        | sz AS (SELECT doc_id, len(shl) AS sz FROM sh),
        | ex AS (SELECT doc_id, lang, unnest(shl) AS s FROM sh),
        | inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM ex a JOIN ex b ON a.s=b.s AND a.lang=b.lang AND a.doc_id<b.doc_id
        |  GROUP BY 1,2)
        |SELECT a_id, b_id,
        | round(CAST(inter AS DOUBLE)/(sa.sz+sb.sz-inter), 4) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id=a_id JOIN sz sb ON sb.doc_id=b_id
        |WHERE CAST(inter AS DOUBLE)/(sa.sz+sb.sz-inter) >= 0.8""".stripMargin,
  )

  /** The shared DuckDB prefix for the BPE family: two unrolled greedy
    * merge rounds over bracketed-symbol strings (the q115 oracle — the
    * bracketed `replace` provably matches [[applyMerge]]'s fold), ending
    * at `f` = (doc_id, syms: list<list<varchar>>), so q115's per-doc
    * segmentation and q132's per-language fertility card state the
    * learning ONCE and differ only in their tails.
    */
  private object BpeOracle {
    private val prefix =
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                w -> length(w) > 0) AS ws FROM documents),
        | b0 AS (SELECT doc_id,
        |    list_transform(ws, w ->
        |      '>' || array_to_string(
        |        list_transform(range(1, length(w)+1), i -> w[i]), '< >') || '<') AS bw
        |    FROM t),
        | s1 AS (SELECT regexp_extract_all(bw1, '>([^<>]*)<', 1) AS cs
        |        FROM (SELECT unnest(bw) AS bw1 FROM b0)),
        | p1 AS (SELECT pr[1] AS a, pr[2] AS b, count(*) AS cnt
        |        FROM (SELECT unnest(list_zip(cs[1:len(cs)-1], cs[2:len(cs)])) AS pr FROM s1)
        |        WHERE pr[1] IS NOT NULL AND pr[2] IS NOT NULL GROUP BY 1,2),
        | m1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
        | b1 AS (SELECT doc_id,
        |    list_transform(bw, x -> replace(x, '>'||m1.a||'< >'||m1.b||'<', '>'||m1.a||m1.b||'<')) AS bw
        |    FROM b0 CROSS JOIN m1),
        | s2 AS (SELECT regexp_extract_all(bw2, '>([^<>]*)<', 1) AS cs
        |        FROM (SELECT unnest(bw) AS bw2 FROM b1)),
        | p2 AS (SELECT pr[1] AS a, pr[2] AS b, count(*) AS cnt
        |        FROM (SELECT unnest(list_zip(cs[1:len(cs)-1], cs[2:len(cs)])) AS pr FROM s2)
        |        WHERE pr[1] IS NOT NULL AND pr[2] IS NOT NULL GROUP BY 1,2),
        | m2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
        | b2 AS (SELECT doc_id,
        |    list_transform(bw, x -> replace(x, '>'||m2.a||'< >'||m2.b||'<', '>'||m2.a||m2.b||'<')) AS bw
        |    FROM b1 CROSS JOIN m2),
        | f AS (SELECT doc_id,
        |    list_transform(bw, x -> regexp_extract_all(x, '>([^<>]*)<', 1)) AS syms
        |    FROM b2)""".stripMargin
    def sql(tail: String, continued: Boolean = false): String =
      if (continued) prefix + ",\n" + tail else prefix + "\n" + tail
  }
}
