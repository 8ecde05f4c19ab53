package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Sketch-based dedup and similarity search (SURVEY.md §2.3): MinHash+LSH,
  * SimHash, and embedding-space ANN over the `embeddings` table.
  *
  * Scale shape: every sketch is computed map-side per document (one
  * groupBy), candidate pairs come from equality joins on band/bucket keys —
  * never an n² cartesian. At 100 TB the band join is the only shuffle and
  * its key cardinality (bands × sig) keeps partitions balanced.
  */
object VectorOps {
  import Tables._
  import TextOps.wordSet

  // ---- MinHash + banded LSH --------------------------------------------

  val NumHashes = 16
  val Bands     = 4
  val RowsPerBand: Int = NumHashes / Bands

  /** Docs with no token content (null or whitespace-only text) carry no
    * MinHash information: the fused kernel would hand every one of them
    * the same degenerate signature, so all empty docs would share every
    * band bucket and flood the candidate listing as mutual "near-dups".
    * Both signature forms exclude them up front — empty docs are an
    * exact-dedup concern (q30), not an LSH one.
    */
  private def tokenBearing(docs: DataFrame): DataFrame =
    docs.filter(coalesce(trim(col("text")), lit("")) =!= "")

  /** Per-doc MinHash signature via the fused kernel (graft.plans.MinHash):
    * all k families in one per-row pass — no explode, no shuffle, the
    * corpus minhashes at scan speed.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    tokenBearing(docs).select(col("doc_id"),
        graft.plans.GraftFunctions.minhash(TextOps.tokens(col("text")), NumHashes).as("mh"))
      .select(col("doc_id") +: (0 until NumHashes).map(i => col("mh")(i).as(s"mh$i")): _*)

  /** Reference formulation of [[minhashSignatures]] in SQL aggregates
    * (explode word set → k fused min(xxhash64(i, w)) aggregates): one
    * shuffle per corpus. Kept as the cross-check the fused kernel is
    * asserted bit-identical to (VectorOpsSpec) and as the no-extensions
    * fallback.
    */
  def minhashSignaturesAgg(docs: DataFrame): DataFrame = {
    val words = tokenBearing(docs)
      .select(col("doc_id"), explode(wordSet(col("text"))).as("w"))
    words.groupBy("doc_id").agg(
      min(xxhash64(lit(0), col("w"))).as("mh0"),
      (1 until NumHashes).map(i => min(xxhash64(lit(i), col("w"))).as(s"mh$i")): _*)
  }

  /** Engine-PORTABLE MinHash signature: family i hashes word w as the
    * (i mod 4)-th 32-bit hex slice of md5("⌊i/4⌋:" ++ w) — the house
    * md5-hex convention ([[TextOps.hashKey]], the q32/q59 trick), so an
    * ANSI engine reproduces every family bit-for-bit
    * (`('0x' || substr(md5(s || ':' || w), p, 8))::BIGINT` in DuckDB)
    * and the full LSH banding + width-capped pair kernel carries a hash
    * oracle. Band b consumes exactly the four slices of salt b, so
    * bands stay independent across salts. Costs one explode + 4 md5
    * calls per distinct word + one map-side-combinable shuffle — the
    * price of an AUDITABLE pairwise listing. The registered q36/q51
    * rows both run this family (q51 graduated in r17); the fused
    * xxhash64 kernel ([[minhashSignatures]]) — minhashing at scan
    * speed, no shuffle — remains the prod path (bench-only q51prod,
    * converged CC, IncrementalDedup).
    */
  def minhashSignaturesPortable(docs: DataFrame): DataFrame = {
    val hashed = tokenBearing(docs)
      .select(col("doc_id"), explode(wordSet(col("text"))).as("w"))
      .select(col("doc_id") +: (0 until Bands).map(s =>
        md5(concat(lit(s"$s:"), col("w"))).as(s"h$s")): _*)
    def slice(i: Int): Column =
      conv(substring(col(s"h${i / RowsPerBand}"), 1 + 8 * (i % RowsPerBand), 8),
        16, 10).cast("long")
    hashed.groupBy("doc_id").agg(
      min(slice(0)).as("mh0"),
      (1 until NumHashes).map(i => min(slice(i)).as(s"mh$i")): _*)
  }

  /** [[bandedSignatures]] over the portable signature family; the band
    * key is the comma-joined minhash row VALUES (collision-free by
    * construction — no second hash to port).
    */
  def bandedSignaturesPortable(docs: DataFrame): DataFrame = {
    val sigs = minhashSignaturesPortable(docs)
    val bandCols = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws(",", rows.map(_.cast("string")): _*).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** One row per (doc, band) with the band's bucket signature — the
    * single source of the banding layout shared by the pairwise listing,
    * the one-pass clustering, and the converged clustering.
    */
  def bandedSignatures(docs: DataFrame): DataFrame = {
    val sigs = minhashSignatures(docs)
    val bandCols = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Pairwise listing is O(width²) per bucket; buckets wider than this are
    * degenerate near-exact-dup clusters (empty docs, boilerplate) where the
    * full pair list is useless AND quadratic — they get star-routed
    * instead. 512 keeps every sf0.01 bucket (max width 279) on the exact
    * pairwise path while the four ~2,300-wide sf0.1 template clusters
    * (22.5M of 24M candidate pairs) collapse to O(width) star edges.
    */
  val MaxBucketWidth = 512

  /** Candidate near-dup pairs: docs sharing ≥1 LSH band. Band signature =
    * hash of the band's minhash rows; self-equi-join on (band, sig) —
    * but only within buckets of bounded width. Oversized buckets emit
    * star edges (bucket_min ↔ member) instead of all pairs: connectivity
    * (what dedup consumes) is preserved, the O(width²) blowup is not.
    * With `maxBucketWidth = Int.MaxValue` this is the exact pairwise
    * listing; `n_shared_bands` counts buckets the pair co-occurred in
    * on whichever path routed them.
    */
  def q36MinhashLsh(s: SparkSession, d: String): DataFrame =
    q36MinhashLshOn(documents(s, d))

  /** r16: the registered listing runs on the PORTABLE signature family
    * ([[minhashSignaturesPortable]]) so the whole chain — per-word hash,
    * per-family min, band key, bucket width, star routing, pair count —
    * hash-matches the DuckDB oracle. The structural properties (exact
    * dups collide in every band, star connectivity, capped ⊆ exact) are
    * family-independent and stay spec-pinned.
    */
  def q36MinhashLshOn(docs: DataFrame,
      maxBucketWidth: Int = MaxBucketWidth): DataFrame =
    widthCappedPairs(bandedSignaturesPortable(docs), Seq("band", "sig"), Nil, maxBucketWidth)
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared_bands"))

  /** THE cap/star-route scaffolding shared by every bucketed pairwise
    * listing (q36 band buckets, q37 chunk buckets): bucket width + min row
    * come from a map-side-combinable `groupBy(key).agg(count, min(struct))`
    * joined back on the key (r17 — a Window here buffered each bucket in
    * ONE task, so a viral band bucket at 100 TB funneled through a single
    * spilling task just to be MEASURED before star-routing kicked in; the
    * keyed agg measures it map-side). Buckets of bounded width list pairs
    * exactly, oversized buckets emit star edges (bucket-min ↔ member) so
    * connectivity survives without the O(width²) blowup. `carry` columns
    * ride along as `a_<c>`/`b_<c>` for downstream residual filters. Pair
    * order: `a_id < b_id` on the narrow path, and the star source is the
    * bucket's smallest doc_id, so it holds on both.
    */
  private[graft] def widthCappedPairs(bucketed: DataFrame, keyCols: Seq[String],
      carry: Seq[String], maxBucketWidth: Int,
      markStars: Boolean = false): DataFrame = {
    // CHECKPOINTED (r16, reshaped r17): four consumers read the bucketed
    // rows (the width/min aggregate, both sides of the narrow self-join,
    // the star branch) — without the checkpoint each re-runs the whole
    // upstream signature lineage, which the r16 plan dump showed as THREE
    // corpus scans + three signature aggregations (invisible while the
    // upstream was a scan-speed kernel; the portable md5 families made it
    // real work). The frame is n×bands rows — the cheap thing; the lineage
    // above it is not. Eager on purpose: a lazy checkpoint can't be
    // release()d safely before first materialization, and concurrent
    // first-touch from the self-join's two sides would race-recompute the
    // expensive lineage; the price is that CONSTRUCTING these frames runs
    // one Spark job (PlanDump/explain callers see it — documented there).
    // Materialization honors spark.graft.reliableCheckpoints (r19): the
    // pair kernel is the suite's widest intermediate, the one a
    // preemptible fleet least wants to recompute from raw text.
    val based = graft.CacheHygiene.materialize(bucketed, "widthCappedPairs buckets")
    // min over struct(doc_id, carry...) is ordered by doc_id first, so it
    // selects the bucket-min row together with its carried payload.
    val stats = based.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("w"),
        min(struct((col("doc_id") +: carry.map(col)): _*)).as("m"))
    // Shared-bucket prefilter (r22, guide §3.2 applied at the stats join):
    // width-1 buckets — the overwhelming majority of LSH buckets at any
    // scale — can never form an a<b pair and never star-route, yet they
    // used to ride through the stats join into BOTH sides of the pair
    // self-join (hash build included). Filtering the vocab-sized stats
    // frame to w > 1 makes the inner join drop them at the probe, so the
    // self-join's build tables and probe volume shrink to exactly the
    // rows that can produce output. Output-identical by construction.
    val keyed = based.join(stats.filter(col("w") > 1), keyCols)
    val narrow = keyed.filter(col("w") <= maxBucketWidth).drop("w", "m")
    val joinCond = keyCols.map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
    // Shuffled-hash on purpose (r21, guide §3.1 — the ngramJaccard
    // decision applied to the other pair kernel): the estimate-driven
    // default broadcasts the whole narrow frame (driver collect+build,
    // 8 GB ceiling at corpus scale, and for the vec-carrying consumers
    // the broadcast ships every embedding); the hinted shuffled-hash
    // reuses the bucket-keyed partitioning both sides already have.
    // Interleaved A/B on the q36 shape: min 1.95 vs 2.05, med 2.16 vs
    // 2.23 over 8 alternating rounds.
    val narrowPairs = narrow.as("a").join(narrow.hint("shuffle_hash").as("b"), joinCond)
      .select(col("a.doc_id").as("a_id") +: col("b.doc_id").as("b_id") +:
        carry.flatMap(c => Seq(col(s"a.$c").as(s"a_$c"), col(s"b.$c").as(s"b_$c"))): _*)
    val starPairs = keyed
      .filter(col("w") > maxBucketWidth && col("doc_id") =!= col("m.doc_id"))
      .select(col("m.doc_id").as("a_id") +: col("doc_id").as("b_id") +:
        carry.flatMap(c => Seq(col(s"m.$c").as(s"a_$c"), col(c).as(s"b_$c"))): _*)
    // markStars: downstream SIMILARITY thresholds must exempt star edges
    // (they are connectivity scaffolding, not similarity claims - a
    // bucket-min can be dissimilar to two members that are near-dups of
    // each other, and filtering its edges away would split their cluster)
    if (markStars)
      narrowPairs.withColumn("is_star", lit(false))
        .union(starPairs.withColumn("is_star", lit(true)))
    else narrowPairs.union(starPairs)
  }

  /** Single-pass LSH dedup clustering: every doc maps to the smallest
    * doc_id seen in any of its band buckets. Emits O(n × bands) rows
    * instead of O(bucket²) pairs — at 100 TB the pairwise listing (q36)
    * is quadratic inside hot buckets, while this stays linear; one more
    * min-propagation round gives full connected components if needed.
    */
  def q51DedupClusters(s: SparkSession, d: String): DataFrame =
    q51DedupClustersOn(documents(s, d))

  /** r17: the registered form runs on the PORTABLE signature family
    * ([[minhashSignaturesPortable]]) so the whole chain — per-word hash,
    * per-family min, band key, bucket min, label min — hash-matches the
    * DuckDB oracle (the q36/q37/q39 r16 graduation applied to the last
    * rows-only query on the board). The fused xxhash64 kernel stays as
    * [[q51Prod]] on the bench board; the clustering semantics are
    * family-independent and spec-pinned on both.
    */
  def q51DedupClustersOn(docs: DataFrame): DataFrame =
    onePassClusters(bandedSignaturesPortable(docs))

  /** Bench-only PRODUCTION form of q51: fused xxhash64 MinHash kernel —
    * signatures at scan speed, no per-word md5 explode. */
  def q51Prod(s: SparkSession, d: String): DataFrame =
    q51ProdOn(documents(s, d))

  def q51ProdOn(docs: DataFrame): DataFrame =
    onePassClusters(bandedSignatures(docs))

  /** The shared one-pass band-min clustering kernel: bucket minima via a
    * map-side-combinable `groupBy(band, sig).agg(min)` joined back on the
    * band key (r17 — formerly a Window, which buffered each bucket in one
    * task; a viral bucket at 100 TB is exactly where this operator must
    * not funnel), then a per-doc min over its buckets. Checkpointed like
    * [[widthCappedPairs]]: the agg side and the probe side would otherwise
    * each re-run the signature lineage.
    */
  private def onePassClusters(banded: DataFrame): DataFrame = {
    val based = banded.transform(d => graft.CacheHygiene.materialize(d))
    val bucketMin = based.groupBy("band", "sig")
      .agg(min("doc_id").as("bucket_min"))
    based.join(bucketMin, Seq("band", "sig"))
      .groupBy("doc_id")
      .agg(min("bucket_min").as("cluster_rep"))
      .withColumn("is_keeper", col("cluster_rep") === col("doc_id"))
  }

  /** Converged dedup clustering: the transitive closure of
    * [[q51DedupClusters]]'s one pass. Every doc links to the min doc of
    * each of its band buckets — (bucket-min, doc) edges, O(n × bands),
    * no pairwise materialization — and [[ConnectedComponents.run]]
    * labels the components (min doc_id reachable). `maxIter` bounds the
    * star rounds; non-convergence throws rather than returning partial
    * labels. The result plan holds the closure's checkpoint blocks —
    * release with [[graft.CacheHygiene.releaseTree]] once consumed.
    */
  def dedupClustersConverged(docs: DataFrame, maxIter: Int = 10): DataFrame = {
    val banded = bandedSignatures(docs)
    val edges = banded
      .join(banded.groupBy("band", "sig").agg(min("doc_id").as("src")), Seq("band", "sig"))
      .select(col("src"), col("doc_id").as("dst"))
    ConnectedComponents.run(edges, maxIter)
      .select(col("id").as("doc_id"), col("component").as("cluster_rep"))
      .withColumn("is_keeper", col("cluster_rep") === col("doc_id"))
  }

  // ---- SimHash ----------------------------------------------------------

  /** 64-bit SimHash, fused per-row kernel (graft.plans.SimHash64): the
    * whole signature computes inside the scan projection — no shuffle.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.plans.GraftFunctions.simhash64(TextOps.tokens(col("text"))).as("simhash"))

  /** Reference formulation of [[simhash]] in pure SQL aggregates (explode →
    * tf → 64 fused bit-vote sums → fold): one shuffle, 64 buffers per doc.
    * Kept as the cross-check the fused kernel is asserted bit-identical to
    * (VectorOpsSpec) — and as the fallback a non-extension deployment
    * could run.
    */
  def simhashAgg(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .withColumn("h", xxhash64(col("w")))
    val votes = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, col("tf"))
        .otherwise(-col("tf"))).as(s"v$i")
    }
    val folded = (0 until 64).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    tf.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), folded.as("simhash"))
  }

  /** Engine-PORTABLE SimHash: the 64-bit signature as TWO 32-bit longs
    * (sh_hi ∥ sh_lo), with word w's bit source being the first/second
    * 32-bit hex slice of md5(w) — the same md5-slice convention as
    * [[minhashSignaturesPortable]], so every vote, fold, chunk key and
    * hamming distance recomputes bit-for-bit in ANSI SQL (no sign-bit
    * gymnastics: both halves stay in [0, 2³²)). Semantics mirror
    * [[simhashAgg]] exactly — tf-weighted bit votes, strict >0 fold.
    * Costs one explode + md5 + a 64-buffer aggregate per corpus; the
    * registered q37 pays it for a full hash oracle while [[simhash]]
    * (the fused scan-speed kernel) remains the clustering/prod path.
    */
  def simhashPortable(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .withColumn("hx", md5(col("w")))
      .withColumn("hhi", conv(substring(col("hx"), 1, 8), 16, 10).cast("long"))
      .withColumn("hlo", conv(substring(col("hx"), 9, 8), 16, 10).cast("long"))
    def votes(src: String, base: Int) = (0 until 32).map { i =>
      sum(when(shiftright(col(src), i).bitwiseAND(lit(1L)) === 1L, col("tf"))
        .otherwise(-col("tf"))).as(s"v${base + i}")
    }
    val all = votes("hlo", 0) ++ votes("hhi", 32)
    def fold(base: Int) = (0 until 32)
      .map(i => when(col(s"v${base + i}") > 0, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    tf.groupBy("doc_id").agg(all.head, all.tail: _*)
      .select(col("doc_id"), fold(0).as("sh_lo"), fold(32).as("sh_hi"))
  }

  /** SimHash near-dups: candidates from 16-bit chunk equality (any of 4
    * chunks equal → candidate; guarantees recall for hamming ≤ 3), then
    * exact hamming ≤ 8 filter via bit_count(xor). r16: the registered
    * form runs on [[simhashPortable]] and carries a full DuckDB hash
    * oracle; the chunk-recall guarantee is hash-family-independent.
    */
  def q37Simhash(s: SparkSession, d: String): DataFrame =
    q37SimhashPortableOn(documents(s, d))

  def q37SimhashPortableOn(docs: DataFrame,
      maxBucketWidth: Int = MaxBucketWidth): DataFrame = {
    val sh = simhashPortable(docs)
    val chunks = Seq(
      (0, col("sh_lo").bitwiseAND(lit(0xFFFFL))),
      (1, shiftright(col("sh_lo"), 16).bitwiseAND(lit(0xFFFFL))),
      (2, col("sh_hi").bitwiseAND(lit(0xFFFFL))),
      (3, shiftright(col("sh_hi"), 16).bitwiseAND(lit(0xFFFFL)))
    ).map { case (j, k) => struct(lit(j).as("chunk"), k.as("key")) }
    val bucketed = sh
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        explode(array(chunks: _*)).as("ck"))
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    widthCappedPairs(bucketed, Seq("chunk", "key"),
        Seq("sh_lo", "sh_hi"), maxBucketWidth)
      .select(col("a_id"), col("b_id"),
        (bit_count(col("a_sh_lo").bitwiseXOR(col("b_sh_lo"))) +
          bit_count(col("a_sh_hi").bitwiseXOR(col("b_sh_hi"))))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
  }

  /** Chunk buckets get the same width discipline as q36's band buckets:
    * pairwise listing only inside buckets of bounded width, oversized
    * buckets (boilerplate/empty-template clusters — the degenerate case
    * where a 16-bit chunk key collapses) star-route members against the
    * bucket's smallest doc instead of exploding O(width²) pairs. Star
    * edges still pass the exact hamming filter, so no pair is ever
    * reported that the exact listing would reject; with
    * `maxBucketWidth = Int.MaxValue` this is the exact pairwise form
    * (and the two are spec-asserted identical at sf0.01, where every
    * bucket is narrow).
    */
  def q37SimhashOn(docs: DataFrame,
      maxBucketWidth: Int = MaxBucketWidth): DataFrame = {
    val sh = simhash(docs)
    val chunks = (0 until 4).map { j =>
      struct(lit(j).as("chunk"),
        shiftright(col("simhash"), j * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }
    val bucketed = sh.select(col("doc_id"), col("simhash"),
      explode(array(chunks: _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    widthCappedPairs(bucketed, Seq("chunk", "key"), Seq("simhash"), maxBucketWidth)
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_simhash").bitwiseXOR(col("b_simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
  }

  // ---- Embedding-space similarity --------------------------------------

  /** Dot kernel: native codegen'd Catalyst expression (graft.plans.
    * DotProduct) — one tight loop per row, float inputs upcast per
    * element. The higher-order-function formulation (`dotHof`) is the
    * portable reference; bit-identical ONLY for array<double> inputs
    * (on raw float arrays zip_with multiplies in float before widening,
    * and it null-pads ragged arrays where DotProduct uses min length).
    */
  def dot(a: Column, b: Column): Column = graft.plans.GraftFunctions.vec_dot(a, b)

  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def withVec(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"), col("embedding").as("vec"))
      .withColumn("norm", sqrt(dot(col("vec"), col("vec"))))

  /** Brute-force cosine top-k: broadcast the small query set against the
    * corpus scan — the exact baseline every ANN variant is judged against.
    * At 100 TB: corpus streams, queries broadcast, and the grouped top-k
    * is the bounded-heap TopKPerKey operator (map-side partial heaps →
    * k-row exchange) — a row_number window here would exchange every
    * scored (corpus × query) row to rank them.
    */
  def q38EmbedTopk(s: SparkSession, d: String): DataFrame = {
    val all = withVec(embeddings(s, d))
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"), col("norm").as("q_norm"))
    val corpus = all.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("vec").as("c_vec"), col("norm").as("c_norm"))
    val cos = dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("q_id"), col("c_id"), cos.as("cos"))
    rankTopK(scored, "q_id", "c_id", "cos", k = 5)
      .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos"), col("rk"))
  }

  /** Exact per-key top-k by `scoreCol` via the bounded-heap operator,
    * then a row_number over the k×keys-row result to materialize ranks —
    * the window input is the ALREADY-REDUCED top set, never the full
    * scored volume. Tie-break (score desc, id asc) matches the window
    * formulation it replaces.
    */
  private[operators] def rankTopK(scored: DataFrame, keyCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    val top = graft.operators.TopK.topKPerKey(scored, Seq(keyCol),
      struct(col(scoreCol), negate(col(idCol))), descending = true, k = k)
    val w = Window.partitionBy(keyCol).orderBy(col(scoreCol).desc, col(idCol))
    top.withColumn("rk", row_number().over(w).cast("long"))
  }

  /** Random-hyperplane LSH: 8 fixed (seed=42) hyperplanes → 8-bit bucket
    * signature; candidates = same-bucket pairs, scored exactly. The scale
    * path for corpus×corpus similarity where brute force is n².
    */
  val NumPlanes = 8
  private lazy val planes: Seq[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumPlanes)(Array.fill(64)(rnd.nextGaussian()))
  }

  def lshSignature(vec: Column): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val planeCol = array(p.map(lit(_)): _*)
      when(dot(vec, planeCol) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  def q39EmbedLsh(s: SparkSession, d: String): DataFrame =
    q39EmbedLshOn(withVec(embeddings(s, d)))

  /** An 8-plane signature has only 256 possible buckets, so an uncapped
    * self-join is O(n²/256) with guaranteed 256-key shuffle skew at scale —
    * the candidate join therefore rides the same width-cap/star-route
    * scaffolding as q36/q37: buckets up to `maxBucketWidth` list exact
    * pairs, wider (degenerate) buckets emit bucket-min star edges, which
    * preserves the connectivity near-dup consumes without the quadratic
    * blowup. Every sf0.01 bucket is far under the cap, so capped ≡ exact
    * there (asserted in VectorOpsSpec).
    */
  def q39EmbedLshOn(vecs: DataFrame,
      maxBucketWidth: Int = MaxBucketWidth,
      threshold: Double = 0.2): DataFrame = {
    val sig = vecs.withColumn("sig", lshSignature(col("vec")))
      .select(col("vec_id").as("doc_id"), col("sig"), col("vec"), col("norm"))
    val cos = dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm"))
    // star edges are exempt from the similarity threshold: a bucket-min
    // can score below it against members that are near-dups of each
    // other, and dropping its edges would disconnect their cluster
    widthCappedPairs(sig, Seq("sig"), Seq("vec", "norm"), maxBucketWidth,
        markStars = true)
      .select(col("a_id"), col("b_id"), round(cos, 6).as("cos"), col("is_star"))
      .filter(col("cos") >= threshold || col("is_star"))
      .drop("is_star")
  }

  /** Embedding-cosine near-dup pairs, exact within a blocking key (label):
    * the dedup-by-embedding operator with cluster-pruned candidates.
    *
    * Deliberately exact (DuckDB-oracled): at this query's θ=0.3 on
    * near-random embeddings, sign-LSH blocking CANNOT prune without losing
    * recall — the per-hyperplane agreement probability for cos 0.3 is
    * 1 − acos(0.3)/π ≈ 0.60 vs 0.50 background, a gap too small for any
    * band shape to beat the c²/2 brute force within a block (b-bit bands
    * have recall 0.6^b and still Σc²/2^b·bands ≥ c²/2 candidates at the
    * band count recall needs). The blocked scale path for genuinely-high
    * thresholds is [[embedNeardupBlocked]] (q58).
    */
  /** q122: kNN label purity — the embedding-space health metric run
    * BEFORE trusting semantic dedup/selection on a space: for each
    * query vector, the fraction of its k nearest neighbors (cosine,
    * leave-self-out) sharing its label. A healthy space scores high;
    * purity collapsing is the signal that [[SemanticDedupGate]]/q109
    * centroids or q112 exemplar selection would be operating on noise.
    * Sampling IS the production shape — purity is a population
    * estimate, so a bounded query sample (vec_id < 100 here) gives the
    * answer without an n² all-pairs pass; the q38 discipline: queries
    * broadcast, corpus streams, bounded-heap top-k (never a window
    * over the scored volume).
    */
  def q122KnnPurity(s: SparkSession, d: String): DataFrame =
    knnPurity(embeddings(s, d), k = 5, querySpan = 100L)

  def knnPurity(emb: DataFrame, k: Int, querySpan: Long): DataFrame = {
    val all = withVec(emb)
    val queries = all.filter(col("vec_id") < querySpan)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("vec").as("q_vec"), col("norm").as("q_norm"))
    val cos = dot(col("q_vec"), col("vec")) / (col("q_norm") * col("norm"))
    val scored = all.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("c_id"),
        col("label").as("c_label"), cos.as("cos"))
    graft.operators.TopK.topKPerKey(scored, Seq("q_id"),
        struct(col("cos"), negate(col("c_id"))), descending = true, k = k)
      .groupBy("q_id", "q_label")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_same"))
      .select(col("q_id").as("vec_id"), col("q_label").as("label"),
        col("n_neighbors"), col("n_same"),
        round(col("n_same").cast("double") / col("n_neighbors"), 4)
          .as("purity"))
  }

  /** Contrastive hard-negative mining (q143, r16) — the training-PAIR
    * producer for dense-retrieval / embedding-model training (DPR,
    * Karpukhin et al. 2020; ANCE, Xiong et al. 2021): for every anchor,
    * the top-k most-similar DIFFERENT-label corpus vectors (the hard
    * negatives a contrastive loss learns most from), each tagged with
    * its FaceNet `band` against the anchor's HARDEST POSITIVE (max
    * same-label cosine, self excluded): `hard` = at or above the
    * positive (loss-violating), `semihard` = strictly inside the
    * `marginMicro` band below it (fixed-point 1e-6 units — Schroff
    * et al. 2015's pos−margin < neg < pos), `easy` = below the band.
    * The compares run in integer micro-units on both engines (the
    * house fixed-point trick), so the band is bit-portable; an anchor
    * whose label appears nowhere else gets a null `pos_cos_pp6`/`band`,
    * never a fake.
    *
    * Scale shape: TWO streaming broadcast passes over the corpus — the
    * positives pass collapses immediately into an anchors-sized scalar
    * aggregate (map-side combinable max), the negatives pass feeds the
    * bounded-heap top-k — deliberately NOT one materialized
    * anchors×corpus frame (at 100 TB that checkpoint is the corpus
    * size times the anchor count; two scans with bounded state win).
    * The pos join back is a broadcast of ≤anchors rows.
    */
  def hardNegatives(emb: DataFrame, k: Int = 5, querySpan: Long = 100L,
      marginMicro: Long = 100000L): DataFrame = {
    require(k >= 1 && querySpan >= 1 && marginMicro >= 0,
      s"hardNegatives: bad params k=$k span=$querySpan margin=$marginMicro")
    val all = withVec(emb)
    val queries = all.filter(col("vec_id") < querySpan)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("vec").as("q_vec"), col("norm").as("q_norm"))
    val cos = dot(col("q_vec"), col("vec")) / (col("q_norm") * col("norm"))
    val cosI = floor(cos * lit(1e6) + lit(0.5)).cast("long")
    val pos = all.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
      .groupBy("q_id").agg(max(cosI).as("pos_cos_pp6"))
    val negs = all.crossJoin(broadcast(queries))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("c_id"),
        cos.as("cos"), cosI.as("cos_pp6"))
    rankTopK(negs, "q_id", "c_id", "cos", k = k)
      .join(broadcast(pos), Seq("q_id"), "left")
      .select(col("q_id"), col("q_label"), col("c_id"),
        round(col("cos"), 6).as("cos"), col("rk"), col("pos_cos_pp6"),
        when(col("pos_cos_pp6").isNull, lit(null).cast("string"))
          .when(col("cos_pp6") >= col("pos_cos_pp6"), "hard")
          .when(col("cos_pp6") > col("pos_cos_pp6") - marginMicro, "semihard")
          .otherwise("easy").as("band"))
  }

  /** q143: top-5 hard negatives for the first 100 anchors. */
  def q143HardNegatives(s: SparkSession, d: String): DataFrame =
    hardNegatives(embeddings(s, d))

  /** q124: cosine threshold calibration card — the histogram you read
    * the q40/q58 near-dup and q109 SemDeDup thresholds off BEFORE
    * running them: pairwise cosine bucketed (width 1/`bins`) split by
    * same-label vs different-label, with each class's within-class
    * share. A healthy embedding space shows the two distributions
    * separated; the gap floor is the defensible threshold. Same
    * population-estimate shape as [[knnPurity]] (q122): a bounded query
    * sample BROADCASTS against the streamed corpus (`vec_id > q_id`
    * counts each unordered pair once and drops self-pairs), and the
    * scored volume collapses immediately into a ≤2·(2·bins+1)-row
    * bucket aggregate — map-side combinable, no top-k, no window over
    * scored rows. The share window runs over that tiny aggregate only
    * (the q93 window-over-aggregate shape). Integer bucket =
    * floor(cos·bins) keeps the hash oracle exact; round(4) on the share.
    */
  def q124CosineCalibration(s: SparkSession, d: String): DataFrame =
    cosineCalibration(embeddings(s, d), querySpan = 100L, bins = 20)

  def cosineCalibration(emb: DataFrame, querySpan: Long, bins: Int): DataFrame = {
    require(bins > 0, s"cosineCalibration: bins must be positive, got $bins")
    val all = withVec(emb)
    val queries = all.filter(col("vec_id") < querySpan)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("vec").as("q_vec"), col("norm").as("q_norm"))
    val cos = dot(col("q_vec"), col("vec")) / (col("q_norm") * col("norm"))
    val bucketed = all.crossJoin(broadcast(queries))
      .filter(col("vec_id") > col("q_id"))
      .select((col("q_label") === col("label")).as("same_label"),
        floor(cos * lit(bins)).as("bucket"))
      .groupBy("same_label", "bucket")
      .agg(count(lit(1)).as("n_pairs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("same_label")
    bucketed.select(col("same_label"), col("bucket"), col("n_pairs"),
      round(col("n_pairs").cast("double") / sum(col("n_pairs")).over(w), 4)
        .as("share"))
  }

  def q40EmbedNeardup(s: SparkSession, d: String): DataFrame = {
    val v = withVec(embeddings(s, d))
    val cos = dot(col("a.vec"), col("b.vec")) / (col("a.norm") * col("b.norm"))
    v.as("a")
      .join(v.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"), round(cos, 6).as("cos"))
      .filter(col("cos") >= 0.3)
  }

  // ---- Banded hyperplane blocking (near-dup at scale) -------------------

  /** Seeded random hyperplanes, dim 64 (the embeddings tables' width). */
  private def seededPlanes(numPlanes: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** Near-dup pairs via banded sign-LSH blocking composed with the label
    * key, exact cosine as the final filter. Candidates come from equality
    * on (label, band, band-signature) — within a label block of c vectors
    * the join examines ~bands · Σ_bucket w² pairs instead of c²/2, which
    * wins once the threshold is high enough that wide bands keep recall
    * (θ ≥ ~0.7: per-plane agreement p = 1 − acos(θ)/π ≥ 0.75, so an
    * 8-bit band matches with p^8 ≈ 0.1 and 4 bands give ~35% recall per
    * band count — tune numPlanes/bandBits per θ; defaults suit θ≈0.8).
    * Recall/candidate-volume tradeoffs are asserted in VectorOpsSpec on
    * planted near-duplicates.
    *
    * `threshold < -1` returns the full candidate set (diagnostics).
    */
  def embedNeardupBlocked(vecs: DataFrame, threshold: Double = 0.8,
      numPlanes: Int = 32, bandBits: Int = 8, seed: Long = 7L): DataFrame = {
    require(numPlanes % bandBits == 0, "numPlanes must be a multiple of bandBits")
    val planes = seededPlanes(numPlanes, seed)
    val numBands = numPlanes / bandBits
    // ALL band signatures in one fused native kernel (r20): the Column
    // formulation's numPlanes separate literal-array dots generated so
    // much code that the bounded generated-class cache evicted it in
    // long sessions and every re-plan re-paid Janino compilation — the
    // r20 profile measured q58 at 1.01× baseline isolated vs 1.44× in
    // suite context from exactly this. One reference-object kernel call
    // compiles in constant time at any plane count (the auto form goes
    // to 512 planes, where the inline formulation was 16× q58's).
    val sig = vecs
      .withColumn("sws", graft.plans.GraftFunctions.plane_sign_bands(
        col("vec"), planes, bandBits))
      .select(col("vec_id"), col("label"), col("sws"),
        posexplode(col("sws")).as(Seq("band", "bsig")))
    // the band join runs ID-ONLY (r18): a pair agreeing in k bands used
    // to flow k times through a join carrying BOTH 64-double vectors and
    // compute k identical cosines before a post-filter dedup. r18 fixed
    // that with a distinct() over the pair set; r20 removes even that
    // exchange — both sides carry their full signature array (numBands
    // longs), and a pair is kept ONLY on its FIRST agreeing band: exact
    // dedup as a map-side integer filter, no shuffle of the candidate
    // volume at all.
    val firstAgree = (numBands - 1 to 0 by -1).foldLeft(lit(numBands)) {
      (acc, k) =>
        when(element_at(col("a.sws"), k + 1) === element_at(col("b.sws"), k + 1),
          lit(k)).otherwise(acc)
    }
    val cand = sig.as("a")
      .join(sig.as("b"),
        col("a.label") === col("b.label") && col("a.band") === col("b.band") &&
          col("a.bsig") === col("b.bsig") && col("a.vec_id") < col("b.vec_id"))
      .filter(col("a.band") === firstAgree)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"))
    val v = vecs.select(col("vec_id"), col("vec"), col("norm"))
    val cos = dot(col("va.vec"), col("vb.vec")) / (col("va.norm") * col("vb.norm"))
    cand.join(v.as("va"), col("a_id") === col("va.vec_id"))
      .join(v.as("vb"), col("b_id") === col("vb.vec_id"))
      .select(col("a_id"), col("b_id"), col("label"),
        round(cos, 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Blocked near-dup on the embeddings table; production near-dup at
    * θ≥0.8 uses [[embedNeardupBlockedAuto]], whose blocking scales with
    * the corpus.
    *
    * Scale note (sf1.0 probe, BASELINE.md): at θ=0.4 the RESULT itself is
    * quadratic in n on constant-pair-density corpora (measured 84 →
    * 9030 rows at 10×, density ~2e-7 at both scales) — no algorithm
    * returns a quadratic output in linear time, and the probe's
    * wall-vs-output ratios show cost tracks the output, not n².
    *
    * 32 planes / 2-bit bands = 16 bands (r17, caught by the extended
    * sf0.1 gate): at θ=0.4 the per-band agreement is p² ≈ 0.398, so 8
    * bands (the old 16 planes) miss a qualifying pair with probability
    * (1−p²)^8 ≈ 1.7% — sf0.01's 5 pairs got lucky, sf0.1's 86 lost 2.
    * 16 bands push the miss rate to ~3·10⁻⁴ (≈0.03 expected misses on
    * this corpus family at sf0.1) at 2× the candidate volume — the
    * exactness-equality oracle needs empirical recall 1.0 at every
    * probed scale, and band count is the honest dial for it.
    */
  def q58NeardupBlocked(s: SparkSession, d: String): DataFrame =
    embedNeardupBlocked(withVec(embeddings(s, d)),
      threshold = 0.4, numPlanes = 32, bandBits = 2, seed = 7L)

  /** The production-θ, corpus-scaled instantiation of the blocked
    * near-dup (what the sf1.0 scale probe measures): recall is
    * probabilistic by design at θ=0.8, so unlike [[q58NeardupBlocked]]
    * it carries no SQL oracle — the spec pins planted-twin recall and
    * the blocking-plan arithmetic instead.
    */
  def q58NeardupBlockedAuto(s: SparkSession, d: String): DataFrame =
    embedNeardupBlockedAuto(withVec(embeddings(s, d)), threshold = 0.8)

  /** Corpus-scaled blocking plan for [[embedNeardupBlockedAuto]] — pure,
    * so the arithmetic is spec-able at 10⁹-row scale. `bandBits` pins the
    * expected (label, band, sig) bucket width at ~`targetWidth` (within-
    * bucket candidate pairs then grow LINEARLY with n: buckets × width²
    * with width constant — a fixed bit count lets them grow as n²), and
    * the band count comes from the standard LSH recall estimate at θ
    * (per-plane agreement p = 1 − acos θ/π, per-band match p^bits,
    * 1−(1−p^bits)^bands ≥ recallTarget), clamped to `maxBands` — at a
    * clamp the achieved recall is lower; callers trading recall for cost
    * see the actual figure in the returned tuple.
    *
    * Returns (bandBits, bands, achievedRecall).
    */
  def neardupBlockingPlan(widestLabel: Long, threshold: Double,
      targetWidth: Long = 256L, recallTarget: Double = 0.95,
      maxBands: Int = 32): (Int, Int, Double) = {
    require(threshold > 0.0 && threshold < 1.0,
      "auto blocking needs 0 < threshold < 1 (sign-LSH agreement is undefined outside)")
    require(targetWidth >= 1 && recallTarget > 0.0 && recallTarget < 1.0 && maxBands >= 1)
    val bits = math.max(2, math.min(16, math.ceil(
      math.log(math.max(1.0, widestLabel.toDouble / targetWidth)) / math.log(2.0)).toInt))
    val p = 1.0 - math.acos(threshold) / math.Pi
    val perBand = math.pow(p, bits)
    val bands = math.max(1, math.min(maxBands,
      math.ceil(math.log1p(-recallTarget) / math.log1p(-perBand)).toInt))
    (bits, bands, 1.0 - math.pow(1.0 - perBand, bands))
  }

  /** [[embedNeardupBlocked]] with corpus-SCALED blocking — the production
    * form for θ ≥ ~0.7. A fixed bandBits keeps bucket COUNT constant, so
    * within-bucket candidate pairs grow as n² no matter the threshold;
    * this derives the bit width from the widest label block (one counting
    * pass) so bucket width — and with it candidates per vector — stays
    * pinned as the corpus grows, and compensates the per-band recall loss
    * with more bands per [[neardupBlockingPlan]]. Candidate volume is then
    * ~bands × n × targetWidth/2 instead of n²/2^bits.
    */
  def embedNeardupBlockedAuto(vecs: DataFrame, threshold: Double = 0.8,
      targetWidth: Long = 256L, recallTarget: Double = 0.95,
      maxBands: Int = 32, seed: Long = 7L): DataFrame = {
    val widest = vecs.groupBy("label").count()
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    val (bits, bands, achieved) =
      neardupBlockingPlan(math.max(1L, widest), threshold, targetWidth,
        recallTarget, maxBands)
    if (achieved < recallTarget)
      log.warn(f"neardup auto blocking: recall $achieved%.3f < target " +
        f"$recallTarget%.3f at $bands bands x $bits bits (maxBands clamp) - " +
        "raise maxBands or targetWidth")
    embedNeardupBlocked(vecs, threshold, numPlanes = bands * bits,
      bandBits = bits, seed = seed)
  }

  /** The SQL face of the native vector kernels: the same engine a
    * reference user reaches with `spark.sql` once
    * `spark.sql.extensions=graft.GraftExtensions` is set — no Column API
    * in sight, and still fully DuckDB-oracled.
    */
  def q61SqlVector(s: SparkSession, d: String): DataFrame = {
    embeddings(s, d).createOrReplaceTempView("embeddings_v")
    s.sql("""
      SELECT vec_id,
             round(vec_norm(embedding), 6) AS norm,
             round(vec_dot(embedding, embedding), 6) AS self_dot
      FROM embeddings_v
    """)
  }

  /** q95: two-stage retrieval — the retrieve→rerank shape every RAG /
    * training-data-selection stack runs: stage 1 is q38's exact
    * broadcast-queries cosine top-k widened to 20 candidates per query
    * (bounded-heap TopKPerKey, never a window over the scored volume);
    * stage 2 joins the ≤ queries×20 candidate set — broadcast, it is
    * tiny by construction — against the aligned `documents` quality
    * score and reranks by hybrid = 0.7·cos + 0.3·quality to top-5.
    * The rerank window's input is the already-reduced candidate set.
    * Round-before-rank (q78's convention) keeps tie order
    * engine-deterministic.
    */
  def q95HybridRerank(s: SparkSession, d: String): DataFrame = {
    val all = withVec(embeddings(s, d))
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    val corpus = all.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("vec").as("c_vec"),
        col("norm").as("c_norm"))
    val cos = dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    val stage1 = rankTopK(
      corpus.crossJoin(broadcast(queries))
        .select(col("q_id"), col("c_id"), cos.as("cos")),
      "q_id", "c_id", "cos", k = 20).drop("rk")
    val quality = Tables.documents(s, d)
      .select(col("doc_id").as("c_id"),
        TextOps.qualityExpr(col("text")).as("quality"))
    val blended = quality.join(broadcast(stage1), "c_id")
      .withColumn("hybrid",
        round(lit(0.7) * col("cos") + lit(0.3) * col("quality"), 6))
    val w = Window.partitionBy("q_id").orderBy(col("hybrid").desc, col("c_id"))
    blended.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("c_id"), col("hybrid"), col("rk"))
  }

  /** Exact cosine ranked list, q38's shape with the rank retained and a
    * configurable depth — the shared stage-A retriever for the fusion
    * and rerank queries (q95 keeps its own inline copy because it also
    * needs the raw cos).
    */
  def cosineRanked(s: SparkSession, d: String, k: Int): DataFrame = {
    val all = withVec(embeddings(s, d))
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    val corpus = all.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("vec").as("c_vec"),
        col("norm").as("c_norm"))
    val cos = dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    rankTopK(
      corpus.crossJoin(broadcast(queries))
        .select(col("q_id"), col("c_id"), cos.as("cos")),
      "q_id", "c_id", "cos", k = k)
      .select(col("q_id"), col("c_id"), col("rk"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009): fuse two
    * ranked lists keyed (q_id, c_id, rk) into one by
    * `score = Σ 1/(k0 + rank)`, the standard k0 = 60. The per-list
    * contribution is quantized to integer NANO-units
    * (⌊10⁹/(k0+rank)⌋) so the fused score is exact integer arithmetic —
    * rank-faithful (the quantization error ~10⁻⁹ is far below the
    * smallest true score gap at sane list depths) and bit-portable
    * across engines, where a float sum of reciprocals would be at the
    * mercy of addition order. A doc present in only one list keeps its
    * single contribution (standard RRF over top-N lists).
    *
    * Scale shape: both inputs are already per-query bounded (≤ queries
    * × depth rows), so the full-outer join and the bounded-heap top-k
    * are over tiny frames regardless of corpus size — fusion cost never
    * grows with the data, only with the query batch.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k0: Int = 60, k: Int = 10): DataFrame = {
    require(k0 >= 1 && k >= 1, s"rrfFuse: bad params k0=$k0 k=$k")
    def quant(df: DataFrame, out: String) = df.select(col("q_id"), col("c_id"),
      floor(lit(1e9) / (lit(k0) + col("rk"))).cast("long").as(out))
    val fused = quant(a, "pa").join(quant(b, "pb"), Seq("q_id", "c_id"), "full_outer")
      .select(col("q_id"), col("c_id"),
        (coalesce(col("pa"), lit(0L)) + coalesce(col("pb"), lit(0L))).as("rrf_u"))
    rankTopK(fused, "q_id", "c_id", "rrf_u", k)
      .select(col("q_id"), col("c_id"), col("rrf_u"), col("rk"))
  }

  /** q147: hybrid retrieval by reciprocal-rank fusion — the OTHER
    * standard two-retriever composition next to q95's score blend, and
    * the one production stacks default to because it needs no score
    * calibration (ranks are scale-free; a cosine in [−1,1] and a BM25
    * in [0,30] fuse without normalization). Stage A = exact cosine
    * top-20 per query (q38's broadcast + bounded-heap shape); stage B =
    * lexical doc-to-doc BM25 top-20 ([[TextOps.moreLikeThis]], the
    * aligned documents table); fused top-10 per query at k0=60.
    */
  def q147RrfFusion(s: SparkSession, d: String): DataFrame =
    rrfFuse(
      cosineRanked(s, d, k = 20),
      TextOps.moreLikeThis(Tables.documents(s, d)).select("q_id", "c_id", "rk"))

  /** q148: Matryoshka-truncation ANN (Kusupati et al. 2022) — serve
    * top-k from the PREFIX of each embedding (here the first 32 of 64
    * dims) and measure what the truncation costs: MRL-style models pack
    * coarse semantics into leading dims, so a half-width index (half
    * the bytes, half the FLOPs per distance) is the cheapest ANN
    * speedup that exists — no training, no codebooks, just a slice.
    * Output: truncated-space top-5 per query with `full_rk` = the
    * doc's rank in FULL-dim exact top-5 (NULL = not in it), the same
    * per-row recall instrument q131 carries. On synthetic uniform
    * embeddings the prefix is an arbitrary coordinate subspace (no
    * MRL training concentrated meaning there), so recall measures the
    * instrument's honesty, not the method's ceiling.
    *
    * Scale shape: identical to q38 — corpus streams once, queries
    * broadcast, bounded-heap top-k; the slice halves every dot.
    */
  def q148MrlTopk(s: SparkSession, d: String, dims: Int = 32,
      instrument: Boolean = true): DataFrame = {
    require(dims >= 1, s"q148MrlTopk: dims must be >= 1, got $dims")
    val t = embeddings(s, d)
      .select(col("vec_id"), slice(col("embedding"), 1, dims).as("tvec"))
      .withColumn("tnorm", sqrt(dot(col("tvec"), col("tvec"))))
    val queries = t.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("tvec").as("q_vec"),
        col("tnorm").as("q_norm"))
    val corpus = t.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("tvec").as("c_vec"),
        col("tnorm").as("c_norm"))
    val cosT = dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    val top = rankTopK(
      corpus.crossJoin(broadcast(queries))
        .select(col("q_id"), col("c_id"), cosT.as("cos_t")),
      "q_id", "c_id", "cos_t", k = 5)
      .select(col("q_id"), col("c_id"), round(col("cos_t"), 6).as("cos_t"),
        col("rk"))
    // instrument = false: the deployable serving read, and the form
    // consumers that compute their own exact reference use (q150 —
    // paying the full-dim cross scan twice for a column it drops)
    if (!instrument) top
    else top.join(
      broadcast(cosineRanked(s, d, k = 5).withColumnRenamed("rk", "full_rk")),
      Seq("q_id", "c_id"), "left")
  }

  /** Packed sign-bit signature: one bit per dimension (set iff the
    * coordinate > 0), a dimension SLICE folding to one long via a
    * Horner fold (acc·2 + bit). Each half packs ≤ 32 bits so the fold
    * never touches the long's sign bit — ANSI mode (Spark 4's default)
    * throws on the wrap a full 64-bit pack would need — hence the
    * two-half struct ([[binarySig]]), the q37 SimHash convention.
    */
  private def binarySigSlice(vec: Column, start: Int, len: Int): Column =
    aggregate(slice(vec, start, len), lit(0L),
      (acc, x) => acc * 2L + when(x > 0f, 1L).otherwise(0L))

  /** 64-dim sign signature as struct(hi, lo) — 8 bytes of payload per
    * vector; Hamming = bit_count(hi⊕hi') + bit_count(lo⊕lo').
    */
  def binarySig(vec: Column, dims: Int = 64): Column = {
    // upper bound: each half must stay <= 32 bits — past 64 the Horner
    // fold would hit the long's sign bit and ANSI mode turns the wrap
    // into an opaque mid-aggregate ArithmeticException; wider vectors
    // take one struct per 64-dim slice
    require(dims >= 2 && dims <= 64,
      s"binarySig: need 2 <= dims <= 64 (one two-long struct), got $dims")
    struct(
      binarySigSlice(vec, 1, dims / 2).as("hi"),
      binarySigSlice(vec, dims / 2 + 1, dims - dims / 2).as("lo"))
  }

  /** Packed-signature Hamming distance — the BQ serving kernel. */
  def sigHamming(a: Column, b: Column): Column =
    (bit_count(a.getField("hi").bitwiseXOR(b.getField("hi"))) +
      bit_count(a.getField("lo").bitwiseXOR(b.getField("lo")))).cast("long")

  /** q149: binary-quantization ANN — 1 bit per dimension (sign of the
    * coordinate), candidates shortlisted by Hamming distance, then
    * reranked with the exact cosine. THE memory-floor serving read:
    * 64 dims fold to 8 bytes/vector (32× under float32), and at 100 TB
    * the shortlist pass is a packed-long XOR + POPCNT per pair (the
    * [[binarySig]] kernel — spec-pinned equal to the per-dim form this
    * registered query runs for the oracle's sake). Output: exact-cosine
    * top-5 per query FROM the Hamming-top-20 shortlist, with the
    * shortlist Hamming distance carried per row.
    */
  def q149BinaryTopk(s: SparkSession, d: String,
      packed: Boolean = false): DataFrame = {
    val all = withVec(embeddings(s, d))
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    val corpus = all.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("vec").as("c_vec"),
        col("norm").as("c_norm"))
    // registered form: per-dim sign-disagreement count (the engine-
    // portable oracle form). packed = the serving path: vectors fold
    // ONCE to 8-byte signatures, the pairwise pass is XOR + POPCNT —
    // spec-pinned output-identical.
    val scored = if (packed) {
      val qs = queries.select(col("q_id"),
        binarySig(col("q_vec")).as("q_sig"))
      corpus.select(col("c_id"), binarySig(col("c_vec")).as("c_sig"))
        .crossJoin(broadcast(qs))
        .select(col("q_id"), col("c_id"),
          sigHamming(col("q_sig"), col("c_sig")).as("hamming"))
    } else {
      val ham = aggregate(
        zip_with(col("q_vec"), col("c_vec"),
          (x, y) => when((x > 0f) =!= (y > 0f), 1L).otherwise(0L)),
        lit(0L), (acc, x) => acc + x)
      corpus.crossJoin(broadcast(queries))
        .select(col("q_id"), col("c_id"), ham.as("hamming"))
    }
    val shortlist = rankTopK(
      scored.withColumn("__neg", -col("hamming")),
      "q_id", "c_id", "__neg", k = 20)
      .select("q_id", "c_id", "hamming")
    // exact dots ONLY on the shortlist (queries × 20 rows, never the
    // corpus): the tiny shortlist broadcasts onto the corpus scan, then
    // picks its query vector off the broadcast query set — the float
    // re-read is the BQ serving pattern (sig index answers the
    // shortlist, the rerank fetches ≤ queries×20 full vectors)
    val rer = corpus.join(broadcast(shortlist), "c_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("c_id"), col("hamming"),
        (dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
          .as("cos"))
    rankTopK(rer, "q_id", "c_id", "cos", k = 5)
      .select(col("q_id"), col("c_id"), col("hamming"),
        round(col("cos"), 6).as("cos"), col("rk"))
  }

  /** q150: ANN-quality card — the pre-deploy read for the cheap serving
    * tiers: per tier (q148's 32-dim MRL prefix, q149's binary
    * signatures), how much of the exact top-5 the tier reproduces
    * (hits5 / recall per-mille) and how reliably it surfaces the exact
    * TOP-1 (quantized MRR: Σ ⌊10⁶/rank-of-exact-top1-in-tier-list⌋,
    * 0 when absent). All-integer output, so the card carries a full
    * hash oracle — the q117/q133 card discipline. A deployment reads
    * this row BEFORE routing traffic to a tier; on these synthetic
    * uniform embeddings the absolute numbers are pessimistic (no MRL
    * training, sign bits of noise), which is exactly what the card is
    * for.
    *
    * r19: the card GATES, not just reports — `floor_ok` states
    * per tier that recall5_m and mrr_u clear their floors, the
    * q57/q44/q63 convention (the oracle states TRUE, so a tier decaying
    * below its floor at any gate SF hash-fails the round instead of
    * shipping a silently-worse card). The defaults are calibrated to
    * this synthetic corpus's observed range across the gate SFs AND the
    * 100× probe (mrl32 140–300‰ recall / 1.3–2.3M mrr_u, binary
    * 240–500‰ / 1.0–8.0M — the binary tier's MRR decays hardest with
    * corpus growth, which the r19 sf1.0 oracle run caught when the
    * first floor draft sat above it); a deployment on trained
    * embeddings raises them to its own SLO.
    *
    * Scale shape: every input is an already-bounded top-k list
    * (≤ queries×5 rows), so the card's joins and scalar aggregates are
    * constant-size regardless of corpus volume; the cost is the two
    * tier queries themselves.
    */
  def annQualityCard(s: SparkSession, d: String,
      floors: Map[String, (Long, Long)] = Map(
        "mrl32" -> ((100L, 1000000L)),
        "binary" -> ((150L, 500000L)))): DataFrame = {
    val ex = cosineRanked(s, d, 5).transform(d => graft.CacheHygiene.materialize(d))
    val nq = ex.agg(countDistinct(col("q_id")).as("n_queries"))
    val top1 = ex.filter(col("rk") === 1).select("q_id", "c_id")
    def card(tier: String, list: DataFrame): DataFrame = {
      val (recallFloorM, mrrFloorU) = floors.getOrElse(tier,
        sys.error(s"annQualityCard: no floor for tier '$tier' — a tier " +
          "without a stated floor ships ungated"))
      val hits = list.join(ex.select("q_id", "c_id"), Seq("q_id", "c_id"))
        .agg(count(lit(1)).as("hits5"))
      val mrr = top1.join(list, Seq("q_id", "c_id"), "left")
        .agg(coalesce(sum(when(col("rk").isNotNull,
          floor(lit(1e6) / col("rk")).cast("long"))), lit(0L)).as("mrr_u"))
      nq.crossJoin(hits).crossJoin(mrr)
        .select(lit(tier).as("tier"), col("n_queries"), col("hits5"),
          expr("hits5 * 1000 DIV (n_queries * 5)").as("recall5_m"),
          col("mrr_u"))
        .withColumn("floor_ok",
          col("recall5_m") >= recallFloorM && col("mrr_u") >= mrrFloorU)
    }
    // ex's checkpoint blocks ride the returned tree — the consumer's
    // CacheHygiene.releaseTree sweep frees them (Verify/Bench do).
    // instrument = false: the card joins against its OWN exact top-5,
    // so q148's instrument would recompute the full-dim cross scan for
    // a column the card drops
    card("mrl32", q148MrlTopk(s, d, instrument = false)
        .select("q_id", "c_id", "rk"))
      .unionAll(card("binary",
        q149BinaryTopk(s, d).select("q_id", "c_id", "rk")))
  }

  def q150AnnQualityCard(s: SparkSession, d: String): DataFrame =
    annQualityCard(s, d)

  /** Symmetric per-vector int8 quantization: scale = max|x|/127,
    * q_i = round(x_i/scale) — the 4× compression a 100 TB embedding
    * store applies before ANN serving (float32 → int8 is the standard
    * memory/recall trade; |q_i| ≤ 127 by construction, so the code
    * range never saturates). Adds `q` (the codes) and `scale` to every
    * row; a zero vector gets an all-zero code with scale 0 rather than
    * a divide-by-zero. Pure per-row HOF arithmetic — one scan, zero
    * shuffles, whole-stage codegen.
    */
  def int8Quantize(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val m = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    df.withColumn("scale", m / lit(127.0))
      .withColumn("q",
        when(col("scale") > 0,
          transform(v, x =>
            floor(x / col("scale") + lit(0.5)).cast("tinyint")))
          .otherwise(transform(v, _ => lit(0).cast("tinyint"))))
  }

  /** q106: int8 quantization reconstruction diagnostics — per vector,
    * the quantizer's scale, MSE, max absolute error, and zeroed-dim
    * count: the table an embedding-store owner reads before flipping
    * serving to int8 (is the worst-case error under the metric's noise
    * floor, are small vectors collapsing to zero codes). Stats are
    * per-row only, so every float operation folds in array order on
    * BOTH engines; the squared-error sum reuses the native DotProduct
    * kernel (proven bit-equal to DuckDB's list_dot_product at q38) and
    * every emitted column is integer fixed-point (floor(v·10^k + ½)) —
    * the hash cannot drift on float formatting. One scan, zero
    * exchanges (VectorOpsSpec pins the Exchange-free plan).
    */
  def q106Int8Quantize(s: SparkSession, d: String): DataFrame = {
    val quant = int8Quantize(embeddings(s, d)).filter(col("scale") > 0)
    val v = asDouble(col("embedding"))
    val err = zip_with(v, col("q"), (x, q) => x - q * col("scale"))
    quant
      .withColumn("err", err)
      .select(
        col("vec_id"), col("label"),
        floor(col("scale") * lit(1e9) + lit(0.5)).cast("long").as("scale_pp9"),
        floor(dot(col("err"), col("err")) / size(col("err")) * lit(1e12) +
          lit(0.5)).cast("long").as("mse_pp12"),
        floor(aggregate(col("err"), lit(0.0), (a, x) => greatest(a, abs(x))) *
          lit(1e9) + lit(0.5)).cast("long").as("max_err_pp9"),
        size(filter(col("q"), _ === 0L)).cast("long").as("zero_dims"))
  }

  /** Integer dot product over already-long arrays — exact (no float
    * rounding), and ANSI-safe for int8 code vectors: |Σ q_i·q_i'| ≤
    * 64·127² ≈ 1.03e6, nowhere near a long. Codes must be widened to
    * long BEFORE multiplying (tinyint·tinyint stays tinyint in Spark
    * SQL and would overflow loudly under ANSI at the first |q| > 11).
    */
  def dotLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** q107: ANN serving on the int8 codes — top-5 per query by QUANTIZED
    * cosine (integer dot products + the stored scales' norms), with the
    * exact-float rank joined on as the quality instrument (exact_rk is
    * null when int8 promoted something outside the true top-5). This is
    * the query a 100 TB store actually runs after [[int8Quantize]]: the
    * scan reads 4×-smaller codes, scoring is integer arithmetic, and
    * because integer dots are EXACT in every engine the whole ranking —
    * including the instrument — carries a full hash oracle, unlike the
    * float-kernel ANN rows that settle for recall gates. Shape is q38's:
    * queries broadcast, corpus streams, bounded-heap top-k. The scored
    * frame is checkpointed — two rankings (int8 + exact) consume it, and
    * without the checkpoint each would re-run the cross join (the q99
    * shared-aggregate discipline); callers that own the result release
    * it via CacheHygiene.releaseTree (Verify does).
    */
  def q107Int8Topk(s: SparkSession, d: String): DataFrame = {
    val base = int8Quantize(embeddings(s, d)).filter(col("scale") > 0)
      .withColumn("qv", transform(col("q"), _.cast("long")))
      .withColumn("v", asDouble(col("embedding")))
      .select(col("vec_id"), col("qv"),
        dotLong(col("qv"), col("qv")).as("qq"),
        col("v"), sqrt(dot(col("v"), col("v"))).as("norm"))
    val qs = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("qq").as("q_qq"), col("v").as("q_v"), col("norm").as("q_n"))
    val cs = base.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
        col("qq").as("c_qq"), col("v").as("c_v"), col("norm").as("c_n"))
    val scored = cs.crossJoin(broadcast(qs))
      .select(col("q_id"), col("c_id"),
        floor(dotLong(col("q_qv"), col("c_qv")) /
          sqrt(col("q_qq").cast("double") * col("c_qq")) * lit(1e6) +
          lit(0.5)).cast("long").as("cos8_pp6"),
        floor(dot(col("q_v"), col("c_v")) / (col("q_n") * col("c_n")) *
          lit(1e6) + lit(0.5)).cast("long").as("cosf_pp6"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val r8 = rankTopK(scored, "q_id", "c_id", "cos8_pp6", k = 5)
    val rf = rankTopK(scored, "q_id", "c_id", "cosf_pp6", k = 5)
      .select(col("q_id"), col("c_id"), col("rk").as("exact_rk"))
    r8.join(broadcast(rf), Seq("q_id", "c_id"), "left")
      .select(col("q_id"), col("c_id"), col("rk"), col("cos8_pp6"),
        col("exact_rk"))
  }

  /** Fixed-point integer embedding: floor(x·10⁶ + ½) per dimension. The
    * oracle-grade k-means below runs on THESE, not floats: every
    * distance, sum, and centroid is then exact integer arithmetic, so an
    * iterative algorithm — normally impossible to hash-match across
    * engines (float sums don't associate) — becomes bit-deterministic
    * everywhere, at a quantization cost of 1e-6 per component (far under
    * the synthetic embeddings' ~0.3 component scale).
    */
  def intVec(c: Column): Column =
    transform(asDouble(c), x => floor(x * lit(1e6) + lit(0.5)))

  /** K-means cluster assignment (Lloyd's), built for both the oracle and
    * the 100 TB shape: deterministic init (the k smallest vec_ids seed
    * the centroids, their ids become the cluster labels), a FIXED
    * iteration count, integer-exact arithmetic throughout ([[intVec]]).
    *
    * Scale: the int-vec frame is checkpointed once and reused by every
    * round (each Lloyd iteration would otherwise re-read the corpus —
    * q101's token-frame discipline); assignment is a per-row codegen'd
    * argmin over k centroid LITERALS (zero shuffle, the IVF envelope
    * bounds k × dims on the driver); the recompute is a posexplode into
    * (cluster, dim) integer sums — map-side combinable down to k×dims
    * rows per partition, collected driver-side at k×dims total. An
    * empty cluster keeps its previous centroid (no NaN centroids, no
    * respawn nondeterminism). Returned frame rides the checkpoint —
    * callers that own the result release via CacheHygiene.releaseTree.
    *
    * Per-dim centroid = floor(Σv / n) via double division of exact ints
    * (identical IEEE op in DuckDB); exact while |Σv| < 2⁵³ — i.e. up to
    * ~9e9 vectors per cluster at this component scale, loudly guarded.
    */
  def kmeansAssign(df: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    require(k >= 1 && iters >= 1, s"kmeansAssign: k=$k iters=$iters")
    val iv = df.select(col("vec_id"), intVec(col("embedding")).as("q"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val centroids = lloydCentroids(iv, k, iters)
    iv.withColumn("best", bestCentroid(col("q"), centroids))
      .select(col("vec_id"), col("best.cid").as("cluster"),
        col("best.d2").as("dist2"))
  }

  /** The per-row argmin over k centroid LITERALS: struct(d2, cid) so the
    * lexicographic `least` breaks distance ties toward the smaller
    * cluster id — engine-deterministic. `q` must be an int-vec column.
    */
  private[operators] def bestCentroid(q: Column,
      centroids: Seq[(Long, Array[Long])]): Column = {
    def d2(cArr: Array[Long]): Column =
      aggregate(
        zip_with(q, array(cArr.map(lit(_)): _*), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val cands = centroids.map { case (cid, c) =>
      struct(d2(c).as("d2"), lit(cid).as("cid")) }
    if (cands.size == 1) cands.head else least(cands: _*)
  }

  /** The Lloyd rounds of [[kmeansAssign]], returning the final centroid
    * table (seed id → int-vec) — exposed so [[SemanticDedupGate]] can
    * persist the geometry once and label every later batch against it.
    * `iv` must be the (vec_id, q) int-vec frame, checkpointed by the
    * caller (each round re-reads it).
    */
  private[graft] def lloydCentroids(iv: DataFrame, k: Int,
      iters: Int): Seq[(Long, Array[Long])] = {
    var centroids: Seq[(Long, Array[Long])] =
      iv.orderBy("vec_id").limit(k).collect()
        .map(r => r.getLong(0) ->
          r.getAs[scala.collection.Seq[Long]]("q").toArray)
    require(centroids.nonEmpty, "kmeansAssign: empty input")
    for (_ <- 1 until iters) {
      // one keyed integer agg; k×dims rows reach the driver
      val sums = iv
        .withColumn("cid", bestCentroid(col("q"), centroids).getField("cid"))
        .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
      sums.foreach(r => require(math.abs(r.getLong(2)) < (1L << 53),
        "kmeansAssign: per-cluster component sum exceeds exact-double " +
          "range — shard the corpus or rescale intVec"))
      val byCid = sums.groupBy(_.getLong(0))
      centroids = centroids.map { case (cid, c) =>
        byCid.get(cid).fold(cid -> c) { rows =>
          val arr = c.clone()
          rows.foreach { r =>
            arr(r.getInt(1)) =
              math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong }
          cid -> arr
        }
      }
    }
    centroids
  }

  /** q108: the cluster-assignment mart — every vector labeled with its
    * k-means cluster and exact integer distance² after 2 Lloyd rounds.
    * The organizing pass for SemDeDup-style curation (q109), IVF-like
    * routing, and per-cluster corpus diagnostics. Fully hash-oracled:
    * DuckDB unrolls the same two integer-exact rounds.
    */
  def q108Kmeans(s: SparkSession, d: String): DataFrame =
    kmeansAssign(embeddings(s, d), k = 8, iters = 2)

  /** q109: SemDeDup (Abbas et al. 2023) — semantic dedup by
    * cluster-then-prune: within each k-means cluster, a vector is
    * dropped when a SMALLER-id cluster-mate sits within cosine ≥ τ (the
    * deterministic keep-min-id form of the paper's per-cluster pruning;
    * a greedy sequential sweep would be order-dependent and
    * unverifiable). Emits every vector with its cluster and kept flag.
    *
    * Scale: candidate pairs exist only WITHIN clusters — the whole
    * point of clustering first; production k comes from
    * [[ivfNumCentroids]]'s √n (capped) so cluster width stays bounded
    * as the corpus grows and the within-cluster join never approaches
    * n². The labeled-vector frame is checkpointed once and feeds both
    * pair sides and the output (q99's shared-frame discipline). τ=0.3
    * here because the synthetic corpus's cosine ceiling is ~0.51 — the
    * oracle must exercise a BINDING threshold; production τ ≈ 0.9+
    * (the spec proves the planted-twin behavior at 0.95).
    */
  def q109Semdedup(s: SparkSession, d: String): DataFrame =
    semDedup(embeddings(s, d), k = 8, iters = 2, tau = 0.3)

  /** q110: the per-cluster "card" — size, mean and max distance² per
    * k-means cluster: the table an operator reads to CHOOSE k (clusters
    * with huge radii want splitting, near-empty ones want merging)
    * before committing a SemDeDup pass or an IVF build to a geometry.
    * All-integer output off q108's exact distances; the per-cluster sum
    * runs in decimal(38,0) (the fingerprint discipline — a long sum of
    * ~1e12 distances overflows under ANSI at ~10⁷ rows per cluster) and
    * the mean is floor(double-division of the exact sum) — identical
    * IEEE op in DuckDB.
    */
  def q110ClusterCard(s: SparkSession, d: String): DataFrame = {
    val assign = kmeansAssign(embeddings(s, d), k = 8, iters = 2)
    val res = assign.groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist2").cast("decimal(38,0)")).as("__s"),
        max(col("dist2")).as("max_d2"))
      .select(col("cluster"), col("n_vecs"),
        floor(col("__s").cast("double") / col("n_vecs")).cast("long")
          .as("mean_d2"),
        col("max_d2"))
      .transform(d => graft.CacheHygiene.materialize(d))
    graft.CacheHygiene.releaseTree(assign)
    res
  }

  def semDedup(df: DataFrame, k: Int, iters: Int, tau: Double): DataFrame = {
    val labels = kmeansAssign(df, k, iters).select("vec_id", "cluster")
    val nf = withVec(df).select(col("vec_id"), col("vec"), col("norm"))
      .join(labels, "vec_id")
      .transform(d => graft.CacheHygiene.materialize(d))
    // nf's EAGER checkpoint just consumed `labels` for the last time, so
    // the int-vec checkpoint backing it (inside kmeansAssign) would
    // otherwise leak unreleasably — the returned plan rides nf alone
    graft.CacheHygiene.releaseTree(labels)
    val a = nf.select(col("cluster"), col("vec_id"), col("vec"), col("norm"))
    val b = nf.select(col("cluster"), col("vec_id").as("b_id"),
      col("vec").as("b_vec"), col("norm").as("b_norm"))
    // when() guards the ANSI divide-by-zero a zero vector would hit; it
    // has no direction, so it neither drops nor is dropped
    val dropped = a.join(b,
        Seq("cluster")).filter(col("b_id") < col("vec_id") &&
        when(col("norm") * col("b_norm") > 0,
          dot(col("vec"), col("b_vec")) /
            (col("norm") * col("b_norm")) >= tau).otherwise(lit(false)))
      .select("vec_id").distinct()
    nf.join(dropped.withColumn("__hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("__hit").isNull.as("kept"))
  }

  // ---- Product quantization (PQ) ----------------------------------------

  /** Per-subspace PQ codebooks (Jégou et al. 2011): m independent
    * integer-exact k-means — the q108 Lloyd math — over the m
    * contiguous slices of the fixed-point embedding. Returns one
    * codebook per subspace as (code id → centroid slice); code ids are
    * the seed vec_ids, so training is deterministic end to end (same
    * init, same (d2, cid) tie-breaks, same floor-division recompute as
    * q108 — [[graft.VectorOpsSpec]] pins this ≡ running
    * [[lloydCentroids]] per slice, and the q129/q130 oracles pin it
    * cross-engine).
    *
    * Scale: `iv` must be the caller-checkpointed (vec_id, q) int-vec
    * frame. All m subspaces train FUSED: each Lloyd round is ONE corpus
    * scan that argmins every subspace in the same pass, then one keyed
    * integer agg over the posexploded dims routed to (subspace, code,
    * dim) — a naive per-subspace loop would scan the corpus m×iters
    * times; this scans it iters times, the difference between 2 and 32
    * reads of a 100 TB store at q130's m=16. Driver state is
    * m·k·(dims/m) = k·dims longs, the q108 envelope.
    */
  private[graft] def pqCodebooks(iv: DataFrame, m: Int, k: Int,
      iters: Int, dims: Int): Seq[Seq[(Long, Array[Long])]] = {
    require(m >= 1 && dims % m == 0,
      s"pqCodebooks: dims=$dims must split evenly into m=$m subspaces")
    val sub = dims / m
    val seeds = iv.orderBy("vec_id").limit(k).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Long]]("q").toArray)
    require(seeds.nonEmpty, "pq: empty embedding input")
    var cbs: Seq[Seq[(Long, Array[Long])]] = (0 until m).map { j =>
      seeds.toSeq.map { case (id, q) => id -> q.slice(j * sub, (j + 1) * sub) }
    }
    for (_ <- 1 until iters) {
      // one scan: per-row argmin in EVERY subspace (the native PqAssign
      // kernel — one codegen'd integer loop, no per-candidate HOF
      // allocation), then (j, cid, dim) integer sums — map-side
      // combinable to m·k·sub = k·dims rows
      val sums = iv
        .select(col("q"), pqAssignCol(col("q"), cbs).as("__pq"))
        .select(col("__pq"), posexplode(col("q")).as(Seq("pos", "v")))
        .select(
          floor(col("pos") / lit(sub)).cast("int").as("j"),
          element_at(col("__pq"),
            floor(col("pos") / lit(sub)).cast("int") + 1)
            .getField("cid").as("cid"),
          pmod(col("pos"), lit(sub)).as("dim"), col("v"))
        .groupBy("j", "cid", "dim")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
      sums.foreach(r => require(math.abs(r.getLong(3)) < (1L << 53),
        "pqCodebooks: per-code component sum exceeds exact-double " +
          "range — shard the corpus or rescale intVec"))
      val byJ = sums.groupBy(_.getInt(0))
      cbs = cbs.zipWithIndex.map { case (cb, j) =>
        val byCid = byJ.getOrElse(j, Array.empty).groupBy(_.getLong(1))
        cb.map { case (cid, c) =>
          byCid.get(cid).fold(cid -> c) { rows =>
            val arr = c.clone()
            rows.foreach { r =>
              arr(r.getInt(2)) =
                math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong }
            cid -> arr
          }
        }
      }
    }
    cbs
  }

  /** The trained codebooks as a [[graft.plans.PqAssign]] Column — the
    * all-subspace argmin as ONE codegen'd kernel over the int-vec.
    * Payload is k·dims longs (the q108 envelope), guarded like the IVF
    * kernel against a plan-poisoning build.
    */
  private[operators] def pqAssignCol(q: Column,
      cbs: Seq[Seq[(Long, Array[Long])]]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val cids = cbs.head.map(_._1).toArray
    require(cbs.forall(_.map(_._1) == cbs.head.map(_._1)),
      "pq: subspace codebooks must share the seed code ids")
    val payload = cbs.map(_.map(_._2.length.toLong * 8).sum).sum
    require(payload <= (256L << 20),
      s"pq kernel payload ${payload >> 20} MB exceeds the 256 MB hard cap")
    toCol(graft.plans.PqAssign(toExpr(q),
      cids, cbs.map(_.map(_._2).toArray).toArray))
  }

  /** ADC distance² (query int-vec vs corpus PQ codes) as the native
    * [[graft.plans.PqAdc]] kernel — one integer loop per scored pair.
    */
  private[operators] def pqAdcCol(q: Column, codes: Column,
      cbs: Seq[Seq[(Long, Array[Long])]]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.plans.PqAdc(toExpr(q), toExpr(codes),
      cbs.head.map(_._1).toArray, cbs.map(_.map(_._2).toArray).toArray))
  }

  /** Vector dims read off the first row of the int-vec frame — the PQ
    * split must know the width, and every existing vector op already
    * assumes a uniform-dims column. Loud on empty input.
    */
  private[operators] def vecDims(iv: DataFrame): Int = {
    val head = iv.select(size(col("q")).as("n")).head(1)
    require(head.nonEmpty, "pq: empty embedding input")
    head(0).getInt(0)
  }

  /** PQ code assignment + reconstruction diagnostics: every vector's
    * per-subspace code (nearest subspace centroid, (d2, cid) tie-break
    * — engine-deterministic) with its exact per-subspace and total
    * reconstruction distortion. The codes ARE the compressed store a
    * 100 TB ANN deployment scans (m bytes per vector at k ≤ 256 vs
    * 4·dims float bytes — 128× here); recon_d2 is the table an operator
    * reads before trusting that compression (distortion percentiles
    * against the metric's noise floor, the q106 discipline).
    *
    * Scale shape: training is [[pqCodebooks]] (k·dims driver longs);
    * assignment is ONE codegen'd scan over the checkpointed int-vec
    * frame — per row an argmin over k centroid literals per subspace,
    * zero exchanges after the checkpoint. Returned frame rides the
    * checkpoint; callers that own it release via
    * CacheHygiene.releaseTree (Verify does).
    */
  def pqCodes(df: DataFrame, m: Int = 2, k: Int = 4, iters: Int = 2,
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 1, s"pqCodes: k=$k iters=$iters")
    val iv = df.select(col("vec_id"), intVec(col(vecCol)).as("q"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val dims = vecDims(iv)
    val cbs = pqCodebooks(iv, m, k, iters, dims)
    val cols: Seq[Column] =
      col("vec_id") +:
        ((0 until m).flatMap(j => Seq(
          element_at(col("__pq"), j + 1).getField("cid").as(s"code_$j"),
          element_at(col("__pq"), j + 1).getField("d2").as(s"d2_$j"))) :+
          (0 until m).map(j => element_at(col("__pq"), j + 1).getField("d2"))
            .reduce(_ + _).as("recon_d2"))
    iv.select(col("vec_id"), pqAssignCol(col("q"), cbs).as("__pq"))
      .select(cols: _*)
  }

  /** q129: the PQ mart — 2 subspaces × 4 codes × 2 Lloyd rounds over
    * the 64-dim embeddings. Fully hash-oracled: DuckDB unrolls the same
    * two integer-exact rounds per subspace (the q108 trick, applied to
    * each slice), so codes AND distortions match bit-for-bit.
    */
  def q129PqCodes(s: SparkSession, d: String): DataFrame =
    pqCodes(embeddings(s, d))

  /** Asymmetric-distance PQ serving (ADC): queries keep exact int-vecs,
    * the corpus is its PQ codes, and each (query, subspace) pair prices
    * its distance through a constant-folded code→centroid lookup map —
    * distance² = Σ_j ‖q_j − centroid_j[code_j]‖², exact integer
    * arithmetic, so the whole ranking (and the exact-rank instrument)
    * carries a full cross-engine hash oracle like q107. exact_rk is
    * null when ADC promoted a vector outside the true top-k — the
    * in-query recall read.
    *
    * Scale shape: q38/q107's — queries broadcast, the code-only corpus
    * streams (the point of PQ: the scan reads m codes per vector, not
    * dims floats), bounded-heap TopKPerKey, no window over scored
    * volume. The scored frame is checkpointed once and both rankings
    * consume it (the q107 shared-frame discipline); the exact-d2
    * instrument column reads the full int-vec alongside the codes —
    * deployable serving drops it and scans codes alone.
    */
  def pqTopk(df: DataFrame, m: Int = 2, k: Int = 4, iters: Int = 2,
      kNN: Int = 5, querySpan: Long = 10L): DataFrame = {
    val iv = df.select(col("vec_id"), intVec(col("embedding")).as("q"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val dims = vecDims(iv)
    val cbs = pqCodebooks(iv, m, k, iters, dims)
    // the corpus side carries ONLY its m codes (plus the full int-vec
    // for the exact-rank instrument — deployable serving drops c_q)
    val corpus = iv.filter(col("vec_id") >= querySpan)
      .select(col("vec_id").as("c_id"), col("q").as("c_q"),
        transform(pqAssignCol(col("q"), cbs), b => b.getField("cid"))
          .as("codes"))
    val queries = iv.filter(col("vec_id") < querySpan)
      .select(col("vec_id").as("q_id"), col("q").as("q_q"))
    val exact = aggregate(
      zip_with(col("q_q"), col("c_q"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("q_id"), col("c_id"),
        pqAdcCol(col("q_q"), col("codes"), cbs).as("adc_d2"),
        exact.as("exact_d2"))
      .transform(d => graft.CacheHygiene.materialize(d))
    graft.CacheHygiene.releaseTree(iv)
    val ra = rankTopK(scored.withColumn("__neg", -col("adc_d2")),
        "q_id", "c_id", "__neg", k = kNN)
      .select(col("q_id"), col("c_id"), col("rk"), col("adc_d2"))
    val re = rankTopK(scored.withColumn("__neg", -col("exact_d2")),
        "q_id", "c_id", "__neg", k = kNN)
      .select(col("q_id"), col("c_id"), col("rk").as("exact_rk"))
    ra.join(broadcast(re), Seq("q_id", "c_id"), "left")
      .select(col("q_id"), col("c_id"), col("rk"), col("adc_d2"),
        col("exact_rk"))
  }

  /** q130: ADC top-5 per query, exact-rank instrument included — the
    * serving read of the IVF/int8/PQ triad. Serving uses a FINER grid
    * than the q129 demo mart: 16 subspaces × 64 codes = 16 bytes per
    * vector vs 256 raw (16×), chosen off the PqProbe grid sweep —
    * coarser grids (4×8, 8×64) collapse to recall@5 0.2–0.36 on this
    * corpus because the synthetic embeddings are near-uniform (pairwise
    * distance gaps are small relative to quantization error, PQ's
    * documented worst case); 16×64 measures 0.48 and the next factor-2
    * of recall costs all the compression (32×64 ≡ 2-dim cells → 0.68 at
    * only 2×). The exact_rk instrument column IS that read, in-query.
    */
  def q130PqTopk(s: SparkSession, d: String): DataFrame =
    pqTopk(embeddings(s, d), m = 16, k = 64)

  /** IVF-PQ serving (Jégou et al. 2011 §IV, the IVFADC layout — what
    * FAISS deploys at billion scale): a coarse quantizer routes every
    * vector to one of kc inverted lists, PQ codes are trained on the
    * RESIDUALS (q − coarse centroid) — residuals concentrate around the
    * origin, so the same code budget spends its resolution where the
    * bucket's vectors actually live — and a query probes only its
    * nProbe nearest lists, scoring candidates by residual-ADC. This
    * composes the q108 coarse quantizer with the q129/q130 PQ kernels
    * into the architecture that makes ANN sub-linear AND the store
    * compressed at the same time: the scan per query touches
    * nProbe/kc of the corpus, m bytes per vector.
    *
    * Integer-exact end to end (coarse assign, residuals, codebooks,
    * ADC), so the full ranking — routing included — carries a
    * cross-engine hash oracle; exact_rk is measured over the ENTIRE
    * corpus, so a null reads as routing-OR-quantization miss, the
    * honest end-to-end recall instrument (q57's recall gate measures
    * routing only).
    *
    * Scale shape: coarse training is q108's (k·dims driver longs);
    * residual minting + PQ coding are two kernel scans over the two
    * checkpoints (iv, resid); the probe table is queries×kc rows built
    * against a kc-row literal frame; candidate scoring joins the TINY
    * probe side (queries×nProbe rows, broadcast) onto the code-only
    * corpus ON the list id — the corpus streams, bounded-heap top-k,
    * no window over scored volume. The exact instrument is the one
    * full crossJoin (drop it in deployment). Callers release the
    * backing checkpoints via CacheHygiene.releaseTree (Verify does).
    */
  def ivfpqTopk(df: DataFrame, kc: Int = 8, cIters: Int = 2,
      m: Int = 16, k: Int = 64, iters: Int = 2, nProbe: Int = 0,
      kNN: Int = 5, querySpan: Long = 10L,
      instrument: Boolean = true): DataFrame = {
    // nProbe <= 0 = AUTO: a fixed probe count over a scale-dependent kc
    // is the q57 recall-decay bug class — see [[ivfpqAutoProbes]]
    val np = if (nProbe > 0) nProbe else ivfpqAutoProbes(kc)
    require(kc >= 1 && np >= 1 && np <= kc,
      s"ivfpqTopk: need 1 <= nProbe=$np <= kc=$kc")
    val s = df.sparkSession
    import s.implicits._
    val iv = df.select(col("vec_id"), intVec(col("embedding")).as("q"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val dims = vecDims(iv)
    val coarse = lloydCentroids(iv, kc, cIters)
    val cLut = map(coarse.flatMap { case (cid, c) =>
      Seq(lit(cid), array(c.map(lit(_)).toSeq: _*)) }: _*)
    // residuals: one PqAssign(m=1) kernel scan for the list id, one
    // lookup+zip_with for q − c(v); checkpointed — feeds PQ training
    // (iters scans) and the corpus coding scan
    val resid = iv
      .select(col("vec_id"), col("q"),
        element_at(pqAssignCol(col("q"), Seq(coarse)), 1)
          .getField("cid").as("ccid"))
      .select(col("vec_id"), col("ccid"),
        zip_with(col("q"), element_at(cLut, col("ccid")),
          (a, b) => a - b).as("r"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val cbs = pqCodebooks(
      resid.select(col("vec_id"), col("r").as("q")), m, k, iters, dims)
    val corpus = resid.filter(col("vec_id") >= querySpan)
      .select(col("vec_id").as("c_id"), col("ccid"),
        transform(pqAssignCol(col("r"), cbs), b => b.getField("cid"))
          .as("codes"))
    val queries = iv.filter(col("vec_id") < querySpan)
      .select(col("vec_id").as("q_id"), col("q").as("q_q"))
    // probe routing: exact integer d2 to each of the kc coarse
    // centroids (a kc-row literal frame — queries×kc rows total),
    // keep the nProbe nearest per query, residualize the query
    // against each probed centroid
    val centDf = coarse.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("ccid", "cvec")
    val probeScored = queries.crossJoin(broadcast(centDf))
      .select(col("q_id"), col("q_q"), col("ccid"),
        (-aggregate(zip_with(col("q_q"), col("cvec"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
          .as("__neg"),
        zip_with(col("q_q"), col("cvec"), (a, b) => a - b).as("qr"))
    val probed = rankTopK(probeScored, "q_id", "ccid", "__neg", k = np)
      .select(col("q_id"), col("ccid"), col("qr"))
    // candidates = the probed lists only: tiny probe side broadcasts,
    // the code-only corpus streams through the list-id join
    val scored = corpus.join(broadcast(probed), "ccid")
      .select(col("q_id"), col("c_id"), col("ccid"),
        pqAdcCol(col("qr"), col("codes"), cbs).as("adc_d2"))
    val ra = rankTopK(scored.withColumn("__neg", -col("adc_d2")),
        "q_id", "c_id", "__neg", k = kNN)
      .select(col("q_id"), col("c_id"), col("ccid"), col("rk"),
        col("adc_d2"))
    // end-to-end instrument: the exact ranking over the FULL corpus.
    // Deployable serving (instrument = false, benched as q131prod)
    // skips this crossJoin entirely — the one data-scale stage the
    // instrument adds.
    if (!instrument)
      ra.select(col("q_id"), col("c_id"), col("ccid"), col("rk"),
        col("adc_d2"))
    else {
      val exactScored = iv.filter(col("vec_id") >= querySpan)
        .select(col("vec_id").as("c_id"), col("q").as("c_q"))
        .crossJoin(broadcast(queries))
        .select(col("q_id"), col("c_id"),
          (-aggregate(zip_with(col("q_q"), col("c_q"),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
            .as("__neg"))
      val re = rankTopK(exactScored, "q_id", "c_id", "__neg", k = kNN)
        .select(col("q_id"), col("c_id"), col("rk").as("exact_rk"))
      ra.join(broadcast(re), Seq("q_id", "c_id"), "left")
        .select(col("q_id"), col("c_id"), col("ccid"), col("rk"),
          col("adc_d2"), col("exact_rk"))
    }
  }

  /** q131: IVF-PQ end to end on the q108 coarse geometry (kc=8) with
    * the q130 PQ grid (16×64) on residuals, probe count AUTO
    * ([[ivfpqAutoProbes]] — all 8 lists at this toy kc, the ~30%
    * fraction at production kc). The deployable 100 TB serving read
    * scans nProbe/kc of the corpus at 16 bytes per vector; the auto
    * rule keeps that fraction — and recall — constant as kc grows
    * with √n.
    */
  /** The registered q131's coarse list count — ONE constant feeding both
    * the query (kc below) and its oracle's resolved AUTO probe count, so
    * the two cannot drift apart; it mirrors KmeansOracle's q108 geometry
    * (k=8), which the oracle's coarse CTEs restate.
    */
  val Q131GateKc = 8

  def q131IvfpqTopk(s: SparkSession, d: String): DataFrame =
    ivfpqTopk(embeddings(s, d), kc = Q131GateKc)

  // ---- Persisted IVF-PQ index (build / serve / append) -------------------

  /** Build a PERSISTED IVF-PQ index: the frozen geometry (coarse
    * centroids + residual codebooks + distortion baseline — the
    * [[PqDedupGate.writeGeometry]] artifact, shared contract) plus the
    * coded corpus written `partitionBy(ccid)` — one parquet partition
    * per inverted list. That layout makes the probe read PARTITION
    * PRUNING: a query that probes nProbe of kc lists literally reads
    * nProbe directories (the plan shows the partition filter), so the
    * serving scan is nProbe/kc of the store at m longs per vector with
    * zero per-query shuffle of the rest. This is the lifecycle form of
    * q131 — build once, serve many — the PQ analog of
    * [[ivfShardedIndex]].
    */
  def ivfpqBuild(corpus: DataFrame, dir: String, kc: Int = 8,
      cIters: Int = 2, m: Int = 16, k: Int = 64, iters: Int = 2,
      trainOn: DataFrame = null): Unit = {
    // trainOn: freeze geometry from a frame other than the indexed corpus
    // (e.g. corpus + the expected query distribution, matching what the
    // one-shot ivfpqTopk trains on — the equivalence spec's construction).
    PqDedupGate.writeGeometry(Option(trainOn).getOrElse(corpus),
      s"$dir/geom", kc, cIters, m, k, iters)
    ivfpqAppend(corpus, dir)
  }

  /** Code vectors with the FROZEN geometry and append them to their
    * list partitions — index growth without retraining (the ivfAppend
    * contract). Monitor [[PqDedupGate.distortionDrift]] per append: a
    * drifted distribution reconstructs worse under frozen codebooks and
    * the answer is a rebuild, never a silent partial retrain. Loud when
    * no geometry exists.
    */
  def ivfpqAppend(vectors: DataFrame, dir: String): Unit = {
    val spark = vectors.sparkSession
    val (coarse, cbs) = PqDedupGate.readGeometry(spark, s"$dir/geom")
    val iv = vectors
      .select(col("vec_id"), intVec(col("embedding")).as("q"))
    PqDedupGate.residualize(iv, coarse)
      .select(col("ccid"), col("vec_id").as("c_id"),
        transform(pqAssignCol(col("r"), cbs), b => b.getField("cid"))
          .as("codes"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("ccid").parquet(s"$dir/lists")
  }

  /** Serve top-k from the persisted index: probe each query's nProbe
    * nearest lists, then read ONLY those list partitions (the probed
    * ccid set is ≤ kc values, collected driver-side, so the partition
    * filter is STATIC — no dynamic-pruning gamble) and residual-ADC
    * the candidates with the probe table broadcast. Ranking-identical
    * to [[ivfpqTopk]]`(instrument = false)` when the index was built
    * with the SAME training frame and grid — ivfpqTopk trains its
    * geometry on queries + corpus together, so the equivalent build is
    * `ivfpqBuild(corpusOnly, dir, trainOn = fullFrame)` (spec-pinned:
    * "persisted index ranks identically to the one-shot ivfpqTopk").
    * The index just pays the training once.
    */
  def ivfpqSearch(spark: SparkSession, dir: String, queries: DataFrame,
      nProbe: Int = 0, kNN: Int = 5): DataFrame = {
    val (coarse, cbs) = PqDedupGate.readGeometry(spark, s"$dir/geom")
    // AUTO resolves against the PERSISTED kc — an index grown to more
    // lists is probed proportionally harder, like the sharded IVF path
    val np = if (nProbe > 0) nProbe else ivfpqAutoProbes(coarse.size)
    require(np >= 1 && np <= coarse.size,
      s"ivfpqSearch: need 1 <= nProbe=$np <= kc=${coarse.size}")
    import spark.implicits._
    val centDf = coarse.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("ccid", "cvec")
    val probeScored = queries
      .select(col("vec_id").as("q_id"), intVec(col("embedding")).as("q_q"))
      .crossJoin(broadcast(centDf))
      .select(col("q_id"), col("ccid"),
        (-aggregate(zip_with(col("q_q"), col("cvec"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
          .as("__neg"),
        zip_with(col("q_q"), col("cvec"), (a, b) => a - b).as("qr"))
    val probed = rankTopK(probeScored, "q_id", "ccid", "__neg", k = np)
      .select(col("q_id"), col("ccid"), col("qr"))
      .transform(d => graft.CacheHygiene.materialize(d)) // read twice: the ccid set and the join side
    val probedLists = probed.select("ccid").distinct()
      .collect().map(_.getLong(0))
    // explicit schema: directory-name inference would type the ccid
    // partition column INT, diverging from every other surface's BIGINT
    // (PqAssign emits cid:long); typing it here keeps the served schema
    // identical to ivfpqTopk's and the partition filter cast-free
    val listsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("codes",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("ccid",
        org.apache.spark.sql.types.LongType)))
    val scored = spark.read.schema(listsSchema).parquet(s"$dir/lists")
      .filter(col("ccid").isin(probedLists: _*))
      .join(broadcast(probed), "ccid")
      .select(col("q_id"), col("c_id"), col("ccid"),
        pqAdcCol(col("qr"), col("codes"), cbs).as("adc_d2"))
    rankTopK(scored.withColumn("__neg", -col("adc_d2")),
        "q_id", "c_id", "__neg", k = kNN)
      .select(col("q_id"), col("c_id"), col("ccid"), col("rk"),
        col("adc_d2"))
  }

  // ---- IVF (inverted-file) ANN ------------------------------------------

  val DefaultProbes         = 8

  /** AUTO probe count (r17): a FIXED nProbe over a √n-scaled centroid
    * table probes a shrinking FRACTION of the index as the corpus grows,
    * so recall silently decays with scale — the sf0.1 extended gate
    * caught exactly this (q57's recall@5 ≥ 0.8 bound held at 8-of-22
    * probes on sf0.01 and FAILED at 8-of-44 on sf0.1). The auto rule
    * probes ~30% of the centroid table (floor [[DefaultProbes]]):
    * constant fraction → recall stable under corpus growth on
    * self-similar data, at a bounded ~3× index-speedup trade. A
    * deployment chasing tighter latency tunes numProbes explicitly
    * against its own recall target (docs/TUNING.md's ANN envelope).
    */
  def ivfAutoProbes(numCentroids: Int): Int =
    math.max(DefaultProbes, math.ceil(numCentroids * 0.3).toInt)

  /** AUTO probe count for the IVF-PQ family (r18): the same
    * constant-fraction discipline as [[ivfAutoProbes]], clamped to kc
    * because the PQ paths carry a hard `nProbe <= kc` contract (probing
    * a list twice is meaningless). At toy kc the [[DefaultProbes]] floor
    * dominates (kc=8 → probe all 8 lists — recall can hide nothing at
    * gate scale); at production kc (√n per [[ivfNumCentroids]], e.g.
    * 1024 at 10⁶ vectors) the ~30% fraction rules, keeping the scanned
    * fraction — and therefore recall on self-similar data — CONSTANT as
    * the corpus grows. This closes the last fixed-absolute-parameter-
    * over-a-scale-dependent-structure on the board: the r17 extended
    * gate proved the bug class on q57 (fixed 8 probes held at 22
    * centroids, decayed at 44); nothing gated PQ recall at scale until
    * this rule + the PqProbe kc sweep (BASELINE.md).
    */
  def ivfpqAutoProbes(kc: Int): Int =
    math.min(math.max(1, kc), ivfAutoProbes(kc))
  val DefaultLloydIters     = 2
  val DefaultAssignReplicas = 2

  /** √n centroids (clamped): buckets stay ~√n wide, so probe cost and
    * bucket-scan cost balance as the corpus grows — 100 TB of vectors gets
    * the 4096 cap, not a toy constant.
    */
  def ivfNumCentroids(n: Long): Int =
    math.max(4, math.min(4096, math.sqrt(n.toDouble).toInt))

  /** The documented single-index ANN envelope (docs/TUNING.md, "ANN at a
    * billion vectors"): past ~16k-wide buckets the capped centroid count
    * makes probe cost grow linearly with the corpus instead of as √n —
    * the design wants one more index shard, not a wider index. Returns
    * the warning for a build outside the envelope, None inside; exposed
    * so deployment code can turn the same check into its own hard gate.
    */
  def ivfWidthWarning(n: Long, c: Int): Option[String] = {
    val width = if (c > 0) n / c else n
    if (n > 0 && width > 16384)
      Some(s"ivf build: $n vectors under $c centroids means ~$width-wide " +
        "buckets - probe cost now grows linearly with the corpus. Shard " +
        s"the index by hash(vec_id) into ~${n / 16777216L + 1} shards " +
        "(each rebuilds its own sqrt-n centroids) or raise numCentroids " +
        "explicitly, and widen queries with ivfSearchAdaptive; see " +
        "docs/TUNING.md 'ANN at a billion vectors'")
    else None
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.VectorOps")

  /** Assign each vector to its top-`replicas` centroids by cosine, as a
    * per-row kernel (plans.TopCentroids) over the driver-collected
    * centroid table — ≤4096×64 doubles ≈ 2 MB, the same payload a
    * broadcast ships. The crossJoin + row_number-window formulation this
    * replaces materialized n×C rows and EXCHANGED them to rank per
    * vector — trillions of shuffled rows at 10⁹ vectors; this one scans
    * the corpus once and shuffles nothing. Tie-break (cos desc, cid asc,
    * NaN greatest) matches the window formulation exactly.
    * `replicas > 1` is the redundant "spill" assignment that buys ANN
    * recall for index size: a vector near a bucket boundary is findable
    * from either side.
    */
  private def assign(vecs: DataFrame, centroids: DataFrame,
      replicas: Int = 1): DataFrame = {
    val top = topCentroidsCol(centroids, col("vec"), col("norm"), replicas)
    // fail-fast on null vectors: the kernel yields null there and
    // explode() would DROP the row - a vector silently vanishing from
    // the index. assert_true-as-filter survives column pruning
    // (RangeJoin.binned's established pattern).
    val nullOk = assert_true(col("vec").isNotNull && col("norm").isNotNull,
      lit("ivf assign: null vec/norm - clean the corpus before indexing"))
    vecs.filter(nullOk.isNull)
      .select(col("vec_id"), col("vec"), col("norm"), explode(top).as("tc"))
      .select(col("vec_id"), col("tc.cid").as("cid"), col("vec"), col("norm"))
  }

  /** The TopCentroids kernel as a Column over a driver-collected centroid
    * table (≤4096 × 64 doubles ≈ 2 MB — broadcast-sized by construction).
    */
  private def topCentroidsCol(centroids: DataFrame, vecCol: Column,
      normCol: Column, kIn: Int): Column = {
    val rows = centroids.select("cid", "cvec", "cnorm").collect()
      .sortBy(_.getInt(0))
    // kIn <= 0 = AUTO: the fraction rule needs the centroid count, which
    // is only known here (post-collect) — see [[ivfAutoProbes]]
    val k = if (kIn > 0) kIn else ivfAutoProbes(rows.length)
    val cids = rows.map(_.getInt(0))
    // seed centroids are raw corpus vectors (array<float> for the
    // embeddings tables); Lloyd means are array<double> - normalize here
    val cvecs = rows.map(_.getSeq[Any](1).iterator.map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val cnorms = rows.map(_.getDouble(2))
    // the kernel embeds the centroid table in the plan (broadcast-shaped
    // payload). 4096 × 64-dim doubles ≈ 2 MB; a deliberate numCentroids /
    // high-dim build can push this to plan-poisoning weight - fail the
    // build loudly at the documented hard cap instead of shipping a
    // quarter-gigabyte expression to every executor
    val payload = cvecs.length.toLong * cvecs.headOption.map(_.length).getOrElse(0) * 8
    require(payload <= (256L << 20),
      s"centroid kernel payload ${payload >> 20} MB exceeds the 256 MB hard cap - " +
        "shard the index instead (docs/TUNING.md 'ANN at a billion vectors')")
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.plans.TopCentroids(
      toExpr(vecCol), toExpr(normCol), cids, cvecs, cnorms, k))
  }

  /** IVF index: deterministic hash-sampled seed centroids plus `lloydIters`
    * refinement passes, all as DataFrame ops — the coarse quantizer that
    * makes ANN sub-linear: queries probe nProbe buckets instead of the
    * whole corpus. The corpus frame is checkpointed once (it feeds the
    * seed sample, every Lloyd pass, and the final assignment); the seed
    * ranking runs inside a single collected array of the ~4C-row sample —
    * no corpus-wide sort, and no empty-partitionBy window (which would
    * log Spark's single-partition warning on every build).
    *
    * `numCentroids = 0` (default) scales the centroid count to √n.
    */
  def ivfIndex(corpusIn: DataFrame, numCentroids: Int = 0,
      lloydIters: Int = DefaultLloydIters,
      assignReplicas: Int = DefaultAssignReplicas): (DataFrame, DataFrame) = {
    val corpus = corpusIn.transform(d => graft.CacheHygiene.materialize(d))
    val n = corpus.count()
    val c = if (numCentroids > 0) numCentroids else ivfNumCentroids(n)
    ivfWidthWarning(n, c).foreach(log.warn)
    val centroids = buildCentroids(corpus, c, lloydIters, n)
    // materialize the assignment so the corpus checkpoint can be released
    // here instead of living for the rest of the session
    val assignments = assign(corpus, centroids, assignReplicas)
      .select("vec_id", "cid").transform(d => graft.CacheHygiene.materialize(d))
    graft.CacheHygiene.release(corpus)
    (centroids, assignments)
  }

  /** Seed + Lloyd-refine `c` centroids (cids 0..c-1) over an eagerly
    * checkpointed corpus frame of `n` rows (callers have always just
    * counted it — recounting here would re-scan every cached block per
    * build). Shared by the full build and the decayed-bucket partial
    * rebuild. The returned frame is a checkpoint; intermediates are
    * released as superseded.
    */
  private def buildCentroids(corpus: DataFrame, c: Int, lloydIters: Int,
      n: Long): DataFrame = {
    // deterministic ~4C-row sample via id hash, ranked inside one array
    val sampleStep = math.max(1L, n / (c * 4L))
    val seeds = corpus
      .filter(pmod(xxhash64(col("vec_id")), lit(sampleStep)) === 0)
      .select(struct(col("vec_id"), col("vec"), col("norm")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("ss"))
      .select(posexplode(col("ss")))
      .filter(col("pos") < c)
      .select(col("pos").cast("int").as("cid"),
        col("col.vec").as("cvec"), col("col.norm").as("cnorm"))
    var centroids = seeds.transform(d => graft.CacheHygiene.materialize(d))
    // fail loudly, not with an index that silently assigns nothing: a
    // corpus pre-filtered by something correlated with the seed sampler's
    // id hash (e.g. an unsalted hash router) can empty the sample
    require(n == 0 || centroids.count() > 0,
      s"ivf build: seed sample is empty on a $n-row corpus - the corpus " +
        "filter is correlated with the xxhash64(vec_id) seed sampler")
    var i = 0
    while (i < lloydIters) {
      val prev = centroids
      // Lloyd step: per-centroid vector mean as ONE aggregate (native
      // VectorAvg buffer) - the posexplode → (cid,pos) avg → re-assemble
      // formulation shuffled dim×n rows per pass
      centroids = assign(corpus, centroids)
        .groupBy("cid")
        .agg(graft.plans.GraftFunctions.vec_avg(col("vec")).as("cvec"))
        .withColumn("cnorm", sqrt(dot(col("cvec"), col("cvec"))))
        .transform(d => graft.CacheHygiene.materialize(d))
      // the eager checkpoint above was this frame's last consumer
      graft.CacheHygiene.release(prev)
      i += 1
    }
    centroids
  }

  /** IVF-probed cosine top-k: rank centroids per query, exact-search only
    * the probed buckets. Approximate (recall < 1) by design — q38 is the
    * exact baseline it trades against; numProbes ≤ 0 (the default)
    * resolves via [[ivfAutoProbes]], under which q57's recall@5 ≥ 0.8
    * gate holds at every probed scale (VectorOpsSpec + the sf0.1/sf1.0
    * extended gates).
    */
  def ivfTopk(all: DataFrame, numProbes: Int = 0,
      numCentroids: Int = 0, lloydIters: Int = DefaultLloydIters,
      assignReplicas: Int = DefaultAssignReplicas): DataFrame = {
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"), col("norm").as("q_norm"))
    val corpus = all.filter(col("vec_id") >= 10)
    val (centroids, assignments) = ivfIndex(corpus, numCentroids, lloydIters, assignReplicas)
    // materialize the (tiny, k×queries-row) result so the index frames can
    // be released now — otherwise every ivfTopk call leaks its index
    val res = ivfSearch(queries, corpus, centroids, assignments, numProbes)
      .transform(d => graft.CacheHygiene.materialize(d))
    graft.CacheHygiene.release(centroids, assignments)
    res
  }

  /** Search a (pre-built) IVF index: probe the nProbe nearest centroid
    * buckets per query, exact-score their members, keep top-k. Separated
    * from the build so an index persisted by [[saveIvfIndex]] serves
    * many query batches — at 100 TB the build is the expensive pass and
    * runs once.
    */
  def ivfSearch(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      assignments: DataFrame, numProbes: Int = 0,
      k: Int = 5): DataFrame =
    scoreProbes(probeSelection(queries, centroids, numProbes),
      corpus, assignments, k)

  /** Probe selection: per-row top-numProbes kernel over the collected
    * centroid table — the crossJoin+window it replaces exchanged
    * queries × C rows just to pick each query's probe list. Null query
    * vectors fail loudly (same contract as assign): the kernel yields
    * null there and explode() would silently drop the query.
    */
  private def probeSelection(queries: DataFrame, centroids: DataFrame,
      numProbes: Int): DataFrame = {
    val qNullOk = assert_true(col("q_vec").isNotNull && col("q_norm").isNotNull,
      lit("ivf search: null q_vec/q_norm - clean the query set"))
    queries.filter(qNullOk.isNull)
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        explode(topCentroidsCol(centroids, col("q_vec"), col("q_norm"), numProbes)).as("tc"))
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("tc.cid").as("cid"))
  }

  /** Exact-score the probed buckets' members and keep top-k per query —
    * the shared tail of the fixed-probe and adaptive searches. `probes`
    * is (q_id, q_vec, q_norm, cid): one row per (query, probed bucket).
    */
  private def scoreProbes(probes: DataFrame, corpus: DataFrame,
      assignments: DataFrame, k: Int): DataFrame =
    scoreCandidates(
      probes.select("q_id", "q_vec", "q_norm", "cid")
        .join(assignments, "cid")
        // replicated assignment can surface a vector from several probed
        // buckets — dedupe before ranking so top-k rows stay distinct
        .dropDuplicates("q_id", "vec_id"),
      corpus, k)

  /** Exact-score (query, candidate) pairs against the corpus vectors and
    * keep top-k per query — the final tail shared by the single-index
    * searches and the sharded merge (whose candidates come from several
    * disjoint cid spaces and therefore join their own shard's assignments
    * BEFORE merging here).
    */
  private def scoreCandidates(cand: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val scored = cand.join(
      corpus.select(col("vec_id"), col("vec").as("c_vec"), col("norm").as("c_norm")),
      "vec_id")
    val cos = dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    rankTopK(scored.select(col("q_id"), col("vec_id"), cos.as("cos")),
        "q_id", "vec_id", "cos", k)
      .select(col("q_id"), col("vec_id").as("c_id"), round(col("cos"), 6).as("cos"), col("rk"))
  }

  /** Query-time multi-probe expansion: per query, probe centroid buckets
    * in cosine-rank order until their cumulative member count reaches
    * `minCandidates` (then stop — the bucket that crosses the budget is
    * the last probed), capped at `maxProbes` buckets. This is the standard
    * compensation for bucket-width drift: a fixed nProbe tuned on a fresh
    * index under-probes once appends widen/unbalance buckets (recall
    * sags), while a candidate budget keeps the SCAN cost — the thing that
    * actually bills at 100 TB — constant and recovers the recall by
    * reading however many buckets that budget buys.
    *
    * Returns (q_id, cid, probe_rank, bucket_n) — the probe plan, exposed
    * so callers (and specs) can audit exactly how much each query read.
    *
    * Budget units: `minCandidates` counts assignment ROWS, i.e. scan
    * cost. With replicated assignment (assignReplicas = r, default 2)
    * each vector appears in r buckets, so a budget of B rows buys
    * roughly B/r DISTINCT candidates. Scan-cost accounting is exact
    * (dedup happens after the probe join); when sizing for distinct
    * candidates, multiply the target by assignReplicas — e.g. docs/TUNING.md's
    * "8 × sqrt(n)" guidance is a row budget, ≈ 4 × sqrt(n) distinct
    * vectors at the default r = 2.
    * Cost shape: bucket sizes are one ≤C-row aggregate broadcast to a
    * queries×maxProbes ranked frame; the running sum is a per-query
    * window over ≤maxProbes rows — no corpus-wide work before the probe
    * join itself.
    */
  def ivfAdaptiveProbes(queries: DataFrame, centroids: DataFrame,
      assignments: DataFrame, minCandidates: Int,
      maxProbes: Int = 8 * DefaultProbes): DataFrame = {
    require(minCandidates > 0 && maxProbes > 0)
    val sizes = assignments.groupBy("cid").agg(count(lit(1)).as("bucket_n"))
    val qNullOk = assert_true(col("q_vec").isNotNull && col("q_norm").isNotNull,
      lit("ivf search: null q_vec/q_norm - clean the query set"))
    val ranked = queries.filter(qNullOk.isNull)
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        posexplode(topCentroidsCol(centroids, col("q_vec"), col("q_norm"), maxProbes)))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        col("pos").as("probe_rank"), col("col.cid").as("cid"))
    // a centroid whose bucket is empty has no sizes row: it costs nothing
    // to "probe", so it never consumes budget
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy("probe_rank")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    ranked.join(broadcast(sizes), Seq("cid"), "left")
      .withColumn("bucket_n", coalesce(col("bucket_n"), lit(0L)))
      .withColumn("cum_before", coalesce(sum(col("bucket_n")).over(w), lit(0L)))
      // keep a bucket iff the budget was still unmet BEFORE it: the first
      // bucket to cross minCandidates is included, nothing after it
      .filter(col("cum_before") < minCandidates)
      .select("q_id", "q_vec", "q_norm", "cid", "probe_rank", "bucket_n")
  }

  /** [[ivfSearch]] with the adaptive probe plan of [[ivfAdaptiveProbes]]:
    * per-query probe depth expands until `minCandidates` bucket members
    * are in scope (bounded by `maxProbes`), instead of a fixed nProbe.
    */
  def ivfSearchAdaptive(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, assignments: DataFrame, minCandidates: Int,
      maxProbes: Int = 8 * DefaultProbes, k: Int = 5): DataFrame =
    scoreProbes(
      ivfAdaptiveProbes(queries, centroids, assignments, minCandidates, maxProbes),
      corpus, assignments, k)

  /** Persist an IVF index (centroid table + bucket assignments) — the
    * build-once/query-many deployment shape. Assignments are written
    * partitioned by centroid so a probe reads only its buckets'
    * files (partition pruning on `cid`).
    */
  def saveIvfIndex(centroids: DataFrame, assignments: DataFrame,
      path: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    assignments.write.mode("overwrite").partitionBy("cid")
      .parquet(s"$path/assignments")
  }

  def loadIvfIndex(s: SparkSession, path: String): (DataFrame, DataFrame) = (
    s.read.parquet(s"$path/centroids"),
    s.read.parquet(s"$path/assignments").select(col("vec_id"), col("cid")))

  // ---- sharded IVF: the growth path past the single-index envelope ------

  /** Which shard a vector lives in: deterministic id hash, so the routing
    * is recomputable from the id alone (appends, lookups, rebuilds all
    * agree without a routing table). SALTED, which is load-bearing:
    * [[buildCentroids]] samples its seeds with the unsalted
    * `xxhash64(vec_id) % sampleStep`, and an unsalted router with
    * `shards` sharing a factor with `sampleStep` would leave most shards
    * with an EMPTY seed sample (their residue class never hits 0) — the
    * correlated-hash failure the salt severs.
    */
  private def shardOf(shards: Int): Column =
    pmod(xxhash64(lit("ivf-shard"), col("vec_id")), lit(shards)).cast("int")

  /** The implemented form of docs/TUNING.md's "shard the index" story — the
    * growth path past the documented single-index envelope (~4096
    * centroids / 16k-wide buckets / 2 MB centroid kernel): the corpus
    * splits by hash(vec_id) into `shards` INDEPENDENT sub-indexes, each
    * re-deriving its own √(n/shards) centroids, each safely inside the
    * envelope. Build cost is the same corpus scan count as one big build
    * (each shard's passes touch only its slice); the centroid kernel per
    * shard stays broadcast-sized no matter how large n grows — pick
    * `shards ≈ n / (16384 × 4096)` and a trillion vectors is just more
    * shards, not a wider index.
    *
    * Layout: `path/shard=<i>/{centroids,assignments}` + a `_shards`
    * marker, so search/append route by recomputing the id hash.
    * Fails loudly (not a log line) if any shard would STILL be outside
    * the envelope — at sharding time "add more shards" is exactly the
    * knob in hand, so the r5-requested hard gate lives here.
    */
  def ivfShardedIndex(corpusIn: DataFrame, path: String, shards: Int,
      lloydIters: Int = DefaultLloydIters,
      assignReplicas: Int = DefaultAssignReplicas,
      buildThreads: Int = DefaultShardBuildThreads): Unit = {
    require(shards >= 1, "ivfShardedIndex: shards must be >= 1")
    require(buildThreads >= 1, "ivfShardedIndex: buildThreads must be >= 1")
    val spark = corpusIn.sparkSession
    val marker = new org.apache.hadoop.fs.Path(path, "_shards")
    val f = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stage the corpus ONCE, partitioned by shard, so the K sub-builds
    // read only their own slice — filtering a checkpointed corpus per
    // shard would make total build I/O ~K × one build's scan count,
    // exactly wrong at the scales sharding exists for. Staging (and the
    // envelope gate below) run BEFORE the marker retraction: both are
    // non-destructive to the live shard dirs, so a rebuild the gate
    // rejects (or whose staging write fails) leaves a previously working
    // index fully intact instead of bricked behind a missing marker
    val staging = new org.apache.hadoop.fs.Path(path, ".corpus-staged")
    try {
      corpusIn.withColumn("__shard", shardOf(shards))
        .write.partitionBy("__shard").mode("overwrite").parquet(staging.toString)
      val staged = spark.read.parquet(staging.toString)
      ivfShardEnvelopeCheck(staged.count(), shards)
      // retract the marker only now, at the edge of the destructive
      // per-shard overwrites: a rebuild (possibly with a new shard count)
      // that crashes mid-way must fail shardCount's require loudly, not
      // leave a stale marker routing searches across a torn mix of old
      // and new shard dirs (silently missing vectors)
      f.delete(marker, false)
      // sub-builds run on a bounded driver thread pool: each shard's
      // Lloyd passes are independent Spark JOBS (own slice, own save
      // dir), and a serial loop would make build latency K × (iters
      // jobs) serialized through one driver thread — at the envelope's
      // own sizing (hundreds of shards) the DRIVER loop, not the
      // cluster, becomes the bottleneck. Spark schedules concurrent
      // jobs from multiple threads natively (FIFO across job stages);
      // each sub-build is deterministic (hash-sampled seeds + Lloyd),
      // so concurrency cannot change the index — spec-verified
      // thread-count invariance. A failed sub-build propagates only
      // AFTER every in-flight shard settles (each future is lifted to
      // its Try before the await, so there is no fail-fast): rethrowing
      // early would delete the staging dir under still-running builds
      // and leave zombie writers racing a caller's retry into the same
      // shard dirs. The marker is absent throughout, so a partial build
      // reads as "rebuild in flight", never as an index.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(buildThreads, shards))
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val builds = (0 until shards).map { i =>
          scala.concurrent.Future {
            val slice = staged.filter(col("__shard") === i).drop("__shard")
            val (cent, asg) = ivfIndex(slice, 0, lloydIters, assignReplicas)
            saveIvfIndex(cent, asg, s"$path/shard=$i")
            graft.CacheHygiene.release(cent, asg)
          }
        }
        val settled = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            builds.map(_.transform(scala.util.Success(_)))),
          scala.concurrent.duration.Duration.Inf)
        settled.collectFirst { case scala.util.Failure(t) => throw t }
      } finally pool.shutdown()
      val out = f.create(marker, true)
      try out.write(shards.toString.getBytes("UTF-8")) finally out.close()
    } finally f.delete(staging, true)
  }

  /** Default sub-build concurrency for [[ivfShardedIndex]] — enough to
    * overlap the per-shard job gaps without flooding the scheduler.
    */
  val DefaultShardBuildThreads: Int = 4

  /** The sharding-time hard gate (pure, so the arithmetic is spec-able at
    * envelope scale without building a 10⁸-row corpus): throws when
    * `shards` would still leave each sub-index outside the single-index
    * envelope. At sharding time "add more shards" is exactly the knob in
    * hand, so this fails loudly where [[ivfWidthWarning]] only logs.
    */
  def ivfShardEnvelopeCheck(n: Long, shards: Int): Unit = {
    val perShard = n / math.max(1, shards)
    ivfWidthWarning(perShard, ivfNumCentroids(perShard)).foreach(w =>
      throw new IllegalArgumentException(
        s"ivfShardedIndex: $shards shards leave ~$perShard vectors per " +
          s"shard, still outside the single-index envelope - use " +
          s"~${n / 16777216L + 1} shards. Underlying: $w"))
  }

  /** Append new vectors to a SHARDED index: route each vector by the
    * same salted id hash as the build, then [[ivfAppend]] each slice
    * into its shard's sub-index — so every shard keeps its own
    * append/rebuild cadence (the drift probe, partial rebuild, and
    * width split all operate per shard on `path/shard=<i>`). Appends
    * are incremental batches, so the per-present-shard filter over the
    * (small, checkpointed) batch is cheap — unlike the build, there is
    * no full-corpus scan to amortize. Appending into a shard that
    * indexed nothing at build time fails loudly: it has no centroids
    * to assign against — rebuild with [[ivfShardedIndex]].
    */
  def ivfShardedAppend(newVecs: DataFrame, path: String,
      assignReplicas: Int = DefaultAssignReplicas): Unit = {
    val s = newVecs.sparkSession
    val shards = shardCount(s, path)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val routed = newVecs.withColumn("__shard", shardOf(shards)).transform(d => graft.CacheHygiene.materialize(d))
    try {
      val present = routed.select("__shard").distinct()
        .collect().map(_.getInt(0)).sorted
      present.foreach { i =>
        // dir existence is not enough: saveIvfIndex creates the dir (with
        // _SUCCESS) even for a shard that indexed zero vectors - the
        // guard must check for actual centroid FILES, like search does
        require(shardHasData(f, path, i),
          s"ivfShardedAppend: shard $i holds appended vectors but indexed " +
            "nothing at build time (no centroids) - rebuild with ivfShardedIndex")
        ivfAppend(routed.filter(col("__shard") === i).drop("__shard"),
          s"$path/shard=$i", assignReplicas)
      }
    } finally graft.CacheHygiene.release(routed)
  }

  /** Whether a shard's sub-index holds any centroids (a shard that saw
    * zero vectors at build time has the dir and _SUCCESS but no files).
    */
  private def shardHasData(f: org.apache.hadoop.fs.FileSystem,
      path: String, i: Int): Boolean = {
    val centDir = new org.apache.hadoop.fs.Path(s"$path/shard=$i/centroids")
    f.exists(centDir) && f.listStatus(centDir)
      .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  private def shardCount(s: SparkSession, path: String): Int = {
    val marker = new org.apache.hadoop.fs.Path(path, "_shards")
    val f = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(f.exists(marker), s"sharded ivf: $path has no _shards marker " +
      "(never built, or a rebuild is in flight)")
    val in = f.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  /** Search a sharded index: every query probes EVERY shard (each shard's
    * probe is a cheap √(n/shards)-bucket read, and the twin of any query
    * lives in exactly one shard — skipping shards would cap recall), the
    * per-shard candidates merge, and ONE global exact-scoring pass keeps
    * the top-k.
    *
    * The PLAN is O(1) in the shard count (the r8-flagged growth path: the
    * previous form unioned K per-shard probe sub-plans — hundreds of scan
    * nodes at the envelope's own sizing): all shards' centroids load as
    * ONE multi-path parquet read (shard recovered from the file path) into
    * ONE [[graft.plans.ShardedTopCentroids]] kernel that emits each
    * query's per-shard probe set in a single projection, all shards'
    * assignments load as one read the same way, and candidates come from
    * ONE (shard, cid) join — shard cid spaces collide by construction
    * (every shard numbers its centroids 0..C-1), so the join key carries
    * the shard to never cross them. Total probe compute and shuffled
    * assignment rows are unchanged from the per-shard form; only the plan
    * shape collapsed.
    */
  def ivfShardedSearch(queries: DataFrame, corpus: DataFrame, path: String,
      numProbes: Int = 0, k: Int = 5): DataFrame = {
    val s = queries.sparkSession
    val shards = shardCount(s, path)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // an empty shard (tiny corpus, unlucky hash) indexed nothing and
    // wrote no centroid files - it has no candidates to contribute. The
    // per-shard existence probe is driver METADATA work (K cheap listings,
    // same as before); the scan plan below stays one node regardless of K
    val present = (0 until shards).filter(shardHasData(f, path, _))
    if (present.isEmpty) throw new IllegalStateException(
      s"ivfShardedSearch: no shard under $path holds any data")
    val cent = readShardArtifact(s, path, present, "centroids")
    val asg = readShardArtifact(s, path, present, "assignments")
    val candidates =
      shardedProbeSelection(queries, cent, numProbes)
        .join(asg.select("shard", "cid", "vec_id"), Seq("shard", "cid"))
        .select("q_id", "q_vec", "q_norm", "vec_id")
        // replicated assignment within a shard can list a vector under
        // several probed buckets (shards themselves are disjoint by id)
        .dropDuplicates("q_id", "vec_id")
    scoreCandidates(candidates, corpus, k)
  }

  /** One parquet read across the given shards' `centroids`/`assignments`
    * dirs, with the owning shard (and, for assignments, the `cid`
    * partition value) recovered from each row's file path — the
    * multi-path scan is ONE plan node however many shards exist (the
    * path list is scan metadata, not plan structure). Partition
    * DISCOVERY is disabled (`recursiveFileLookup`): per-root inference
    * over K roots rejects the mixed `shard=i/assignments/cid=j` layout
    * as conflicting, and the dir layout here is [[saveIvfIndex]]'s own
    * documented contract, so parsing it from `_metadata.file_path` is
    * reading our own format, not guessing at one.
    */
  private def readShardArtifact(s: SparkSession, path: String,
      present: Seq[Int], artifact: String): DataFrame = {
    val raw = s.read.option("recursiveFileLookup", "true")
      .parquet(present.map(i => s"$path/shard=$i/$artifact"): _*)
      .withColumn("shard", regexp_extract(
        col("_metadata.file_path"), s"/shard=(\\d+)/$artifact/", 1).cast("int"))
    if (artifact == "assignments")
      raw.withColumn("cid", regexp_extract(
        col("_metadata.file_path"), "/cid=(\\d+)/", 1).cast("int"))
    else raw
  }

  /** The sharded twin of [[probeSelection]]: ONE kernel holding every
    * shard's centroid table (grouped by shard), emitting each query's
    * top-`numProbes` buckets PER SHARD from a single projection. The
    * collected payload is the sum of all shards' centroid tables — gated
    * like [[topCentroidsCol]], with the cap sized for the sharding
    * envelope itself (√(n/K) centroids per shard keeps the sum ≈
    * K × 4096 × dim × 8 B; ~10⁹–10¹⁰ vectors fits comfortably). Past the
    * cap, split the corpus into multiple INDEXES behind a routing tier —
    * at that scale no single search should fan over every shard anyway.
    */
  private def shardedProbeSelection(queries: DataFrame, centTagged: DataFrame,
      numProbesIn: Int): DataFrame = {
    val rows = centTagged.select("shard", "cid", "cvec", "cnorm").collect()
      .sortBy(r => (r.getInt(0), r.getInt(1)))
    // loud on an empty sharded index: the auto rule below takes a .max
    // over per-shard counts, which on zero rows would throw an opaque
    // UnsupportedOperationException instead of naming the real problem
    require(rows.nonEmpty,
      "ivf sharded search: the index has no centroids - build it with " +
        "ivfShardedIndex before searching (an empty centroid table can " +
        "answer no probe)")
    // numProbes <= 0 = AUTO, per shard: the same fraction rule as the
    // single index ([[ivfAutoProbes]] — r17 review: the fix was first
    // applied only to ivfSearch, leaving the sharded path's per-shard
    // √(n/K) tables to the same fixed-probe recall decay). Sized on the
    // WIDEST shard's table so an unlucky hash split cannot under-probe.
    val numProbes =
      if (numProbesIn > 0) numProbesIn
      else ivfAutoProbes(rows.groupBy(_.getInt(0)).values.map(_.size).max)
    val shardArr = rows.map(_.getInt(0))
    val cids = rows.map(_.getInt(1))
    val cvecs = rows.map(_.getSeq[Any](2).iterator.map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val cnorms = rows.map(_.getDouble(3))
    val payload = cvecs.length.toLong * cvecs.headOption.map(_.length).getOrElse(0) * 8
    require(payload <= (256L << 20),
      s"sharded probe kernel payload ${payload >> 20} MB exceeds the 256 MB " +
        "hard cap - split the corpus into multiple indexes behind a " +
        "routing tier (docs/TUNING.md 'ANN at a billion vectors')")
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    val qNullOk = assert_true(col("q_vec").isNotNull && col("q_norm").isNotNull,
      lit("ivf search: null q_vec/q_norm - clean the query set"))
    queries.filter(qNullOk.isNull)
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        explode(toCol(graft.plans.ShardedTopCentroids(
          toExpr(col("q_vec")), toExpr(col("q_norm")),
          shardArr, cids, cvecs, cnorms, numProbes))).as("tc"))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        col("tc.shard").as("shard"), col("tc.cid").as("cid"))
  }

  /** Incremental index growth: assign NEW vectors to the EXISTING
    * centroids (same replicated assignment as the build) and append
    * their bucket rows — no re-clustering, no touch of existing
    * assignment files (the append lands only in the new rows' `cid=`
    * partitions). The centroid geometry slowly staled by appends is
    * recovered by a periodic full rebuild — the same merge-vs-rebuild
    * cadence as [[graft.operators.Lifecycle.scd2Merge]]. Search after
    * append = loadIvfIndex + ivfSearch over the grown corpus.
    */
  def ivfAppend(newVecs: DataFrame, path: String,
      assignReplicas: Int = DefaultAssignReplicas): Unit = {
    val centroids = newVecs.sparkSession.read.parquet(s"$path/centroids")
    assign(newVecs, centroids, assignReplicas)
      .select("vec_id", "cid")
      .write.mode("append").partitionBy("cid")
      .parquet(s"$path/assignments")
  }

  /** Index-health probe for the append cadence: mean cosine between each
    * assigned vector and its bucket's centroid. A fresh build sets the
    * reference value; as appends accumulate vectors the centroids were
    * never trained on, the mean decays — rebuild when it drops past the
    * tolerance (e.g. 10%). Cost: one key join of assignments against the
    * corpus plus a broadcast of the centroids — cheap enough per append.
    *
    * The corpus frame must cover every assigned vec_id (i.e. pass the
    * GROWN corpus after appends): assignments the corpus can't resolve
    * fail loudly, because silently dropping them would pin the metric at
    * its build-time value and the rebuild signal would never fire — the
    * exact failure the probe exists to catch.
    */
  def ivfMeanAssignCosine(corpus: DataFrame, centroids: DataFrame,
      assignments: DataFrame): Double = {
    val r = assignments
      .join(corpus.select(col("vec_id"), col("vec"), col("norm")), Seq("vec_id"), "left")
      .join(broadcast(centroids), "cid")
      .agg(
        avg(dot(col("vec"), col("cvec")) / (col("norm") * col("cnorm"))).as("m"),
        count(lit(1)).as("n"),
        count(when(col("vec").isNull, 1)).as("unresolved"))
      .head()
    require(r.getLong(2) == 0,
      s"${r.getLong(2)} assigned vec_ids missing from the corpus frame - " +
        "pass the grown corpus (build + appends), not the build-time one")
    require(r.getLong(1) > 0, "empty assignments: nothing to probe")
    r.getDouble(0)
  }

  /** Per-bucket index health: mean member↔centroid cosine by cid, the
    * bucket-resolution version of [[ivfMeanAssignCosine]]. Same corpus
    * contract — assignments the corpus can't resolve fail loudly.
    */
  def ivfBucketHealth(corpus: DataFrame, centroids: DataFrame,
      assignments: DataFrame): DataFrame = {
    val joined = assignments
      .join(corpus.select(col("vec_id"), col("vec"), col("norm")), Seq("vec_id"), "left")
      .join(broadcast(centroids), "cid")
    joined.groupBy("cid").agg(
      avg(dot(col("vec"), col("cvec")) / (col("norm") * col("cnorm"))).as("mean_cos"),
      count(lit(1)).as("n"),
      count(when(col("vec").isNull, 1)).as("unresolved"))
  }

  /** Record the index's CURRENT per-bucket health as the drift reference —
    * run right after build+save (and after rebuilds) so later probes
    * compare each bucket to its own trained cohesion, not to a global
    * mean a naturally-loose bucket would always violate.
    */
  def saveIvfBucketHealth(corpus: DataFrame, path: String): Unit = {
    val spark = corpus.sparkSession
    val (centroids, assignments) = loadIvfIndex(spark, path)
    val health = ivfBucketHealth(corpus, centroids, assignments).transform(d => graft.CacheHygiene.materialize(d))
    require(health.agg(sum("unresolved")).head().getLong(0) == 0,
      "assigned vec_ids missing from the corpus frame - pass the grown corpus")
    health.select("cid", "mean_cos", "n")
      .write.mode("overwrite").parquet(s"$path/health")
    graft.CacheHygiene.release(health)
  }

  /** Drift-triggered PARTIAL rebuild: re-cluster only the buckets whose
    * current mean assign-cosine fell more than `tolerance` below their
    * recorded build-time health ([[saveIvfBucketHealth]]). Decayed
    * buckets' members are re-seeded and Lloyd-refined among themselves,
    * the replacement centroids take over the decayed cids, and ONLY those
    * `cid=` partitions are rewritten (dynamic partition overwrite) — at
    * 100 TB a handful of append-polluted buckets rebuild in minutes while
    * the healthy ones' files are never touched. The health reference for
    * the rebuilt buckets is refreshed.
    *
    * Members are reassigned among the REPLACEMENT centroids only (a
    * healthy centroid that got closer keeps its own files unchanged) —
    * the scoped trade that makes the rebuild partial; the full-rebuild
    * cadence remains the eventual consistency point.
    *
    * Returns the rebuilt cids (empty = no bucket crossed the tolerance).
    */
  def ivfPartialRebuild(corpus: DataFrame, path: String,
      tolerance: Double = 0.1,
      lloydIters: Int = DefaultLloydIters,
      assignReplicas: Int = DefaultAssignReplicas): Seq[Int] = {
    val spark = corpus.sparkSession
    val (centroids, assignments) = loadIvfIndex(spark, path)
    val ref = spark.read.parquet(s"$path/health")
      .select(col("cid"), col("mean_cos").as("ref_cos"))
    val current = ivfBucketHealth(corpus, centroids, assignments)
    require(current.agg(sum("unresolved")).head().getLong(0) == 0,
      "assigned vec_ids missing from the corpus frame - pass the grown corpus")
    val decayed = current.join(ref, "cid")
      .filter(col("mean_cos") < col("ref_cos") * (1 - tolerance))
      .select("cid").collect().map(_.getInt(0)).sorted.toSeq
    if (decayed.isEmpty) return Nil
    reclusterBuckets(corpus, path, centroids, assignments,
      oldCids = decayed, targetCids = decayed, lloydIters, assignReplicas)
    decayed
  }

  /** Width-triggered bucket SPLIT: buckets whose assignment count exceeds
    * `maxBucketRows` re-cluster into enough sub-buckets to get back under
    * it, with fresh cids beyond the current maximum for the extras. This
    * is the growth path past the √n centroid cap: at extreme corpus
    * sizes buckets would otherwise grow O(n / 4096) and probe cost with
    * them — splitting the few heavy buckets keeps per-probe scan size
    * bounded without re-clustering the corpus. Same scoped-write contract
    * as [[ivfPartialRebuild]]: only the split buckets' `cid=` partitions
    * are rewritten (plus the new cids' partitions appearing).
    *
    * Returns the cids that were split (empty = nothing over the bound).
    */
  def ivfSplitWideBuckets(corpus: DataFrame, path: String,
      maxBucketRows: Long,
      lloydIters: Int = DefaultLloydIters,
      assignReplicas: Int = DefaultAssignReplicas): Seq[Int] = {
    require(maxBucketRows > 0)
    val spark = corpus.sparkSession
    val (centroids, assignments) = loadIvfIndex(spark, path)
    val wide = assignments.groupBy("cid").count()
      .filter(col("count") > maxBucketRows)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
    if (wide.isEmpty) return Nil
    val wideCids = wide.map(_._1)
    // enough sub-buckets per wide bucket to land under the bound
    val k = wide.map { case (_, n) => ((n + maxBucketRows - 1) / maxBucketRows).toInt }.sum
    val maxCid = centroids.agg(max("cid")).head().getInt(0)
    val targetCids = wideCids ++ (maxCid + 1 until maxCid + 1 + (k - wideCids.length))
    reclusterBuckets(corpus, path, centroids, assignments,
      oldCids = wideCids, targetCids = targetCids, lloydIters, assignReplicas)
    wideCids
  }

  /** Shared scoped-rewrite core of [[ivfPartialRebuild]] and
    * [[ivfSplitWideBuckets]]: re-seed + Lloyd-refine `targetCids.length`
    * centroids over the members of `oldCids`, remap them onto
    * `targetCids`, reassign the members among the replacements only, and
    * rewrite exactly those `cid=` partitions (dynamic partition
    * overwrite). The drift reference is refreshed afterwards.
    */
  private def reclusterBuckets(corpus: DataFrame, path: String,
      centroids: DataFrame, assignments: DataFrame,
      oldCids: Seq[Int], targetCids: Seq[Int],
      lloydIters: Int, assignReplicas: Int): Unit = {
    val spark = corpus.sparkSession
    val memberIds = assignments
      .filter(col("cid").isin(oldCids.map(Int.box): _*))
      .select("vec_id").distinct()
    val members = corpus.select(col("vec_id"), col("vec"), col("norm"))
      .join(memberIds, "vec_id")
      .transform(d => graft.CacheHygiene.materialize(d))
    // fail loudly on a stale corpus (same contract as the probes): the
    // inner join above would otherwise silently DROP any assigned vec_id
    // the corpus can't resolve, and the rewrite would erase those vectors
    // from the index
    val nMembers = members.count()
    val nAssigned = memberIds.count()
    require(nMembers == nAssigned,
      s"${nAssigned - nMembers} assigned vec_ids missing from the corpus " +
        "frame - pass the grown corpus (build + appends)")
    val fresh = buildCentroids(members, targetCids.length, lloydIters, nMembers)
    // remap the rebuild's 0..k-1 cids onto the target cids by rank; if
    // the seed sample produced fewer than k centroids, the unmapped
    // target cids simply never materialize - the old buckets' members
    // were still reassigned among the replacements that did, and a stale
    // unrewritten partition is unreachable (its cid has no centroid, so
    // no probe ranks it) until the next full rebuild clears it
    import spark.implicits._
    val mapping = broadcast(
      targetCids.indices.map(i => (i, targetCids(i))).toDF("cid", "new_cid"))
    val replaced = fresh.join(mapping, "cid")
      .select(col("new_cid").as("cid"), col("cvec"), col("cnorm"))
      .transform(d => graft.CacheHygiene.materialize(d))
    graft.CacheHygiene.release(fresh)
    val replacedCids = replaced.select("cid").collect().map(_.getInt(0)).toSet

    // materialize BEFORE the writes: both frames' lineage reads the very
    // files the writes replace
    val newAssign = assign(members, replaced, assignReplicas)
      .select("vec_id", "cid").transform(d => graft.CacheHygiene.materialize(d))
    val droppedCids = (oldCids.toSet ++ replacedCids).toSeq
    val updatedCentroids = centroids
      .filter(!col("cid").isin(droppedCids.map(Int.box): _*))
      .unionByName(replaced)
      .transform(d => graft.CacheHygiene.materialize(d))
    graft.CacheHygiene.release(members, replaced)

    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      newAssign.write.mode("overwrite").partitionBy("cid")
        .parquet(s"$path/assignments")
    finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    // dynamic overwrite only rewrites cids PRESENT in newAssign: an old
    // cid whose members all reassigned elsewhere (or a replacement
    // centroid that attracted zero members) would keep its stale
    // pre-rebuild partition on disk, still reachable if its cid kept a
    // live centroid - delete those partitions explicitly
    val writtenCids = newAssign.select("cid").distinct()
      .collect().map(_.getInt(0)).toSet
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (oldCids.toSet ++ replacedCids -- writtenCids).foreach(c =>
      fsys.delete(new org.apache.hadoop.fs.Path(s"$path/assignments/cid=$c"), true))
    updatedCentroids.write.mode("overwrite").parquet(s"$path/centroids")
    graft.CacheHygiene.release(newAssign, updatedCentroids)

    // refresh the drift reference for the AFFECTED buckets only: a full
    // refresh would re-base every healthy bucket's reference onto its
    // current (possibly sub-tolerance-decayed) value, and repeated
    // partial rebuilds would ratchet those references down - unbounded
    // accumulated decay that never fires the probe
    val healthPath = new org.apache.hadoop.fs.Path(s"$path/health")
    if (!fsys.exists(healthPath)) {
      // no reference was ever recorded (split on a health-less index):
      // create the full reference now rather than crashing mid-maintenance
      saveIvfBucketHealth(corpus, path)
    } else {
      val affected = (oldCids.toSet ++ replacedCids).toSeq
      val (c2, a2) = loadIvfIndex(spark, path)
      val refreshedRows = ivfBucketHealth(corpus, c2,
          a2.filter(col("cid").isin(affected.map(Int.box): _*)))
        .select("cid", "mean_cos", "n").collect() // ≤ |affected| rows
      // a live replacement centroid that attracted zero members has no
      // health row to aggregate - seed its reference (with the rebuild's
      // own mean cohesion) so later appends into it stay drift-watched;
      // without a row, the probe's inner join would exempt it forever
      val have = refreshedRows.map(_.getInt(0)).toSet
      val seedRef =
        if (refreshedRows.nonEmpty)
          refreshedRows.map(_.getDouble(1)).sum / refreshedRows.length
        else 1.0
      val seeds = (replacedCids -- have).toSeq.sorted
        .map(c => (c, seedRef, 0L))
      val refreshed = refreshedRows
        .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq
        .++(seeds).toDF("cid", "mean_cos", "n")
      val kept = spark.read.parquet(s"$path/health")
        .filter(!col("cid").isin(affected.map(Int.box): _*))
      val newHealth = kept.unionByName(refreshed).transform(d => graft.CacheHygiene.materialize(d))
      newHealth.write.mode("overwrite").parquet(s"$path/health")
      graft.CacheHygiene.release(newHealth)
    }
  }

  /** q57, recall-gated form (r14, closing the r13 verdict's item 3): the
    * driver's hash gate can't compare IVF rows cross-engine (the probe
    * set is index-specific), so the recall check rides inside the query —
    * the IVF top-5 is intersected with the EXACT top-5 (q38's
    * brute-force ranking, whose cosine kernel is bit-equal to DuckDB's
    * `list_dot_product` — the q38 oracle proves that every round), and
    * the output is one row: the query count (cross-engine hash-matched)
    * plus `recall_ok` = global recall@5 >= 0.8, which the oracle states
    * as literal TRUE. An index regression that drops recall below the
    * bound now breaks the driver gate loudly instead of hiding behind a
    * rows-only check. Both rankings are deterministic (seeded k-means,
    * id tie-breaks), so the gate is stable, not flaky.
    */
  def q57IvfTopk(s: SparkSession, d: String): DataFrame = {
    val ivf = ivfTopk(withVec(embeddings(s, d))).select("q_id", "c_id")
    val exact = q38EmbedTopk(s, d).select("q_id", "c_id")
    val hits = ivf.join(exact, Seq("q_id", "c_id")).agg(count(lit(1)).as("__hits"))
    val totals = exact.agg(count(lit(1)).as("__n"), countDistinct("q_id").as("__nq"))
    hits.crossJoin(totals).select(
      col("__nq").as("n_queries"),
      (col("__hits") >= col("__n") * 0.8).as("recall_ok"))
  }

  /** The PRODUCTION q57: the IVF search alone. The oracled [[q57IvfTopk]]
    * is a GATE INSTRUMENT — it runs the brute-force q38 ranking beside
    * the index to state recall, which is the O(|queries|×|corpus|) scan
    * the index exists to avoid; deploy and bench THIS form (`q57prod` —
    * it is also what the sf1.0 scale-probe row labeled q57_ivf_topk has
    * always measured).
    */
  def q57Prod(s: SparkSession, d: String): DataFrame =
    ivfTopk(withVec(embeddings(s, d)))

  /** Embedding-space TARGETED data selection — the curation move behind
    * "find more data like the target task" (the embedding-proximity
    * counterpart of q113's DSIR n-gram weights): freeze a centroid from
    * a small exemplar set (the task's own examples), score every corpus
    * vector by cosine against it, and flag the ones above the threshold
    * for up-sampling. Scores are fixed-point (cos·10⁶, the q107
    * convention) over [[intVec]] integer embeddings, so every dot
    * product is EXACT integer arithmetic and the whole mart — scores,
    * flags — carries a full cross-engine hash oracle.
    *
    * Scale: the exemplar aggregate collects dims rows driver-side
    * (2⁵³-guarded), the centroid becomes a codegen LITERAL in a per-row
    * scoring expression — the corpus is scanned, never shuffled, and
    * zero vectors are ANSI-guarded out (no direction → never selected).
    * The int-vec frame is checkpointed once; both the exemplar pass and
    * the scoring pass read it (kmeansAssign's discipline). Callers
    * release via CacheHygiene.releaseTree (Verify does).
    */
  def targetSelect(df: DataFrame, isExemplar: Column,
      minCosPp6: Long = 250000L): DataFrame = {
    val iv = df.select(col("vec_id"), isExemplar.as("is_ex"),
        intVec(col("embedding")).as("q"))
      .transform(d => graft.CacheHygiene.materialize(d))
    val sums = iv.filter(col("is_ex"))
      .select(posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("pos").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect()
    require(sums.nonEmpty, "targetSelect: no exemplar vectors")
    sums.foreach(r => require(math.abs(r.getLong(1)) < (1L << 53),
      "targetSelect: exemplar component sum exceeds exact-double range — " +
        "subsample the exemplar set or rescale intVec"))
    val c = sums.sortBy(_.getInt(0))
      .map(r => math.floor(r.getLong(1).toDouble / r.getLong(2)).toLong)
    val ccB = c.map(x => BigInt(x) * BigInt(x)).sum
    require(ccB > 0, "targetSelect: exemplar centroid is the zero vector")
    require(ccB < (BigInt(1L) << 53),
      "targetSelect: centroid norm² exceeds exact-double range — rescale intVec")
    val cLit = array(c.map(lit(_)): _*)
    iv.filter(!col("is_ex"))
      .withColumn("qq", dotLong(col("q"), col("q")))
      .filter(col("qq") > 0)
      .select(col("vec_id"),
        floor(dotLong(col("q"), cLit).cast("double") /
          sqrt(col("qq").cast("double") * lit(ccB.toDouble)) * lit(1e6) +
          lit(0.5)).cast("long").as("cos_pp6"))
      .withColumn("selected", col("cos_pp6") >= minCosPp6)
  }

  /** q112: targeted selection over `embeddings` — every 25th vector
    * plays the task exemplar set; the rest are the raw pool. */
  def q112TargetSelect(s: SparkSession, d: String): DataFrame =
    targetSelect(embeddings(s, d), col("vec_id") % 25 === 0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_target_select" -> q112TargetSelect _,
    "q57_ivf_topk" -> q57IvfTopk _,
    "q36_minhash_lsh" -> q36MinhashLsh _,
    "q51_dedup_clusters" -> q51DedupClusters _,
    "q37_simhash" -> q37Simhash _,
    "q38_embed_topk" -> q38EmbedTopk _,
    "q95_hybrid_rerank" -> q95HybridRerank _,
    "q39_embed_lsh" -> q39EmbedLsh _,
    "q40_embed_neardup" -> q40EmbedNeardup _,
    "q122_knn_purity" -> q122KnnPurity _,
    "q143_hard_negatives" -> q143HardNegatives _,
    "q124_cosine_calibration" -> q124CosineCalibration _,
    "q58_neardup_blocked" -> q58NeardupBlocked _,
    "q61_sql_vector" -> q61SqlVector _,
    "q106_int8_quantize" -> q106Int8Quantize _,
    "q107_int8_topk" -> q107Int8Topk _,
    "q108_kmeans" -> q108Kmeans _,
    "q109_semdedup" -> q109Semdedup _,
    "q110_cluster_card" -> q110ClusterCard _,
    "q129_pq_codes" -> q129PqCodes _,
    "q130_pq_topk" -> q130PqTopk _,
    "q131_ivfpq" -> q131IvfpqTopk _,
    "q147_rrf_fusion" -> q147RrfFusion _,
    "q148_mrl_topk" -> ((s: SparkSession, d: String) => q148MrlTopk(s, d)),
    "q149_binary_topk" -> ((s: SparkSession, d: String) => q149BinaryTopk(s, d)),
    "q150_ann_quality_card" -> q150AnnQualityCard _,
  )

  /** Every sketch query on the board now carries a full hash oracle: q36
    * graduated in r16 (its registered form runs on the portable md5-slice
    * family, [[minhashSignaturesPortable]]), q37/q39 followed in the same
    * round with portable SimHash/hyperplane families, and q51 closed the
    * board in r17 (the one-pass clustering over the same portable band
    * keys). The fused xxhash64 kernels remain the prod/bench paths
    * (q35prod/q51prod convention).
    * The exact-cosine queries ARE SQL-expressible: DuckDB list lambdas on
    * double-cast arrays reproduce DotProduct's per-element-upcast double
    * accumulation bit-for-bit, so q38/q40 (and q58, whose blocking has
    * verified recall 1.0 on this corpus at its θ) carry full oracles.
    * q57 is oracled in its recall-gated form (see q57IvfTopk): the
    * oracle pins the query count and states the recall bound as TRUE.
    */
  /** q36's oracle restates the WHOLE portable chain in DuckDB: md5-slice
    * families, per-doc mins, comma-joined band keys, the width-capped
    * pair kernel (window width + bucket-min star routing), shared-band
    * counts. Generated, not hand-typed — the 16 family slices come from
    * the same (salt, offset) arithmetic the Spark side uses.
    */
  /** The shared DuckDB restatement of the portable banded-signature chain
    * (md5-slice families → per-doc mins → comma-joined band keys), the CTE
    * prefix both q36's and q51's oracles build on. Generated, not
    * hand-typed — the 16 family slices come from the same (salt, offset)
    * arithmetic the Spark side uses.
    */
  private def portableBandedCte: String = {
    val mins = (0 until NumHashes).map { i =>
      s"min(('0x' || substr(h${i / RowsPerBand}, ${1 + 8 * (i % RowsPerBand)}, 8))::BIGINT) AS mh$i"
    }.mkString(", ")
    val bandRows = (0 until Bands).map { b =>
      val cat = (0 until RowsPerBand)
        .map(r => s"CAST(mh${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $cat AS sig FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents WHERE coalesce(trim(text), '') <> ''),
       | words AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS w
       |  FROM base),
       | hashed AS (
       |  SELECT doc_id, md5('0:' || w) AS h0, md5('1:' || w) AS h1,
       |    md5('2:' || w) AS h2, md5('3:' || w) AS h3
       |  FROM words),
       | sigs AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id),
       | banded AS ($bandRows)""".stripMargin
  }

  private def q36OracleSql: String = {
    s"""$portableBandedCte,
       | keyed AS (
       |  SELECT doc_id, band, sig,
       |    count(*) OVER (PARTITION BY band, sig) AS wd,
       |    min(doc_id) OVER (PARTITION BY band, sig) AS mn
       |  FROM banded),
       | pr AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  WHERE a.wd <= $MaxBucketWidth
       |  UNION ALL
       |  SELECT mn AS a_id, doc_id AS b_id FROM keyed
       |  WHERE wd > $MaxBucketWidth AND doc_id <> mn)
       |SELECT a_id, b_id, count(*) AS n_shared_bands
       |FROM pr GROUP BY a_id, b_id""".stripMargin
  }

  /** q51's oracle: the same portable banded chain, then the one-pass
    * clustering restated relationally — bucket min per (band, sig),
    * joined back, per-doc min. Mirrors [[onePassClusters]] clause for
    * clause.
    */
  private def q51OracleSql: String =
    s"""$portableBandedCte,
       | bm AS (
       |  SELECT band, sig, min(doc_id) AS bucket_min
       |  FROM banded GROUP BY band, sig),
       | j AS (
       |  SELECT banded.doc_id, bm.bucket_min
       |  FROM banded JOIN bm USING (band, sig))
       |SELECT doc_id, min(bucket_min) AS cluster_rep,
       |  min(bucket_min) = doc_id AS is_keeper
       |FROM j GROUP BY doc_id""".stripMargin

  /** q37's oracle: the full portable SimHash chain in DuckDB — md5
    * hi/lo slices, tf-weighted votes, strict->0 fold into two 32-bit
    * halves, 16-bit chunk keys, the width-capped pair kernel, exact
    * hamming. Generated from the same bit arithmetic the Spark side
    * uses.
    */
  private def q37OracleSql: String = {
    def votes(src: String, base: Int) = (0 until 32).map { i =>
      s"sum(CASE WHEN ($src >> $i) & 1 = 1 THEN tf ELSE -tf END) AS v${base + i}"
    }
    val voteCols = (votes("hlo", 0) ++ votes("hhi", 32)).mkString(", ")
    def fold(base: Int) = (0 until 32)
      .map(i => s"(CASE WHEN v${base + i} > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    val chunkRows = Seq(
      "0 AS chunk, sh_lo & 65535 AS key",
      "1 AS chunk, (sh_lo >> 16) & 65535 AS key",
      "2 AS chunk, sh_hi & 65535 AS key",
      "3 AS chunk, (sh_hi >> 16) & 65535 AS key"
    ).map(c => s"SELECT doc_id, sh_lo, sh_hi, $c FROM sh").mkString(" UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       | tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
       | h AS (
       |  SELECT doc_id, tf,
       |    ('0x' || substr(md5(w), 1, 8))::BIGINT AS hhi,
       |    ('0x' || substr(md5(w), 9, 8))::BIGINT AS hlo
       |  FROM tf),
       | v AS (SELECT doc_id, $voteCols FROM h GROUP BY doc_id),
       | sh AS (SELECT doc_id, ${fold(0)} AS sh_lo, ${fold(32)} AS sh_hi FROM v),
       | banded AS ($chunkRows),
       | keyed AS (
       |  SELECT doc_id, sh_lo, sh_hi, chunk, key,
       |    count(*) OVER wb AS wd,
       |    min(doc_id) OVER wb AS mn,
       |    first_value(sh_lo) OVER wo AS m_lo,
       |    first_value(sh_hi) OVER wo AS m_hi
       |  FROM banded
       |  WINDOW wb AS (PARTITION BY chunk, key),
       |         wo AS (PARTITION BY chunk, key ORDER BY doc_id)),
       | pr AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.sh_lo AS alo, a.sh_hi AS ahi, b.sh_lo AS blo, b.sh_hi AS bhi
       |  FROM keyed a JOIN keyed b
       |    ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
       |  WHERE a.wd <= $MaxBucketWidth
       |  UNION ALL
       |  SELECT mn, doc_id, m_lo, m_hi, sh_lo, sh_hi FROM keyed
       |  WHERE wd > $MaxBucketWidth AND doc_id <> mn)
       |SELECT DISTINCT a_id, b_id,
       |  CAST(bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) AS BIGINT)
       |    AS hamming
       |FROM pr
       |WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 8""".stripMargin
  }

  /** q39's oracle: the eight seed-42 hyperplanes EMBEDDED as double
    * list literals (Double.toString round-trips bit-exactly through any
    * correctly-rounding parser, DuckDB's included), the sign-bit
    * signature recomputed with the same list_dot_product that q38/q40
    * proved bit-equal to the DotProduct kernel, then the width-capped
    * pair kernel with star edges exempt from the cosine threshold —
    * the full registered semantics, not a relaxation.
    */
  private def q39OracleSql: String = {
    val sigExpr = planes.zipWithIndex.map { case (p, j) =>
      val lit = "[" + p.map(_.toString).mkString(", ") + "]"
      s"(CASE WHEN list_dot_product(vec, $lit) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n       |    + ")
    s"""WITH v AS (
       |  SELECT vec_id AS doc_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       | n AS (
       |  SELECT doc_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
       | s AS (
       |  SELECT doc_id, vec, norm,
       |    $sigExpr AS sig
       |  FROM n),
       | keyed AS (
       |  SELECT doc_id, vec, norm, sig,
       |    count(*) OVER wb AS wd,
       |    min(doc_id) OVER wb AS mn,
       |    first_value(vec) OVER wo AS m_vec,
       |    first_value(norm) OVER wo AS m_norm
       |  FROM s
       |  WINDOW wb AS (PARTITION BY sig),
       |         wo AS (PARTITION BY sig ORDER BY doc_id)),
       | pr AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.vec AS a_vec,
       |    a.norm AS a_norm, b.vec AS b_vec, b.norm AS b_norm,
       |    false AS is_star
       |  FROM keyed a JOIN keyed b
       |    ON a.sig = b.sig AND a.doc_id < b.doc_id
       |  WHERE a.wd <= $MaxBucketWidth
       |  UNION ALL
       |  SELECT mn, doc_id, m_vec, m_norm, vec, norm, true FROM keyed
       |  WHERE wd > $MaxBucketWidth AND doc_id <> mn),
       | scored AS (
       |  SELECT a_id, b_id,
       |    round(list_dot_product(a_vec, b_vec) / (a_norm * b_norm), 6) AS cos,
       |    is_star
       |  FROM pr)
       |SELECT a_id, b_id, cos FROM scored
       |WHERE cos >= 0.2 OR is_star""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q36_minhash_lsh" -> q36OracleSql,
    "q37_simhash" -> q37OracleSql,
    "q39_embed_lsh" -> q39OracleSql,
    "q51_dedup_clusters" -> q51OracleSql,
    "q112_target_select" ->
      """WITH iv AS (SELECT vec_id, vec_id % 25 = 0 AS is_ex,
        |   list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        | s AS (SELECT u.pos, CAST(floor(CAST(sum(u.v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
        |   FROM iv, LATERAL (SELECT unnest(iv.q) AS v, unnest(range(1, len(iv.q)+1)) AS pos) u
        |   WHERE iv.is_ex GROUP BY u.pos),
        | cv AS (SELECT list(cv ORDER BY pos) AS c,
        |        CAST(list_sum(list_transform(list(cv ORDER BY pos), x -> x*x)) AS BIGINT) AS cc
        |   FROM s),
        | f AS (SELECT iv.vec_id,
        |   CAST(floor(
        |     CAST(list_sum(list_transform(list_zip(iv.q, cv.c), p -> p[1]*p[2])) AS DOUBLE)
        |     / sqrt(CAST(list_sum(list_transform(iv.q, x -> x*x)) AS DOUBLE) * CAST(cv.cc AS DOUBLE))
        |     * 1e6 + 0.5) AS BIGINT) AS cos_pp6
        |  FROM iv CROSS JOIN cv
        |  WHERE NOT iv.is_ex AND list_sum(list_transform(iv.q, x -> x*x)) > 0)
        |SELECT vec_id, cos_pp6, cos_pp6 >= 250000 AS selected FROM f""".stripMargin,
    "q57_ivf_topk" ->
      """SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q38_embed_topk" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
        | q AS (SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm FROM n WHERE vec_id < 10),
        | c AS (SELECT vec_id AS c_id, vec AS c_vec, norm AS c_norm FROM n WHERE vec_id >= 10),
        | s AS (SELECT q_id, c_id,
        |        list_dot_product(q_vec, c_vec) / (q_norm * c_norm) AS cos
        |       FROM q CROSS JOIN c),
        | r AS (SELECT q_id, c_id, cos,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
        |       FROM s)
        |SELECT q_id, c_id, round(cos, 6) AS cos, rk FROM r WHERE rk <= 5""".stripMargin,
    "q95_hybrid_rerank" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
        | q AS (SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm FROM n WHERE vec_id < 10),
        | c AS (SELECT vec_id AS c_id, vec AS c_vec, norm AS c_norm FROM n WHERE vec_id >= 10),
        | s AS (SELECT q_id, c_id,
        |        list_dot_product(q_vec, c_vec) / (q_norm * c_norm) AS cos
        |       FROM q CROSS JOIN c),
        | r AS (SELECT q_id, c_id, cos,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
        |       FROM s),
        | s1 AS (SELECT q_id, c_id, cos FROM r WHERE rk <= 20),
        | m AS (SELECT doc_id AS c_id,
        |   round(least(CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE)/100.0, 1.0)*0.5
        |   + (CAST(len(regexp_extract_all(' '||lower(text)||' ', ' (the|a|of|and|to|in|is) ')) AS DOUBLE)
        |      / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE))*0.3
        |   + (1.0 - CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE))*0.2, 4) AS quality
        |  FROM documents),
        | b AS (SELECT s1.q_id, s1.c_id,
        |        round(0.7 * s1.cos + 0.3 * m.quality, 6) AS hybrid
        |       FROM s1 JOIN m USING (c_id)),
        | rr AS (SELECT q_id, c_id, hybrid,
        |        row_number() OVER (PARTITION BY q_id ORDER BY hybrid DESC, c_id) AS rk
        |       FROM b)
        |SELECT q_id, c_id, hybrid, rk FROM rr WHERE rk <= 5""".stripMargin,
    "q122_knn_purity" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | n AS (SELECT vec_id, label, vec,
        |        sqrt(list_dot_product(vec, vec)) AS norm FROM v),
        | q AS (SELECT vec_id AS q_id, label AS q_label, vec AS q_vec,
        |        norm AS q_norm FROM n WHERE vec_id < 100),
        | s AS (SELECT q_id, q_label, n.vec_id AS c_id, n.label AS c_label,
        |        list_dot_product(q_vec, n.vec) / (q_norm * n.norm) AS cos
        |       FROM q CROSS JOIN n WHERE n.vec_id <> q_id),
        | r AS (SELECT q_id, q_label, c_label,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
        |       FROM s)
        |SELECT q_id AS vec_id, q_label AS label,
        | CAST(count(*) AS BIGINT) AS n_neighbors,
        | CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_same,
        | round(CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 4) AS purity
        |FROM r WHERE rk <= 5 GROUP BY 1, 2""".stripMargin,
    "q143_hard_negatives" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | n AS (SELECT vec_id, label, vec,
        |        sqrt(list_dot_product(vec, vec)) AS norm FROM v),
        | q AS (SELECT vec_id AS q_id, label AS q_label, vec AS q_vec,
        |        norm AS q_norm FROM n WHERE vec_id < 100),
        | s AS (SELECT q_id, q_label, n.vec_id AS c_id, n.label AS c_label,
        |        list_dot_product(q_vec, n.vec) / (q_norm * n.norm) AS cos
        |       FROM q CROSS JOIN n WHERE n.vec_id <> q_id),
        | p AS (SELECT q_id,
        |        max(CAST(floor(cos*1000000+0.5) AS BIGINT)) AS pos_cos_pp6
        |       FROM s WHERE c_label = q_label GROUP BY 1),
        | r AS (SELECT q_id, q_label, c_id, cos,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id)
        |          AS rk
        |       FROM s WHERE c_label <> q_label)
        |SELECT r.q_id, r.q_label, r.c_id, round(r.cos, 6) AS cos,
        | CAST(rk AS BIGINT) AS rk, p.pos_cos_pp6,
        | CASE WHEN p.pos_cos_pp6 IS NULL THEN NULL
        |      WHEN CAST(floor(r.cos*1000000+0.5) AS BIGINT) >= p.pos_cos_pp6
        |        THEN 'hard'
        |      WHEN CAST(floor(r.cos*1000000+0.5) AS BIGINT) > p.pos_cos_pp6 - 100000
        |        THEN 'semihard'
        |      ELSE 'easy' END AS band
        |FROM r LEFT JOIN p USING (q_id) WHERE rk <= 5""".stripMargin,
    "q124_cosine_calibration" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | n AS (SELECT vec_id, label, vec,
        |        sqrt(list_dot_product(vec, vec)) AS norm FROM v),
        | q AS (SELECT vec_id AS q_id, label AS q_label, vec AS q_vec,
        |        norm AS q_norm FROM n WHERE vec_id < 100),
        | s AS (SELECT (q_label = n.label) AS same_label,
        |        CAST(floor(list_dot_product(q_vec, n.vec) / (q_norm * n.norm)
        |          * 20) AS BIGINT) AS bucket
        |       FROM q CROSS JOIN n WHERE n.vec_id > q_id),
        | g AS (SELECT same_label, bucket,
        |        CAST(count(*) AS BIGINT) AS n_pairs FROM s GROUP BY 1, 2)
        |SELECT same_label, bucket, n_pairs,
        | round(CAST(n_pairs AS DOUBLE)
        |   / sum(n_pairs) OVER (PARTITION BY same_label), 4) AS share
        |FROM g""".stripMargin,
    "q40_embed_neardup" ->
      """WITH v AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | n AS (SELECT vec_id, label, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
        | round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) AS cos
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) >= 0.3""".stripMargin,
    "q58_neardup_blocked" ->
      """WITH v AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | n AS (SELECT vec_id, label, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
        | round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) AS cos
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) >= 0.4""".stripMargin,
    "q61_sql_vector" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings)
        |SELECT vec_id,
        | round(sqrt(list_dot_product(vec, vec)), 6) AS norm,
        | round(list_dot_product(vec, vec), 6) AS self_dot
        |FROM v""".stripMargin,
    "q106_int8_quantize" ->
      """WITH b AS (
        |  SELECT vec_id, label,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        | e AS (
        |  SELECT vec_id, label, s,
        |    list_transform(v, x -> x - floor(x / s + 0.5) * s) AS err,
        |    list_transform(v, x -> floor(x / s + 0.5)) AS q
        |  FROM b WHERE s > 0)
        |SELECT vec_id, label,
        | CAST(floor(s * 1000000000 + 0.5) AS BIGINT) AS scale_pp9,
        | CAST(floor(list_dot_product(err, err) / len(err) * 1000000000000 + 0.5) AS BIGINT) AS mse_pp12,
        | CAST(floor(list_max(list_transform(err, x -> abs(x))) * 1000000000 + 0.5) AS BIGINT) AS max_err_pp9,
        | CAST(len(list_filter(q, x -> x = 0)) AS BIGINT) AS zero_dims
        |FROM e""".stripMargin,
    "q107_int8_topk" ->
      """WITH b AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        | qz AS (
        |  SELECT vec_id, v,
        |    list_transform(v, x -> CAST(floor(x / s + 0.5) AS BIGINT)) AS q
        |  FROM b WHERE s > 0),
        | n AS (
        |  SELECT vec_id, q, v, list_dot_product(q, q) AS qq,
        |    sqrt(list_dot_product(v, v)) AS norm
        |  FROM qz),
        | qs AS (SELECT vec_id AS q_id, q AS q_q, v AS q_v, qq AS q_qq, norm AS q_n
        |        FROM n WHERE vec_id < 10),
        | cs AS (SELECT vec_id AS c_id, q AS c_q, v AS c_v, qq AS c_qq, norm AS c_n
        |        FROM n WHERE vec_id >= 10),
        | s8 AS (
        |  SELECT q_id, c_id,
        |    CAST(floor(list_dot_product(q_q, c_q) / sqrt(CAST(q_qq AS DOUBLE) * c_qq) * 1000000 + 0.5) AS BIGINT) AS cos8_pp6,
        |    CAST(floor(list_dot_product(q_v, c_v) / (q_n * c_n) * 1000000 + 0.5) AS BIGINT) AS cosf_pp6
        |  FROM qs CROSS JOIN cs),
        | r8 AS (
        |  SELECT q_id, c_id, cos8_pp6,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos8_pp6 DESC, c_id) AS rk
        |  FROM s8),
        | rf AS (
        |  SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosf_pp6 DESC, c_id) AS exact_rk
        |  FROM s8)
        |SELECT r8.q_id, r8.c_id, CAST(r8.rk AS BIGINT) AS rk, r8.cos8_pp6,
        |  CAST(rf.exact_rk AS BIGINT) AS exact_rk
        |FROM r8 LEFT JOIN (SELECT * FROM rf WHERE exact_rk <= 5) rf
        |  ON r8.q_id = rf.q_id AND r8.c_id = rf.c_id
        |WHERE r8.rk <= 5""".stripMargin,
    "q108_kmeans" -> KmeansOracle.sql("SELECT vec_id, cid AS cluster, CAST(d2 AS BIGINT) AS dist2 FROM a2 WHERE rn = 1"),
    "q110_cluster_card" -> KmeansOracle.sql(
      """SELECT cid AS cluster, count(*) AS n_vecs,
        |  CAST(floor(CAST(sum(d2) AS DOUBLE) / count(*)) AS BIGINT) AS mean_d2,
        |  CAST(max(d2) AS BIGINT) AS max_d2
        |FROM a2 WHERE rn = 1 GROUP BY cid""".stripMargin),
    "q109_semdedup" -> KmeansOracle.sql(
      """lab AS (SELECT vec_id, cid AS cluster FROM a2 WHERE rn = 1),
        | v AS (SELECT e.vec_id, lab.cluster,
        |         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS vec
        |       FROM embeddings e JOIN lab ON e.vec_id = lab.vec_id),
        | n AS (SELECT vec_id, cluster, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v)
        |SELECT a.vec_id, a.cluster,
        |  NOT EXISTS (SELECT 1 FROM n b WHERE b.cluster = a.cluster
        |    AND b.vec_id < a.vec_id
        |    AND list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) >= 0.3) AS kept
        |FROM n a""".stripMargin, continued = true),
    "q129_pq_codes" -> PqOracle.sql(2, 4,
      """SELECT a0.vec_id, a0.cid AS code_0, CAST(a0.d2 AS BIGINT) AS d2_0,
        |  a1.cid AS code_1, CAST(a1.d2 AS BIGINT) AS d2_1,
        |  CAST(a0.d2 + a1.d2 AS BIGINT) AS recon_d2
        |FROM (SELECT * FROM a2_0 WHERE rn = 1) a0
        |JOIN (SELECT * FROM a2_1 WHERE rn = 1) a1 USING (vec_id)""".stripMargin),
    "q130_pq_topk" -> PqOracle.topkSql(16, 64),
    // q131 probes AUTO = ivfpqAutoProbes(Q131GateKc) = 8 lists at the
    // gate's toy kc — the oracle restates the RESOLVED count, not the
    // rule, derived from the SAME constant the registered query uses
    "q131_ivfpq" -> IvfPqOracle.sql(16, 64,
      nProbe = ivfpqAutoProbes(Q131GateKc)),
    // q147: both retrievers restated end-to-end — the cosine stage is
    // q95's CTE prefix, the lexical stage is q145's BM25 quantized to
    // integer micro-units before the per-(q,c) sum (float sums are the
    // one thing round-before-rank can't make portable), and the fusion
    // is exact integer arithmetic (⌊1e9/(60+rk)⌋ nano-units)
    "q147_rrf_fusion" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
        | q AS (SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm FROM n WHERE vec_id < 10),
        | c AS (SELECT vec_id AS c_id, vec AS c_vec, norm AS c_norm FROM n WHERE vec_id >= 10),
        | s AS (SELECT q_id, c_id,
        |        list_dot_product(q_vec, c_vec) / (q_norm * c_norm) AS cos
        |       FROM q CROSS JOIN c),
        | sem AS (SELECT q_id, c_id, rk FROM (
        |   SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
        |   FROM s) WHERE rk <= 20),
        | toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | toks2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        | tf AS (SELECT doc_id, term, count(*) AS n FROM toks2 GROUP BY 1, 2),
        | dl AS (SELECT doc_id, count(*) AS len FROM toks2 GROUP BY 1),
        | stats AS (SELECT count(*) AS nd, avg(len) AS avgl FROM dl),
        | dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        | su AS (SELECT tf.doc_id, tf.term,
        |   CAST(round(ln((nd - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
        |     * (tf.n * 2.2) / (tf.n + 1.2 * (0.25 + 0.75 * dl.len / avgl))
        |     * 1000000.0) AS BIGINT) AS score_u
        |   FROM tf JOIN dl USING (doc_id) JOIN dfc USING (term) CROSS JOIN stats),
        | qbag AS (SELECT doc_id AS q_id, term FROM (
        |   SELECT doc_id, term,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, term) AS qrk
        |   FROM su WHERE doc_id < 10) WHERE qrk <= 10),
        | lexs AS (SELECT qbag.q_id, su.doc_id AS c_id, sum(su.score_u) AS lex_u
        |   FROM su JOIN qbag USING (term) WHERE su.doc_id >= 10 GROUP BY 1, 2),
        | lex AS (SELECT q_id, c_id, rk FROM (
        |   SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY lex_u DESC, c_id) AS rk
        |   FROM lexs) WHERE rk <= 20),
        | pa AS (SELECT q_id, c_id,
        |        CAST(floor(1000000000.0 / (60 + rk)) AS BIGINT) AS p FROM sem),
        | pb AS (SELECT q_id, c_id,
        |        CAST(floor(1000000000.0 / (60 + rk)) AS BIGINT) AS p FROM lex),
        | f AS (SELECT q_id, c_id, coalesce(pa.p, 0) + coalesce(pb.p, 0) AS rrf_u
        |       FROM pa FULL OUTER JOIN pb USING (q_id, c_id))
        |SELECT q_id, c_id, rrf_u, rk FROM (
        |  SELECT q_id, c_id, rrf_u,
        |   row_number() OVER (PARTITION BY q_id ORDER BY rrf_u DESC, c_id) AS rk
        |  FROM f) WHERE rk <= 10""".stripMargin,
    // q148: the truncated space is the 32-element list prefix (slice
    // AFTER the double cast ≡ Spark's slice before — the cast is
    // elementwise); full_rk restates q38's full-dim exact top-5
    "q148_mrl_topk" -> Q148OracleSql,
    // q149: per-dim sign-disagreement count is the portable Hamming
    // form (the packed XOR+POPCNT kernel is spec-pinned equal);
    // shortlist ties break on c_id, exact cosine reranks the shortlist
    "q149_binary_topk" -> Q149OracleSql,
    // q150: the two tier oracles embed VERBATIM as CTEs (DuckDB allows
    // a nested WITH inside a CTE body), joined against the exact top-5;
    // counts, per-mille integer division, and the quantized MRR are all
    // exact integer arithmetic
    "q150_ann_quality_card" ->
      s"""WITH ex AS ($ExactTop5Sql),
         | mrl AS ($Q148OracleSql),
         | bin AS ($Q149OracleSql),
         | nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries FROM ex),
         | mh AS (SELECT CAST(count(*) AS BIGINT) AS hits5
         |        FROM mrl JOIN ex USING (q_id, c_id)),
         | bh AS (SELECT CAST(count(*) AS BIGINT) AS hits5
         |        FROM bin JOIN ex USING (q_id, c_id)),
         | t1 AS (SELECT q_id, c_id FROM ex WHERE rk = 1),
         | mm AS (SELECT CAST(coalesce(sum(
         |          CAST(floor(1000000.0 / mrl.rk) AS BIGINT)), 0) AS BIGINT) AS mrr_u
         |        FROM t1 JOIN mrl USING (q_id, c_id)),
         | bm AS (SELECT CAST(coalesce(sum(
         |          CAST(floor(1000000.0 / bin.rk) AS BIGINT)), 0) AS BIGINT) AS mrr_u
         |        FROM t1 JOIN bin USING (q_id, c_id))
         |SELECT 'mrl32' AS tier, n_queries, hits5,
         |  hits5 * 1000 // (n_queries * 5) AS recall5_m, mrr_u,
         |  TRUE AS floor_ok
         |FROM nq, mh, mm
         |UNION ALL
         |SELECT 'binary' AS tier, n_queries, hits5,
         |  hits5 * 1000 // (n_queries * 5) AS recall5_m, mrr_u,
         |  TRUE AS floor_ok
         |FROM nq, bh, bm""".stripMargin,
  )

  /** Exact full-dim cosine top-5 (q_id, c_id, rk) — q38's ranking
    * restated as a composable SELECT for the card oracles.
    */
  private def ExactTop5Sql: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      | n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
      | q AS (SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm FROM n WHERE vec_id < 10),
      | c AS (SELECT vec_id AS c_id, vec AS c_vec, norm AS c_norm FROM n WHERE vec_id >= 10),
      | s AS (SELECT q_id, c_id,
      |        list_dot_product(q_vec, c_vec) / (q_norm * c_norm) AS cos
      |       FROM q CROSS JOIN c)
      |SELECT q_id, c_id, rk FROM (
      |  SELECT q_id, c_id,
      |   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
      |  FROM s) WHERE rk <= 5""".stripMargin

  private def Q148OracleSql: String =
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | tn AS (SELECT vec_id, vec[1:32] AS tvec,
        |        sqrt(list_dot_product(vec[1:32], vec[1:32])) AS tnorm FROM v),
        | tq AS (SELECT vec_id AS q_id, tvec AS q_vec, tnorm AS q_norm
        |        FROM tn WHERE vec_id < 10),
        | tc AS (SELECT vec_id AS c_id, tvec AS c_vec, tnorm AS c_norm
        |        FROM tn WHERE vec_id >= 10),
        | ts AS (SELECT q_id, c_id,
        |        list_dot_product(q_vec, c_vec) / (q_norm * c_norm) AS cos_t
        |       FROM tq CROSS JOIN tc),
        | tr AS (SELECT q_id, c_id, cos_t, rk FROM (
        |   SELECT q_id, c_id, cos_t,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_t DESC, c_id) AS rk
        |   FROM ts) WHERE rk <= 5),
        | n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
        | q AS (SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm FROM n WHERE vec_id < 10),
        | c AS (SELECT vec_id AS c_id, vec AS c_vec, norm AS c_norm FROM n WHERE vec_id >= 10),
        | s AS (SELECT q_id, c_id,
        |        list_dot_product(q_vec, c_vec) / (q_norm * c_norm) AS cos
        |       FROM q CROSS JOIN c),
        | ex AS (SELECT q_id, c_id, rk AS full_rk FROM (
        |   SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
        |   FROM s) WHERE rk <= 5)
        |SELECT t.q_id, t.c_id, round(t.cos_t, 6) AS cos_t, t.rk, ex.full_rk
        |FROM tr t LEFT JOIN ex ON t.q_id = ex.q_id AND t.c_id = ex.c_id""".stripMargin

  private def Q149OracleSql: String =
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        | n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM v),
        | q AS (SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm FROM n WHERE vec_id < 10),
        | c AS (SELECT vec_id AS c_id, vec AS c_vec, norm AS c_norm FROM n WHERE vec_id >= 10),
        | h AS (SELECT q_id, c_id,
        |        CAST(len(list_filter(range(1, 65),
        |          i -> (q_vec[i] > 0) <> (c_vec[i] > 0))) AS BIGINT) AS hamming
        |       FROM q CROSS JOIN c),
        | sl AS (SELECT q_id, c_id, hamming FROM (
        |   SELECT q_id, c_id, hamming,
        |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, c_id) AS srk
        |   FROM h) WHERE srk <= 20),
        | rer AS (SELECT sl.q_id, sl.c_id, sl.hamming,
        |        list_dot_product(q.q_vec, c.c_vec) / (q.q_norm * c.c_norm) AS cos
        |       FROM sl JOIN q USING (q_id) JOIN c USING (c_id))
        |SELECT q_id, c_id, hamming, round(cos, 6) AS cos, rk FROM (
        |  SELECT q_id, c_id, hamming, cos,
        |   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
        |  FROM rer) WHERE rk <= 5""".stripMargin

  /** The shared DuckDB prefix for the k-means family: two unrolled
    * integer-exact Lloyd rounds (see [[kmeansAssign]] — same fixed-point
    * vectors, same deterministic seeds, same floor-division centroids,
    * same (d2, cid) tie-break), exposed so q108 and q109 state the
    * clustering ONCE and differ only in their tails.
    */
  private object KmeansOracle {
    // exposed to IvfPqOracle: the coarse quantizer is the SAME geometry
    private[VectorOps] val prefix =
      """WITH iv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        | c0 AS (SELECT vec_id AS cid, q AS c FROM iv ORDER BY vec_id LIMIT 8),
        | a1 AS (
        |  SELECT vec_id, cid, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM (SELECT iv.vec_id, c0.cid,
        |          list_sum(list_transform(list_zip(iv.q, c0.c), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
        |        FROM iv CROSS JOIN c0)),
        | s1 AS (
        |  SELECT a1.cid, u.pos, CAST(floor(CAST(sum(u.v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
        |  FROM a1 JOIN iv ON a1.vec_id = iv.vec_id AND a1.rn = 1,
        |       LATERAL (SELECT unnest(iv.q) AS v, unnest(range(1, len(iv.q)+1)) AS pos) u
        |  GROUP BY a1.cid, u.pos),
        | c1 AS (
        |  SELECT co.cid,
        |    CASE WHEN count(s1.cv) = 0 THEN co.c
        |         ELSE list(s1.cv ORDER BY s1.pos) END AS c
        |  FROM c0 co LEFT JOIN s1 ON co.cid = s1.cid
        |  GROUP BY co.cid, co.c),
        | a2 AS (
        |  SELECT vec_id, cid, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM (SELECT iv.vec_id, c1.cid,
        |          list_sum(list_transform(list_zip(iv.q, c1.c), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
        |        FROM iv CROSS JOIN c1))""".stripMargin
    def sql(tail: String, continued: Boolean = false): String =
      if (continued) prefix + ",\n " + tail else prefix + "\n" + tail
  }

  /** The DuckDB prefix for the PQ family: per subspace, the SAME two
    * unrolled integer-exact Lloyd rounds as [[KmeansOracle]] applied to
    * a slice of the fixed-point vector (see [[pqCodebooks]] — same
    * seeds, same floor-division centroids, same (d2, cid) tie-break),
    * with `_j`-suffixed CTEs per subspace so each query's tail reads
    * the trained tables directly. Parameterized by (m, k): q129 demos
    * the codes mart at 2×4, q130 serves at 4×8 (see [[q130PqTopk]] for
    * why the grids differ). Slice bounds are DuckDB's 1-based inclusive
    * list indexing; the k seeds are vec_ids 0..k-1 (dense ids, the q108
    * convention).
    */
  private object PqOracle {
    // `src` = the int-vec CTE the codebooks train over: "iv" for plain
    // PQ (q129/q130), "resid" for IVF-PQ's residual training (q131).
    // Seeds are FIRST-k-BY-ID (ORDER BY vec_id LIMIT k), matching the
    // Spark side's orderBy("vec_id").limit(k) — NOT `vec_id < k`, which
    // is only equivalent on contiguous id spaces and diverged on the
    // r19 hash-sampled sf1.0 slices (same for KmeansOracle's c0).
    private def block(j: Int, lo: Int, hi: Int, k: Int,
        src: String = "iv"): String =
      s""" sv$j AS (SELECT vec_id, q[$lo:$hi] AS q FROM $src),
         | c0_$j AS (SELECT vec_id AS cid, q AS c FROM sv$j ORDER BY vec_id LIMIT $k),
         | a1_$j AS (
         |  SELECT vec_id, cid, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |  FROM (SELECT sv.vec_id, c0.cid,
         |          list_sum(list_transform(list_zip(sv.q, c0.c), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
         |        FROM sv$j sv CROSS JOIN c0_$j c0)),
         | s1_$j AS (
         |  SELECT a1.cid, u.pos, CAST(floor(CAST(sum(u.v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |  FROM a1_$j a1 JOIN sv$j sv ON a1.vec_id = sv.vec_id AND a1.rn = 1,
         |       LATERAL (SELECT unnest(sv.q) AS v, unnest(range(1, len(sv.q)+1)) AS pos) u
         |  GROUP BY a1.cid, u.pos),
         | c1_$j AS (
         |  SELECT co.cid,
         |    CASE WHEN count(s1.cv) = 0 THEN co.c
         |         ELSE list(s1.cv ORDER BY s1.pos) END AS c
         |  FROM c0_$j co LEFT JOIN s1_$j s1 ON co.cid = s1.cid
         |  GROUP BY co.cid, co.c),
         | a2_$j AS (
         |  SELECT vec_id, cid, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |  FROM (SELECT sv.vec_id, c1.cid,
         |          list_sum(list_transform(list_zip(sv.q, c1.c), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
         |        FROM sv$j sv CROSS JOIN c1_$j c1))""".stripMargin
    private def prefix(m: Int, k: Int, dims: Int = 64): String = {
      val sub = dims / m
      """WITH iv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |""".stripMargin +
        (0 until m).map(j => block(j, j * sub + 1, (j + 1) * sub, k))
          .mkString(",\n")
    }

    /** The m training blocks over an arbitrary source CTE — the
      * composable piece [[IvfPqOracle]] points at the residual frame.
      */
    private[VectorOps] def blocks(m: Int, k: Int, dims: Int,
        src: String): String = {
      val sub = dims / m
      (0 until m).map(j => block(j, j * sub + 1, (j + 1) * sub, k, src))
        .mkString(",\n")
    }
    def sql(m: Int, k: Int, tail: String,
        continued: Boolean = false): String =
      if (continued) prefix(m, k) + ",\n " + tail
      else prefix(m, k) + "\n" + tail

    /** The full [[pqTopk]] oracle, generated for any (m, k) so the grid
      * can follow the PqProbe evidence (q130's 16×64) without 16
      * hand-written subspace joins. Mirrors the Spark plan 1:1: codes =
      * per-subspace rn=1 argmins joined on vec_id, ADC = per-subspace
      * slice-vs-trained-centroid sums, both rankings off the same
      * scored set, exact_rk LEFT-joined (null = promoted outside the
      * true top-k).
      */
    def topkSql(m: Int, k: Int, dims: Int = 64, span: Int = 10,
        kNN: Int = 5): String = {
      val sub = dims / m
      val codeCols = (0 until m).map(j => s"s$j.cid AS code_$j")
        .mkString(", ")
      val codeJoins = (1 until m).map(j =>
        s"  JOIN (SELECT * FROM a2_$j WHERE rn = 1) s$j USING (vec_id)")
        .mkString("\n")
      val adcTerms = (0 until m).map { j =>
        val lo = j * sub + 1; val hi = (j + 1) * sub
        s"list_sum(list_transform(list_zip(qs.q[$lo:$hi], cb$j.c), p -> (p[1]-p[2])*(p[1]-p[2])))"
      }.mkString("\n      + ")
      val cbJoins = (0 until m).map(j =>
        s"  JOIN c1_$j cb$j ON cb$j.cid = codes.code_$j").mkString("\n")
      sql(m, k,
        s"""codes AS (
           |  SELECT s0.vec_id AS c_id, $codeCols
           |  FROM (SELECT * FROM a2_0 WHERE rn = 1) s0
           |$codeJoins
           |  WHERE s0.vec_id >= $span),
           | qs AS (SELECT vec_id AS q_id, q FROM iv WHERE vec_id < $span),
           | scored AS (
           |  SELECT qs.q_id, codes.c_id,
           |    CAST($adcTerms AS BIGINT) AS adc_d2,
           |    CAST(list_sum(list_transform(list_zip(qs.q, ivc.q), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS exact_d2
           |  FROM qs CROSS JOIN codes
           |  JOIN iv ivc ON ivc.vec_id = codes.c_id
           |$cbJoins),
           | ra AS (
           |  SELECT q_id, c_id, adc_d2,
           |    row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, c_id) AS rk
           |  FROM scored),
           | re AS (
           |  SELECT q_id, c_id,
           |    row_number() OVER (PARTITION BY q_id ORDER BY exact_d2, c_id) AS exact_rk
           |  FROM scored)
           |SELECT ra.q_id, ra.c_id, CAST(ra.rk AS BIGINT) AS rk, ra.adc_d2,
           |  CAST(re.exact_rk AS BIGINT) AS exact_rk
           |FROM ra LEFT JOIN (SELECT * FROM re WHERE exact_rk <= $kNN) re
           |  ON ra.q_id = re.q_id AND ra.c_id = re.c_id
           |WHERE ra.rk <= $kNN""".stripMargin, continued = true)
    }
  }

  /** The [[ivfpqTopk]] oracle: [[KmeansOracle]]'s coarse quantizer
    * (same CTE text — the geometry IS q108's), a residual CTE
    * (q − coarse centroid, integer-exact), [[PqOracle]]'s training
    * blocks pointed at the residuals, then the serving tail — probe
    * routing by exact integer d2 over the kc centroids, residual-ADC
    * over candidates in probed lists only, and the full-corpus exact
    * ranking LEFT-joined as the end-to-end recall instrument.
    */
  private object IvfPqOracle {
    def sql(m: Int, k: Int, dims: Int = 64, span: Int = 10,
        kNN: Int = 5, nProbe: Int = 2): String = {
      val sub = dims / m
      val codeCols = (0 until m).map(j => s"s$j.cid AS code_$j")
        .mkString(", ")
      val codeJoins = (1 until m).map(j =>
        s"  JOIN (SELECT * FROM a2_$j WHERE rn = 1) s$j USING (vec_id)")
        .mkString("\n")
      val adcTerms = (0 until m).map { j =>
        val lo = j * sub + 1; val hi = (j + 1) * sub
        s"list_sum(list_transform(list_zip(qp.qr[$lo:$hi], cb$j.c), p -> (p[1]-p[2])*(p[1]-p[2])))"
      }.mkString("\n      + ")
      val cbJoins = (0 until m).map(j =>
        s"  JOIN c1_$j cb$j ON cb$j.cid = codes.code_$j").mkString("\n")
      KmeansOracle.sql(
        s"""resid AS (
           |  SELECT iv.vec_id, a2c.cid AS ccid,
           |    list_transform(list_zip(iv.q, c1.c), p -> p[1]-p[2]) AS q
           |  FROM (SELECT * FROM a2 WHERE rn = 1) a2c
           |  JOIN iv ON iv.vec_id = a2c.vec_id
           |  JOIN c1 ON c1.cid = a2c.cid),
           |${PqOracle.blocks(m, k, dims, "resid")},
           | codes AS (
           |  SELECT s0.vec_id AS c_id, r.ccid, $codeCols
           |  FROM (SELECT * FROM a2_0 WHERE rn = 1) s0
           |$codeJoins
           |  JOIN resid r ON r.vec_id = s0.vec_id
           |  WHERE s0.vec_id >= $span),
           | qs AS (SELECT vec_id AS q_id, q FROM iv WHERE vec_id < $span),
           | probe AS (
           |  SELECT q_id, ccid, c FROM (
           |   SELECT qs.q_id, c1.cid AS ccid, c1.c,
           |     row_number() OVER (PARTITION BY qs.q_id ORDER BY
           |       list_sum(list_transform(list_zip(qs.q, c1.c), p -> (p[1]-p[2])*(p[1]-p[2]))), c1.cid) AS rn
           |   FROM qs CROSS JOIN c1)
           |  WHERE rn <= $nProbe),
           | qp AS (
           |  SELECT probe.q_id, probe.ccid,
           |    list_transform(list_zip(qs.q, probe.c), p -> p[1]-p[2]) AS qr
           |  FROM probe JOIN qs USING (q_id)),
           | scored AS (
           |  SELECT qp.q_id, codes.c_id, codes.ccid,
           |    CAST($adcTerms AS BIGINT) AS adc_d2
           |  FROM qp JOIN codes ON codes.ccid = qp.ccid
           |$cbJoins),
           | ra AS (
           |  SELECT q_id, c_id, ccid, adc_d2,
           |    row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, c_id) AS rk
           |  FROM scored),
           | ex AS (
           |  SELECT qs.q_id, iv.vec_id AS c_id,
           |    row_number() OVER (PARTITION BY qs.q_id ORDER BY
           |      list_sum(list_transform(list_zip(qs.q, iv.q), p -> (p[1]-p[2])*(p[1]-p[2]))), iv.vec_id) AS exact_rk
           |  FROM qs CROSS JOIN iv WHERE iv.vec_id >= $span)
           |SELECT ra.q_id, ra.c_id, ra.ccid, CAST(ra.rk AS BIGINT) AS rk,
           |  ra.adc_d2, CAST(ex.exact_rk AS BIGINT) AS exact_rk
           |FROM ra LEFT JOIN (SELECT * FROM ex WHERE exact_rk <= $kNN) ex
           |  ON ra.q_id = ex.q_id AND ra.c_id = ex.c_id
           |WHERE ra.rk <= $kNN""".stripMargin, continued = true)
    }
  }
}
