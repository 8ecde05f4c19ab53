package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The sf1.0 scale probe (r5 verdict item 6, carried to r8): run the heavy
  * similarity/CDC family at 10× the bench scale and check that wall-times
  * scale ~linearly and plan shapes hold. The sf1.0 inputs are derived
  * deterministically from the driver's sf0.1 tables (TESTDATA.md forbids
  * regenerating /root/testdata, so the 10× tables land in the repo-local
  * scratch dir, gitignored):
  *
  *   - orders: 10 copies, o_orderkey remapped per copy.
  *   - documents: 10 copies, doc_id remapped; every 3rd token of each
  *     non-zero copy carries a copy tag, so EVERY 3-gram shingle differs
  *     across copies — near-dup structure within a copy is preserved
  *     (both members of a pair get the same transformation) and no
  *     artificial cross-copy near-dups appear: the near-dup workload
  *     scales exactly linearly, like an organic 10× corpus.
  *   - embeddings: 10 copies, vec_id remapped; each copy's vectors are
  *     rotated by the copy index (norm-preserving, cross-copy cosine ~
  *     uncorrelated for these near-random embeddings), so ANN structure
  *     also scales linearly. Query ids (vec_id < 10) exist only in copy
  *     0, keeping the probe's query set identical to the bench's.
  *
  * The matrix is [[probeNames]]: registered and bench-only queries plus
  * the scale-only rows of [[probeQueries]]. `graft.tools.Probe time`
  * times them at both scales (min of 3, full output) with a physical-plan
  * shape fingerprint per row — a shape mismatch (e.g. a broadcast
  * silently becoming a shuffle join at 10×) is exactly the regression
  * this probe exists to catch. Paste the rows into BASELINE.md's sf1.0
  * section.
  */
object ScaleProbe {
  private val Copies = 10
  private val IdSpan = 10000000L

  /** Every probe row, in matrix order. */
  def probeNames: Seq[String] = registeredProbes ++ probeQueries.map(_._1)

  /** Probe rows timed by their SparkEntry / Bench.benchOnly entries. */
  private val registeredProbes: Seq[String] =
    Seq("q23_cdc_changes", "q74_cdc_apply", "q35_ngram_jaccard",
      "q36_minhash_lsh", "q58_neardup_blocked",
      "q65_decontaminate", "q85_corpus_shuffle",
      // r14 (the r13 verdict's item 4): the heaviest oracled query had
      // no scale evidence — three shuffles on (doc_id, term)-grade keys
      // should stay sublinear at 10×
      "q78_tfidf",
      // r14: the aggregate-pushdown range join — joined volume scales
      // with distinct DAYS (scale-invariant), so wall should be nearly
      // flat at 10× (only the scans and the pre-aggregation grow)
      "q62_range_join",
      // r14 late additions: the Bloom dedup gate (corpus scan + filter
      // build should scale linearly, the verify joins with the true-dup
      // count), word entropy (two keyed aggs — the q78 shape minus the
      // idf join), and the curriculum decile (the q85 rank machinery
      // under a score order plus a quality scan)
      "q86_bloom_gate", "q87_word_entropy", "q88_curriculum_decile",
      // r14 second batch: span-dup fraction (span-keyed count + dup-only
      // left join — the copy tag makes every 5-gram differ across copies,
      // so dup volume scales linearly like an organic corpus), unigram LM
      // (q78's agg shapes minus idf, plus the vocab join), PSI drift
      // (ONE corpus pass, then groups×bins rows), and token-budget
      // selection (histogram pass + broadcast cutoff filter — the probe
      // watches that the window stays on the tiny aggregate at 10×)
      "q90_span_dupfrac", "q91_unigram_lm", "q92_quality_psi",
      "q93_token_budget",
      // r14 third batch: the CC closure (iterative — rounds grow with
      // log of the largest component, edge volume with pair count) and
      // the two-stage rerank (stage 1 is a broadcast-queries corpus
      // scan, stage 2 touches queries×20 rows — wall should track the
      // scan)
      "q94_dedup_components", "q95_hybrid_rerank",
      // r14 final: the source-overlap matrix — the copy-tagged probe
      // corpus kills cross-copy span sharing, so the index grows 10× but
      // pair volume stays bounded by sources² per span
      "q99_source_overlap",
      // r14 last: PMI pairs — one gram-concat scan, pair-vocab aggregates
      "q100_collocations",
      // r15: the exact-substring scrub — positional-gram explode + dup
      // count + cover join + per-row rebuild; the copy tag breaks
      // cross-copy spans, so dup volume scales linearly like q90's
      "q101_span_scrub",
      // r15: per-source template mining — one span aggregation + a
      // window over the incidence-floored remainder (bounded per source)
      "q102_templates",
      // r15: the composed template scrub — floored template aggregate
      // broadcast into the cover join, q101's rebuild tail
      "q103_template_scrub",
      // r15: eval-overlap scrub — the eval gram-hash set is corpus/17
      // here (registry-sized in production); cover join + rebuild
      "q104_decontam_scrub",
      // r15 late: int8 quantization diagnostics (pure per-row HOF
      // arithmetic — the probe confirms the zero-shuffle scan scales
      // linearly with the vector count) and the quantized-serving top-k
      // (broadcast queries over the streamed code scan + the shared
      // checkpointed score frame — wall should track the corpus scan
      // like q38/q95)
      "q106_int8_quantize", "q107_int8_topk",
      // r15 late: integer-exact k-means (per-iteration cost = one argmin
      // scan + one k×dims keyed agg — the probe watches that the wall
      // tracks the scan) and SemDeDup (within-cluster pairs: at FIXED
      // k=8 the pair volume grows ~n²/k — quadratic by design at this
      // instrument config; production k scales with √n to pin cluster
      // width, which is the ivfNumCentroids story)
      "q108_kmeans", "q109_semdedup",
      // r15 batch 3: Gopher rule card (pure per-row HOF scan — the q106
      // shape; the probe confirms zero-shuffle linear), DSIR importance
      // weights (checkpointed gram stream + vocab-keyed scoring join —
      // the copy tag inflates the bigram vocab ~linearly, so the join's
      // build side grows with it; the hashed production form pins it at
      // O(buckets)), and embedding targeted selection (exemplar agg +
      // centroid-literal scoring scan — should track the corpus scan
      // like q106)
      "q111_gopher_rules", "q113_dsir", "q112_target_select",
      // r15 batch 3: BPE pair counts (explode + keyed agg + bounded
      // top-k) and the 2-merge learner (per round: one pair agg + a
      // 1-row argmax + a per-row fold over the checkpointed symbol
      // frame — wall should track the word scan; the pair vocabulary
      // is alphabet²-bounded, immune to the copy-tag inflation that
      // drives q113's exact-gram ratio)
      "q114_bpe_pairs", "q115_bpe_learn",
      // r15 batch 4: the leakage family — q116/q117/q120 are the q94
      // closure plus a cheap tail (a label projection / one
      // cluster-keyed agg / a same-key count+join), so each row's
      // EVIDENCE is its delta over the q94_dedup_components row at the
      // same scale, not its absolute wall
      "q116_leak_split", "q117_split_leakage", "q120_dup_weights",
      // r15 batch 4: UniMax (one map-side-combinable lang agg + a
      // language-table fold — dead flat per byte is the claim) and the
      // CCNet buckets (the q91-shaped per-lang vocab join + the q85
      // rank machinery; the probe corpus's copy tags inflate the
      // per-lang vocab exactly like q91's, so the organic read is the
      // plain10 control row below — the q91 adjudication, reapplied)
      "q118_unimax", "q119_ccnet_buckets",
      // r15 batch 4: intra-doc repeat collapse — doc_id-local keyed agg
      // + same-key join + the q101 rebuild tail; the copy tag preserves
      // within-doc repeat structure per copy, so dup volume scales
      // linearly like an organic corpus
      "q121_self_scrub",
      // r15 batch 5: the embedding health metrics — both are bounded
      // query samples (vec_id < 100, copy 0 only) broadcast over the
      // streamed corpus, so wall should track the corpus scan; q122
      // adds bounded-heap top-k (the q38/q95 shape), q124 collapses
      // straight into a ≤2·41-row bucket agg
      "q122_knn_purity", "q124_cosine_calibration",
      // r15 batch 5: eval containment — one corpus gram scan into the
      // BROADCAST eval gram-hash semi-join; the eval set here is
      // corpus/17 (registry-sized in production), so the broadcast side
      // grows 10× at the probe while the per-doc bookkeeping stays
      // eval-sized; the copy tag kills cross-copy gram sharing, so hit
      // volume scales like an organic corpus
      "q123_eval_containment",
      // r15 batch 5: surprise tail — q91's LM aggregates plus a
      // doc_id-local cumulative window; vocab inflation hits its
      // scoring join exactly like q91's, so the organic read is the
      // q91_plain10 adjudication (same corpus variants)
      "q125_surprise_tail",
      // r15 batch 6: the dup card (≡ q94 closure + a tiny-card tail —
      // read as delta over q94, like q116/q120), winnowing pairs (the
      // copy tag breaks cross-copy k-grams, so fingerprint collisions
      // and pair volume scale linearly like q35/q90), and the bigram LM
      // (the q91/q113 vocab-join family — copy tags inflate the bigram
      // vocab, so the organic read is the q91_plain10 adjudication)
      "q126_dup_card", "q127_winnow_pairs", "q128_bigram_lm",
      // r18: the retrieval tier — RRF fusion (both retrievers grow with
      // the corpus, fusion stays queries×20-bound), the impact postings
      // build (term-keyed bounded heap over the shared BM25 frame), and
      // the instrumented impact search (the unpruned exact half is what
      // grows; the pruned read is vocab-bound)
      "q147_rrf_fusion", "q151_impact_index", "q152_impact_search",
      // pure IVF search, the pre-r14 q57 workload (BASELINE.md's
      // "q57_ivf_topk" probe rows): r14 made the REGISTERED q57 a
      // recall-gate instrument that also runs the brute-force reference
      "q57prod",
      // the PRODUCTION q35 configuration (r13): DF-capped + hashed
      // shingles. At sf0.1 the cap's counting pass is pure overhead
      // (bench shows ~1.5x the exact form); this row measures whether
      // the hashed-key shuffle diet closes the gap as data grows
      // (BASELINE.md's "q35_prod" probe rows)
      "q35prod")

  /** The scale-only rows, resolvable by name from `graft.tools.Probe`. */
  private[graft] def probeQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      // the production-θ corpus-scaled near-dup: q58's gate tuning has a
      // quadratic RESULT at θ=0.4 (pair density is scale-constant), so
      // the linear-scaling claim belongs to the auto-blocked form
      ("q58_auto_theta08" ->
        ((s: SparkSession, dir: String) =>
          graft.operators.VectorOps.q58NeardupBlockedAuto(s, dir))),
      // the PRODUCTION DSIR configuration: grams bucketed to 10⁴ hashed
      // features. The exact-gram instrument's probe ratio is driven by
      // copy-tag vocab inflation (the q91 story); this row measures the
      // O(buckets) claim — the gram table and the scoring join's build
      // side are bucket-bound, so wall should track the corpus scan
      ("q113_hashed" ->
        ((s: SparkSession, dir: String) =>
          graft.operators.TextOps.dsirHashedWeights(
            graft.sources.Tables.documents(s, dir),
            col("lang") === "en"))),
      // the sharded-index search path (r8 verdict item 6: no timed query
      // exercised it): K=4 sub-indexes over the same corpus q57's single
      // index covers, so the probe row reads directly against q57's —
      // same scale, same queries, sharded vs single plan shape and wall.
      // The index builds once per (dir, K) into scratch/ (the FIRST
      // sample of a fresh run pays it and prints a SHARDBUILD line; the
      // min-of-3 therefore reports steady-state search cost)
      ("q57_sharded_k4" ->
        ((s: SparkSession, dir: String) => shardedSearch(s, dir, 4))),
      // the stats-pruned copy-on-write merge (r9): orders land as
      // ~fixed-SIZE key-clustered commits (more commits at larger scale,
      // the shape a real ingest/compaction produces), and each sample
      // merges a 1000-row delta confined to one commit's key range. The
      // scale claim this evidences: merge wall tracks the TOUCHED commit
      // (~constant rows), not the table - flat across 10x data, vs the
      // full-snapshot rewrite growing 10x
      ("merge_pruned" ->
        ((s: SparkSession, dir: String) => mergeProbe(s, dir))),
      // the SQL DML path (r12 verdict item 6): the same pruned merge
      // driven as `MERGE INTO` through the parser intercept
      // (parser → GraftDml → mergeCommit), so the statement path has its
      // own scale row — a parser/alignment regression that re-read the
      // whole table would show here and not in merge_pruned
      ("merge_sql" ->
        ((s: SparkSession, dir: String) => sqlMergeProbe(s, dir))),
      // q84-shaped copy-on-write DELETE: two key-split commits, a
      // conjunctive predicate the high commit PROVES no-match on while
      // the low commit (no stats on o_totalprice) must rewrite minus its
      // matching rows. Each sample consumes a FRESH pre-built table from
      // a pool (a second DELETE on the same table would be metadata-only
      // - different work); the pool build runs inside sample 1's window
      // (COWBUILD line reports its cost), so min-of-3 is pure statement
      ("delete_cow" ->
        ((s: SparkSession, dir: String) => cowDeleteProbe(s, dir))),
      // r15 q91 adjudication (r14 verdict item 4): the 5.1× row was
      // blamed on the probe corpus's per-copy token tags without
      // measurement. Two controls, same query: `fixedtag` re-derives the
      // 10× corpus with tags drawn from a FIXED 31-word tag vocabulary
      // (global vocab ~2× organic instead of ~10×), `plain10` is the
      // untagged fan-out (the ORGANIC control — q91 has no cross-doc
      // pair structure, so copies need no tagging for it; vocab and
      // per-doc distinct-token shape are exactly organic-10×). At the
      // sf0.1 reference dir both variants ARE documents.parquet.
      ("q91_fixedtag" ->
        ((s: SparkSession, dir: String) => graft.operators.TextOps.unigramNll(
          variantDocs(s, dir, "vocabstable")))),
      ("q91_plain10" ->
        ((s: SparkSession, dir: String) => graft.operators.TextOps.unigramNll(
          variantDocs(s, dir, "plain10")))),
      // r15: CCNet buckets on the untagged 10× fan-out — q119's organic
      // vocab-growth control (same adjudication as q91_plain10)
      ("q119_plain10" ->
        ((s: SparkSession, dir: String) => graft.operators.TextOps.ccnetBuckets(
          variantDocs(s, dir, "plain10")))),
      // r15: bigram LM on the untagged 10× fan-out — q128 is per-doc
      // independent (no cross-doc pair structure), so like q91/q119 its
      // organic scale read is the plain10 control: the tagged corpus
      // mints a new bigram at every tag adjacency (~10× bigram vocab),
      // while organic 10× keeps the bigram table near-fixed
      ("q128_plain10" ->
        ((s: SparkSession, dir: String) => graft.operators.TextOps.bigramNll(
          variantDocs(s, dir, "plain10")))),
      // r15 cap-binding adversarial probe (r14 verdict item 5): every
      // DF/width cap was spec'd only where it never binds. The boiler
      // corpus appends one fixed 30-word template paragraph to 10% of
      // docs (template DF/lang > ProdMaxShingleDF=64 at BOTH scales, so
      // the cap BINDS): exact q35 pays C(DF,2) template candidates per
      // template shingle — DF grows with the corpus, so the term grows
      // ~100× across the 10× step — while the capped form drops those
      // index entries and stays ~linear. Divergence is quantified by the
      // probe's own rows field: template-only overlap tops out at
      // jaccard ≈ 0.2 ≪ 0.8, so both forms must report the SAME pairs.
      ("q35_exact_boiler" ->
        ((s: SparkSession, dir: String) => graft.operators.TextOps.ngramJaccard(
          boilerDocs(s, dir), maxShingleDF = Int.MaxValue))),
      ("q35_prod_boiler" ->
        ((s: SparkSession, dir: String) => graft.operators.TextOps.ngramJaccard(
          boilerDocs(s, dir), maxShingleDF = graft.operators.TextOps.ProdMaxShingleDF,
          hashShingles = true))),
      // r15: the span SCRUB on the same adversarial corpus — unlike the
      // pairwise q35 family, q101's dup join is per-OCCURRENCE (a
      // corpus-wide template contributes covered positions linear in its
      // occurrences, never C(DF,2) pairs), so boilerplate must not bend
      // its curve
      ("q101_boiler" ->
        ((s: SparkSession, dir: String) =>
          graft.operators.TextOps.spanScrub(boilerDocs(s, dir)))),
      // r15 adversarial CC topology (r14 verdict item 6): the O(log n)
      // claim's worst enemies are diameter and hubs; sf1.0's organic
      // clusters are tiny. Two axes, probed separately:
      //  - chain+hub graphs: 100k-node components with a degree-999 hub
      //    every 1000 nodes (~2 edges/node). NOTE the hubs SHORTCUT the
      //    chain (any two nodes are ~3 hops per 1000-block apart, so
      //    diameter is ~300, not 10^5) — these probe component SIZE and
      //    max DEGREE at 2e6 and 1e7 edges, not diameter.
      //  - the hub-free single chain below is the true DIAMETER axis.
      // Ignores `dir` (the graph is synthetic); rounds + per-round edge
      // volume print on a CCROUNDS line per sample.
      ("cc_chain_hub_2e6" ->
        ((s: SparkSession, dir: String) => ccTopology(s, 1000000L))),
      ("cc_chain_hub_1e7" ->
        ((s: SparkSession, dir: String) => ccTopology(s, 5000000L))),
      // r15: ONE hub-free 5M-node chain — genuinely diameter 5e6 (no
      // hub shortcuts), 50× the hub probes' component size: the
      // diameter/rounds axis itself. Star-contraction rounds should
      // grow ~log(component), where one-hop propagation would need 5e6.
      ("cc_one_chain_5e6" ->
        ((s: SparkSession, dir: String) =>
          ccTopology(s, 5000000L, chainLen = 5000000L, withHubs = false))))

  /** Read the q91-adjudication variant table when probing the derived
    * dir; at the sf0.1 reference dir the variant IS documents.parquet. */
  private def variantDocs(s: SparkSession, dir: String, kind: String): DataFrame = {
    val p = s"$dir/documents_$kind.parquet"
    val f = new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)
    if (f.exists(new Path(p))) s.read.parquet(p)
    else s.read.parquet(s"$dir/documents.parquet")
  }

  /** The corpus-wide template paragraph for the cap-binding probe — 30
    * words OUTSIDE the organic vocabulary, so its interior 3-grams'
    * DF is exactly the injected-doc count. */
  private val BoilerTemplate = (1 to 30).map(i => s"boilerplate$i").mkString(" ")

  /** Build-if-missing the boilerplate-heavy derivative of `dir`'s
    * documents: the fixed template appended to every doc_id ≡ 0 (mod 10)
    * (copy remapping adds multiples of 10⁷, so the same 10% of each copy
    * is injected and the template's DF grows linearly with the corpus —
    * organic boilerplate behavior). */
  private def boilerDocs(s: SparkSession, dir: String): DataFrame = {
    val out = "scratch/boiler-" + dir.replaceAll("[^A-Za-z0-9.]", "_") +
      "/documents.parquet"
    val f = new Path(out).getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(new Path(out))) {
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text",
          when(pmod(col("doc_id"), lit(10L)) === 0L,
            concat(col("text"), lit(" " + BoilerTemplate)))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")))
        .repartition(32)
        .write.mode("overwrite").parquet(out)
      println(s"built $out from $dir (10% boilerplate)")
    }
    s.read.parquet(out)
  }

  /** Deterministic chain(+hub) graph → CC labels, checked and summarized.
    * n nodes in chainLen-long chains; with `withHubs`, plus a hub every
    * 1000 nodes adopting its block (~2 edges/node, max degree 999 — but
    * the hubs SHORTCUT the chain, collapsing per-component diameter to
    * ~3 hops per block, so hub graphs probe size/degree). With
    * `withHubs = false` the chain is the only structure and the
    * component diameter is genuinely chainLen − 1 — the diameter axis.
    * Returns one row iff every chain collapsed to exactly one
    * component (a wrong closure returns 0 rows, which the PROBE line's
    * rows field makes loud). */
  private def ccTopology(s: SparkSession, n: Long,
      chainLen: Long = 100000L, withHubs: Boolean = true): DataFrame = {
    import graft.operators.ConnectedComponents
    val hubSpan = 1000L
    val ids = s.range(n).toDF("id")
    val chain = ids.filter(pmod(col("id"), lit(chainLen)) =!= (chainLen - 1))
      .select(col("id").as("src"), (col("id") + 1L).as("dst"))
    val hubs = ids.filter(pmod(col("id"), lit(hubSpan)) =!= 0L)
      .select((col("id") - pmod(col("id"), lit(hubSpan))).as("src"),
        col("id").as("dst"))
    val edges = if (withHubs) chain.union(hubs) else chain
    val labels = ConnectedComponents.run(edges, maxIter = 100)
    val expected = (n + chainLen - 1) / chainLen
    println(s"""CCROUNDS {"n":$n,"rounds":${ConnectedComponents.lastRounds},""" +
      s""""round_edges":[${ConnectedComponents.lastRoundEdges.mkString(",")}]}""")
    // no releaseTree here: the returned agg still READS labels'
    // checkpoints; Probe releases the whole tree after each pass
    labels.agg(count(lit(1)).as("n_nodes"),
        countDistinct("component").as("n_components"))
      .filter(col("n_components") === lit(expected) && col("n_nodes") === lit(n))
  }

  /** Build-if-missing under `base`: orders as ~100k-row key-clustered
    * commits + a 1000-smallest-keys one-commit delta (o_totalprice
    * touched). Returns (table, deltaPath). Shared by the API-form and
    * SQL-form merge probes so both time the same table shape.
    */
  private def ensureClusteredOrders(s: SparkSession, dir: String,
      base: String): (String, String) = {
    import graft.sources.ManifestTable
    val table = s"$base/orders_lake"
    val deltaPath = s"$base/delta.parquet"
    val f = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(new Path(deltaPath))) {
      val t0 = System.nanoTime()
      val o = s.read.parquet(s"$dir/orders.parquet")
      val n = o.count()
      val buckets = math.max(2, math.ceil(n / 100000.0).toInt)
      val qs = o.stat.approxQuantile("o_orderkey",
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
      val bounds = (Double.NegativeInfinity +: qs.toSeq) :+ Double.PositiveInfinity
      bounds.sliding(2).zipWithIndex.foreach { case (pair, i) =>
        val (lo, hi) = (pair.head, pair.last)
        ManifestTable.commit(
          o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
          table, append = i > 0, statsCols = Seq("o_orderkey"))
      }
      // the delta: 1000 smallest keys - confined to the first commit's
      // range by construction; same schema, one value column touched
      o.orderBy("o_orderkey").limit(1000)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .write.mode("overwrite").parquet(deltaPath)
      println(f"""MERGEBUILD {"dir":"$dir","commits":$buckets,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }
    (table, deltaPath)
  }

  /** Build-if-missing a key-clustered manifest table + a one-commit
    * delta, then run (and thereby time) one pruned merge; returns a
    * 1-row frame recording how much of the table carried forward by
    * reference.
    */
  private def mergeProbe(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestTable
    val base = "scratch/mergeprobe-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (table, deltaPath) = ensureClusteredOrders(s, dir, base)
    val before = ManifestTable.currentVersion(s, table)
    val beforeDirs = ManifestTable.manifestEntries(s, table, before).map(_.dir)
    val v = ManifestTable.mergeCommit(s, table,
      s.read.parquet(deltaPath), Seq("o_orderkey"))
    val afterDirs = ManifestTable.manifestEntries(s, table, v).map(_.dir)
    val carried = beforeDirs.intersect(afterDirs).size
    import s.implicits._
    Seq((v, beforeDirs.size, carried)).toDF("version", "dirs", "carried")
  }

  /** Register a GraftCatalog named per (tag, dir) over `root`; returns
    * the catalog name. Re-setting the same confs is a no-op.
    */
  private def catalogFor(s: SparkSession, tag: String, dir: String,
      root: String): String = {
    val cat = s"scaleprobe_${tag}_${Integer.toHexString(dir.hashCode & 0x7fffffff)}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  /** merge_pruned's statement twin: the SAME clustered table shape and
    * delta, merged via SQL `MERGE INTO` through the parser intercept.
    * Re-merging the identical delta each sample rewrites the same
    * touched commit — stable per-sample work, like mergeProbe.
    */
  private def sqlMergeProbe(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestTable
    // SHARES mergeProbe's base: both probes merge the identical delta,
    // which rewrites the same touched commit and leaves the table shape
    // unchanged — one clustered build serves both, and the comparison is
    // exact (same table, same delta, API form vs statement form)
    val base = "scratch/mergeprobe-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (table, deltaPath) = ensureClusteredOrders(s, dir, base)
    val cat = catalogFor(s, "m", dir, base)
    s.read.parquet(deltaPath).createOrReplaceTempView("scaleprobe_merge_delta")
    val before = ManifestTable.currentVersion(s, table)
    val beforeDirs = ManifestTable.manifestEntries(s, table, before).map(_.dir)
    s.sql(s"""
      MERGE INTO $cat.orders_lake AS t USING scaleprobe_merge_delta AS d
      ON t.o_orderkey = d.o_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)
    val v = ManifestTable.currentVersion(s, table)
    val afterDirs = ManifestTable.manifestEntries(s, table, v).map(_.dir)
    val carried = beforeDirs.intersect(afterDirs).size
    import s.implicits._
    Seq((v, beforeDirs.size, carried)).toDF("version", "dirs", "carried")
  }

  // pool consumption counters are PER BASE DIR (a JVM-global counter
  // would skip the build for a second dir probed in the same JVM)
  private val cowPools = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()
  private val CowPoolSize = 6 // Probe time consumes 3 per dir

  /** q84-shaped copy-on-write DELETE over a FRESH table per sample: two
    * key-split commits (stats on o_orderkey only), then `DELETE WHERE
    * o_orderkey <= cut AND o_totalprice < threshold` — the high commit
    * proves no-match on the first conjunct and carries by reference;
    * the low commit is stats-undecidable on o_totalprice and rewrites
    * minus its TRUE-predicate rows. The pool build runs INSIDE the
    * first sample's timed window (its cost is reported separately on
    * the COWBUILD line and inflates sample 1 only) — min-of-3 reports
    * the pure statement cost. The key cut is computed once at build and
    * persisted, so timed samples never re-scan the source table.
    */
  private def cowDeleteProbe(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestTable
    val base = "scratch/cowdelprobe-" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val f = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    val ctr = cowPools.computeIfAbsent(base,
      _ => new java.util.concurrent.atomic.AtomicInteger(0))
    val cutFile = new Path(base, "_cut")
    if (ctr.get() == 0) {
      // first call in this JVM: (re)build every pool table that is not
      // pristine at version 2 — a previous probe run's DELETEs left
      // their tables consumed, and a second DELETE on a consumed table
      // would be metadata-only (different work than the COW rewrite
      // this probe times)
      val t0 = System.nanoTime()
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val cut = o.agg(ceil(max(col("o_orderkey")) / 2.0).cast("long"))
        .head.getLong(0)
      var rebuilt = 0
      (0 until CowPoolSize).foreach { i =>
        val t = s"$base/t$i"
        val pristine = try ManifestTable.currentVersion(s, t) == 2L
          catch { case scala.util.control.NonFatal(_) => false }
        if (!pristine) {
          f.delete(new Path(t), true)
          ManifestTable.commit(o.filter(col("o_orderkey") <= cut),
            t, append = false, statsCols = Seq("o_orderkey"))
          ManifestTable.commit(o.filter(col("o_orderkey") > cut),
            t, append = true, statsCols = Seq("o_orderkey"))
          rebuilt += 1
        }
      }
      val out = f.create(cutFile, true)
      try out.write(cut.toString.getBytes("UTF-8")) finally out.close()
      if (rebuilt > 0)
        println(f"""COWBUILD {"dir":"$dir","tables":$rebuilt,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }
    val i = ctr.getAndIncrement()
    require(i < CowPoolSize, s"cow-delete pool exhausted ($i)")
    val table = s"$base/t$i"
    val cut = {
      val in = f.open(cutFile)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
    val cat = catalogFor(s, "d", dir, base)
    val beforeDirs = ManifestTable.manifestEntries(s, table,
      ManifestTable.currentVersion(s, table)).map(_.dir)
    s.sql(s"DELETE FROM $cat.t$i " +
      s"WHERE o_orderkey <= $cut AND o_totalprice < 100000.0")
    val v = ManifestTable.currentVersion(s, table)
    val afterDirs = ManifestTable.manifestEntries(s, table, v).map(_.dir)
    val carried = beforeDirs.intersect(afterDirs).size
    import s.implicits._
    Seq((v, beforeDirs.size, carried)).toDF("version", "dirs", "carried")
  }

  /** Build-if-missing a K-shard index over `dir`'s embeddings corpus in
    * scratch/, then return the sharded search frame (same query set as
    * q57: vec_id < 10).
    */
  private def shardedSearch(s: SparkSession, dir: String, shards: Int): DataFrame = {
    import graft.operators.VectorOps
    val all = graft.sources.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("vec"))
      .withColumn("norm", sqrt(VectorOps.dot(col("vec"), col("vec"))))
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    val corpus = all.filter(col("vec_id") >= 10)
    val idx = s"scratch/ivfshard-k$shards-" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val marker = new Path(idx, "_shards")
    val f = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(marker)) {
      val t0 = System.nanoTime()
      VectorOps.ivfShardedIndex(corpus, idx, shards)
      println(f"""SHARDBUILD {"dir":"$dir","shards":$shards,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }
    VectorOps.ivfShardedSearch(queries, corpus, idx)
  }

  /** Build the sf1.0 tables if missing and print the probe matrix. Time
    * rows with `Test/runMain graft.tools.Probe time
    * /root/testdata/sf0.1,scratch/sf1.0 <name ...>`, one name per JVM for
    * heavy rows — a shared session carries JIT/heap state between heavy
    * queries and produced 6 s/9 s/102 s for the same (query, data) across
    * three otherwise-identical runs; isolated JVMs are reproducible.
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("scale-probe")
    buildIfMissing(spark, "/root/testdata/sf0.1", "scratch/sf1.0")
    println(probeNames.mkString(" "))
    spark.stop()
  }

  private def buildIfMissing(spark: SparkSession, src: String, out: String): Unit = {
    val f = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val copies = (0 until Copies).map(lit(_))
    def fan(df: DataFrame): DataFrame =
      df.withColumn("cp", explode(array(copies: _*)))

    // lineitem (r14, for the q62 range-join probe): keys remapped per
    // copy, dates preserved — per-day multiplicity grows 10×, exactly
    // the dimension the aggregate-pushdown plan collapses. Checked
    // separately from the r8 trio so pre-r14 scratch dirs upgrade in
    // place instead of rebuilding everything.
    if (!f.exists(new Path(s"$out/lineitem.parquet")))
      fan(spark.read.parquet(s"$src/lineitem.parquet"))
        .withColumn("l_orderkey", col("l_orderkey") + col("cp") * IdSpan)
        .drop("cp")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // r15 q91-adjudication variants (r14 verdict item 4) — checked
    // separately so pre-r15 scratch dirs upgrade in place.
    // vocabstable: tags come from a FIXED 31-word tag vocabulary,
    // tag(t, cp) = (xxhash64(t) mod 31 + 7·cp) mod 31 — global vocab
    // stays ~62 (vs ~310 with minted per-copy tags) while every tagged
    // position still differs across copies (stride 7·Δcp ≢ 0 mod the
    // prime 31), so cross-copy 3-grams stay distinct like the main
    // derived corpus.
    if (!f.exists(new Path(s"$out/documents_vocabstable.parquet")))
      fan(spark.read.parquet(s"$src/documents.parquet"))
        .withColumn("doc_id", col("doc_id") + col("cp") * IdSpan)
        .withColumn("text",
          when(col("cp") === 0, col("text")).otherwise(
            array_join(
              zip_with(split(col("text"), " "),
                sequence(lit(0), size(split(col("text"), " ")) - 1),
                (t, i) => when(i % 3 === 2,
                  concat(lit("ctag"),
                    pmod(pmod(xxhash64(t), lit(31L)) + col("cp") * 7L,
                      lit(31L)).cast("string")))
                  .otherwise(t)),
              " ")))
        .withColumn("n_chars", length(col("text")))
        .drop("cp")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents_vocabstable.parquet")

    // plain10: the untagged fan-out — organic 10× for per-doc-independent
    // queries (vocab, per-doc distinct tokens, and token counts are
    // EXACTLY 10× the sf0.1 shape; only doc_id is remapped).
    if (!f.exists(new Path(s"$out/documents_plain10.parquet")))
      fan(spark.read.parquet(s"$src/documents.parquet"))
        .withColumn("doc_id", col("doc_id") + col("cp") * IdSpan)
        .drop("cp")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents_plain10.parquet")

    // r17 full-board tables (checked separately so earlier scratch dirs
    // upgrade in place): fact/dim fan-outs for the relational marts and
    // the events stream, completing the sf1.0 derivative so EVERY
    // registered query can probe at 10×.
    //   - customer/supplier/part: ×10, primary keys remapped per copy.
    //     Fact FKs (o_custkey, l_partkey/l_suppkey) are NOT remapped, so
    //     copy-0 dims carry 10× the facts and copies 1-9 are fact-less
    //     dimension growth — join/shuffle volume is the 10× probe's
    //     subject, result values are not.
    //   - nation/region: copied VERBATIM (25/5-row broadcast dims; a
    //     fan-out would only break key distinctness, not add scale).
    //   - events: ×10 with event_id and user_id remapped per copy —
    //     10× the users, each with the original session/funnel shape,
    //     so sessionize/funnel state volume scales without inventing
    //     new temporal structure. Timestamps ride through the Tables
    //     loader's nanos normalization and land as plain micros.
    // each table individually guarded (r17 review): a crash mid-block
    // must leave a dir that SELF-HEALS on the next run, not one that a
    // single leading existence check declares complete forever
    def ifMissing(name: String)(build: => DataFrame): Unit =
      if (!f.exists(new Path(s"$out/$name.parquet")))
        build.write.mode("overwrite").parquet(s"$out/$name.parquet")
    ifMissing("customer")(
      fan(spark.read.parquet(s"$src/customer.parquet"))
        .withColumn("c_custkey", col("c_custkey") + col("cp") * IdSpan)
        .drop("cp")
        .repartition(32))
    ifMissing("supplier")(
      fan(spark.read.parquet(s"$src/supplier.parquet"))
        .withColumn("s_suppkey", col("s_suppkey") + col("cp") * IdSpan)
        .drop("cp")
        .repartition(32))
    ifMissing("part")(
      fan(spark.read.parquet(s"$src/part.parquet"))
        .withColumn("p_partkey", col("p_partkey") + col("cp") * IdSpan)
        .drop("cp")
        .repartition(32))
    ifMissing("nation")(spark.read.parquet(s"$src/nation.parquet"))
    ifMissing("region")(spark.read.parquet(s"$src/region.parquet"))
    ifMissing("events")(
      fan(graft.sources.Tables.events(spark, src))
        .withColumn("event_id", col("event_id") + col("cp") * IdSpan)
        .withColumn("user_id", col("user_id") + col("cp") * IdSpan)
        .drop("cp")
        .repartition(32))

    if (f.exists(new Path(s"$out/orders.parquet")) &&
        f.exists(new Path(s"$out/documents.parquet")) &&
        f.exists(new Path(s"$out/embeddings.parquet"))) return

    fan(spark.read.parquet(s"$src/orders.parquet"))
      .withColumn("o_orderkey", col("o_orderkey") + col("cp") * IdSpan)
      .drop("cp")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    fan(spark.read.parquet(s"$src/documents.parquet"))
      .withColumn("doc_id", col("doc_id") + col("cp") * IdSpan)
      .withColumn("text",
        when(col("cp") === 0, col("text")).otherwise(
          array_join(
            zip_with(split(col("text"), " "),
              sequence(lit(0), size(split(col("text"), " ")) - 1),
              (t, i) => when(i % 3 === 2, concat(t, lit("§c"), col("cp")))
                .otherwise(t)),
            " ")))
      .withColumn("n_chars", length(col("text")))
      .drop("cp")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    fan(spark.read.parquet(s"$src/embeddings.parquet"))
      .withColumn("vec_id", col("vec_id") + col("cp") * IdSpan)
      // rotate by cp: norm-preserving, decorrelates copies
      .withColumn("embedding",
        when(col("cp") === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), col("cp") + 1,
              size(col("embedding")) - col("cp")),
            slice(col("embedding"), lit(1), col("cp")))))
      .drop("cp")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"built $out from $src (${Copies}x)")
  }
}
