package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries to docs/PLANS.md —
  * the physical-plan evidence for the scale posture (pushdown, broadcasts,
  * exchange counts). Regenerate with: sbt "runMain graft.PlanDump".
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // docs/PLANS.md is generated at 8 shuffle partitions
    val spark = GraftSession.local("graft-plan-dump", cpus = 8)
    val headline = Seq(
      "q01_pricing_summary", "q02_filter_project", "q05_regional_revenue",
      "q10_topk_orders", "q23_cdc_changes", "q35_ngram_jaccard",
      "q36_minhash_lsh", "q38_embed_topk", "q45_asof_attribution",
      "q54_topk_per_key", "q56_chunking", "q57_ivf_topk",
      "q58_neardup_blocked", "q59_hash_split", "q62_range_join",
      "q65_decontaminate", "q68_stratified_sample", "q70_pack",
      "q71_profile", "q72_scd2_merge", "q73_trailing_window",
      "q74_cdc_apply",
      // r14: the plans whose SHAPE is the design — q90's dup-minority
      // left join, q92's single corpus scan, q93's window-over-aggregate,
      // q95's two bounded stages, q97's one source-keyed pass, q98's
      // salt-invisible join
      "q90_span_dupfrac", "q92_quality_psi", "q93_token_budget",
      "q95_hybrid_rerank", "q97_corpus_card", "q98_salted_join",
      // r15: q99's one-scan checkpointed span index (hashed keys),
      // q100's single gram-concat scan, q101's checkpointed token frame
      // + bounded cover join + HOF rebuild, q102's window over the
      // incidence-floored aggregate
      "q99_source_overlap", "q100_collocations", "q101_span_scrub",
      "q102_templates", "q103_template_scrub", "q104_decontam_scrub",
      // r15 late: q106's zero-Exchange per-row quantization scan,
      // q107's broadcast-queries top-k where BOTH rankings read the one
      // checkpointed score frame
      "q106_int8_quantize", "q107_int8_topk",
      // r15 batch 3: q111's zero-Exchange rule-card scan, q112's
      // centroid-literal scoring scan, q113's gram-keyed scoring join
      // over the one checkpointed gram stream
      "q111_gopher_rules", "q112_target_select", "q113_dsir",
      // r15 batch 3 cont.: q114's keyed pair agg + bounded top-k,
      // q115's zero-shuffle rank-table encode over the learned rules
      "q114_bpe_pairs", "q115_bpe_learn",
      // r15 batch 5: q122's broadcast query sample + bounded-heap
      // top-k, q123's corpus gram scan into the broadcast eval-set
      // semi-join (the corpus-never-shuffles shape), q125's doc-local
      // cumulative window above the q91 LM aggregates
      "q122_knn_purity", "q123_eval_containment", "q125_surprise_tail",
      // r15 batch 7: q130's two bounded rankings off the one
      // checkpointed ADC score frame (PqAdc kernel scan), q131's
      // broadcast probe table onto the code-only corpus (the IVFADC
      // serving shape), q133's one-scan sources-sized Wilson card
      "q130_pq_topk", "q131_ivfpq", "q133_gate_health",
      // r16: q37's portable two-half SimHash (explode + md5 + one
      // 64-buffer vote agg, then the width-capped chunk join) — q36's
      // portable shape reads the same way and is already listed above
      "q37_simhash",
      // r16 late: q140's gram-keyed min(struct) firsts (no Window) over
      // the checkpointed token frame, q141/q142's zero-shuffle per-row
      // objective transforms, q143's two streaming broadcast passes
      // with the anchors-sized positives join
      "q140_keepfirst_scrub", "q141_fim_transform",
      "q142_span_corruption", "q143_hard_negatives",
      // r16 late cont.: q144's single-FileScan fused signal pass,
      // q145's one-(doc_id,term)-aggregate BM25 (q78's shape)
      "q144_signal_bundle", "q145_bm25",
      // r17: q51's de-windowed one-pass clustering (groupBy bucket-min
      // + band-key join — no Window anywhere), q146's single-scan
      // zero-Exchange rank-table BPE encode inside the codegen span
      "q51_dedup_clusters", "q146_bpe_encode",
      // r18/r19 retrieval/serving tier: q147's two bounded retriever
      // stages + integer fusion, q149's packed-signature shortlist +
      // rerank, q151's term-keyed bounded-heap postings build, q152's
      // corpus-context pruned read sharing the checkpointed term frame
      // with its exact instrument
      "q147_rrf_fusion", "q148_mrl_topk", "q149_binary_topk",
      "q151_impact_index", "q152_impact_search",
      // q78: the keyed-window contract below covers it, so it must be
      // dumped (a set entry outside the headline list asserts nothing)
      "q78_tfidf")
    // Plan-shape contracts enforced AT DUMP TIME (r19): the dump is the
    // evidence artifact, so a violating plan must fail generation loudly,
    // not publish itself. Pair kernels de-windowed in r17 must never
    // regress to a Window (a bucket-buffering Window is the 100-TB
    // funnel); the retrieval tier may use windows but every one must be
    // KEYED (q_id/doc_id/term), never a global sort.
    val noWindow = Set("q35_ngram_jaccard", "q36_minhash_lsh", "q37_simhash",
      "q51_dedup_clusters", "q58_neardup_blocked")
    val keyedWindowOnly = Set("q78_tfidf", "q145_bm25", "q147_rrf_fusion",
      "q148_mrl_topk", "q149_binary_topk", "q151_impact_index",
      "q152_impact_search")
    val sb = new StringBuilder
    sb.append("# Physical plans (headline queries)\n\n")
    sb.append(s"Generated by `graft.PlanDump` on $sfDir. What to look for: " +
      "`PushedFilters`/`ReadSchema` at scans, `BroadcastHashJoin` on dim " +
      "joins, no `CartesianProduct`, `TakeOrderedAndProject` for top-k. " +
      "Two shape contracts are ASSERTED at dump time: no Window in any " +
      "pair-kernel plan, and only keyed windows (q_id/doc_id/term) in " +
      "the retrieval tier.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val exec = df.queryExecution.executedPlan.toString
      if (noWindow(name))
        require(!exec.contains("Window ["),
          s"$name: a pair kernel regressed to a Window (bucket-buffering " +
            s"funnel at scale):\n$exec")
      if (keyedWindowOnly(name))
        exec.split("\n").filter(_.contains("Window [")).foreach(w =>
          require(w.contains(", [q_id") || w.contains(", [doc_id") ||
            w.contains(", [term"),
            s"$name: unkeyed (global-sort) window:\n$w"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    // ---- library operators without a queries() entry -----------------

    // ManifestTable range-pruned read: the pruning evidence is the scan's
    // file list, not an operator - the stats-matched commit contributes
    // its files, the others are absent from the scan entirely.
    locally {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val t = Files.createTempDirectory("graft_plandump_mt").toString + "/t"
      Seq(1, 2, 3).foreach { k =>
        val lo = k * 1000
        graft.sources.ManifestTable.commit(
          (lo until lo + 100).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
          t, append = k > 1, statsCols = Seq("id"))
      }
      val pruned = graft.sources.ManifestTable.readRange(
        spark, t, "id", "2000", "2050").filter(col("id") <= 2050)
      val plan = pruned.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append("\n## (lib) ManifestTable.readRange (stats-pruned snapshot)\n\n")
      sb.append("3 commits with disjoint id ranges; predicate id in " +
        s"[2000,2050] scans ${pruned.inputFiles.length} of " +
        s"${graft.sources.ManifestTable.read(spark, t).inputFiles.length} " +
        "snapshot files (1 of 3 commits).\n\n```\n" + plan + "```\n")
    }

    // Z-ordered layout: the plan evidence is the scan with both range
    // predicates pushed; the layout turns those pushed filters into
    // row-group skips on BOTH columns at once (unsortable by either
    // alone), which a plain sort can only give one column.
    locally {
      import org.apache.spark.sql.functions.col
      val dir = Files.createTempDirectory("graft_plandump_z").toString + "/z"
      val events = graft.sources.Tables.events(spark, sfDir)
      graft.sources.ParquetSink.writeZOrdered(
        events.select("event_id", "user_id", "event_type"),
        dir, Seq("event_id", "user_id"), nFiles = 8,
        org.apache.spark.sql.SaveMode.Overwrite)
      val scan = spark.read.parquet(dir)
        .filter(col("event_id").between(100, 200) && col("user_id").between(10, 50))
      val plan = scan.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append("\n## (lib) ParquetSink.writeZOrdered (2-D clustered scan)\n\n")
      sb.append("```\n" + plan + "```\n")
    }

    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"wrote docs/PLANS.md (${headline.size} query plans + 2 lib plans)")
    spark.stop()
  }
}
