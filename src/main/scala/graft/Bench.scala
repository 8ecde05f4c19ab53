package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint.
  *
  * Measurement structure (r6): the whole suite runs as THREE complete
  * independent passes — every query once per pass, in name order — and each
  * query reports its MINIMUM across passes. Earlier rounds ran best-of-2
  * back-to-back per query, which left both samples inside the same noise
  * window: three separate rounds saw a *contiguous alphabetical cluster* of
  * sub-second queries swing 3–5× on unchanged binaries (r3 q53–q58, r5
  * q67–q70), i.e. the noise source (GC cycle / codegen-cache pressure /
  * sandbox co-tenancy) is positional in time, not per-query. Independent
  * full passes decorrelate position: a noise burst can inflate a cluster in
  * one pass but the min across passes survives it. A full GC runs between
  * passes so heap debt from pass N doesn't bill pass N+1.
  *
  * Contamination awareness (r8, after r7's bench ran during sustained
  * external rig load and 49/77 queries showed >3× pass spread):
  *   - 1-minute system load (/proc/loadavg) is sampled at each pass start
  *     and recorded in both BENCH_PASSES.json and the summary line, so a
  *     contaminated window is machine-checkable from the artifact alone.
  *   - After the base passes, any query whose own samples spread >3×
  *     (max/min of successful runs) gets ONE extra measurement in a final
  *     targeted pass; the artifact lists those queries under "extra". The
  *     reported min includes the extra sample, so a single noise burst
  *     cannot leave a query's floor inflated.
  *   - SPARK_GRAFT_BENCH_ONLY=prefix[,prefix...] restricts the suite (for
  *     quick targeted re-measurement); the full suite remains the default.
  *   - Rig canary (r14): a fixed scan+agg+shuffle workload over the pinned
  *     sf0.1 lineitem runs once per pass; the summary emits its median and
  *     `rig_factor` = canary_median / CanaryBase (the quiet-rig constant
  *     recorded in BASELINE.md's canary note), so per-query ratios against
  *     BASELINE.md normalize mechanically — (sec / rig_factor) / base —
  *     without per-round prose adjudication of rig class.
  *
  * Output: one progress line per (pass, query) as it finishes; full per-pass
  * data additionally lands in BENCH_PASSES.json next to this repo (the
  * driver's stdout capture keeps only the final ~2000 characters, so the
  * file is the durable record). A full-suite run whose canary reads
  * rig_factor ≤ 1.15 AND whose every pass of every query succeeded also
  * mirrors the record to BENCH_QUIET.json, so neither a later contended
  * run (e.g. the driver's per-round bench) nor a partially broken run on
  * a quiet rig can displace the quiet-conditions record (r15, r14
  * verdict item 8). The final summary line keeps the driver
  * contract (`queries` = per-query min, `qNN` keys, 3 decimals) and adds a
  * compact `p` object with per-pass centisecond arrays so the artifact
  * itself distinguishes noise from regression; `p` degrades to just the
  * noisy entries (spread >1.5×) and then drops entirely if the line would
  * blow the 2000-char tail budget.
  */
object Bench {
  /** 1-minute load average, or -1 when /proc/loadavg is unreadable. */
  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  private[graft] def stripz(s: String): String =
    if (s.contains('.')) {
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    } else s

  /** Tiered value format: 2 decimals below `thresh`, 1 decimal to 10 s,
    * whole seconds beyond — relative quantization stays under ~5-10%
    * exactly where absolute seconds are large enough to absorb it. The
    * 2-decimal tier clamps a positive time to 0.01, so it never prints
    * as 0. */
  private[graft] def tiered(v: Double, thresh: Double): String =
    if (v < 0) "-1"
    else if (v < thresh) stripz(f"${if (v > 0) math.max(v, 0.01) else v}%.2f")
    else if (v < 10) stripz(f"$v%.1f")
    else stripz(f"$v%.0f")

  // Bench-only PRODUCTION variant of q35: the oracled q35 times the
  // exact uncapped string-shingle form (the oracle needs exact strings);
  // production runs DF-capped + hashed shingles (docs/TUNING.md). Timed here
  // beside the exact form so the baseline carries both figures. The name
  // deliberately has no underscore so the summary's qNN shortener keeps
  // it distinct from q35 itself.
  // r14: the tolerance-oracled q44/q63/q57 are gate INSTRUMENTS (they
  // run the exact reference beside the sketch/index to state the bound);
  // production deploys the sketch-only forms, so those are timed here
  // beside them — q44prod/q63prod/q57prod carry the pre-r14 baselines
  // (identical workloads), while the instrument forms get fresh r14
  // baselines of their own.
  private[graft] val benchOnly: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "q35prod" -> ((s: SparkSession, dir: String) =>
      graft.operators.TextOps.q35Prod(s, dir)),
    "q44prod" -> ((s: SparkSession, dir: String) =>
      graft.operators.Marts.q44Prod(s, dir)),
    "q63prod" -> ((s: SparkSession, dir: String) =>
      graft.operators.Marts.q63Prod(s, dir)),
    "q57prod" -> ((s: SparkSession, dir: String) =>
      graft.operators.VectorOps.q57Prod(s, dir)),
    // r17: q51 graduated to the portable md5-family hash oracle; the
    // fused xxhash64 one-pass clustering stays timed here as prod.
    "q51prod" -> ((s: SparkSession, dir: String) =>
      graft.operators.VectorOps.q51Prod(s, dir)),
    // r17: q146's table-size control — same encode, rank table padded
    // to 1,500 entries with rules that can never fire (uppercase
    // operands vs a lowercased stream), output spec-pinned identical;
    // the row pairs with q146 to EVIDENCE cost independence of
    // vocabulary size on the live board.
    "q146big" -> ((s: SparkSession, dir: String) =>
      graft.operators.TextOps.q146Big(s, dir)),
    "q131prod" -> ((s: SparkSession, dir: String) =>
      graft.operators.VectorOps.ivfpqTopk(
        graft.sources.Tables.embeddings(s, dir), instrument = false)),
    // r18: q149's serving path — the shortlist pass runs on packed
    // 8-byte sign signatures (XOR + POPCNT) instead of the per-dim
    // oracle form; output spec-pinned identical.
    "q149prod" -> ((s: SparkSession, dir: String) =>
      graft.operators.VectorOps.q149BinaryTopk(s, dir, packed = true)),
    // r18: q148's deployable serving read — the truncated-space top-5
    // without the full-dim recall instrument (the q131prod convention).
    "q148prod" -> ((s: SparkSession, dir: String) =>
      graft.operators.VectorOps.q148MrlTopk(s, dir, instrument = false)),
    // r18: q152's serving read — retrieval through the pruned impact
    // index without the exact unpruned-scoring instrument.
    "q152prod" -> ((s: SparkSession, dir: String) =>
      graft.operators.TextOps.impactSearch(
        graft.sources.Tables.documents(s, dir), instrument = false)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local("graft-bench")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    // Warm the JVM/codegen/parquet-footer paths so pass 1's first query
    // doesn't absorb session startup cost.
    SparkEntry.queries.get("q01_pricing_summary")
      .foreach(fn => try fn(spark, sfDir).count() catch { case _: Throwable => })
    // Rig canary (r14): a FIXED scan+agg+shuffle workload over the pinned
    // sf0.1 lineitem — never changes across rounds, so its time measures
    // the rig, not the code. One sample per pass, MEDIAN reported; the
    // summary emits rig_factor = canary_median / CanaryBase so per-query
    // ratios vs BASELINE.md are computable mechanically as
    // (sec / rig_factor) / base without prose rig adjudication. CanaryBase
    // is the quiet-rig median recorded in BASELINE.md's canary note —
    // update BOTH together or neither.
    val canaryDir = sys.env.getOrElse("SPARK_GRAFT_CANARY_DIR", "/root/testdata/sf0.1")
    val CanaryBase = 0.300
    def canaryOnce(): Double = {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val t0 = System.nanoTime()
      try {
        spark.read.parquet(s"$canaryDir/lineitem.parquet")
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
          .groupBy("l_partkey")
          .agg(sum("l_quantity").as("q"), sum("l_extendedprice").as("e"))
          .agg(count(lit(1)).as("n"), sum("q").as("sq"), sum("e").as("se"))
          .collect()
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(_) => -1.0 }
    }
    // warm the canary's own codegen once so pass-1's sample isn't JIT
    canaryOnce()
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    // A selector matches a query only exactly, or as a prefix that ends at
    // an underscore boundary ("q35" selects q35_ngram_jaccard but NOT the
    // bench-only "q35prod") — a bare startsWith would silently widen what a
    // targeted subset run measures versus earlier rounds.
    val names = (SparkEntry.queries.toSeq ++ benchOnly).sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(p => n == p || n.startsWith(p + "_"))) }
    // a selector that matches nothing must fail loudly, not print a
    // zero-total summary that reads like a (vacuously fast) measurement
    require(only.isEmpty || names.nonEmpty,
      s"SPARK_GRAFT_BENCH_ONLY matched no queries: ${only.get.mkString(",")}")
    // One pass over `qs`: GC first (settle heap debt from the previous
    // pass), sample system load, then time each query once with cache/RDD
    // state cleared between queries (localCheckpoint blocks live at the RDD
    // layer, not the SQL cache manager, so both must be cleared).
    def runPass(pass: Int, qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]): (Double, Double, Map[String, Double]) = {
      if (pass > 1) System.gc()
      val ld = load1()
      val cy = canaryOnce()
      val res = qs.map { case (name, fn) =>
        val t = timeOnce(fn)
        println(f"""{"pass":$pass,"q":"$name","sec":$t%.3f}""")
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        name -> t
      }.toMap
      (ld, cy, res)
    }
    val base = (1 to passes).map(p => runPass(p, names))
    val samples0: Map[String, Seq[Double]] =
      names.map { case (n, _) => n -> base.map(_._3(n)) }.toMap
    // Spread-triggered extra pass: queries whose own successful samples
    // spread >3× get one more measurement, so one noise burst can't leave
    // a floor inflated. Recorded in the artifact under "extra".
    def spreadNoisy(ss: Seq[Double]): Boolean = {
      val ok = ss.filter(_ >= 0)
      ok.size > 1 && ok.min > 0 && ok.max > ok.min * 3.0
    }
    val extraNames = names.filter { case (n, _) => spreadNoisy(samples0(n)) }
    val extra: Option[(Double, Double, Map[String, Double])] =
      if (extraNames.isEmpty) None else Some(runPass(passes + 1, extraNames))
    val loads: Seq[Double] = base.map(_._1) ++ extra.map(_._1).toSeq
    // Median, not min: contamination inflates MOST samples (and the
    // queries' own mins with them), while min-of-N is noisy in both
    // directions — a single lucky sample under heavy load can land below
    // the quiet-rig floor and mask the contamination the factor exists
    // to expose.
    val canaries: Seq[Double] = (base.map(_._2) ++ extra.map(_._2).toSeq).filter(_ >= 0)
    val canaryMed =
      if (canaries.isEmpty) -1.0
      else { val s = canaries.sorted; s((s.size - 1) / 2) }
    val rigFactor = if (canaryMed > 0) canaryMed / CanaryBase else -1.0
    val samples: Map[String, Seq[Double]] = samples0.map { case (n, ss) =>
      n -> (ss ++ extra.flatMap(_._3.get(n)).toSeq)
    }
    val results: Seq[(String, Double, Seq[Double])] = names.map { case (name, _) =>
      val ss = samples(name)
      val ok = ss.filter(_ >= 0)
      val best = if (ok.isEmpty) -1.0 else ok.min
      (name, best, ss)
    }
    val loadsJson = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val extraJson = extraNames.map { case (n, _) => s""""$n"""" }.mkString("[", ",", "]")
    // Durable full-precision record of every pass (driver tail keeps only
    // ~2000 chars; this file survives in the repo for post-hoc diagnosis).
    val passesJson = results.map { case (name, best, ss) =>
      f""""$name":{"min":$best%.3f,"passes":[${ss.map(s => f"$s%.3f").mkString(",")}]}"""
    }.mkString(
      "{\"sf\":\"" + sfDir + s"""","cpus":"$cpus","load1":$loadsJson,""" +
        f""""canary":[${(base.map(_._2) ++ extra.map(_._2).toSeq).map(c => f"$c%.3f").mkString(",")}],""" +
        f""""rig_factor":$rigFactor%.3f,"extra":$extraJson,"queries":{""",
      ",", "}}")
    // a SPARK_GRAFT_BENCH_ONLY subset run must not clobber the durable
    // full-suite record with a 2-query file
    val defaultPasses = if (only.isEmpty) "BENCH_PASSES.json" else "BENCH_PASSES_PARTIAL.json"
    val passesPath = sys.env.getOrElse("SPARK_GRAFT_PASSES_FILE",
      new java.io.File(sys.props.getOrElse("user.dir", "."), defaultPasses).getPath)
    try {
      val w = new java.io.PrintWriter(passesPath)
      try w.println(passesJson) finally w.close()
    } catch { // never let bookkeeping kill the bench, but do say it failed
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench: could not write $passesPath: $e")
    }
    // QUIET-rig record preservation (r15, r14 verdict item 8): the driver's
    // per-round bench overwrites BENCH_PASSES.json whatever the rig was
    // doing (r14's run clobbered a rig_factor-1.07 record with a 1.52 one).
    // A full-suite run whose canary says the rig was actually quiet ALSO
    // writes BENCH_QUIET.json — so a contended driver run can never
    // displace the best-conditions record, and a quiet run refreshes it
    // automatically with zero env-var discipline required. A quiet run
    // with ANY failed pass (a -1 anywhere, not just a -1 min — a query
    // can crash twice and still post a non-negative min on its third
    // pass) must not displace an all-green record — the file exists to
    // preserve best CONDITIONS, and a broken run on a quiet rig is not
    // them.
    if (only.isEmpty && rigFactor > 0 && rigFactor <= 1.15 &&
        results.forall(_._3.forall(_ >= 0))) {
      val quietPath = new java.io.File(
        sys.props.getOrElse("user.dir", "."), "BENCH_QUIET.json").getPath
      try {
        val w = new java.io.PrintWriter(quietPath)
        try w.println(passesJson) finally w.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"bench: could not write $quietPath: $e")
      }
    }
    def short(k: String): String = if (k.matches("q\\d+_.*")) k.takeWhile(_ != '_') else k
    val total = results.map(_._2).filter(_ >= 0).sum
    // Summary-line budget (r22, r21 verdict item 1): the driver keeps only
    // the final ~2000 stdout characters and sbt's trailing "[success] ..."
    // line eats ~75 of them — the r20 AND r21 summary lines both outgrew
    // the window and lost their HEAD (r20's round-over-round comparison
    // died to it). The whole line, prefix included, must fit in ~1900
    // chars at 163 entries. The qNN keys and the metric/value/unit/queries
    // shape are the driver contract, so the only lever is value encoding:
    // the line degrades down a precision ladder, finest level first, until
    // it fits. Every level keeps 2-decimal resolution on the smallest
    // (gate-ratio-sensitive) queries for as long as arithmetic allows;
    // the guaranteed-fit floor (1 decimal, clamped to 0.1 so a positive
    // time can never print as 0) is provably ~1800 chars at 163 entries.
    // Full 3-decimal per-pass data ALWAYS lives in BENCH_PASSES.json (and
    // the quiet mirror) — the line's job is the driver parse, not the
    // archive; load1/canary detail lives there too now, and `sf` degrades
    // to the directory basename before any timing precision is dropped.
    def qsJson(fmt: Double => String): String =
      results.map { case (k, best, _) => s""""${short(k)}":${fmt(best)}""" }
        .mkString("{", ",", "}")
    val sfBase = new java.io.File(sfDir).getName
    def line(fmt: Double => String, totDec: Int, meta: String): String = {
      val tot = stripz(s"%.${totDec}f".format(total))
      s"""{"metric":"total","value":$tot,"unit":"sec","queries":${qsJson(fmt)}$meta}"""
    }
    // Per-pass centiseconds, keyed by bare NN (`"68":[15,77,16]`) for
    // qNN_* names; any other name keeps its full short form untouched.
    def pEntry(k: String, ss: Seq[Double]): String = {
      val key = if (k.matches("q\\d+_.*")) short(k).drop(1) else short(k)
      s""""$key":[${ss.map(s => math.round(s * 100)).mkString(",")}]"""
    }
    val pAll = results.map { case (k, _, s) => pEntry(k, s) }.mkString(""","p":{""", ",", "}")
    val noisy = results.filter { case (_, best, s) =>
      best > 0 && s.exists(v => v >= 0 && v > best * 1.5)
    }
    val pNoisy = if (noisy.isEmpty) "" else noisy.map { case (k, _, s) => pEntry(k, s) }.mkString(""","p":{""", ",", "}")
    val metaFull =
      f""","load1":$loadsJson,"canary":$canaryMed%.3f,"rig_factor":$rigFactor%.3f,"sf":"$sfDir""""
    val metaLean = f""","rig_factor":$rigFactor%.2f,"sf":"$sfBase""""
    val metaSf = s""","sf":"$sfBase""""
    def f3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val budget = 1900
    val ladder: Seq[String] = Seq(
      line(f3, 3, metaFull + pAll),             // subset runs: everything
      line(f3, 3, metaFull + pNoisy),           // full meta + noisy passes
      line(f3, 3, metaFull),                    // full meta, 3 decimals
      line(v => if (v < 0) "-1" else stripz(f"$v%.2f"), 2, metaLean),
      line(tiered(_, 1.0), 2, metaSf),          // 2dec < 1 s, 1dec to 10 s
      line(tiered(_, 0.5), 2, metaSf),          // 2dec < 0.5 s
      line(v => if (v < 0) "-1" else tiered(math.max(v, 0.1), 0.0), 2, metaSf))
    println(ladder.find(_.length <= budget).getOrElse(ladder.last))
    spark.stop()
  }
}
