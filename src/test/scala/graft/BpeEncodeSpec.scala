package graft

import org.apache.spark.sql.functions._
import graft.operators.{BpeMerges, TextOps}
import graft.plans.{BpeEncode, GraftFunctions}

/** The rank-table BPE encode kernel — graft's one segmentation, behind
  * q115, q132 and q146 — against independent references: a pure
  * in-memory sequential encoder (real-corpus and production-size
  * tables) and the distributed learner (the local trainer must reproduce
  * it merge for merge); plus the collision guard that keeps rank-first
  * equal to sequential application.
  */
class BpeEncodeSpec extends SparkSpec {

  /** Independent in-memory reference: apply the rules SEQUENTIALLY in
    * learned order, each rule as applyMerge's greedy left-to-right fold.
    * Deliberately the naive O(rules × len) formulation — the semantics
    * spec, not the fast path. */
  private def refEncode(w: String, rules: Seq[(String, String)]): Seq[String] = {
    val base = w.map(_.toString)
    rules.foldLeft(base: Seq[String]) { case (syms, (a, b)) =>
      syms.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.head == a && x == b) (a + b) :: acc.tail
        else x :: acc
      }.reverse
    }
  }

  private def kernelEncode(words: Seq[String], rules: Seq[(String, String)]): Seq[String] = {
    import spark.implicits._
    Seq(words).toDF("toks")
      .select(GraftFunctions.bpe_encode(col("toks"), rules).as("syms"))
      .collect()(0).getSeq[String](0)
  }

  /** The corpus's non-empty lowercased tokens, driver-side. */
  private def words(text: String): Seq[String] =
    text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  test("kernel matches the sequential reference (refEncode) on the real corpus") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val rules = BpeMerges.Table.take(8)
    val viaKernel = TextOps.bpeEncodeFrozen(docs, rules)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val viaRef = docs.select("doc_id", "text").collect().map { r =>
      val syms = words(r.getString(1)).flatMap(w => refEncode(w, rules))
      (r.getLong(0), syms.length.toLong, syms.mkString(" "))
    }.toSet
    assert(viaKernel == viaRef)
  }

  test("local learner reproduces the distributed learner merge for merge") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val distributed = TextOps.bpeLearn(docs, 5)
    val wc = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val local = TextOps.bpeLearnLocal(wc, 5)
    assert(local == distributed, s"local $local vs distributed $distributed")
  }

  test("batched learner == local learner on adversarial planted corpora (r22)") {
    import spark.implicits._
    // each corpus targets one boundary of the batch-safety conditions;
    // the batched distributed learner must reproduce the strictly
    // sequential local learner merge for merge on all of them
    val corpora: Seq[(String, Seq[String], Int)] = Seq(
      // interacting runner-up: top-2 (x,a) shares a symbol with top-1
      // (a,b) — the batch must STOP at 1, because after the merge the
      // new pair (x,ab) is the true round-2 argmax, not (c,d)
      ("interacting-new-pair", Seq.fill(10)("xab") ++ Seq.fill(9)("cd"), 3),
      // disjoint well-separated counts: the whole table is one safe batch
      ("disjoint-separated", Seq.fill(10)("ab") ++ Seq.fill(8)("cd") ++
        Seq.fill(6)("ef"), 3),
      // equal counts, disjoint, complete table: lex order IS the
      // sequential order, batch may take both
      ("equal-counts-complete", Seq.fill(5)("ab") ++ Seq.fill(5)("cd"), 2),
      // equal counts AT the cut bound: candidate 2 ties the (want+1)-th
      // row, so the batch must stop (an out-of-table pair could tie and
      // win the lex break through a new pair)
      ("tie-at-cut", Seq.fill(5)("ab") ++ Seq.fill(5)("cd") ++
        Seq.fill(5)("ef"), 2),
      // repeated-symbol words (aa pairs, overlap semantics) + chains
      ("overlaps", Seq.fill(7)("aaa") ++ Seq.fill(6)("aab") ++
        Seq.fill(5)("baa"), 4),
      // self-pair runs: merging (a,a) turns each "aaaa" into (aa,aa),
      // a new pair born of (a,a)'s own overlapping occurrences that
      // outranks the disjoint runner-up (c,d) — the batch must stop
      ("self-pair-runs", Seq.fill(10)("aaaa") ++ Seq.fill(5)("cd"), 3),
      // a line separator inside a token: `\s+` does not split on U+2028,
      // so it is a symbol of its own — (a, U+2028) and (U+2028, b) are
      // the pairs, never (a, b)
      ("line-separator", Seq.fill(4)("a\u2028b") ++ Seq.fill(3)("cd"), 2),
      // deep multi-round learning over a richer vocabulary
      ("deep", (for (a <- 'a' to 'f'; b <- 'a' to 'f')
        yield s"$a$b$a$b").zipWithIndex.flatMap { case (w, i) =>
          Seq.fill(i % 5 + 1)(w) }, 12))
    for ((name, words, merges) <- corpora) {
      val docs = words.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val distributed = TextOps.bpeLearn(docs, merges)
      val wc = words.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      val local = TextOps.bpeLearnLocal(wc, merges)
      assert(distributed == local,
        s"$name: batched $distributed vs sequential $local")
    }
  }

  test("production-size table: 1500+ learned merges, kernel == sequential reference") {
    // deterministic synthetic vocabulary rich enough for 1,500+ merges
    // (the real corpus holds 31 distinct words and saturates at 89 — the
    // scale property must be proven on a planted one): 676 four-char
    // words over a 26-letter alphabet, counts varied to exercise ties
    val words = for (a <- 'a' to 'z'; b <- 'a' to 'z')
      yield s"$a$b$a$b$a$b"
    val wc = words.zipWithIndex.map { case (w, i) => (w, (i % 7 + 1).toLong) }
    val rules = TextOps.bpeLearnLocal(wc, 1500)
    assert(rules.length >= 1500, s"only ${rules.length} merges learnable")
    assert(BpeEncode.sequentialCollisionFree(rules),
      "planted-table prefix must be collision-free for the equivalence below")
    val sample = words.zipWithIndex.collect { case (w, i) if i % 13 == 0 => w }
    val enc = kernelEncode(sample, rules)
    val ref = sample.flatMap(w => refEncode(w, rules))
    assert(enc == ref)
    // and the q115 overlap semantics hold under the big table too
    assert(kernelEncode(Seq("aaa"), Seq(("a", "a"))) == Seq("aa", "a"))
  }

  test("10k-merge table firing to depth 150+: kernel == sequential reference, plan stays one exchange-free scan") {
    // r19 (the r17 carried item): the real corpus's 89-rule table applies
    // ≤5 merges per word, so deep cascades were unexercised. A 10,000-rule
    // CHAIN — rule i fuses (a·bⁱ, b) → a·bⁱ⁺¹ — is the adversarial shape
    // for the rank-first-equals-sequential claim: every application MINTS
    // the next rule's operand, so one word cascades through hundreds of
    // strictly ordered merges, and any rank-selection or greedy-restart
    // bug desynchronizes the two encoders immediately.
    val chain = (0 until 10000).map(i => ("a" + "b" * i, "b"))
    assert(BpeEncode.sequentialCollisionFree(chain),
      "the chain consumes earlier results as later operands — legal, " +
        "and exactly what the collision check must NOT reject")
    val words = Seq(
      "a" + "b" * 150,  // fires 150 chained applications → ONE symbol
      "a" + "b" * 277,  // deeper than the deepest driver-data word by ~50×
      "c" + "b" * 50,   // no rule matches: 51 symbols, untouched control
      "a" + "b" * 9, "a", "aa")
    val enc = kernelEncode(words, chain)
    val ref = words.flatMap(w => refEncode(w, chain))
    assert(enc == ref, "kernel diverged from the sequential reference under deep cascades")
    assert(enc.contains("a" + "b" * 150) && enc.contains("a" + "b" * 277),
      "a chain word must collapse to a single symbol (depth = len-1 applications)")
    assert(enc.count(_ == "b") == 50, "the no-match control must stay unmerged")
    // "aa": two words "a","a"? no — one token "aa" has no pair in the
    // table (operands are a·bⁱ and b), so it splits to chars and stays
    assert(enc.containsSlice(Seq("a", "a")))
    // the Spark-side frozen encode over the same table: one scan, zero
    // exchanges — table size must never change the plan shape (the
    // q146big cost-independence claim, now at 10k entries)
    import spark.implicits._
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val encDf = TextOps.bpeEncodeFrozen(docs, chain)
    val plan = encDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"frozen encode must stay a per-row scan at any table size:\n$plan")
    assert(encDf.count() == words.length)
  }

  test("frozen-table saturation: learning to exhaustion makes every word one symbol") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val wc = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val full = TextOps.bpeLearnLocal(wc, 10000) // exhausts well below this
    assert(BpeEncode.sequentialCollisionFree(full))
    val sat = TextOps.bpeEncodeFrozen(docs, full)
      .select(sum("n_symbols")).collect()(0).getLong(0)
    val nTok = docs.select(
      sum(size(filter(TextOps.tokens(col("text")), w => length(w) > 0))))
      .collect()(0).getLong(0)
    assert(sat == nTok, s"saturated encode must emit one symbol per token ($sat vs $nTok)")
    // the frozen 64-rule budget sits strictly between chars and saturation:
    // fertility (symbols per token) above 1, below the raw char count
    val frozen = TextOps.bpeEncodeFrozen(docs, BpeMerges.Table)
      .select(sum("n_symbols")).collect()(0).getLong(0)
    assert(frozen > nTok && frozen < sat * 3,
      s"64-rule fertility out of band: $frozen symbols for $nTok tokens")
  }

  test("q146big (1,500-entry padded table) returns byte-identical output to q146") {
    // the padding rules carry uppercase operands, impossible in the
    // lowercased stream — so the bench control's output must equal the
    // 64-rule encode exactly while its rank map holds 23x the entries
    assert(TextOps.paddedMerges.length == 1500)
    val a = TextOps.q146BpeEncode(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val b = TextOps.q146Big(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(a == b)
  }

  test("fertility card: kernel symbols match refEncode, 64-rule card sits between") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val twoRules = TextOps.bpeLearn(docs, 2)
    def card(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_symbols"), r.getAs[Double]("fertility"))).toMap
    val viaRef = docs.select("lang", "text").collect().groupBy(_.getString(0))
      .map { case (lang, rows) =>
        val toks = rows.toSeq.flatMap(r => words(r.getString(1)))
        val nSym = toks.map(w => refEncode(w, twoRules).length.toLong).sum
        lang -> (nSym, BigDecimal(nSym.toDouble / toks.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    val two = card(TextOps.bpeFertility(docs, twoRules))
    assert(two == viaRef,
      "kernel fertility must equal the sequential reference on the same rules")
    // more merges can only fuse further: 64-rule symbols <= 2-rule
    // symbols, and fertility >= 1 (a symbol per token at saturation)
    val full = card(TextOps.bpeFertility(docs, graft.operators.BpeMerges.Table))
    for ((lang, (nTwo, _)) <- two; (nFull, f) = full(lang)) {
      assert(nFull <= nTwo, s"$lang: 64-rule encode must not add symbols")
      assert(f >= 1.0, s"$lang: fertility below one symbol per token: $f")
    }
  }

  test("collision guard: a table rank-first would misapply throws, naming the rank") {
    import spark.implicits._
    // on "abc", rank-first fuses (a, b) and then revisits (ab, c) → [abc];
    // sequential application met (ab, c) before any ab existed → [ab, c]
    val bad = Seq(("ab", "c"), ("a", "b"))
    assert(refEncode("abc", bad) == Seq("ab", "c"))
    val docs = Seq((1L, "abc", "x")).toDF("doc_id", "text", "lang")
    for ((name, call) <- Seq[(String, () => Any)](
        "bpeEncodeFrozen" -> (() => TextOps.bpeEncodeFrozen(docs, bad)),
        "bpeFertility" -> (() => TextOps.bpeFertility(docs, bad)))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("at rank 1:"), s"$name: ${e.getMessage}")
    }
    // the shipped tables pass (the chain, 1500-merge and saturated
    // tables are asserted where they are built)
    assert(BpeEncode.sequentialCollisionFree(BpeMerges.Table))
    assert(BpeEncode.sequentialCollisionFree(TextOps.paddedMerges))
  }

  test("q115 and q132 run the kernel inside a codegen span, with no lambda fold") {
    for (q <- Seq("q115_bpe_learn", "q132_bpe_fertility")) {
      val df = TextOps.queries(q)(spark, sfDir)
      df.collect() // runs df's own plan, so AQE shows its final stages
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains("bpeencode") && l.contains("*(")),
        s"$q: kernel projection must sit inside a codegen span:\n$plan")
      assert(!plan.contains("lambdafunction"), s"$q: a lambda fold is back:\n$plan")
    }
  }

  test("q146 plans as one scan, zero exchanges, codegen'd kernel") {
    val df = TextOps.q146BpeEncode(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"per-doc encode must not shuffle:\n$plan")
    // the `*(n)` marker on the bpeencode projection = inside a
    // whole-stage-codegen span (a CodegenFallback neighbor would evict it)
    assert(plan.linesIterator.exists(l => l.contains("bpeencode") && l.contains("*(")),
      s"kernel projection must sit inside a codegen span:\n$plan")
    val scans = plan.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"expected exactly one corpus scan, got $scans:\n$plan")
  }
}
