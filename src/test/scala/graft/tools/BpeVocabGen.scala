package graft.tools

import org.apache.spark.sql.functions._

/** Regenerate `graft.operators.BpeMerges` — the frozen production BPE
  * merge table q146 encodes with.
  *
  *   sbt "Test/runMain graft.tools.BpeVocabGen [sfDir] [merges] [outPath]"
  *
  * Shape: ONE distributed job folds the corpus into the distinct-word
  * frequency table (the scale-relevant step — Zipf keeps the table
  * orders of magnitude below the token stream); the merge loop runs
  * driver-side over that bounded table ([[graft.operators.TextOps
  * .bpeLearnLocal]], spec-pinned equal to the distributed
  * [[graft.operators.TextOps.bpeLearn]]). The learned list is truncated
  * at the first rule violating [[graft.plans.BpeEncode
  * .sequentialCollisionFree]] so the rank-table encoder's
  * lowest-rank-first loop provably equals sequential application (and
  * the DuckDB oracle's sequential replace chain).
  */
object BpeVocabGen {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val target = if (args.length > 1) args(1).toInt else 1024
    val out = if (args.length > 2) args(2)
      else "src/main/scala/graft/operators/BpeMerges.scala"
    val spark = graft.GraftSession.local("bpe-vocab-gen")
    val toks = graft.sources.Tables.documents(spark, sfDir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    println(s"[bpegen] ${toks.size} distinct words from $sfDir")
    val learned = graft.operators.TextOps.bpeLearnLocal(toks, target)
    // truncate at the first sequential/rank-first divergence
    var keep = learned.length
    val seen = new java.util.HashSet[String]()
    var i = 0
    var done = false
    while (i < learned.length && !done) {
      val (a, b) = learned(i)
      seen.add(a); seen.add(b)
      if (seen.contains(a + b)) { keep = i; done = true } else i += 1
    }
    val rules = learned.take(keep)
    require(graft.plans.BpeEncode.sequentialCollisionFree(rules),
      "truncation must leave a collision-free table")
    println(s"[bpegen] learned ${learned.length}, collision-free prefix $keep")

    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c >= ' ' && c < 127 => c.toString
      case c => f"\\u${c.toInt}%04x"
    }
    val rows = rules.grouped(4).map(_.map { case (a, b) =>
      s"""("${esc(a)}", "${esc(b)}")"""
    }.mkString(", ")).mkString(",\n    ")
    val src =
      s"""package graft.operators
         |
         |/** GENERATED by `sbt "Test/runMain graft.tools.BpeVocabGen"` — do not
         |  * edit. ${rules.length} BPE merge rules learned from $sfDir documents
         |  * (distinct-word frequency fold + driver-side exact learner,
         |  * [[TextOps.bpeLearnLocal]]), truncated to the longest prefix on
         |  * which sequential application equals lowest-rank-first
         |  * ([[graft.plans.BpeEncode.sequentialCollisionFree]]). Frozen like a
         |  * production tokenizer: q146 encodes EVERY scale factor with this
         |  * table — a vocabulary is trained once, not per batch.
         |  */
         |object BpeMerges {
         |  val Table: Seq[(String, String)] = Seq(
         |    $rows,
         |  )
         |}
         |""".stripMargin
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.print(src) finally w.close()
    println(s"[bpegen] wrote ${rules.length} rules to $out")
    spark.stop()
  }
}
