package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** graft's one BPE segmentation: apply an ordered merge-rule table to
  * every word of a token array in ONE per-row kernel pass, emitting the
  * flattened symbol stream (word boundaries never merge).
  *
  * The rules live in a shared hash map (pair → rank) shipped once as a
  * codegen reference object, so the expression tree and its generated
  * code stay the same size at two rules or ten thousand. Each word runs
  * the standard lowest-rank-first loop (Sennrich et al. 2016,
  * apply_bpe): find the lowest-ranked adjacent pair present, fuse ALL
  * its occurrences greedily left-to-right (non-overlapping: [a, a, a]
  * under (a, a) → [aa, a], the learner's `applyMerge` semantics), repeat
  * until no table pair remains. Work per word is O(len × merges-applied)
  * regardless of table size.
  *
  * Lowest-rank-first equals applying the rules sequentially in learned
  * order — the learner's semantics and the oracles' — provided no rule's
  * RESULT string collides with a lower-ranked rule's operand (else the
  * late merge would mint fresh work for an earlier rule that rank-first
  * revisits and sequential does not). [[BpeEncode.firstCollision]] is
  * the check; `GraftFunctions.bpe_encode`, the only constructor, rejects
  * a violating table before any plan is built.
  */
case class BpeEncode(tokens: Expression, as: Array[String], bs: Array[String])
    extends UnaryExpression {

  require(as.length == bs.length,
    s"bpe_encode: ${as.length} left operands vs ${bs.length} right")

  override def child: Expression = tokens

  override def checkInputDataTypes(): TypeCheckResult = tokens.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires array<string> tokens, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val kernel = new BpeEncode.Kernel(as, bs)

  override def nullSafeEval(v: Any): Any =
    kernel.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("bpeKernel", kernel,
      classOf[BpeEncode.Kernel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $kRef.compute($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(tokens = newChild)
}

object BpeEncode {
  /** Rank lookups keyed `a SPACE b` — symbols are concatenations of
    * whitespace-split token characters, so neither side can contain a
    * space and the key is collision-free without escaping. */
  private def pairKey(a: String, b: String): String = a + " " + b

  /** The first rank whose rule's result string is an operand of an
    * earlier (lower-or-equal-ranked) rule, or -1 when there is none —
    * such a late merge mints fresh occurrences of the earlier pair,
    * which rank-first revisits and sequential application does not. */
  def firstCollision(rules: Seq[(String, String)]): Int = {
    val seen = new java.util.HashSet[String]()
    rules.indexWhere { case (a, b) =>
      seen.add(a)
      seen.add(b)
      seen.contains(a + b)
    }
  }

  /** True when lowest-rank-first equals sequential application. */
  def sequentialCollisionFree(rules: Seq[(String, String)]): Boolean =
    firstCollision(rules) < 0

  final class Kernel(as: Array[String], bs: Array[String]) extends Serializable {
    private val ranks = {
      val m = new java.util.HashMap[String, Integer](as.length * 2)
      var i = 0
      while (i < as.length) {
        // a pair learned twice can only act at its FIRST (lowest) rank —
        // by then every occurrence is fused and later ranks never fire
        m.putIfAbsent(pairKey(as(i), bs(i)), Integer.valueOf(i))
        i += 1
      }
      m
    }

    def compute(arr: ArrayData): ArrayData = {
      val nTok = arr.numElements()
      val out = new scala.collection.mutable.ArrayBuffer[Any](nTok * 4)
      var t = 0
      while (t < nTok) {
        if (!arr.isNullAt(t)) {
          val w = arr.getUTF8String(t).toString
          if (w.nonEmpty) encodeWord(w, out)
        }
        t += 1
      }
      new GenericArrayData(out.toArray)
    }

    /** Encode one word and append its symbols (as UTF8String) to `out`. */
    private def encodeWord(w: String, out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
      // split to code points (the learner's charSyms semantics)
      val syms = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        syms += w.substring(i, i + n)
        i += n
      }
      // lowest-rank-first: fuse the best-ranked present pair, rescan
      var more = syms.length > 1
      while (more) {
        var best = Int.MaxValue
        var j = 0
        while (j < syms.length - 1) {
          val r = ranks.get(pairKey(syms(j), syms(j + 1)))
          if (r != null && r < best) best = r
          j += 1
        }
        if (best == Int.MaxValue) more = false
        else {
          val a = as(best)
          val b = bs(best)
          val ab = a + b
          // fuse every occurrence greedily left-to-right (non-overlapping:
          // after a fuse the new symbol is `ab`, which can't re-match `a`
          // at the same slot, so not advancing re-checks nothing twice)
          var k = 0
          while (k < syms.length - 1) {
            if (syms(k) == a && syms(k + 1) == b) {
              syms(k) = ab
              syms.remove(k + 1)
            } else k += 1
          }
          more = syms.length > 1
        }
      }
      var s = 0
      while (s < syms.length) {
        out += UTF8String.fromString(syms(s))
        s += 1
      }
    }
  }
}
