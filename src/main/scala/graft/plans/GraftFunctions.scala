package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Multiply, Sqrt}
import org.apache.spark.sql.functions.sqrt

/** Column/SQL surface for graft's native expressions. */
object GraftFunctions {

  import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}

  /** Codegen'd dot product over array<float>/array<double> columns. */
  def vec_dot(a: Column, b: Column): Column = toCol(DotProduct(toExpr(a), toExpr(b)))

  /** Cosine similarity composed from the native dot kernel. */
  def vec_cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))

  /** L2 norm. */
  def vec_norm(v: Column): Column = sqrt(vec_dot(v, v))

  /** SpaceSaving heavy-hitters aggregate: top-k frequent values with
    * bounded sketch state (exact when distinct values <= capacity).
    */
  def topk_freq(c: Column, k: Int, capacity: Int = 4096): Column =
    toCol(TopKFreq(toExpr(c), k, capacity).toAggregateExpression())

  /** Element-wise mean of array<double> vectors (the k-means centroid
    * kernel): one running-sum buffer per group instead of a
    * dim×n-row posexplode shuffle.
    */
  def vec_avg(v: Column): Column =
    toCol(VectorAvg(toExpr(v)).toAggregateExpression())

  /** KMV distinct sketch: the k smallest DISTINCT values of a long
    * column, ≤k longs of mergeable state per group — deterministic
    * (a pure function of the input set), so estimates off it are
    * oracle-able. See [[KmvSketch]].
    */
  def kmv_sketch(c: Column, k: Int): Column =
    toCol(KmvSketch(toExpr(c), k).toAggregateExpression())

  /** Fused per-row 64-bit SimHash over an array<string> token column. */
  def simhash64(tokens: Column): Column = toCol(SimHash64(toExpr(tokens)))

  /** Fused k-way MinHash signature (array<long>) over a token column. */
  def minhash(tokens: Column, numHashes: Int): Column =
    toCol(MinHash(toExpr(tokens), numHashes))

  /** Per-row word n-gram shingles (array<string>) over a token column. */
  def shingles(tokens: Column, n: Int): Column =
    toCol(Shingles(toExpr(tokens), n))

  /** Rank-table BPE segmentation of a token column: the flattened symbol
    * stream after applying the ordered merge rules per word. See
    * [[BpeEncode]]. Throws on a table where lowest-rank-first would
    * diverge from sequential application — checked once here, not in
    * the expression, which Catalyst copies many times. */
  def bpe_encode(tokens: Column, rules: Seq[(String, String)]): Column = {
    val bad = BpeEncode.firstCollision(rules)
    require(bad < 0, s"bpe_encode: merge table is not sequential-collision-free " +
      s"at rank $bad: the product of ${rules(bad)} is an operand of a rule at " +
      s"or below that rank; truncate the table before rank $bad")
    toCol(BpeEncode(toExpr(tokens), rules.map(_._1).toArray, rules.map(_._2).toArray))
  }

  /** Per-band sign-LSH signature array (array<long>) of an embedding
    * column against a fixed plane matrix. See [[PlaneSignBands]]. */
  def plane_sign_bands(vec: Column, planes: Seq[Array[Double]],
      bandBits: Int): Column =
    toCol(PlaneSignBands(toExpr(vec), planes.toArray, bandBits))

  private def intArg(e: Expression, fn: String, pos: Int): Int =
    if (e.foldable) e.eval().asInstanceOf[Number].intValue
    else throw new IllegalArgumentException(s"$fn: argument $pos must be a literal int")

  /** name → (usage, SQL builder) for every native function — the single
    * table both the temp-function [[register]] path and the
    * `graft.GraftExtensions` session-extension path install from.
    */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "vec_dot(a, b) - codegen'd dot product of two float/double arrays",
      es => DotProduct(es(0), es(1))),
    ("vec_norm", "vec_norm(v) - L2 norm of a float/double array",
      es => Sqrt(DotProduct(es(0), es(0)))),
    ("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float/double arrays",
      es => Divide(DotProduct(es(0), es(1)),
        Multiply(Sqrt(DotProduct(es(0), es(0))), Sqrt(DotProduct(es(1), es(1)))))),
    ("simhash64", "simhash64(tokens) - fused 64-bit SimHash of an array<string>",
      es => SimHash64(es(0))),
    ("minhash", "minhash(tokens, k) - fused k-way MinHash signature of an array<string>",
      es => MinHash(es(0), intArg(es(1), "minhash", 1))),
    ("shingles", "shingles(tokens, n) - overlapping space-joined word n-grams",
      es => Shingles(es(0), intArg(es(1), "shingles", 1))),
    ("topk_freq", "topk_freq(v, k[, capacity]) - SpaceSaving top-k frequent values",
      es => TopKFreq(es(0), intArg(es(1), "topk_freq", 1),
        if (es.length > 2) intArg(es(2), "topk_freq", 2) else 4096)
        .toAggregateExpression()),
    ("vec_avg", "vec_avg(v) - element-wise mean of array<double> vectors",
      es => VectorAvg(es(0)).toAggregateExpression()),
    ("kmv_sketch", "kmv_sketch(h, k) - KMV distinct sketch: the k smallest distinct values of a long column (deterministic, mergeable)",
      es => KmvSketch(es(0), intArg(es(1), "kmv_sketch", 1))
        .toAggregateExpression()),
    // composed from built-ins, not a native kernel — registered so SQL
    // users rank by the SAME number as q33/q88/q92/q93/q96 (the lambda
    // resolves TextOps at call time; no object-init cycle with operators)
    ("doc_quality", "doc_quality(text) - graft's composed document quality score in [0,1] (length saturation + stopword ratio + punctuation density, 4 decimals)",
      es => org.apache.spark.sql.graft.ColumnBridge.materialize(
        toExpr(graft.operators.TextOps.qualityExpr(toCol(es(0)))))),
  )

  /** Register the SQL-callable names as temp functions on an existing
    * session (the path for sessions built without extensions; prefer
    * `spark.sql.extensions=graft.GraftExtensions` for new sessions).
    */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }

  private[graft] def expressionInfo(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.plans.GraftFunctions", null, name, usage,
      "", "", "", "", "", "", "built-in")

  private[graft] def identifier(name: String): FunctionIdentifier =
    FunctionIdentifier(name)
}
