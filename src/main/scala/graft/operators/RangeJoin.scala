package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Binned range join: point-in-interval joins as equi-joins.
  *
  * Spark plans a bare `p >= lo AND p < hi` join as a broadcast/cartesian
  * nested loop — O(|points| × |intervals|) compares, the classic 100 TB
  * killer. The standard fix is grid binning: explode each interval to the
  * fixed-width bins it overlaps, bin each point once, equi-join on the
  * bin, then apply the exact range predicate. The join is then a plain
  * shuffled/broadcast HASH join on the bin key; candidate volume is
  * points × the intervals sharing their bin, not the full cross product.
  *
  * No duplicate results: a point lives in exactly one bin, so each
  * (point, interval) pair meets at most once — no post-join dedup.
  *
  * Picking `binWidth`: ≈ the typical interval width. Replication factor
  * per interval is ceil(width / binWidth) + 1, so wider bins mean fewer
  * interval copies but more candidates per bin. Degenerate hot bins
  * (everything in one time bucket) are ordinary equi-join skew — AQE
  * skew-join or SkewJoin.saltedJoin applies unchanged.
  */
object RangeJoin {

  /** Inner-join `points` to every interval containing them:
    * `loCol <= pointCol < hiCol`. The three columns must be INTEGRAL and
    * same-scaled (e.g. epoch seconds — the `hi - 1` exclusive-bound bin
    * math is exact only on integers; fractional bounds would silently
    * drop matches, so they are rejected at plan time). Empty intervals
    * (hi <= lo) match nothing. An interval spanning more than
    * `maxBinsPerInterval` bins fails fast with a clear error instead of
    * exploding a billion-element bin array (one dirty open-ended
    * sentinel interval must not OOM the whole job). Output = point
    * columns ++ interval columns.
    */
  private def requireIntegral(df: DataFrame, c: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok, s"$c must be an integral column, got ${df.schema(c).dataType.catalogString}")
  }

  /** Drop empty intervals, fail fast on ones spanning more than `maxBins`
    * bins (counted directly — no width×cap multiplication, which would
    * overflow for a caller passing Long.MaxValue to opt out), and explode
    * the survivors to their `__graft_bin` grid cells. `assert_true`
    * yields null on success (the filter keeps the row) and throws on
    * violation; expressing it as a filter keeps the check from being
    * pruned away as an unused column.
    */
  private def binned(df: DataFrame, loCol: String, hiCol: String,
      binWidth: Long, maxBins: Long): DataFrame = {
    requireIntegral(df, loCol)
    requireIntegral(df, hiCol)
    val loBin = floor(col(loCol) / binWidth)
    val hiBin = floor((col(hiCol) - 1) / binWidth)
    val widthOk = assert_true(hiBin - loBin + 1 <= maxBins,
      lit(s"range-join interval spans more than maxBinsPerInterval=$maxBins " +
        s"bins of $binWidth - widen binWidth or clean the interval table"))
    df.filter(col(hiCol) > col(loCol))
      .filter(widthOk.isNull)
      .withColumn("__graft_bin", explode(sequence(loBin, hiBin)))
  }

  def pointInInterval(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      binWidth: Long, maxBinsPerInterval: Long = 1L << 16): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    requireIntegral(points, pointCol)
    val p = points.withColumn("__graft_bin", floor(col(pointCol) / binWidth))
    p.join(binned(intervals, loCol, hiCol, binWidth, maxBinsPerInterval), Seq("__graft_bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__graft_bin")
  }

  /** Interval × interval overlap join: pairs where `[lLo,lHi)` and
    * `[rLo,rHi)` intersect. Same grid binning, plus the canonical-bin
    * trick for duplicate-free output WITHOUT a distinct(): a pair that
    * shares many bins is emitted only from the first bin its
    * intersection occupies, `floor(max(lLo,rLo)/binWidth)` — a bin both
    * sides are guaranteed to have exploded to. Column names must be
    * disjoint between the two frames.
    */
  def intervalOverlap(left: DataFrame, lLo: String, lHi: String,
      right: DataFrame, rLo: String, rHi: String,
      binWidth: Long, maxBinsPerInterval: Long = 1L << 16): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val l = binned(left, lLo, lHi, binWidth, maxBinsPerInterval)
    val r = binned(right, rLo, rHi, binWidth, maxBinsPerInterval)
    l.join(r, Seq("__graft_bin"))
      .filter(col(lLo) < col(rHi) && col(rLo) < col(lHi))
      .filter(col("__graft_bin") === floor(greatest(col(lLo), col(rLo)) / binWidth))
      .drop("__graft_bin")
  }

  private val Week = 7L * 86400

  /** Week-long [orderdate, orderdate + 7d) epoch intervals for the
    * March-1995 orders — the interval set both range-join queries share.
    */
  private def marchOrderWeeks(s: SparkSession, d: String,
      keyCol: String, loCol: String, hiCol: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1995-03-01" && col("o_orderdate") < "1995-04-01")
      .select(col("o_orderkey").as(keyCol),
        unix_timestamp(col("o_orderdate")).as(loCol),
        (unix_timestamp(col("o_orderdate")) + Week).as(hiCol))

  /** Shipments-per-order-week: for each March-1995 order, the lineitems
    * (any order's) shipped within [o_orderdate, o_orderdate + 7 days) —
    * a genuine cross-entity range join, binned at interval width.
    *
    * Aggregate pushdown below the join (r14, after the q62
    * decomposition recorded in BASELINE.md's r14 q62 adjudication): the requested aggregates are distributive
    * (count/sum), and the point value `p` is a DAY — ~38 distinct values
    * in the window regardless of row count — so the points collapse to
    * one pre-aggregated row per day BEFORE the range join. Joined-row
    * volume then scales with |distinct days| × matching intervals, not
    * |lineitem| × matching intervals (~240× fewer joined rows at sf0.1,
    * and the gap widens linearly with SF: at 100 TB the per-day
    * multiplicity is millions). Exact, not approximate: count = Σ
    * per-day counts, sum = Σ per-day sums. Probe: 0.370 s vs 0.483 s
    * for the join-then-aggregate form on the same rig (BASELINE.md, r14
    * q62 adjudication).
    */
  def q62RangeJoin(s: SparkSession, d: String): DataFrame = {
    val intervals = marchOrderWeeks(s, d, "o_orderkey", "lo", "hi")
    val points = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1995-03-01" && col("l_shipdate") < "1995-04-08")
      .select(unix_timestamp(col("l_shipdate")).as("p"), col("l_quantity"))
      .groupBy("p")
      .agg(count(lit(1)).as("__day_n"), sum("l_quantity").as("__day_qty"))
    pointInInterval(points, "p", intervals, "lo", "hi", binWidth = Week)
      .groupBy("o_orderkey")
      .agg(sum("__day_n").as("n_shipped_in_week"),
        round(sum("__day_qty"), 2).as("total_qty"))
  }

  /** Upper-triangle overlap pairs of March-1995 order weeks, aggregated
    * per smaller key: each overlapping pair is counted exactly once,
    * under its lower orderkey (`a_key < b_key`), with the pair's overlap
    * length in days — the interval×interval operator on real data. (For
    * a per-order NEIGHBOR count, drop the triangle filter and group on
    * either side.)
    */
  def q64IntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val overlapSec = least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo"))
    intervalOverlap(
        marchOrderWeeks(s, d, "a_key", "a_lo", "a_hi"), "a_lo", "a_hi",
        marchOrderWeeks(s, d, "b_key", "b_lo", "b_hi"), "b_lo", "b_hi",
        binWidth = Week)
      .filter(col("a_key") < col("b_key"))
      .groupBy(col("a_key").as("o_orderkey"))
      .agg(count(lit(1)).as("n_overlapping"),
        round(sum(overlapSec) / 86400.0, 2).as("total_overlap_days"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q62_range_join" -> q62RangeJoin _,
    "q64_interval_overlap" -> q64IntervalOverlap _,
  )

  val oracles: Map[String, String] = Map(
    "q62_range_join" ->
      """SELECT o.o_orderkey, count(*) AS n_shipped_in_week,
        | round(sum(l.l_quantity), 2) AS total_qty
        |FROM orders o JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
        |WHERE o.o_orderdate >= DATE '1995-03-01' AND o.o_orderdate < DATE '1995-04-01'
        |  AND l.l_shipdate >= DATE '1995-03-01' AND l.l_shipdate < DATE '1995-04-08'
        |GROUP BY o.o_orderkey""".stripMargin,
    "q64_interval_overlap" ->
      """WITH w AS (
        |  SELECT o_orderkey AS k,
        |   epoch(o_orderdate) AS lo, epoch(o_orderdate) + 7*86400 AS hi
        |  FROM orders
        |  WHERE o_orderdate >= DATE '1995-03-01' AND o_orderdate < DATE '1995-04-01')
        |SELECT a.k AS o_orderkey, count(*) AS n_overlapping,
        | round(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo)) / 86400.0, 2)
        |   AS total_overlap_days
        |FROM w a JOIN w b
        |  ON a.lo < b.hi AND b.lo < a.hi AND a.k < b.k
        |GROUP BY a.k""".stripMargin,
  )
}
