package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for graft's native expressions.
  *
  * Spark 4 split the public `Column` API from catalyst; the conversion
  * helpers live in `org.apache.spark.sql.classic` and are private[sql],
  * so extensions expose them from inside the package — the standard
  * pattern for third-party Catalyst expression libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unwrap leftover [[org.apache.spark.sql.classic.ColumnNodeExpression]]
    * leaves. The Column→Expression converter wraps an embedded catalyst
    * expression (a `column(e)` round-trip) in an Unevaluable node that the
    * DataFrame analyzer converts — but the FUNCTION-REGISTRY path never
    * runs that conversion, so a registry builder composing `functions._`
    * Columns over its argument expressions dies at codegen with
    * "Cannot generate code for expression: columnnodeexpression(...)".
    * Transforming the wrappers out yields a plain executable tree.
    */
  def materialize(e: Expression): Expression =
    org.apache.spark.sql.classic.GraftColumnMaterialize.materialize(e)

  /** DataFrame from a custom LogicalPlan (classic Dataset.ofRows is
    * private[sql]).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** The optimized logical plan — where literal casts are folded, so
    * predicate shapes match what [[translateFilter]] recognizes.
    */
  def optimized(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.optimizedPlan

  /** Catalyst predicate → data-source [[org.apache.spark.sql.sources
    * .Filter]], Spark's own translation (`protected[sql]`, hence exposed
    * here) — so commit-level stats pruning classifies on exactly the
    * filter shapes the scan path pushes.
    */
  def translateFilter(e: Expression, nestedPushdown: Boolean)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, nestedPushdown)
}

/** The V1 streaming-source internals a custom [[org.apache.spark.sql
  * .execution.streaming.Source]] needs (the Delta-connector pattern:
  * `getBatch` plans a native batch read, then re-tags it streaming):
  * version-number offsets and the `isStreaming = true` wrap
  * MicroBatchExecution asserts on. Both are `private[sql]`, hence this
  * package-side exposure.
  */
object StreamBridge {
  import org.apache.spark.sql.execution.streaming.{Offset => LegacyOffset}
  import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}

  def longOffset(v: Long): LegacyOffset = LongOffset(v)

  /** A legacy offset's version number — checkpoint recovery hands back
    * [[SerializedOffset]] JSON, a live run hands [[LongOffset]].
    */
  def offsetValue(o: LegacyOffset): Long = o match {
    case LongOffset(v) => v
    case s: SerializedOffset => LongOffset(s).offset
    case other => throw new IllegalStateException(
      s"graft stream: unexpected offset type ${other.getClass.getName}")
  }

  /** `df`'s physical plan as a STREAMING DataFrame — the exact rows of
    * the batch plan (whole-stage codegen, vectorized parquet and all),
    * wrapped the way `getBatch`'s contract requires.
    */
  def streamingDataFrame(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse wrap for a SINK: the micro-batch DataFrame a V1
    * `Sink.addBatch` receives is streaming-tagged (its plan is the
    * incremental execution), so `df.write` refuses it; this re-wraps the
    * SAME physical rows as a batch frame (no collect, no recompute — the
    * plan executes when the batch write consumes the RDD, once).
    */
  def batchDataFrame(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** The stable streaming query id (constant across restarts from one
    * checkpoint — unlike the per-run runId), set as a local property
    * while a micro-batch executes. None outside a streaming query.
    */
  def activeQueryId(spark: org.apache.spark.sql.SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))
}

/** Listener-side access for measurement harnesses: the context's
  * listener bus is `private[spark]` and a finished SQL execution's
  * QueryExecution is `private[sql]`, hence this package-side exposure.
  */
object ListenerBridge {
  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The physical plan a finished SQL execution ran (final stages under AQE). */
  def executedPlan(end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[org.apache.spark.sql.execution.SparkPlan] =
    Option(end.qe).map(_.executedPlan)
}

/** A schema as the file writers store it: every field nullable, nested
  * fields, array elements and map values included (`asNullable` is
  * Spark-internal).
  */
object SchemaBridge {
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}
