package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Maintenance procedures from pure SQL — the Iceberg `CALL` idiom via a
  * parser extension, closing the last Scala-only gap in the SQL surface
  * (reads, DML, DELETE, streaming all have SQL/API forms; compaction and
  * vacuum did not):
  *
  * {{{
  *   CALL graft_compact('/path/to/table')                     -- ~128MB files
  *   CALL graft_compact('/path/to/table', 268435456)          -- target bytes
  *   CALL graft_compact_clustered('/path', 'o_orderdate', 16) -- keeps pruning
  *   CALL graft_vacuum('/path')                               -- defaults
  *   CALL graft_vacuum('/path', 3, 3600000)                   -- keep, graceMs
  * }}}
  *
  * Shape: [[GraftSqlParser]] intercepts statements matching
  * `CALL graft_*(...)` (everything else delegates verbatim to Spark's
  * parser, so the extension cannot perturb normal SQL), producing a
  * [[GraftCall]] `Command` node — Spark executes Commands EAGERLY at
  * `sql()` time, which is the semantics a maintenance statement needs —
  * planned by [[GraftCallStrategy]] into an exec whose result row
  * reports the procedure and the version it committed (or space it
  * reclaimed). The procedures are thin: each maps 1:1 onto the
  * `ManifestTable` entry point that owns the real semantics.
  */
object GraftProcedures {
  /** Numeric args parse under the procedure's usage string: a bare
    * NumberFormatException from `CALL graft_compact('/p', 'big')` tells
    * the user nothing about which argument or what shape was expected.
    */
  private def num[T](usage: String)(parse: => T): T =
    try parse catch {
      case e: NumberFormatException => throw new IllegalArgumentException(
        s"$usage — ${e.getMessage}", e)
    }

  /** The path argument must be non-empty: parser-level quoted-empty
    * ('' ) is a legal literal, so arity checks alone let it through to a
    * confusing filesystem error.
    */
  private def path(a: Seq[String], usage: String): String = {
    require(a.head.trim.nonEmpty, s"$usage — path must be non-empty")
    a.head
  }

  /** A document source argument: a registered table/temp view name, or —
    * when it contains a `/` — a parquet path (the Iceberg-procedure
    * convention of taking table identifiers, widened for path-native
    * stores). Must expose `doc_id` and `text`; resolution is
    * CASE-INSENSITIVE (matching Spark's own default) and the frame is
    * narrowed to exactly those two columns with doc_id cast to BIGINT —
    * an INT-typed id would otherwise surface as a bare
    * ClassCastException inside the table-CALL's declared-BIGINT result
    * conversion instead of an error naming the procedure.
    */
  private def docSource(s: SparkSession, src: String,
      usage: String): org.apache.spark.sql.DataFrame = {
    require(src.trim.nonEmpty, s"$usage — document source must be non-empty")
    val df = if (src.contains('/')) s.read.parquet(src) else s.table(src)
    def field(n: String) = df.schema.fields.find(_.name.equalsIgnoreCase(n))
    (field("doc_id"), field("text")) match {
      case (Some(id), Some(tx)) =>
        require(tx.dataType == org.apache.spark.sql.types.StringType,
          s"$usage — source '$src' column ${tx.name} must be STRING, " +
            s"got ${tx.dataType.catalogString}")
        require(Set[org.apache.spark.sql.types.DataType](
            org.apache.spark.sql.types.ByteType,
            org.apache.spark.sql.types.ShortType,
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType).contains(id.dataType),
          s"$usage — source '$src' column ${id.name} must be an integer " +
            s"type, got ${id.dataType.catalogString}")
        df.select(org.apache.spark.sql.functions.col(id.name)
            .cast("bigint").as("doc_id"),
          org.apache.spark.sql.functions.col(tx.name).as("text"))
      case _ => throw new IllegalArgumentException(
        s"$usage — source '$src' must have doc_id and text columns " +
          s"(found: ${df.columns.mkString(", ")})")
    }
  }

  /** name → (session, args) → one result row (version / message). */
  val registry: Map[String, (SparkSession, Seq[String]) => (Long, String)] = Map(
    "graft_compact" -> { (s, a) =>
      val usage = "graft_compact(path [, targetBytes])"
      require(a.nonEmpty && a.size <= 2, usage)
      val v = graft.sources.ManifestTable.compactCommit(s, path(a, usage),
        targetBytes = num(usage)(
          a.lift(1).map(_.toLong).getOrElse(128L * 1024 * 1024)))
      (v, s"compacted to version $v")
    },
    "graft_compact_clustered" -> { (s, a) =>
      val usage = "graft_compact_clustered(path, clusterCol, buckets [, targetBytes])"
      require(a.size == 3 || a.size == 4, usage)
      val v = graft.sources.ManifestTable.compactClustered(s, path(a, usage),
        a(1), num(usage)(a(2).toInt),
        targetBytes = num(usage)(
          a.lift(3).map(_.toLong).getOrElse(128L * 1024 * 1024)),
        statsCols = Seq(a(1)))
      (v, s"clustered on ${a(1)} into version $v")
    },
    "graft_diff" -> { (s, a) =>
      val usage = "graft_diff(path, keyCol, fromVersion [, toVersion])"
      require(a.size == 3 || a.size == 4, usage)
      val from = num(usage)(a(2).toLong)
      val to = num(usage)(a.lift(3).map(_.toLong).getOrElse(0L))
      val counts = graft.sources.ManifestTable
        .snapshotDiff(s, path(a, usage), Seq(a(1)), from, to)
        .groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (from, s"added=${counts.getOrElse("added", 0L)} " +
        s"removed=${counts.getOrElse("removed", 0L)} " +
        s"changed=${counts.getOrElse("changed", 0L)}")
    },
    "graft_restore" -> { (s, a) =>
      val usage = "graft_restore(path, toVersion)"
      require(a.size == 2, usage)
      val v = graft.sources.ManifestTable.restore(s, path(a, usage),
        num(usage)(a(1).toLong))
      (v, s"restored snapshot of version ${a(1)} as version $v")
    },
    "graft_clone" -> { (s, a) =>
      val usage = "graft_clone(sourcePath, targetPath [, version])"
      require(a.size == 2 || a.size == 3, usage)
      require(a(1).trim.nonEmpty, s"$usage — target path must be non-empty")
      val v = graft.sources.ManifestTable.cloneShallow(s, path(a, usage),
        a(1), num(usage)(a.lift(2).map(_.toLong).getOrElse(0L)))
      (v, s"shallow-cloned ${a.head} to ${a(1)} at clone version $v")
    },
    "graft_vacuum" -> { (s, a) =>
      val usage = "graft_vacuum(path [, keepVersions [, graceMs]])"
      require(a.nonEmpty && a.size <= 3, usage)
      graft.sources.ManifestTable.vacuum(s, path(a, usage),
        keepVersions = num(usage)(a.lift(1).map(_.toInt).getOrElse(1)),
        graceMs = num(usage)(a.lift(2).map(_.toLong).getOrElse(60L * 60 * 1000)))
      val v = graft.sources.ManifestTable.currentVersion(s, a.head)
      (v, s"vacuumed; head is version $v")
    },
    // the lexical tier's SQL surface (r20, closing the r19 verdict item:
    // vec_* reached pure SQL at r16 while BM25/impact stayed Scala-only)
    "graft_impact_build" -> { (s, a) =>
      val usage =
        "graft_impact_build(corpusSrc, indexPath [, topPerTerm [, k1 [, b]]])"
      require(a.size >= 2 && a.size <= 5, usage)
      require(a(1).trim.nonEmpty, s"$usage — index path must be non-empty")
      graft.operators.TextOps.writeImpactIndex(
        docSource(s, a.head, usage), a(1),
        topPerTerm = num(usage)(a.lift(2).map(_.toInt).getOrElse(16)),
        k1 = num(usage)(a.lift(3).map(_.toDouble).getOrElse(1.2)),
        b = num(usage)(a.lift(4).map(_.toDouble).getOrElse(0.75)))
      // the registry the build just froze doubles as the report: docs
      // that shaped the frozen context
      val nd = s.read.parquet(s"${a(1)}/ids").count()
      (nd, s"froze impact index over $nd docs at ${a(1)}")
    })

  /** Procedures that RETURN a result set (the `SELECT * FROM
    * my_procedure(...)` half of the Iceberg idiom, kept in CALL shape):
    * name → (result schema, executor). Parsed to [[GraftTableCall]],
    * whose output IS the schema — `spark.sql("CALL …")` hands back the
    * rows like any query. Results must be driver-bounded by
    * construction (Command output collects eagerly); impact search
    * returns ≤ queries × k rows.
    */
  val tableRegistry: Map[String, (StructType, (SparkSession, Seq[String]) => Seq[org.apache.spark.sql.Row])] = Map(
    "graft_impact_search" -> ((
      StructType.fromDDL("q_id BIGINT, c_id BIGINT, lex_u BIGINT, rk BIGINT"),
      { (s: SparkSession, a: Seq[String]) =>
        val usage = "graft_impact_search(indexPath, querySrc [, qTerms [, k]])"
        require(a.size >= 2 && a.size <= 4, usage)
        val res = graft.operators.TextOps.impactSearchServe(
          docSource(s, a(1), usage), path(a, usage),
          qTerms = num(usage)(a.lift(2).map(_.toInt).getOrElse(10)),
          k = num(usage)(a.lift(3).map(_.toInt).getOrElse(10)))
        // the serve's plan holds no checkpoint: nothing to release
        res.collect().toSeq
      })))
}

/** The eagerly-executed CALL statement. `Command` makes `spark.sql(...)`
  * run it at submission, like every other DDL/DML statement.
  */
case class GraftCall(proc: String, args: Seq[String])
    extends LeafNode with Command {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("procedure", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("result", StringType, nullable = false)())
}

case class GraftCallExec(call: GraftCall) extends LeafExecNode {
  override def output: Seq[Attribute] = call.output
  override def executeCollect(): Array[InternalRow] = {
    val fn = GraftProcedures.registry.getOrElse(call.proc,
      throw new IllegalArgumentException(
        s"graft: unknown procedure ${call.proc} " +
          s"(known: ${(GraftProcedures.registry.keys ++
            GraftProcedures.tableRegistry.keys).toSeq.sorted.mkString(", ")})"))
    val (version, msg) = fn(session, call.args)
    Array(InternalRow(UTF8String.fromString(call.proc), version,
      UTF8String.fromString(msg)))
  }
  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toIndexedSeq, 1)
}

/** A CALL that returns a RESULT SET: output is the procedure's declared
  * schema, so `spark.sql("CALL graft_impact_search(…)")` is a query —
  * still a `Command` (eager at sql() time; the executor must be able to
  * read stores and run jobs before anything downstream plans against
  * the rows).
  */
case class GraftTableCall(proc: String, args: Seq[String])
    extends LeafNode with Command {
  override val output: Seq[Attribute] =
    GraftProcedures.tableRegistry(proc)._1.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)()).toSeq
}

case class GraftTableCallExec(call: GraftTableCall) extends LeafExecNode {
  override def output: Seq[Attribute] = call.output
  override def executeCollect(): Array[InternalRow] = {
    val (schema, fn) = GraftProcedures.tableRegistry(call.proc)
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    fn(session, call.args).map(r => conv(r).asInstanceOf[InternalRow]).toArray
  }
  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toIndexedSeq, 1)
}

object GraftCallStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: GraftCall => GraftCallExec(c) :: Nil
    case c: GraftTableCall => GraftTableCallExec(c) :: Nil
    case _ => Nil
  }
}

/** Prefix-gated parser delegate: ONLY statements shaped
  * `CALL graft_<proc>(<literals>)` are intercepted; every other string —
  * including other CALLs — goes to Spark's parser untouched. Arguments
  * are single-quoted strings ('' escapes a quote) or bare
  * numeric/identifier tokens; anything fancier is a parse error here,
  * not a silent delegate (the statement already committed to being a
  * graft CALL).
  */
final class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  private val CallShape =
    """(?is)\s*CALL\s+(graft_[a-z0-9_]+)\s*\((.*)\)\s*;?\s*""".r
  private val Arg = """'((?:[^']|'')*)'|([^,\s][^,]*)""".r
  private val GraftCallPrefix = """(?is)\s*CALL\s+graft_.*""".r.pattern

  /** Strip trailing `-- …` line comments before shape-matching, so
    * `CALL graft_compact('/p')  -- nightly` routes like the bare form.
    * A `--` is only a trailing comment when it sits on the final line
    * and the text before it has balanced single quotes ('' escapes keep
    * parity) — a path literal containing `--` is never truncated.
    */
  @annotation.tailrec
  private def stripTrailingComments(sql: String): String = {
    val t = sql.replaceFirst("""(?s)[\s;]+\z""", "")
    val i = t.lastIndexOf("--")
    if (i >= 0 && !t.substring(i).contains('\n') &&
        t.substring(0, i).count(_ == '\'') % 2 == 0)
      stripTrailingComments(t.substring(0, i))
    else t
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    stripTrailingComments(sqlText) match {
      case CallShape(proc, rawArgs) =>
        // quoted-empty ('') is KEPT as an empty-string arg — the
        // procedure validates it with its usage message; silently
        // dropping it turned a bad path into a misleading arity error
        val args = Arg.findAllMatchIn(rawArgs).map { m =>
          Option(m.group(1)).map(_.replace("''", "'"))
            .getOrElse(m.group(2).trim)
        }.toSeq
        val p = proc.toLowerCase(java.util.Locale.ROOT)
        if (GraftProcedures.tableRegistry.contains(p)) GraftTableCall(p, args)
        else GraftCall(p, args)
      case cleaned if GraftCallPrefix.matcher(cleaned).matches() =>
        // the statement committed to being a graft CALL but does not fit
        // the shape: delegating would surface Spark's unknown-procedure
        // error, pointing the user away from the actual problem
        throw new IllegalArgumentException(
          s"graft: cannot parse CALL statement '${sqlText.trim}'. Expected " +
            "CALL graft_<procedure>('arg', ...) with single-quoted string " +
            "or bare numeric arguments. Known procedures: " +
            GraftProcedures.registry.keys.toSeq.sorted.mkString(", "))
      case _ =>
        // post-parse DML hook: MERGE/UPDATE statements whose target is a
        // graft-catalog table become eager commands (GraftDml); every
        // other plan passes through byte-identical
        GraftDml.intercept(delegate.parsePlan(sqlText))
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
