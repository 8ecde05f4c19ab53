package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, Command, DeleteAction, InsertAction, InsertStarAction, LeafNode, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable, Filter => LogicalFilter}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.sources.{Filter => V2Filter}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{ColStats, GraftCatalog, GraftDataSource, ManifestTable}

/** SQL `MERGE INTO` and `UPDATE` for graft-catalog tables — the two DML
  * statements every Delta/Iceberg user reaches for first, wired onto the
  * engine primitives that already own the semantics:
  *
  * {{{
  *   MERGE INTO cat.orders AS t USING updates AS s
  *     ON t.o_orderkey = s.o_orderkey
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *           -- ManifestTable.mergeCommit
  *
  *   UPDATE cat.orders SET o_totalprice = o_totalprice * 2
  *   WHERE o_orderkey % 97 = 0                  -- ManifestTable.cowRewriteCommit
  * }}}
  *
  * Shape: Spark's OWN parser handles the grammar — [[GraftSqlParser]]
  * delegates every statement verbatim, then [[GraftDml.intercept]]
  * pattern-matches the parsed [[MergeIntoTable]]/[[UpdateTable]] and
  * swaps in an eager [[Command]] ONLY when the target resolves to a
  * registered [[GraftCatalog]] table (any other target passes through
  * untouched, where Spark raises its usual row-level-operation errors).
  * This is the prefix-gate pattern proven by `CALL graft_*`, minus the
  * hand-rolled grammar: no regex ever touches MERGE syntax.
  *
  * The catalyst trees ride inside [[Opaque]] wrappers so the analyzer
  * sees a fully-resolved leaf command (unresolved attributes in a plain
  * field would fail analysis before our exec ever ran); resolution
  * happens at execution, against the target snapshot and source frames
  * the statement actually touches.
  *
  * Scale posture: the canonical upsert (`UPDATE SET *` + `INSERT *`,
  * same-named keys) never reads the target at all — the source IS the
  * update set, and [[ManifestTable.mergeCommit]] stats-prunes the
  * rewrite to the commits whose key ranges the delta can touch. The
  * explicit-assignment forms need target rows to compute updated values;
  * that read is pruned to the commits the same key-envelope test keeps
  * ([[ColStats.envelope]] and [[ColStats.mayHold]], mergeCommit's own),
  * so timestamp keys compare as UTC instants in every session zone.
  * `UPDATE` classifies commits against the resolved predicate's pushable
  * conjuncts and rewrites only the can-match subset
  * ([[ManifestTable.cowRewriteCommit]]). Every one of these decisions
  * goes through [[ColStats]].
  */
private[graft] final case class Opaque[T](value: T) {
  // catalyst trees must not leak into TreeNode argString either: a
  // 10k-row source plan rendered into every explain/toString would be
  // noise at best and quadratic at worst
  override def toString: String = "opaque"
}

object GraftDml {
  private val CatalogClass = classOf[GraftCatalog].getName

  /** The (table path, effective alias) of a DML target, when — and only
    * when — it names a table of a registered graft catalog in the active
    * session. `None` leaves the statement to Spark untouched.
    */
  private[graft] def graftTarget(plan: LogicalPlan): Option[(String, String)] = {
    val (alias, rel) = plan match {
      case SubqueryAlias(id, r: UnresolvedRelation) => (Some(id.name), r)
      case r: UnresolvedRelation => (None, r)
      case _ => return None
    }
    val (cat, name) = rel.multipartIdentifier match {
      case Seq(c, t) => (c, t)
      case Seq(c, d, t) if d.equalsIgnoreCase("default") => (c, t)
      case _ => return None
    }
    SparkSession.getActiveSession.flatMap { s =>
      if (!s.conf.getOption(s"spark.sql.catalog.$cat").contains(CatalogClass))
        None
      else s.conf.getOption(s"spark.sql.catalog.$cat.root").map { root =>
        // same containment rule as GraftCatalog.tablePath: a table IS a
        // plain child dir of root — path-shaped names do not resolve
        require(name.nonEmpty && !name.contains('/') && !name.contains('\\') &&
          name != "." && name != "..",
          s"graft dml: table name '$name' must be a plain directory name")
        (new Path(root, name).toString, alias.getOrElse(name))
      }
    }
  }

  /** Post-parse hook: swap a graft-targeted MERGE/UPDATE for its eager
    * command; every other plan — including DML on non-graft tables —
    * passes through byte-identical.
    */
  def intercept(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable =>
      graftTarget(m.targetTable).map { case (path, alias) =>
        GraftMergeCommand(path, alias, Opaque(m))
      }.getOrElse(plan)
    case u: UpdateTable =>
      graftTarget(u.table).map { case (path, alias) =>
        GraftUpdateCommand(path, alias, Opaque(u))
      }.getOrElse(plan)
    case other => other
  }

  // ---------------------------------------------------------------- UPDATE

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** An assignment key must be a plain or target-qualified column of the
    * snapshot schema; returns the schema's canonical field name.
    */
  private def assignedColumn(key: Expression, alias: String,
      schema: StructType): String = key match {
    case a: UnresolvedAttribute =>
      val quals = a.nameParts.init
      require(quals.isEmpty ||
        (quals.length == 1 && quals.head.equalsIgnoreCase(alias)),
        s"graft dml: SET target ${a.name} must be a column of the target " +
          s"table (alias '$alias')")
      schema.fields.map(_.name).find(_.equalsIgnoreCase(a.nameParts.last))
        .getOrElse(throw new IllegalArgumentException(
          s"graft dml: SET target ${a.nameParts.last} is not a column of " +
            s"the target table (${schema.fieldNames.mkString(", ")})"))
    case other => throw new IllegalArgumentException(
      s"graft dml: SET target must be a column, got ${other.sql}")
  }

  /** The predicate's pushable conjuncts as data-source filters, resolved
    * against the target snapshot — what commit-level classification
    * prunes on. Non-translatable conjuncts contribute no pruning (the
    * row-level gate still applies them exactly).
    */
  private def pruneFilters(spark: SparkSession, path: String, alias: String,
      cond: Column): Seq[V2Filter] =
    // the OPTIMIZED plan: literal casts fold there, so the conjuncts
    // carry the Literal shapes translateFilter recognizes
    ColumnBridge.optimized(
      ManifestTable.read(spark, path).as(alias).filter(cond))
      .collect { case f: LogicalFilter => conjuncts(f.condition) }
      .flatten
      .flatMap(e => ColumnBridge.translateFilter(e, nestedPushdown = true))

  private[graft] def runUpdate(spark: SparkSession, path: String,
      alias: String, u: UpdateTable): (Long, String) = {
    val schema = ManifestTable.read(spark, path).schema
    val assigns: Seq[(String, Column)] = u.assignments.map(a =>
      assignedColumn(a.key, alias, schema) -> ColumnBridge.column(a.value))
    require(assigns.map(_._1).distinct.size == assigns.size,
      "graft dml: UPDATE assigns a column twice")
    val assignMap = assigns.toMap
    val condCol = u.condition.map(ColumnBridge.column)
    val filters = condCol.toSeq.flatMap(c => pruneFilters(spark, path, alias, c))
    // SQL UPDATE gates row-by-row on TRUE (NULL rows keep their values),
    // and every RHS evaluates against the PRE-update row — one select
    // computes all columns from the original bindings, so `SET a = b,
    // b = a` swaps instead of chaining
    val gate = condCol.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
    val v = ManifestTable.cowRewriteCommit(spark, path,
      classify = (snapSchema, e) =>
        if (filters.nonEmpty && filters.exists(f =>
            !GraftDataSource.entryCanMatch(snapSchema, e, f)))
          ManifestTable.CowKeep
        else ManifestTable.CowRewrite,
      rewrite = df => {
        val fields = df.schema.fields
        df.as(alias).select(fields.map { f =>
          assignMap.get(f.name) match {
            case Some(value) =>
              // store-assignment cast: the snapshot schema is immutable
              // under UPDATE, whatever the RHS type
              when(gate, value.cast(f.dataType)).otherwise(col(f.name))
                .as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
      })
    (v, s"update committed version $v")
  }

  // ----------------------------------------------------------------- MERGE

  /** One join-key equality, classified: (target column, source column). */
  private def keyPair(e: Expression, tAlias: String, sAlias: String,
      tgtCols: Set[String], srcCols: Set[String]): (String, String) = {
    def side(a: UnresolvedAttribute): (Option[String], String) = {
      val q = a.nameParts.init
      require(q.isEmpty || q.length == 1,
        s"graft dml: MERGE ON reference ${a.name} is over-qualified")
      (q.headOption, a.nameParts.last)
    }
    e match {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        (side(l), side(r)) match {
          case ((Some(ql), ln), (Some(qr), rn))
              if ql.equalsIgnoreCase(tAlias) && qr.equalsIgnoreCase(sAlias) =>
            (ln, rn)
          case ((Some(ql), ln), (Some(qr), rn))
              if ql.equalsIgnoreCase(sAlias) && qr.equalsIgnoreCase(tAlias) =>
            (rn, ln)
          case ((None, ln), (None, rn)) if ln.equalsIgnoreCase(rn) &&
              tgtCols.contains(ln.toLowerCase) && srcCols.contains(rn.toLowerCase) =>
            (ln, rn)
          case _ => throw new IllegalArgumentException(
            s"graft dml: cannot side ${e.sql} between target '$tAlias' and " +
              s"source '$sAlias' - qualify both sides (t.k = s.k)")
        }
      case other => throw new IllegalArgumentException(
        "graft dml: MERGE ON must be a conjunction of column equalities " +
          s"(t.k = s.k), got ${other.sql}")
    }
  }

  private def singleAction(actions: Seq[MergeAction], kind: String)
      : Option[MergeAction] = {
    require(actions.size <= 1,
      s"graft dml: at most one WHEN $kind clause is supported")
    actions.headOption.map {
      case a if actionCondition(a).isDefined =>
        throw new IllegalArgumentException(
          s"graft dml: WHEN $kind AND <condition> is not supported - " +
            "filter the source, or split the statement")
      case _: DeleteAction => throw new IllegalArgumentException(
        s"graft dml: WHEN $kind THEN DELETE is not supported - use " +
          "DELETE FROM (metadata-first with copy-on-write fallback)")
      case a => a
    }
  }

  private def actionCondition(a: MergeAction): Option[Expression] = a match {
    case u: UpdateAction => u.condition
    case u: UpdateStarAction => u.condition
    case i: InsertAction => i.condition
    case i: InsertStarAction => i.condition
    case _ => None
  }

  private[graft] def runMerge(spark: SparkSession, path: String,
      tAlias: String, m: MergeIntoTable): (Long, String) = {
    require(m.notMatchedBySourceActions.isEmpty,
      "graft dml: WHEN NOT MATCHED BY SOURCE is not supported")
    require(!m.withSchemaEvolution,
      "graft dml: MERGE WITH SCHEMA EVOLUTION is not supported - " +
        "ALTER TABLE ADD COLUMNS first")
    val srcPlan = m.sourceTable
    val sAlias = srcPlan match {
      case SubqueryAlias(id, _) => id.name
      case _ => "__graft_source"
    }
    val srcDf = ColumnBridge.ofRows(spark, srcPlan).as(sAlias)
    val tgtSchema = ManifestTable.read(spark, path).schema
    val tgtCols = tgtSchema.fieldNames.map(_.toLowerCase).toSet
    val srcCols = srcDf.columns.map(_.toLowerCase).toSet
    val keys = conjuncts(m.mergeCondition)
      .map(keyPair(_, tAlias, sAlias, tgtCols, srcCols))
      .map { case (t, s) =>
        (tgtSchema.fieldNames.find(_.equalsIgnoreCase(t)).getOrElse(
          throw new IllegalArgumentException(
            s"graft dml: MERGE key $t is not a target column")),
          srcDf.columns.find(_.equalsIgnoreCase(s)).getOrElse(
            throw new IllegalArgumentException(
              s"graft dml: MERGE key $s is not a source column")))
      }
    require(keys.nonEmpty, "graft dml: MERGE ON needs at least one equality")
    val keyCols = keys.map(_._1)

    val matched = singleAction(m.matchedActions, "MATCHED")
    val notMatched = singleAction(m.notMatchedActions, "NOT MATCHED")
    require(matched.isDefined || notMatched.isDefined,
      "graft dml: MERGE needs a WHEN MATCHED or WHEN NOT MATCHED clause")
    matched.foreach {
      case ua: UpdateAction if !ua.fromStar =>
        val touched =
          ua.assignments.map(a => assignedColumn(a.key, tAlias, tgtSchema))
        val hitKeys = touched.filter(keyCols.contains)
        require(hitKeys.isEmpty,
          s"graft dml: UPDATE SET must not assign merge keys " +
            s"(${hitKeys.mkString(", ")}) - a key change is a delete+insert")
      case _ => ()
    }

    // the canonical upsert: full-row replace from source, full-row
    // insert, keys same-named — the source IS the update set, so the
    // target is never read and mergeCommit's stats pruning bounds the
    // whole rewrite. This is THE 100 TB merge path.
    def isUpdateStar(a: MergeAction): Boolean = a match {
      case _: UpdateStarAction => true
      case u: UpdateAction => u.fromStar
      case _ => false
    }
    val starUpsert = matched.forall(isUpdateStar) &&
      notMatched.forall(_.isInstanceOf[InsertStarAction]) &&
      matched.isDefined && notMatched.isDefined &&
      keys.forall { case (t, s) => t.equalsIgnoreCase(s) } &&
      tgtSchema.fieldNames.forall(c =>
        srcDf.columns.exists(_.equalsIgnoreCase(c)))
    val updates: DataFrame =
      if (starUpsert)
        srcDf.select(tgtSchema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      else {
        // assignment forms need target rows; prune that read to the
        // source's key envelope so a hot-key delta against a clustered
        // table joins against a handful of commits, not the table
        val tgt = prunedTarget(spark, path, keys, srcDf).as(tAlias)
        val onCol = ColumnBridge.column(m.mergeCondition)
        def assignmentMap(assigns: Seq[Assignment]): Map[String, Column] =
          assigns.map(a => assignedColumn(a.key, tAlias, tgtSchema) ->
            ColumnBridge.column(a.value)).toMap
        val matchedRows = matched.map { act =>
          val rowFor: String => Column = act match {
            case _: UpdateStarAction => c => col(s"$sAlias.$c")
            case ua: UpdateAction if ua.fromStar => c => col(s"$sAlias.$c")
            case ua: UpdateAction =>
              val am = assignmentMap(ua.assignments)
              c => am.getOrElse(c, col(s"$tAlias.$c"))
            case other => throw new IllegalArgumentException(
              s"graft dml: unsupported WHEN MATCHED action ${other.getClass.getSimpleName}")
          }
          tgt.join(srcDf, onCol, "inner").select(tgtSchema.fields.map(f =>
            rowFor(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        }
        val insertedRows = notMatched.map { act =>
          val rowFor: String => Column = act match {
            case _: InsertStarAction => c => col(c)
            case ia: InsertAction =>
              val am = assignmentMap(ia.assignments)
              c => am.getOrElse(c, lit(null))
            case other => throw new IllegalArgumentException(
              s"graft dml: unsupported WHEN NOT MATCHED action ${other.getClass.getSimpleName}")
          }
          srcDf.join(tgt, onCol, "left_anti").select(tgtSchema.fields.map(f =>
            rowFor(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        }
        (matchedRows.toSeq ++ insertedRows.toSeq).reduce(_ unionByName _)
      }
    val v = ManifestTable.mergeCommit(spark, path, updates, keyCols)
    (v, s"merge committed version $v" +
      (if (starUpsert) " (star upsert, target unread)" else ""))
  }

  /** The target rows an assignment-form merge can touch: the commits
    * [[ManifestTable.mergeCommit]] itself would rewrite for these keys —
    * the source keys' envelope ([[ColStats.envelope]], one aggregate
    * action) tested per commit by the same [[ColStats.mayHold]]. A key
    * whose source and target tags differ prunes nothing, and a source
    * with no taggable key runs no envelope and reads every commit.
    */
  private def prunedTarget(spark: SparkSession, path: String,
      keys: Seq[(String, String)], srcDf: DataFrame): DataFrame = {
    val tags = keys.flatMap { case (_, s) => ColStats.tagOf(srcDf.schema, s).map(s -> _) }.toMap
    val env = ColStats.envelope(srcDf, tags)._2
    ManifestTable.readEntries(spark, path)(e => ColStats.mayHold(e.stats, env, keys))
  }
}

/** Eager MERGE command: one result row reporting the committed version. */
case class GraftMergeCommand(path: String, targetAlias: String,
    merge: Opaque[MergeIntoTable]) extends LeafNode with Command {
  override val output: Seq[Attribute] = GraftDmlOutput.columns("merge")
}

/** Eager UPDATE command: one result row reporting the committed version. */
case class GraftUpdateCommand(path: String, targetAlias: String,
    update: Opaque[UpdateTable]) extends LeafNode with Command {
  override val output: Seq[Attribute] = GraftDmlOutput.columns("update")
}

private[graft] object GraftDmlOutput {
  def columns(ignored: String): Seq[Attribute] = Seq(
    AttributeReference("statement", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("result", StringType, nullable = false)())
}

case class GraftDmlExec(statement: String,
    run: SparkSession => (Long, String)) extends LeafExecNode {
  override def output: Seq[Attribute] = GraftDmlOutput.columns(statement)
  override def executeCollect(): Array[InternalRow] = {
    val (version, msg) = run(session)
    Array(InternalRow(UTF8String.fromString(statement), version,
      UTF8String.fromString(msg)))
  }
  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toIndexedSeq, 1)
}

object GraftDmlStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: GraftMergeCommand =>
      GraftDmlExec("merge",
        s => GraftDml.runMerge(s, c.path, c.targetAlias, c.merge.value)) :: Nil
    case c: GraftUpdateCommand =>
      GraftDmlExec("update",
        s => GraftDml.runUpdate(s, c.path, c.targetAlias, c.update.value)) :: Nil
    case _ => Nil
  }
}
