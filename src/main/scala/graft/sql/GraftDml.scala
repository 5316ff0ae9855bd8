package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, V2CommandExec}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{GraftTable, MergeClause, TxnTable}

/** SQL DML over graft-catalog tables — the write half of the lakehouse
  * SQL surface ([[graft.sources.GraftCatalog]] is the read half):
  *
  * {{{
  *   DELETE FROM graft.t WHERE cents < 100
  *   UPDATE graft.t SET cents = cents * 2 WHERE cents > 500
  *   MERGE INTO graft.t AS t USING src AS s ON t.id = s.id
  *     WHEN MATCHED AND s.v % 2 = 0 THEN UPDATE SET cents = s.v
  *     WHEN MATCHED THEN DELETE
  *     WHEN NOT MATCHED THEN INSERT (id, cents) VALUES (s.id, s.v)
  *     WHEN NOT MATCHED BY SOURCE THEN DELETE
  *   OPTIMIZE graft.t [ZORDER BY (c1, c2)]
  *   VACUUM graft.t [RETAIN n HOURS]
  *   VACUUM graft.t STAGING [RETAIN n HOURS]   -- lifecycle-dir sweep/report
  *   DESCRIBE HISTORY graft.t
  *   RESTORE TABLE graft.t TO VERSION AS OF 2
  *   RESTORE TABLE graft.t TO TIMESTAMP AS OF '2024-01-01 00:00:00'
  *   SHOW PARTITIONS graft.t
  *   ANALYZE TABLE graft.t COMPUTE STATISTICS [FOR COLUMNS a, b]
  * }}}
  *
  * Architecture: Spark's OWN parser already produces the catalyst
  * `DeleteFromTable`/`UpdateTable`/`MergeIntoTable` commands —
  * [[GraftDmlRule]] (a resolution rule) recognizes the ones whose target
  * is a graft-catalog [[GraftTable]] and lowers them to ONE-commit calls
  * on the existing TxnTable engines (`delete[Dv]`, `update[Dv]`,
  * `mergeMulti`), so SQL and Scala DML share every code path, guard, and
  * scale property. Only OPTIMIZE/VACUUM need [[GraftSqlParser]] (Delta's
  * grammar, not ANSI). Each statement plans through [[GraftDmlStrategy]]
  * into a [[GraftDmlExec]] command node, executes eagerly like every SQL
  * command, and returns its committed version (VACUUM: files removed).
  *
  * Merge-on-read vs copy-on-write: session conf `graft.dml.mor = true`
  * routes DELETE/UPDATE/MERGE through the deletion-vector engines —
  * at 100 TB the difference between committing a few KB of bitmaps and
  * rewriting every touched gigabyte.
  */
object GraftDml {
  /** Resolved-attribute trees re-anchored by NAME: the lowered DataFrame
    * engines re-resolve expressions against their own fresh scans, where
    * foreign exprIds would fail. MERGE keeps the alias qualifier (its
    * join has two sides); single-table DELETE/UPDATE strip qualifiers
    * (the fresh scan has no alias). */
  private[sql] def byName(e: Expression, keepQualifier: Boolean): Expression =
    preNormalize(e).transform {
      case a: AttributeReference =>
        if (keepQualifier) UnresolvedAttribute(a.qualifier.takeRight(1) :+ a.name)
        else UnresolvedAttribute.quoted(a.name)
      case u: UnresolvedAttribute if !keepQualifier && u.nameParts.length > 1 =>
        UnresolvedAttribute.quoted(u.nameParts.last)
    }

  /** Expand constructs whose internals call `dataType` while still
    * unresolved: BETWEEN (parses into a `With` common-subexpression
    * wrapper) expands to its two comparisons, and any remaining `With`
    * inlines its definitions — semantics identical, the re-anchored tree
    * resolves like hand-written predicates. */
  private def preNormalize(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Between, CommonExpressionRef, GreaterThanOrEqual, LessThanOrEqual, With}
    e.transformUp {
      case b: Between =>
        CAnd(GreaterThanOrEqual(b.input, b.lower),
          LessThanOrEqual(b.input, b.upper))
      case w: With =>
        w.child.transformUp {
          case r: CommonExpressionRef =>
            w.defs.find(_.id == r.id).map(_.child).getOrElse(r)
        }
    }
  }
  private[sql] def toColumn(e: Expression, keepQualifier: Boolean = true): Column =
    org.apache.spark.sql.GraftColumnExpr.column(byName(e, keepQualifier))

  /** The SET/VALUES key of an assignment: the target column's last name
    * part (qualifiers like `t.cents` strip to `cents`). */
  private[sql] def keyName(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute => u.nameParts.last
    case other => sys.error(s"unsupported assignment target $other")
  }

  private[sql] def assignMap(as: Seq[Assignment]): Map[String, Column] =
    as.map(a => keyName(a.key) -> toColumn(a.value)).toMap

  /** Session-level merge-on-read switch for SQL DML. */
  private[sql] def mor(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.dml.mor").exists(_.toBoolean)

  /** The alias a MERGE side is known by: the innermost SubqueryAlias
    * name (the `AS t` the user wrote, or the table name). */
  private[sql] def aliasOf(plan: LogicalPlan, fallback: String): String =
    plan match {
      case SubqueryAlias(ident, _) => ident.name
      case _ => fallback
    }

  /** Unwrap a DML target down to its graft table, if it is one. */
  private[sql] def graftTarget(plan: LogicalPlan): Option[GraftTable] =
    plan match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable => Some(t)
        case _ => None
      }
      case _ => None
    }

  private[sql] def versionRow(v: Long): Seq[InternalRow] =
    Seq(new GenericInternalRow(Array[Any](v)))
  private[sql] val versionOut: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
}

/** The lowered command: a leaf logical Command carrying the ready-to-run
  * body. Everything it needs is captured by value/closure, so the node is
  * always resolved and the analyzer leaves it alone. */
final case class GraftDmlCommand(name: String, override val output: Seq[Attribute],
                                 body: () => Seq[InternalRow])
    extends LeafCommand {
  override lazy val resolved: Boolean = true
  override def simpleString(maxFields: Int): String = s"GraftDml $name"
}

final case class GraftDmlExec(cmd: GraftDmlCommand)
    extends V2CommandExec with LeafExecNode {
  override def output: Seq[Attribute] = cmd.output
  override protected def run(): Seq[InternalRow] = cmd.body()
}

case class GraftDmlStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: GraftDmlCommand => GraftDmlExec(c) :: Nil
    case _ => Nil
  }
}

/** Lowers ANSI DML on graft-catalog targets. Fires once the target
  * relation is resolved; conditions/assignments may be resolved or not —
  * [[GraftDml.byName]] normalizes either way. */
case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftDml._

  // Analyzer rules run on EVERY plan analysis — including each
  // intermediate DataFrame a query builds, hundreds per complex query.
  // DML nodes are always Command roots, so everything else exits in one
  // instanceof check instead of paying a full-tree transform per
  // analysis (measured ~0.4 s/query across the bench suite without it).
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: Command => lower(plan)
    case _ => plan
  }

  private def lower(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case d @ DeleteFromTable(target, condition) =>
      graftTarget(target).map { t =>
        val pred = toColumn(condition, keepQualifier = false)
        GraftDmlCommand("delete", versionOut, () => versionRow(
          if (mor(spark)) TxnTable.deleteDv(spark, t.root, pred)
          else TxnTable.delete(spark, t.root, pred)))
      }.getOrElse(d)

    case u @ UpdateTable(target, assignments, condition) =>
      graftTarget(target).map { t =>
        val set = assignments.map(a =>
          keyName(a.key) -> toColumn(a.value, keepQualifier = false)).toMap
        val pred = condition.map(toColumn(_, keepQualifier = false))
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        GraftDmlCommand("update", versionOut, () => versionRow(
          if (mor(spark)) TxnTable.updateDv(spark, t.root, pred, set)
          else TxnTable.update(spark, t.root, pred, set)))
      }.getOrElse(u)

    case m @ MergeIntoTable(target, source, cond,
        matchedActions, notMatchedActions, notMatchedBySourceActions, withSchemaEvolution)
        if source.resolved && graftTarget(target).isDefined =>
      val t = graftTarget(target).get
      val tAlias = aliasOf(target, "t")
      val sAlias = aliasOf(source, "s")
      // WITH SCHEMA EVOLUTION: by the time this rule fires, the analyzer
      // has usually expanded `UPDATE SET *` / `INSERT *` into explicit
      // assignments over the OLD target columns — the new source columns
      // are re-attached here (UpdateAction keeps a fromStar marker;
      // INSERT actions whose assignments cover every target column are
      // star-shaped) and the merge engine widens the schema in the SAME
      // commit. Explicit non-star assignments never auto-extend.
      val targetCols = t.schema().fieldNames.toSet
      val evolveSet: Map[String, Column] =
        if (!withSchemaEvolution) Map.empty
        else source.output.map(_.name).distinct
          .filterNot(targetCols.contains)
          .map(n => n -> org.apache.spark.sql.functions.col(s"$sAlias.$n"))
          .toMap
      def clause(a: MergeAction): MergeClause = a match {
        case UpdateAction(c, assigns, fromStar) =>
          val base = assignMap(assigns)
          MergeClause.Update(c.map(toColumn(_)),
            if (fromStar) base ++ evolveSet else base)
        case UpdateStarAction(c) => MergeClause.UpdateAll(c.map(toColumn(_)))
        case DeleteAction(c) => MergeClause.Delete(c.map(toColumn(_)))
        case InsertAction(c, assigns) =>
          val base = assignMap(assigns)
          // an analyzer-expanded INSERT * assigns every target column from
          // the SAME-NAMED bare source attribute; an explicit column list
          // that computes values (or skips a column) is NOT a star and
          // must not auto-populate evolved columns (Delta semantics: only
          // star actions pick up new source columns). KNOWN AMBIGUITY: an
          // explicit list that covers every target column with bare
          // same-name source refs — `INSERT (a, b) VALUES (s.a, s.b)` —
          // expands to the IDENTICAL tree as `INSERT *` by the time the
          // analyzer hands it to extension rules (only UpdateAction
          // carries a fromStar marker), so it is treated as a star and
          // evolved columns append; spell any value as an expression
          // (`s.a + 0`) to opt out.
          // name compare honors the session's case sensitivity (the
          // analyzer resolves `a` against source column `A` under the
          // default insensitive resolver), and an implicit Cast/UpCast
          // the expansion wraps around a bare ref is still a bare ref
          val caseSensitive = spark.conf
            .get("spark.sql.caseSensitive", "false").toBoolean
          def sameName(a: String, b: String): Boolean =
            if (caseSensitive) a == b else a.equalsIgnoreCase(b)
          @scala.annotation.tailrec
          def bareRefName(e: Expression): Option[String] = e match {
            case ar: AttributeReference => Some(ar.name)
            case u: UnresolvedAttribute => Some(u.nameParts.last)
            case c: org.apache.spark.sql.catalyst.expressions.Cast =>
              bareRefName(c.child)
            case c: org.apache.spark.sql.catalyst.expressions.UpCast =>
              bareRefName(c.child)
            case _ => None
          }
          val starShaped = targetCols.forall(base.contains) &&
            assigns.forall(a =>
              bareRefName(a.value).exists(sameName(_, keyName(a.key))))
          MergeClause.Insert(c.map(toColumn(_)),
            if (starShaped) base ++ evolveSet else base)
        case InsertStarAction(c) => MergeClause.InsertAll(c.map(toColumn(_)))
        case other => sys.error(s"unsupported MERGE action $other")
      }
      val (mc, nc, nbc) = (matchedActions.map(clause),
        notMatchedActions.map(clause), notMatchedBySourceActions.map(clause))
      val mergeCond = toColumn(cond)
      // capture the ANALYZED source subtree; the body materializes it as
      // a DataFrame at execution time (ofRows re-analyzes idempotently)
      GraftDmlCommand("merge", versionOut, () => versionRow(
        TxnTable.mergeMulti(spark, t.root,
          org.apache.spark.sql.GraftColumnExpr.ofRows(spark, source),
          mergeCond, matched = mc, notMatched = nc, notMatchedBySource = nbc,
          targetAlias = tAlias, sourceAlias = sAlias, mor = mor(spark),
          schemaEvolution = withSchemaEvolution)))
  }
}

/** Parser extension for the non-ANSI lakehouse statements (the
  * open-lakehouse grammar): `OPTIMIZE tbl [ZORDER BY (c1, ...)]`,
  * `VACUUM tbl [RETAIN n HOURS]`, `DESCRIBE HISTORY tbl`, and
  * `RESTORE [TABLE] tbl TO VERSION AS OF n`. Everything else delegates
  * verbatim. */
class GraftSqlParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  import GraftDml._

  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([\w`.]+)\s*(?:ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+([\w`.]+)\s*(?:RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*""".r
  private val VacuumStagingRe =
    """(?is)\s*VACUUM\s+([\w`.]+)\s+STAGING\s*(?:RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([\w`.]+)\s*;?\s*""".r
  private val DetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([\w`.]+)\s*;?\s*""".r
  private val ShowCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+([\w`.]+)\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w`.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w`.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val ShowPartitionsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+([\w`.]+)\s*;?\s*""".r
  private val AnalyzeRe =
    """(?is)\s*ANALYZE\s+TABLE\s+([\w`.]+)\s+COMPUTE\s+STATISTICS\s*(?:FOR\s+COLUMNS\s+([\w`,\s]+?))?\s*;?\s*""".r

  /** Resolve a multipart identifier whose head is a catalog configured to
    * [[graft.sources.GraftCatalog]] down to the table root directory,
    * mirroring the catalog's own mapping. None = not a graft table (the
    * statement is not ours — fail like the delegate would). */
  private def rootOf(table: String): Option[String] = {
    val parts = delegate.parseMultipartIdentifier(table)
    if (parts.length < 2) return None
    val cat = parts.head
    val impl = spark.conf.getOption(s"spark.sql.catalog.$cat")
    if (!impl.contains(classOf[graft.sources.GraftCatalog].getName)) return None
    val key = parts.tail.mkString(".")
    Some(spark.conf.getOption(s"graft.catalog.path.$key").getOrElse {
      val base = spark.conf.getOption(s"spark.sql.catalog.$cat.root")
        .getOrElse(sys.error(
          s"graft catalog: no mapping for '$key' — set graft.catalog.path.$key"))
      parts.tail.foldLeft(base)(_ + "/" + _)
    })
  }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case OptimizeRe(table, zcols) =>
      rootOf(table).map { root =>
        val cols = Option(zcols).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        GraftDmlCommand("optimize", versionOut, () => versionRow(
          cols match {
            case Some(z) => TxnTable.optimizeZorderBy(spark, root, z,
              targetPartitions = math.max(1,
                spark.sparkContext.defaultParallelism / 4))
            case None => TxnTable.optimize(spark, root)
          }))
      }.getOrElse(delegate.parsePlan(sqlText))
    case HistoryRe(table) =>
      rootOf(table).map { root =>
        val out = Seq(
          AttributeReference("version", LongType, nullable = false)(),
          AttributeReference("timestamp", StringType, nullable = true)(),
          AttributeReference("operation", StringType, nullable = false)(),
          AttributeReference("num_added_files", LongType, nullable = false)(),
          AttributeReference("num_removed_files", LongType, nullable = false)(),
          AttributeReference("num_change_files", LongType, nullable = false)())
        GraftDmlCommand("describe-history", out, () =>
          TxnTable.historySummary(spark, root).collect().toSeq.map(r =>
            new GenericInternalRow(Array[Any](r.getLong(0),
              UTF8String.fromString(r.getTimestamp(1).toString),
              UTF8String.fromString(r.getString(2)),
              r.getInt(3).toLong, r.getInt(4).toLong, r.getInt(5).toLong))))
      }.getOrElse(delegate.parsePlan(sqlText))
    case DetailRe(table) =>
      rootOf(table).map { root =>
        val out = Seq(
          AttributeReference("version", LongType, nullable = false)(),
          AttributeReference("num_files", LongType, nullable = false)(),
          AttributeReference("size_bytes", LongType, nullable = false)(),
          AttributeReference("num_records", LongType, nullable = false)(),
          AttributeReference("partition_columns", StringType, nullable = false)(),
          AttributeReference("schema", StringType, nullable = false)())
        GraftDmlCommand("describe-detail", out, () =>
          // column parity with the Scala TxnTable.detail, by construction
          TxnTable.detail(spark, root).collect().toSeq.map(r =>
            new GenericInternalRow(Array[Any](
              r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
              UTF8String.fromString(r.getString(4)),
              UTF8String.fromString(r.getString(5))))))
      }.getOrElse(delegate.parsePlan(sqlText))
    case ShowCreateRe(table) =>
      rootOf(table).map { root =>
        val out = Seq(
          AttributeReference("createtab_stmt", StringType, nullable = false)())
        GraftDmlCommand("show-create-table", out, () => Seq(
          new GenericInternalRow(Array[Any](UTF8String.fromString(
            TxnTable.showCreate(root, table))))))
      }.getOrElse(delegate.parsePlan(sqlText))
    case RestoreRe(table, version) =>
      rootOf(table).map { root =>
        GraftDmlCommand("restore", versionOut, () => versionRow(
          TxnTable.restore(spark, root, version.toLong)))
      }.getOrElse(delegate.parsePlan(sqlText))
    case RestoreTsRe(table, ts) =>
      rootOf(table).map { root =>
        GraftDmlCommand("restore", versionOut, () => versionRow(
          TxnTable.restore(spark, root,
            TxnTable.versionAsOf(root, GraftSqlParser.parseTsMillis(ts)))))
      }.getOrElse(delegate.parsePlan(sqlText))
    case ShowPartitionsRe(table) =>
      rootOf(table).map { root =>
        // Spark's SHOW PARTITIONS shape: one `partition` string per live
        // hive path (`a=1/b=x`), in partition-column order — computed from
        // the live adds' partitionValues metadata, zero data I/O
        val out = Seq(
          AttributeReference("partition", StringType, nullable = false)())
        GraftDmlCommand("show-partitions", out, () =>
          // column parity with the Scala TxnTable.showPartitions
          TxnTable.showPartitions(root)
            .map(s => new GenericInternalRow(Array[Any](UTF8String.fromString(s)))))
      }.getOrElse(delegate.parsePlan(sqlText))
    case AnalyzeRe(table, colList) =>
      rootOf(table).map { root =>
        val cols = Option(colList).map(_.split(',').toSeq
          .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
        val out = Seq(
          AttributeReference("column", StringType, nullable = false)(),
          AttributeReference("distinct_count_est", LongType, nullable = false)())
        GraftDmlCommand("analyze", out, () =>
          // column parity with the Scala TxnTable.analyze
          TxnTable.analyze(spark, root, cols).toSeq.sortBy(_._1).map {
            case (c, n) => new GenericInternalRow(Array[Any](
              UTF8String.fromString(c), n))
          })
      }.getOrElse(delegate.parsePlan(sqlText))
    case VacuumStagingRe(table, hours) =>
      rootOf(table).map { root =>
        val retainMs = Option(hours).map(_.toLong).getOrElse(168L) * 3600L * 1000L
        val out = Seq(
          AttributeReference("kind", StringType, nullable = false)(),
          AttributeReference("path", StringType, nullable = false)(),
          AttributeReference("bytes", LongType, nullable = false)(),
          AttributeReference("reclaimed", org.apache.spark.sql.types.BooleanType,
            nullable = false)())
        GraftDmlCommand("vacuum-staging", out, () =>
          TxnTable.sweepStaging(root, System.currentTimeMillis() - retainMs)
            .map(e => new GenericInternalRow(Array[Any](
              UTF8String.fromString(e.kind), UTF8String.fromString(e.path),
              e.bytes, e.reclaimed))))
      }.getOrElse(delegate.parsePlan(sqlText))
    case VacuumRe(table, hours) =>
      rootOf(table).map { root =>
        val retainMs = Option(hours).map(_.toLong).getOrElse(168L) * 3600L * 1000L
        GraftDmlCommand("vacuum",
          Seq(AttributeReference("files_deleted", LongType, nullable = false)()),
          () => Seq(new GenericInternalRow(Array[Any](
            TxnTable.vacuum(root, System.currentTimeMillis() - retainMs)
              .length.toLong))))
      }.getOrElse(delegate.parsePlan(sqlText))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String) =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String) =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  /** `TIMESTAMP AS OF` literal → epoch millis. Accepts an ISO instant
    * (`2024-01-01T00:00:00Z`), the SQL timestamp shape
    * (`2024-01-01 00:00:00[.fff]`), or a bare date (`2024-01-01`,
    * midnight) — the non-instant shapes read as UTC wall time, since
    * graft sessions pin `spark.sql.session.timeZone=UTC`, matching the
    * catalog's `TIMESTAMP AS OF` resolution. Anything else fails with
    * the accepted formats named, not a raw parse exception. */
  private[sql] def parseTsMillis(s: String): Long =
    try java.time.Instant.parse(s).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException =>
      val t = if (s.contains(" ")) s.replaceFirst(" ", "T") else s
      try java.time.LocalDateTime.parse(t)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      catch { case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDate.parse(t).atStartOfDay
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        catch { case _: java.time.format.DateTimeParseException =>
          sys.error(s"TIMESTAMP AS OF: cannot parse '$s' — use an ISO " +
            "instant, 'yyyy-MM-dd HH:mm:ss[.fff]', or 'yyyy-MM-dd' (UTC)")
        }
      }
    }
}
