package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction => UFn}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** [[TxnTable]] concern module — METADATA: commit history reads,
  * snapshot-derived schema/config reads, CHECK constraints, and the
  * metadata-only evolutions (rename/drop via name-mode column mapping,
  * type widening, generated columns). */
private[sources] trait TxnMetaOps { self: TxnTable.type =>
  private[sources] def readCommit(root: String, v: Long): Commit = {
    val lines = commitLines(root, v)
    val info = lines.find(_.contains("commitInfo")).map(_("commitInfo")
      .asInstanceOf[Map[String, Any]])
      .getOrElse(sys.error(s"version $v of $root has no commitInfo"))
    val op = info.get("operation").collect { case s: String => s }.getOrElse("?")
    val acts = lines.flatMap { line =>
      val (kind, body) = line.head
      val m = body.asInstanceOf[Map[String, Any]]
      kind match {
        case "add" => Some(Action(v, op, "add", addOf(m).add))
        case "remove" => Some(Action(v, op, "remove", AddFile(
          m("path").asInstanceOf[String], 0L, None, dv = obj(m, "deletionVector").map(dvOf))))
        case "cdc" => Some(Action(v, op, "cdc", AddFile(
          m("path").asInstanceOf[String], num(m, "size").getOrElse(0L), None)))
        case _ => None
      }
    }
    Commit(op, info("timestamp").asInstanceOf[BigDecimal].toLongExact, acts)
  }

  /** File actions up to and including `asOf` (whole log when < 0). */
  private[sources] def actions(root: String, asOf: Long): Seq[Action] =
    versions(root).filter(v => asOf < 0 || v <= asOf).flatMap(readCommit(root, _).actions)

  /** One committed version's (op, added files, change-data files,
    * rewrites-data?) — the streaming tail's planning unit. A version with
    * removes under a data-changing op REWRITES rows; an append-only
    * consumer must balk, a change-feed consumer reads the cdc files. */
  private[sources] def commitActions(root: String, v: Long): (String, Seq[AddFile], Seq[AddFile], Boolean) = {
    val c = readCommit(root, v)
    (c.op,
      c.actions.collect { case Action(_, _, "add", a) => a },
      c.actions.collect { case Action(_, _, "cdc", a) => a },
      c.actions.exists(_.action == "remove"))
  }

  /** Table schema + partition columns for external consumers (the tail
    * source); see [[readMeta]]. */
  private[sources] def tableMeta(root: String): Option[(StructType, Seq[String])] =
    readMeta(root)

  private[sources] def liveFiles(root: String, asOf: Long): Seq[(String, Long)] =
    liveAdds(root, asOf).map(a => (a.file, a.bytes))

  /** Test observability: the live adds with their stats/bloom/DV payloads. */
  private[graft] def liveAddsForTest(root: String, asOf: Long = -1L): Seq[AddFile] =
    liveAdds(root, asOf)

  private[sources] def liveAdds(root: String, asOf: Long): Seq[AddFile] =
    snapshot(root, asOf).live

  /** Schema + partition columns as of `asOf` (−1 = latest): the latest
    * metaData action at or below it — schema evolution re-emits metaData
    * at the evolving commit; older versions keep their own schema under
    * time travel. None for an empty root. */
  private[sources] def readMeta(root: String, asOf: Long = -1L): Option[(StructType, Seq[String])] =
    snapshot(root, asOf).meta.map(m => (m.schema, m.partitionColumns))

  /** Latest metaData configuration (constraints, properties, features). */
  private[sources] def readTableConfig(root: String): Map[String, String] =
    snapshot(root).config

  private[sources] val ConstraintPrefix = "delta.constraints."

  /** The table's CHECK constraints (name → SQL expression). */
  def constraints(root: String): Map[String, String] =
    readTableConfig(root).collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** ADD a CHECK constraint: validates the CURRENT snapshot satisfies
    * `exprSql` (Delta's rule — a constraint the data already violates is
    * refused), then commits it as metaData configuration
    * (`delta.constraints.<name>`, writer feature level 3 per the
    * protocol). Every subsequent data write validates its batch; a
    * violating batch is refused BEFORE anything commits. NULL passes, as
    * in SQL CHECK. */
  def setConstraint(spark: SparkSession, root: String,
                    name: String, exprSql: String): Long = casRetry("setConstraint") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val bad = read(spark, root)
      .filter(coalesce(expr(exprSql).cast("boolean"), lit(true)) === lit(false))
      .limit(1).count()
    require(bad == 0,
      s"existing rows violate CHECK constraint $name ($exprSql); not adding")
    val (schema, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData to attach a constraint to"))
    val cfg = readTableConfig(root) + (ConstraintPrefix + name -> exprSql)
    commit(root, v, s"set-constraint#$name", Seq.empty, Seq.empty,
      schemaJson = Some(schema.json), dataChange = false, partCols = pcs,
      extraConfig = Some(cfg))
    v
  }

  /** Set (or overwrite) one table property — a metadata-only commit, the
    * TBLPROPERTIES surface (`ALTER TABLE ... SET TBLPROPERTIES` lowers
    * here). Engine-managed keys (constraints, clustering, DV enablement)
    * have dedicated APIs; this is the user-property channel they share a
    * config map with. */
  def setTableProperty(root: String, key: String, value: String): Long =
    casRetry("setProperty") {
      val v = latestVersion(root) + 1
      require(v > 0, s"$root is not a TxnTable (no _delta_log)")
      val (schema, pcs) = readMeta(root).getOrElse(
        sys.error(s"$root has no metaData"))
      commit(root, v, s"set-property#$key", Seq.empty, Seq.empty,
        schemaJson = Some(schema.json), dataChange = false, partCols = pcs,
        extraConfig = Some(readTableConfig(root) + (key -> value)))
      v
    }

  /** ANALYZE: estimate per-column NDV over the CURRENT snapshot and
    * persist it for the cost-based optimizer. Parquet footers carry
    * min/max/nullCount but no distinct counts, and Catalyst's
    * FilterEstimation refuses both equality AND range estimation without
    * an NDV — so integral columns get a closed-form range bound at scan
    * time, and every other type needs THIS command (exactly Spark's own
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` division of
    * labor). One aggregation pass computes every requested column's
    * HLL++ estimate together (`approx_count_distinct`, rsd 0.05 —
    * mergeable partials, so the pass is one scan + one tiny shuffle at
    * any scale); results persist as engine config keyed by PHYSICAL
    * column name (`graft.stats.ndv.<phys>`, stable across renames) in a
    * metadata-only commit, latest-wins like every config. The scan folds
    * them capped at the live non-null row count, so stats stay sound
    * under deletes and merely stale under appends (re-run to refresh —
    * `graft.stats.analyzedVersion` records the basis).
    * Returns (logical column name → estimated NDV). */
  def analyze(spark: SparkSession, root: String,
              cols: Option[Seq[String]] = None): Map[String, Long] = {
    val (schema, _) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData"))
    cols.foreach(_.foreach(c => require(
      schema.fields.exists(_.name.equalsIgnoreCase(c)),
      s"ANALYZE: no such column '$c' in ${schema.fieldNames.mkString(", ")}")))
    val targets = schema.fields
      .filter(f => cols.forall(_.exists(_.equalsIgnoreCase(f.name))))
      .filter(_.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false // unused by estimation
        case _ => true
      }).toSeq
    require(targets.nonEmpty, "ANALYZE: no analyzable (atomic) columns selected")
    val basis = latestVersion(root)
    val aggs = targets.map(f => approx_count_distinct(col(f.name)).as(f.name))
    val row = read(spark, root).agg(aggs.head, aggs.tail: _*).head()
    val ndv = targets.zipWithIndex.map { case (f, i) =>
      f.name -> row.getLong(i) }.toMap
    val physOf = targets.map(f => f.name ->
      (if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
       else f.name)).toMap
    casRetry("analyze") {
      val v = latestVersion(root) + 1
      val (sch, pcs) = readMeta(root).getOrElse(sys.error(s"$root has no metaData"))
      val cfg = readTableConfig(root) ++
        ndv.map { case (n, d) => s"$NdvKeyPrefix${physOf(n)}" -> d.toString } +
        ("graft.stats.analyzedVersion" -> basis.toString)
      commit(root, v, "analyze", Seq.empty, Seq.empty,
        schemaJson = Some(sch.json), dataChange = false, partCols = pcs,
        extraConfig = Some(cfg))
    }
    ndv
  }

  private[sources] val NdvKeyPrefix = "graft.stats.ndv."

  /** Remove one table property (metadata-only commit); absent keys no-op. */
  def removeTableProperty(root: String, key: String): Long =
    casRetry("removeProperty") {
      val v = latestVersion(root) + 1
      require(v > 0, s"$root is not a TxnTable (no _delta_log)")
      val (schema, pcs) = readMeta(root).getOrElse(
        sys.error(s"$root has no metaData"))
      commit(root, v, s"remove-property#$key", Seq.empty, Seq.empty,
        schemaJson = Some(schema.json), dataChange = false, partCols = pcs,
        extraConfig = Some(readTableConfig(root) - key))
      v
    }

  /** DROP a CHECK constraint (metadata-only commit). */
  def dropConstraint(root: String, name: String): Long = casRetry("dropConstraint") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    require(constraints(root).contains(name), s"no CHECK constraint $name")
    val (schema, pcs) = readMeta(root).getOrElse(sys.error("no metaData"))
    commit(root, v, s"drop-constraint#$name", Seq.empty, Seq.empty,
      schemaJson = Some(schema.json), dataChange = false, partCols = pcs,
      extraConfig = Some(readTableConfig(root) - (ConstraintPrefix + name)))
    v
  }

  /** Refuse a batch that violates any CHECK constraint — ONE combined
    * pass naming every violated constraint, run BEFORE the data files are
    * written so a bad batch never commits (and never orphans files). */
  private[sources] def validateConstraints(df: DataFrame, root: String): Unit = {
    val cs = constraints(root)
    // generated columns validate like constraints: one combined pass,
    // null-safe equality (g <=> expr), refused before anything commits
    val gens = readMeta(root).map(m => generationMap(m._1)).getOrElse(Map.empty)
      .filter { case (g, _) => df.columns.contains(g) }
    if (cs.isEmpty && gens.isEmpty) return
    val flags = cs.toSeq.sortBy(_._1).map { case (n, ex) =>
      when(coalesce(expr(ex).cast("boolean"), lit(true)) === lit(false), lit(n))
    } ++ gens.toSeq.sortBy(_._1).map { case (g, ex) =>
      when(!(col(g) <=> expr(ex)), lit(s"generated($g)"))
    }
    val bad = df
      .select(filter(array(flags: _*), c => c.isNotNull).as("violated"))
      .filter(size(col("violated")) > 0)
      .limit(1).collect()
    require(bad.isEmpty,
      s"batch violates CHECK constraint(s) / generation rule(s) " +
        s"${bad.head.getSeq[String](0).mkString(", ")} — nothing was committed")
  }

  /** Nullability-normalized type for shape comparison: `containsNull` is a
    * nullability bit, not a shape — an array batch built from non-null
    * literals must still append into an `ARRAY<t>` table column. */
  private[sources] def shapeType(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(shapeType(et), containsNull = true)
    case other => other
  }

  /** Same column names and types, order- and nullability-insensitive. */
  private[sources] def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, shapeType(f.dataType))).sortBy(_._1).toSeq ==
      b.fields.map(f => (f.name, shapeType(f.dataType))).sortBy(_._1).toSeq

  // ---- column mapping (metadata-only rename) --------------------------------
  // The open protocol's name-mode column mapping
  // (delta.columnMapping.mode=name): parquet files keep a STABLE physical
  // column name recorded in per-field schema metadata; a logical rename
  // only rewrites the schemaString — zero data bytes at any table size.
  // physicalName defaults to the field name when no mapping metadata is
  // present, so pre-mapping tables and files cost nothing.

  private[sources] val PhysNameKey = "delta.columnMapping.physicalName"
  private[sources] val ColIdKey = "delta.columnMapping.id"

  private[sources] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else f.name

  /** logical → physical map, EMPTY when the identity holds (fast path). */
  private[sources] def colMapping(schema: StructType): Map[String, String] =
    schema.fields.iterator.map(f => f.name -> physicalName(f))
      .filter { case (l, p) => l != p }.toMap

  /** Rewrite predicate attribute names logical → physical so file-stats /
    * bloom pruning keys match what the footers were written with. */
  private[sources] def mapPredNames(e: Expression,
                           nameMap: Map[String, String]): Expression =
    if (nameMap.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if nameMap.contains(a.name) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(nameMap(a.name)))
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if nameMap.contains(a.name) => a.withName(nameMap(a.name))
    }

  /** RENAME a column — metadata-only (no data rewrite). The first rename
    * upgrades the table to name-mode column mapping: every field is
    * stamped with its CURRENT name as `physicalName` plus a stable column
    * id (existing files already carry those physical names, so they keep
    * reading), the config records the mode, and the log's protocol
    * upgrades to reader 2 / writer 5 (the mapping level, delta.io
    * PROTOCOL.md). Refused for partition columns (their name is
    * path-encoded in the hive layout), for columns referenced by CHECK
    * constraints (the stored SQL would silently stop matching rows), and
    * for collisions. Time travel below the rename reads with that
    * version's own names. */
  def renameColumn(spark: SparkSession, root: String,
                   oldName: String, newName: String): Long = casRetry("renameColumn") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val (schema, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData to rename in"))
    require(schema.fieldNames.contains(oldName), s"no column $oldName")
    require(!schema.fieldNames.contains(newName),
      s"column $newName already exists")
    // a hive layout path-encodes partition column NAMES — renaming one
    // would orphan every existing directory; data columns rename fine
    // (both writers and both readers speak physical names)
    require(!pcs.contains(oldName),
      s"renaming partition column $oldName is not supported (path-encoded)")
    val offending = constraints(root).filter { case (_, sql) =>
      sql.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(oldName)}\\b.*") }
    require(offending.isEmpty,
      s"column $oldName is referenced by CHECK constraint(s) " +
        s"${offending.keys.mkString(", ")}; drop them first")
    // a generation expression stores its SOURCE column by name — renaming
    // the source would silently break the rule (and its derived pruning)
    val genOffending = generationMap(schema).filter { case (_, sql) =>
      sql.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(oldName)}\\b.*") }
    require(genOffending.isEmpty,
      s"column $oldName is referenced by generation expression(s) of " +
        s"${genOffending.keys.mkString(", ")}")
    val stamped = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      val b = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      if (!f.metadata.contains(PhysNameKey)) b.putString(PhysNameKey, f.name)
      if (!f.metadata.contains(ColIdKey)) b.putLong(ColIdKey, i + 1L)
      f.copy(metadata = b.build())
    })
    val renamed = StructType(stamped.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // config that NAMES columns renames with them: a stale
    // delta.clusteringColumns entry would make the next optimizeCluster
    // pass fail on a column that no longer exists
    val cfg0 = readTableConfig(root)
    val cfg1 = cfg0.get(ClusteringKey) match {
      case Some(cols) => cfg0 + (ClusteringKey ->
        cols.split(',').map(c => if (c == oldName) newName else c).mkString(","))
      case None => cfg0
    }
    val cfg = cfg1 +
      ("delta.columnMapping.mode" -> "name") +
      ("delta.columnMapping.maxColumnId" -> renamed.fields.length.toString)
    commit(root, v, s"rename-column#$oldName", Seq.empty, Seq.empty,
      schemaJson = Some(renamed.json), dataChange = false, partCols = pcs,
      extraConfig = Some(cfg))
    v
  }

  /** DROP a column — metadata-only (zero data bytes rewritten), the
    * column-mapping twin of [[renameColumn]]: the first drop upgrades the
    * table to name-mode mapping (every remaining field keeps its CURRENT
    * name as its stable physical name), then the schema simply loses the
    * field. Existing files keep the dropped column's bytes — invisible to
    * every read (scans project the logical schema only) and reclaimed by
    * the next rewrite; time travel below the drop RESTORES the column
    * (each version reads under its own schema). A later re-add of the
    * same logical name gets a FRESH physical name ([[stampEvolved]]), so
    * the old bytes can never leak into it. Refused for partition columns
    * (path-encoded), clustering columns, columns referenced by CHECK
    * constraints or generation expressions, and the last column. */
  /** ADD a nullable column — metadata-only (the explicit-DDL twin of
    * [[appendEvolve]]'s on-write evolution): the schema gains the field,
    * every existing file simply lacks it and reads back null. On a
    * name-mapped table the new column takes a FRESH physical name off
    * the maxColumnId counter, so it can never alias a dropped column's
    * leftover bytes. */
  def addColumn(spark: SparkSession, root: String,
                colName: String, dt: DataType): Long = casRetry("addColumn") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val (schema, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData to add to"))
    require(!schema.fieldNames.contains(colName),
      s"column $colName already exists")
    val (stamped, cfgUp) = stampEvolved(root,
      StructType(schema.fields :+ StructField(colName, dt, nullable = true)))
    commit(root, v, s"add-column#$colName", Seq.empty, Seq.empty,
      schemaJson = Some(stamped.json), dataChange = false, partCols = pcs,
      extraConfig = cfgUp)
    v
  }

  def dropColumn(spark: SparkSession, root: String,
                 colName: String): Long = casRetry("dropColumn") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val (schema, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData to drop from"))
    require(schema.fieldNames.contains(colName), s"no column $colName")
    require(schema.fields.length > 1, s"cannot drop the last column $colName")
    require(!pcs.contains(colName),
      s"dropping partition column $colName is not supported (path-encoded)")
    val cfg0 = readTableConfig(root)
    require(!cfg0.get(ClusteringKey).exists(_.split(',').contains(colName)),
      s"column $colName is a clustering column; clear clustering first")
    val offending = constraints(root).filter { case (_, sql) =>
      sql.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(colName)}\\b.*") }
    require(offending.isEmpty,
      s"column $colName is referenced by CHECK constraint(s) " +
        s"${offending.keys.mkString(", ")}; drop them first")
    val genOffending = generationMap(schema).filter { case (n, sql) =>
      n == colName ||
        sql.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(colName)}\\b.*") }
    require(genOffending.isEmpty,
      s"column $colName is part of generation expression(s) of " +
        s"${genOffending.keys.mkString(", ")}")
    val stamped = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      val b = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      if (!f.metadata.contains(PhysNameKey)) b.putString(PhysNameKey, f.name)
      if (!f.metadata.contains(ColIdKey)) b.putLong(ColIdKey, i + 1L)
      f.copy(metadata = b.build())
    })
    val dropped = StructType(stamped.fields.filterNot(_.name == colName))
    val maxId = stamped.fields.map(_.metadata.getLong(ColIdKey)).max
      .max(cfg0.get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L))
    val cfg = cfg0 +
      ("delta.columnMapping.mode" -> "name") +
      ("delta.columnMapping.maxColumnId" -> maxId.toString)
    commit(root, v, s"drop-column#$colName", Seq.empty, Seq.empty,
      schemaJson = Some(dropped.json), dataChange = false, partCols = pcs,
      extraConfig = Some(cfg))
    v
  }

  // ---- type widening (metadata-only type evolution) --------------------------
  // The open protocol's typeWidening table feature: a column that outgrows
  // its type changes by SCHEMA METADATA ALONE — existing files keep their
  // narrow physical type and the parquet readers up-convert at scan time
  // (Spark's readers promote int→long / float→double / decimal scale-ups
  // natively), new files write the wide type. Without this, the first
  // INT column to cross 2^31 on a long-lived table forces a full rewrite —
  // at 100 TB the same class of cost deletion vectors eliminate for DELETE.

  /** The widenings the parquet scan applies losslessly at read time. */
  private[graft] def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType)            => true
    case (IntegerType, LongType)                        => true
    case (FloatType, DoubleType)                        => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale &&
        (t.precision > f.precision || t.scale > f.scale)
    case _ => false
  }

  /** Per-field metadata key recording this column's type-change history
    * (Delta's `delta.typeChanges`). */
  private[sources] val TypeChangesKey = "delta.typeChanges"

  /** WIDEN a column's type — metadata-only (zero data bytes rewritten).
    * Allowed changes are the lossless promotions the parquet readers apply
    * at scan time ([[widens]]): byte→short→int→long, float→double, and
    * decimal precision/scale growth that keeps every old value exact.
    * The field records its change history under `delta.typeChanges`, the
    * config records `delta.enableTypeWidening`, and the log's protocol
    * lists the typeWidening table feature. Appends after the widen must
    * carry the WIDE type; time travel below it keeps the narrow type
    * (each version reads under its own schema). Refused for partition
    * columns (their values are path-encoded under the narrow parse) and
    * for any non-widening change — the add-only evolution rule stands for
    * everything else. */
  def widenColumn(spark: SparkSession, root: String,
                  colName: String, to: DataType): Long = casRetry("widenColumn") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val (schema, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData to widen in"))
    val f = schema.fields.find(_.name == colName).getOrElse(
      sys.error(s"no column $colName"))
    require(!pcs.contains(colName),
      s"widening partition column $colName is not supported (path-encoded)")
    require(widens(f.dataType, to),
      s"column $colName: ${f.dataType.simpleString} -> ${to.simpleString} " +
        "is not a supported lossless widening")
    val history = (if (f.metadata.contains(TypeChangesKey))
      f.metadata.getString(TypeChangesKey).stripSuffix("]") + ","
    else "[") +
      s"""{"fromType":"${f.dataType.typeName}","toType":"${to.typeName}"}]"""
    val widened = StructType(schema.fields.map { g =>
      if (g.name != colName) g
      else g.copy(dataType = to, metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(g.metadata).putString(TypeChangesKey, history).build())
    })
    val cfg = readTableConfig(root) + ("delta.enableTypeWidening" -> "true")
    commit(root, v, s"widen-column#$colName", Seq.empty, Seq.empty,
      schemaJson = Some(widened.json), dataChange = false, partCols = pcs,
      extraConfig = Some(cfg))
    v
  }

  /** Declare `colName` as GENERATED: `colName <=> (exprSql)` must hold on
    * every row — validated on the CURRENT snapshot first (a rule the data
    * already violates is refused, Delta's contract), then on every
    * subsequent batch alongside the CHECK constraints. The payoff is
    * [[deriveGenConjuncts]]: for the monotonic forms (`src div N`,
    * `date_format(src, 'yyyy[-MM[-dd]]')`, `substring(src, 1, n)`) a
    * predicate on the SOURCE column prunes the generated column's
    * PARTITIONS — `ts >= X` drops day directories the user never named.
    * Records Delta's generationExpression field metadata + legacy writer
    * version 4 in the log. */
  def setGeneratedColumn(spark: SparkSession, root: String,
                         colName: String, exprSql: String): Long = casRetry("setGeneratedColumn") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val (schema, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData to declare a generated column in"))
    require(schema.fieldNames.contains(colName), s"no column $colName")
    require(!exprSql.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(colName)}\\b.*"),
      s"generation expression for $colName must not reference itself")
    val bad = read(spark, root)
      .filter(!(col(colName) <=> expr(exprSql))).limit(1).count()
    require(bad == 0,
      s"existing rows violate $colName = $exprSql; not declaring")
    val stamped = StructType(schema.fields.map { f =>
      if (f.name != colName) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putString(GenExprKey, exprSql).build())
    })
    val gens = (generationMap(stamped).keys.toSeq.sorted).mkString(",")
    val cfg = readTableConfig(root) + ("graft.generatedColumns" -> gens)
    commit(root, v, s"set-generated#$colName", Seq.empty, Seq.empty,
      schemaJson = Some(stamped.json), dataChange = false, partCols = pcs,
      extraConfig = Some(cfg))
    v
  }

  private[sources] def requireUnpartitioned(root: String, what: String): Unit =
    readMeta(root).foreach { case (_, pcs) =>
      require(pcs.isEmpty,
        s"$what on a PARTITIONED TxnTable is not supported " +
          s"(partition columns: ${pcs.mkString(", ")})")
    }

}
