package graft.sources

import java.util.{Map => JMap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft` — a DataSource V2 [[TableCatalog]] serving [[TxnTable]]
  * snapshots to the SQL surface. Registered per session via
  * `spark.sql.catalog.graft = graft.sources.GraftCatalog`, after which a
  * user's first touch of the lakehouse is plain SQL — the way the
  * reference's analytics tier consumes tables (ref: README.md:115-121,
  * Trino virtual datasets over registered tables):
  *
  * {{{
  *   SELECT ... FROM graft.events_tbl                      -- latest snapshot
  *   SELECT ... FROM graft.events_tbl VERSION AS OF 2      -- time travel
  *   SELECT ... FROM graft.events_tbl TIMESTAMP AS OF '...'
  *   INSERT INTO graft.events_tbl SELECT ...               -- append commit
  *   INSERT OVERWRITE graft.events_tbl SELECT ...          -- overwrite commit
  *   ALTER TABLE graft.events_tbl RENAME COLUMN a TO b     -- metadata-only
  * }}}
  *
  * Identifier → table-root mapping (session-conf driven, so notebooks and
  * tests can mount any directory without a metastore):
  *  - `graft.catalog.path.<name> = /abs/path` mounts one table explicitly;
  *  - else `spark.sql.catalog.graft.root = /base` resolves `graft.ns.t`
  *    to `/base/ns/t`.
  *
  * Snapshot isolation: [[GraftCatalog.loadTable]] PINS the version at
  * resolution time, so one query never reads half of a concurrent commit —
  * the same guarantee [[TxnTable.readVersion]] gives the Scala API.
  * `VERSION AS OF` / `TIMESTAMP AS OF` route through Spark's native
  * time-travel analysis to the two-arg `loadTable` overloads.
  *
  * Scale: planning folds ONLY commit metadata (O(files) driver work, same
  * as every TxnTable read); data skipping reuses the one pruning engine
  * ([[TxnTable.pruneAdds]] — min/max stats, partition values, per-file
  * Bloom filters, generated-column derivation) against the filters Spark
  * pushes into the scan, so a selective SQL predicate opens the same file
  * set the Scala `readWhere` would. Surviving files split into byte ranges
  * at `spark.sql.files.maxPartitionBytes` (row groups pick the range
  * holding their midpoint — Spark's own rule, so one huge file fans out
  * across executors) and each range reads through Spark's VECTORIZED
  * parquet reader as ColumnarBatch, feeding whole-stage codegen without a
  * per-row materialization ([[GraftVectorReader]]); projection reaches the
  * page decode, so unrequested column chunks are never fetched. Scans over
  * DV-carrying snapshots fall back to the row reader (DV ordinals are
  * whole-file row indexes). Column-mapping physical names and type-widened
  * narrow files up-convert identically on both paths.
  * [[GraftScan.estimateStatistics]] reports pruned bytes/rows so Catalyst
  * sizes joins (a small dimension served by this catalog broadcasts).
  */
class GraftCatalog extends TableCatalog with StagingTableCatalog {
  private var catName: String = "graft"
  private var opts: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name; opts = options
  }
  override def name(): String = catName

  private def sessionConf(key: String): Option[String] =
    SparkSession.active.conf.getOption(key)

  /** Resolve an identifier to a TxnTable root directory. Explicit mounts
    * (`graft.catalog.path.<ident>`) win; otherwise the identifier nests
    * under the catalog root directory. */
  private[sources] def rootFor(ident: Identifier): String = {
    val key = (ident.namespace() :+ ident.name()).mkString(".")
    sessionConf(s"graft.catalog.path.$key").getOrElse {
      val base = sessionConf(s"spark.sql.catalog.$catName.root")
        .orElse(Option(opts.get("root")))
        .getOrElse(sys.error(
          s"graft catalog: no mapping for table '$key' — set " +
            s"graft.catalog.path.$key or spark.sql.catalog.$catName.root"))
      (ident.namespace() :+ ident.name()).foldLeft(base)(_ + "/" + _)
    }
  }

  /** Latest version at `root`, first completing any REPLACE a writer
    * crashed mid-swap on (see [[GraftStagedTable.commitStagedChanges]]'s
    * intent marker). */
  private def latestRecovered(root: String): Long = {
    val v = TxnTable.latestVersion(root)
    if (v >= 0) v
    else { GraftCatalog.recoverReplace(root); TxnTable.latestVersion(root) }
  }

  /** The change-feed spelling `graft.t__changes` applies only when no REAL
    * table claims the suffixed name — an explicit mount or an existing
    * table named `x__changes` always wins over the feed interpretation. */
  private def cdfBaseRoot(ident: Identifier): Option[String] =
    if (!ident.name().endsWith("__changes")) None
    else {
      val selfTaken =
        try TxnTable.latestVersion(rootFor(ident)) >= 0
        catch { case _: RuntimeException => false }
      if (selfTaken) None
      else Some(rootFor(Identifier.of(ident.namespace(),
        ident.name().stripSuffix("__changes"))))
    }

  override def loadTable(ident: Identifier): Table = {
    // `graft.t__changes` — the streaming CHANGE FEED of `graft.t` as its
    // own table name (schema + _change_type + _commit_version). A table
    // NAME because Spark fixes a streaming relation's schema from
    // Table.schema() at analysis, before any read option reaches the
    // scan — the Delta `table_changes` idea, spelled as an identifier.
    cdfBaseRoot(ident).foreach { root =>
      val latest = latestRecovered(root)
      if (latest < 0) throw new NoSuchTableException(ident)
      return new GraftTable(root, latest, ident.toString, cdf = true)
    }
    val root = rootFor(ident)
    val latest = latestRecovered(root)
    if (latest < 0) throw new NoSuchTableException(ident)
    new GraftTable(root, latest, ident.toString)
  }

  /** `VERSION AS OF v` — Spark's time-travel analysis lands here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    cdfBaseRoot(ident).foreach { base =>
      // a feed over a NONEXISTENT base is table-not-found, not a
      // misleading capability error
      if (latestRecovered(base) < 0) throw new NoSuchTableException(ident)
      throw new UnsupportedOperationException(
        s"graft catalog: time travel is not supported on change feeds ($ident)" +
          " — bound the range with startingVersion/endingVersion instead")
    }
    val root = rootFor(ident)
    val latest = latestRecovered(root)
    if (latest < 0) throw new NoSuchTableException(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        sys.error(s"graft catalog: VERSION AS OF expects a commit number, got '$version'")
    }
    require(v >= 0 && v <= latest, s"version $v does not exist (latest $latest)")
    new GraftTable(root, v, ident.toString)
  }

  /** `TIMESTAMP AS OF ts` — micros in, resolved to the newest commit at or
    * before the instant ([[TxnTable.versionAsOf]] semantics). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    cdfBaseRoot(ident).foreach { base =>
      if (latestRecovered(base) < 0) throw new NoSuchTableException(ident)
      throw new UnsupportedOperationException(
        s"graft catalog: time travel is not supported on change feeds ($ident)" +
          " — bound the range with startingVersion/endingVersion instead")
    }
    val root = rootFor(ident)
    if (latestRecovered(root) < 0) throw new NoSuchTableException(ident)
    new GraftTable(root, TxnTable.versionAsOf(root, timestampMicros / 1000L), ident.toString)
  }

  override def tableExists(ident: Identifier): Boolean =
    // recovery-aware like loadTable: a crashed REPLACE must not make
    // existence depend on whether a SELECT happened to recover it first
    try latestRecovered(rootFor(ident)) >= 0
    catch { case _: RuntimeException => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = sessionConf(s"spark.sql.catalog.$catName.root")
      .orElse(Option(opts.get("root"))).getOrElse(return Array.empty)
    val dir = java.nio.file.Paths.get(namespace.foldLeft(base)(_ + "/" + _))
    if (!java.nio.file.Files.isDirectory(dir)) return Array.empty
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p.resolve("_delta_log")))
      .map(p => Identifier.of(namespace, p.getFileName.toString)).toArray
    finally s.close()
  }
  private implicit class IterShim[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }

  /** CREATE TABLE (and the table half of CTAS): an empty v0 commit fixing
    * the schema, the hive layout (identity partition transforms), and any
    * user TBLPROPERTIES — all in the one create commit. Spark's reserved
    * engine properties (provider/location/owner/...) never persist. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val root = rootFor(ident)
    require(latestRecovered(root) < 0, // recovery-aware: never bury a
      // crashed REPLACE's promotable state under a fresh CREATE
      s"graft catalog: table $ident already exists at $root")
    val pcs = partitions.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"graft catalog: only identity partition transforms are supported, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    GraftCatalog.checkSchemaSupported(ident.toString, schema)
    GraftCatalog.checkPartitionCols(ident.toString, schema, pcs)
    TxnTable.create(SparkSession.active, root, schema, pcs,
      GraftCatalog.userProperties(properties))
    new GraftTable(root, TxnTable.latestVersion(root), ident.toString)
  }

  /** ALTER TABLE → the metadata-only evolution APIs: RENAME COLUMN
    * ([[TxnTable.renameColumn]], name-mode column mapping), ALTER COLUMN
    * TYPE ([[TxnTable.widenColumn]], widening only), DROP COLUMN
    * ([[TxnTable.dropColumn]]). Zero data bytes rewritten by any of them. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootFor(ident)
    if (latestRecovered(root) < 0) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    changes.foreach {
      case c: TableChange.RenameColumn =>
        require(c.fieldNames.length == 1, "nested columns are not supported")
        TxnTable.renameColumn(spark, root, c.fieldNames.head, c.newName)
      case c: TableChange.UpdateColumnType =>
        require(c.fieldNames.length == 1, "nested columns are not supported")
        TxnTable.widenColumn(spark, root, c.fieldNames.head, c.newDataType)
      case c: TableChange.DeleteColumn =>
        require(c.fieldNames.length == 1, "nested columns are not supported")
        TxnTable.dropColumn(spark, root, c.fieldNames.head)
      case c: TableChange.AddColumn =>
        require(c.fieldNames.length == 1, "nested columns are not supported")
        require(c.isNullable, "added columns must be nullable " +
          "(existing files read null for them)")
        TxnTable.addColumn(spark, root, c.fieldNames.head, c.dataType)
      case c: TableChange.SetProperty =>
        TxnTable.setTableProperty(root, c.property, c.value)
      case c: TableChange.RemoveProperty =>
        TxnTable.removeTableProperty(root, c.property)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other")
    }
    new GraftTable(root, TxnTable.latestVersion(root), ident.toString)
  }

  /** DROP TABLE — a guarded METADATA tombstone: the commit log renames
    * aside (`_delta_log.dropped-<ts>`), so the identifier stops
    * resolving and CREATE can reclaim the name, but not one data byte is
    * deleted (a later vacuum of a re-created table sweeps the orphans, or
    * an operator restores by renaming the log back). Refused unless the
    * session opts in with `graft.catalog.allowDrop = true` — an
    * accidental DROP against a 100 TB table should be impossible by
    * default. */
  override def dropTable(ident: Identifier): Boolean = {
    if (!sessionConf("graft.catalog.allowDrop").exists(_.toBoolean))
      throw new UnsupportedOperationException(
        "graft catalog: DROP TABLE is disabled — set " +
          "graft.catalog.allowDrop=true to tombstone the table's commit " +
          "log (data files are never deleted)")
    val root = try rootFor(ident) catch { case _: RuntimeException => return false }
    if (latestRecovered(root) < 0) return false // recovery-aware: DROP
    // after a crashed REPLACE tombstones the promoted table, not a void
    java.nio.file.Files.move(java.nio.file.Paths.get(root, "_delta_log"),
      java.nio.file.Paths.get(root, s"_delta_log.dropped-${System.currentTimeMillis()}"))
    true
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: RENAME TABLE is not supported — remap " +
        "graft.catalog.path.<name> instead")

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ---------------------------
  // The staged table lives in a SIBLING directory (same filesystem) and
  // becomes the real table by ONE atomic directory move at commit — a
  // failed or aborted CTAS leaves no half-written table behind. A REPLACE
  // needs TWO moves (old aside, new in); a durable intent marker brackets
  // them, and any resolution that finds the target missing completes the
  // swap from the marker (recoverReplace) — so no reader ever OBSERVES a
  // window where neither table exists, even across a writer crash.
  private def stage(ident: Identifier, info: TableInfo, mode: String): StagedTable = {
    val root = rootFor(ident)
    val exists = latestRecovered(root) >= 0 // recovery-aware, like loadTable
    mode match {
      case "create" if exists =>
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
      case "replace" if !exists => throw new NoSuchTableException(ident)
      case _ => ()
    }
    val schema = info.schema()
    GraftCatalog.checkSchemaSupported(ident.toString, schema)
    val pcs = info.partitions().toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"graft catalog: only identity partition transforms are supported, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    GraftCatalog.checkPartitionCols(ident.toString, schema, pcs)
    val staging = s"$root.__stage-${java.util.UUID.randomUUID().toString.take(8)}"
    TxnTable.create(SparkSession.active, staging, schema, pcs,
      GraftCatalog.userProperties(info.properties()))
    new GraftStagedTable(root, staging, ident.toString)
  }
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, "create")
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, "replace")
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, "createOrReplace")
}

object GraftCatalog {
  /** Planning-time observability: the last scan's pruning decision, the
    * hook the plan-gating specs assert on (files the skipping engine kept
    * vs the snapshot total, and which pushed filters drove it). */
  @volatile var lastScanReport: Option[ScanReport] = None
  final case class ScanReport(root: String, version: Long,
                              filesKept: Int, filesTotal: Int,
                              pushed: Seq[String], projected: Seq[String])

  /** TBLPROPERTIES minus Spark's reserved/engine keys — what persists in
    * the table config at CREATE/stage time. */
  private[sources] def userProperties(props: JMap[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val reserved = Set("provider", "location", "owner", "external", "comment",
      "option.path", "path", "is_managed_location")
    props.asScala.toMap.filterNot { case (k, _) =>
      reserved.contains(k.toLowerCase(java.util.Locale.ROOT)) ||
        k.startsWith("option.") }
  }

  /** The type matrix the catalog read path serves: the full flat set plus
    * one level of ARRAY over it (the engine's own embeddings tier is
    * `ARRAY<FLOAT>`). Checked at TABLE resolution (create/load), never
    * mid-scan — a user with an out-of-matrix table gets one clear error at
    * `graft.t`, not a task failure three stages in. The native Scala API
    * has no such limit. */
  private def flatSupported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | BooleanType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType | _: DecimalType => true
    case _ => false
  }
  private[sources] def checkSchemaSupported(ident: String, schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case dt if flatSupported(dt) => ()
        case ArrayType(et, _) if flatSupported(et) => ()
        case dt => throw new UnsupportedOperationException(
          s"graft catalog: table $ident column ${f.name} has type " +
            s"${dt.sql}, which the SQL read path does not serve " +
            "(maps/structs/nested arrays/interval types) — read it " +
            "through the Scala API (TxnTable.read) instead")
      }
    }

  private[graft] def replaceIntentPath(root: String): String =
    s"$root.__replace-intent"

  /** Complete a REPLACE a writer crashed between its two moves on: the
    * intent marker names the staged table and the tombstoned predecessor.
    * If the staged directory still exists it is PROMOTED (the replace
    * finishes — its content was complete before the marker was written);
    * if something already consumed it, the predecessor restores. Both
    * paths are single atomic renames, so concurrent recoverers race
    * harmlessly (the loser's rename fails and the table resolves). Called
    * only when the target does not resolve; a live commit in its window
    * is indistinguishable from a crashed one, and completing the swap is
    * exactly what that committer was about to do (it tolerates the move
    * being done for it). */
  private[sources] def recoverReplace(root: String): Unit = {
    import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
    val marker = JPaths.get(replaceIntentPath(root))
    if (!JFiles.exists(marker)) return
    val m = try MiniJson.parse(new String(JFiles.readAllBytes(marker),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[Map[String, Any]]
    catch { case _: Exception => return } // torn marker: tmp+move makes this unreachable
    val staging = JPaths.get(m("staging").asInstanceOf[String])
    val replaced = JPaths.get(m("replaced").asInstanceOf[String])
    val target = JPaths.get(root)
    try {
      if (TxnTable.latestVersion(staging.toString) >= 0)
        JFiles.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      else if (TxnTable.latestVersion(replaced.toString) >= 0)
        JFiles.move(replaced, target, StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: java.nio.file.FileSystemException => () /* lost the race */ }
    if (TxnTable.latestVersion(root) >= 0) JFiles.deleteIfExists(marker)
  }

  /** Partition columns must be FLAT (hive-path-encodable) — an array can
    * be a data column but never a layout key. */
  private[sources] def checkPartitionCols(ident: String, schema: StructType,
                                          pcs: Seq[String]): Unit =
    pcs.foreach { c =>
      schema.fields.find(_.name == c).foreach(f =>
        require(flatSupported(f.dataType),
          s"graft catalog: table $ident partition column $c has type " +
            s"${f.dataType.sql}, which cannot hive-path-encode"))
    }

  /** Decode one hive-path-encoded partition value to its Spark-internal
    * constant; shared by the row and columnar readers. */
  private[sources] def partConst(s: String, dt: DataType): Any =
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case StringType  => UTF8String.fromString(s)
      case LongType    => s.toLong
      case IntegerType => s.toInt
      case ShortType   => s.toShort
      case ByteType    => s.toByte
      case DoubleType  => s.toDouble
      case FloatType   => s.toFloat
      case BooleanType => s.toBoolean
      case d: DecimalType =>
        Decimal(new java.math.BigDecimal(s).setScale(d.scale), d.precision, d.scale)
      case DateType =>
        java.time.LocalDate.parse(s).toEpochDay.toInt
      case TimestampNTZType =>
        // path form "yyyy-MM-dd HH:mm:ss[.fffffffff]" — wall-clock, no zone
        val ts = java.sql.Timestamp.valueOf(s)
        ts.toLocalDateTime.toLocalDate.toEpochDay * 86400000000L +
          ts.toLocalDateTime.toLocalTime.toNanoOfDay / 1000L
      case TimestampType =>
        // graft sessions pin spark.sql.session.timeZone=UTC; the path
        // encoding renders in that zone, so parse it back as UTC
        val ldt = java.sql.Timestamp.valueOf(s).toLocalDateTime
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
      case other => sys.error(s"graft catalog: unsupported partition type $other")
    }
}

/** A staged CTAS/RTAS target: a real TxnTable in a sibling staging
  * directory. The query's rows land there as ordinary commits; commit
  * promotes the WHOLE directory into place with one atomic move (after
  * tombstoning a replaced predecessor — its bytes stay), abort deletes
  * the staging directory. Until commit, the target identifier never
  * resolves to half a table. */
final class GraftStagedTable(targetRoot: String, stagingRoot: String,
                             identString: String)
    extends StagedTable with SupportsWrite {
  private val inner = new GraftTable(stagingRoot,
    TxnTable.latestVersion(stagingRoot), identString)
  override def name(): String = identString
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): JMap[String, String] = inner.properties()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = {
    import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
    val target = JPaths.get(targetRoot)
    Option(target.toAbsolutePath.getParent).foreach(JFiles.createDirectories(_))
    if (TxnTable.latestVersion(targetRoot) >= 0) {
      // REPLACE is two directory moves (aside, then in) — not atomic
      // together. A durable INTENT MARKER brackets the window: written
      // before the first move, deleted after the second, it lets any
      // reader that finds the target missing finish the swap itself
      // ([[GraftCatalog.recoverReplace]]) instead of seeing no table. The
      // marker is written atomically (tmp + move), and both moves are
      // atomic renames, so every crash point leaves either the old table,
      // a recoverable marker state, or the new table.
      val replaced = s"$targetRoot.__replaced-${System.currentTimeMillis()}"
      val marker = JPaths.get(GraftCatalog.replaceIntentPath(targetRoot))
      // writer-private tmp name: two concurrent REPLACEs sharing a fixed
      // tmp path could atomically install EACH OTHER'S marker content
      val mTmp = JPaths.get(s"$targetRoot.__replace-intent.tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
      JFiles.write(mTmp, s"""{"staging":"${TxnTable.esc(stagingRoot)}","replaced":"${TxnTable.esc(replaced)}"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      JFiles.move(mTmp, marker, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      JFiles.move(target, JPaths.get(replaced)) // predecessor aside — never deleted
      try JFiles.move(JPaths.get(stagingRoot), target, StandardCopyOption.ATOMIC_MOVE)
      catch { case e: java.nio.file.NoSuchFileException =>
        // a concurrent reader already completed the swap via the marker
        if (TxnTable.latestVersion(targetRoot) < 0) throw e
      }
      JFiles.deleteIfExists(marker)
    } else {
      JFiles.move(JPaths.get(stagingRoot), target, StandardCopyOption.ATOMIC_MOVE)
    }
  }
  override def abortStagedChanges(): Unit = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val p = JPaths.get(stagingRoot)
    if (JFiles.isDirectory(p))
      TxnTable.walkClosed(p).iterator().asScala.toSeq.reverse
        .foreach(JFiles.deleteIfExists(_))
  }
  private implicit class IterShim[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}

/** One pinned TxnTable snapshot behind the DSv2 Table interface; with
  * `cdf = true`, its streaming CHANGE FEED (micro-batch read only). */
final class GraftTable(val root: String, val snapshotVersion: Long, identString: String,
                       val cdf: Boolean = false)
    extends Table with SupportsRead with SupportsWrite {
  private val (tblSchema0, pcs) = TxnTable.readMeta(root, snapshotVersion).getOrElse(
    sys.error(s"graft catalog: $root has no metaData action — not a TxnTable"))
  GraftCatalog.checkSchemaSupported(identString, tblSchema0)
  // nullable-normalized: the scan fills pre-evolution files' missing
  // columns with null regardless of what the committing batch declared,
  // and a non-nullable field would also make Spark reject INSERTs whose
  // query cannot prove non-nullness
  private val tblSchema = StructType {
    val base = tblSchema0.fields.map(_.copy(nullable = true))
    if (!cdf) base
    else base :+ StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false)
  }

  override def name(): String = identString
  override def schema(): StructType = tblSchema
  override def partitioning(): Array[Transform] =
    pcs.map(Expressions.identity).toArray
  override def properties(): JMap[String, String] = {
    // table config first (SHOW TBLPROPERTIES reads this map), then the
    // engine-informational keys
    val m = new java.util.HashMap[String, String]()
    TxnTable.readTableConfig(root).foreach { case (k, v) => m.put(k, v) }
    m.put("path", root); m.put("version", snapshotVersion.toString)
    m
  }
  override def capabilities(): java.util.Set[TableCapability] =
    if (cdf) java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // streaming read options ride the scan: readStream.option(...) lands
    // here, startingVersion/maxVersionsPerBatch/ignoreChanges pass to the
    // tail (readChangeFeed is the table NAME — see loadTable)
    import scala.jdk.CollectionConverters._
    val opts = options.asCaseSensitiveMap().asScala.toMap
      .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    new GraftScanBuilder(root, snapshotVersion, tblSchema, pcs, opts, cdf)
  }

  /** INSERT INTO / INSERT OVERWRITE via the V1 write bridge: the incoming
    * query arrives as a full DataFrame and lands as ONE TxnTable commit
    * (append under the table's layout, or an overwrite claiming every
    * prior live file) — distributed write, O(files) commit metadata. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, o: Boolean): Unit = {
              // align by position to the table schema (SQL INSERT contract)
              val aligned = data.toDF(tblSchema.fieldNames.toIndexedSeq: _*)
              if (overwrite) TxnTable.overwrite(aligned, root)
              else if (pcs.nonEmpty) TxnTable.appendPartitioned(aligned, root, pcs)
              else TxnTable.append(aligned, root)
            }
          }
      }
    }
}

/** Pushdown bookkeeping: filters translate to catalyst conjuncts for the
  * file-pruning engine; Spark still evaluates every filter post-scan
  * (skipping is file-level and conservative), so all filters return as
  * residual and correctness never depends on the translation. */
final class GraftScanBuilder(root: String, version: Long,
                             tblSchema: StructType, pcs: Seq[String],
                             scanOptions: Map[String, String] = Map.empty,
                             cdf: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var required: StructType = tblSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftScanBuilder.translate(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    // map back by name: the pruned schema loses our field metadata
    // (physical names), which the reader needs. Change-feed rows come off
    // the tail reader at fixed width — no pruning there.
    if (!cdf) required = StructType(requiredSchema.fieldNames.flatMap(n =>
      tblSchema.fields.find(_.name == n)))
  override def build(): Scan =
    GraftScan(root, version, tblSchema, pcs, required, pushed, scanOptions, cdf)
}

object GraftScanBuilder {
  /** sources.Filter → catalyst conjunct in the shape
    * [[TxnTable.pruneAdds]] folds over file statistics. Unsupported
    * shapes translate to None and simply don't prune. */
  private[sources] def translate(f: Filter): Option[Expression] = {
    import org.apache.spark.sql.{sources => s}
    import org.apache.spark.sql.catalyst.{expressions => e}
    def attr(n: String) = UnresolvedAttribute.quoted(n)
    f match {
      case s.EqualTo(a, v)            => Some(e.EqualTo(attr(a), Literal(v)))
      case s.GreaterThan(a, v)        => Some(e.GreaterThan(attr(a), Literal(v)))
      case s.GreaterThanOrEqual(a, v) => Some(e.GreaterThanOrEqual(attr(a), Literal(v)))
      case s.LessThan(a, v)           => Some(e.LessThan(attr(a), Literal(v)))
      case s.LessThanOrEqual(a, v)    => Some(e.LessThanOrEqual(attr(a), Literal(v)))
      case s.In(a, vs)                => Some(e.In(attr(a), vs.toIndexedSeq.map(Literal(_))))
      case s.IsNull(a)                => Some(e.IsNull(attr(a)))
      case s.IsNotNull(a)             => Some(e.IsNotNull(attr(a)))
      case s.And(l, r) =>
        for (le <- translate(l); re <- translate(r)) yield e.And(le, re)
      case _ => None
    }
  }
}

final case class GraftScan(root: String, version: Long,
                           tblSchema: StructType, pcs: Seq[String],
                           required: StructType, pushed: Array[Filter],
                           scanOptions: Map[String, String] = Map.empty,
                           cdf: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  private def prune(adds: Seq[TxnTable.AddFile],
                    filters: Seq[Filter]): Seq[TxnTable.AddFile] = {
    val conj = filters.flatMap(GraftScanBuilder.translate)
    if (conj.isEmpty) adds
    else {
      val pred = org.apache.spark.sql.GraftColumnExpr.column(
        conj.reduce(org.apache.spark.sql.catalyst.expressions.And(_, _)))
      TxnTable.pruneAdds(adds, pred,
        TxnTable.colMapping(tblSchema), genSchema = Some(tblSchema))._1
    }
  }

  /** The statically pruned snapshot (pushed filters only): one fold of the
    * commit log + the conjunct skipping pass. Lazy and shared by planning
    * and statistics — runtime filters arrive later and re-prune in
    * [[planInputPartitions]]. */
  @transient private lazy val pruning: (Seq[TxnTable.AddFile], Int) = {
    val adds = TxnTable.liveAdds(root, version)
    (prune(adds, pushed.toSeq), adds.size)
  }

  // ---- dynamic runtime filtering (DSv2 DPP) -------------------------------
  // A broadcast join whose build side is selective hands the scan the
  // build keys at EXECUTION time; re-running the same conjunct engine
  // over the statically-kept files drops whole partitions / stat ranges
  // the static plan could not know about — at 100 TB this is the
  // difference between scanning a fact table and scanning three days of
  // it. Every column is filterable: partition values, min/max stats, and
  // Bloom indexes all serve IN-set probes.
  @transient private var runtimeFilters: Array[Filter] = Array.empty
  // only the scan's OUTPUT columns are addressable (the DPP rule
  // resolves these against the projected relation)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (cdf) Array.empty
    else required.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(filters: Array[Filter]): Unit = { runtimeFilters = filters }

  override def readSchema(): StructType =
    StructType(required.fields.map(f => f.copy(nullable = true)))
  override def toBatch: Batch = this

  /** `spark.readStream.table("graft.t")`: the catalog name fronts the
    * same commit-log tail the `txn-tail` source runs (version = offset,
    * exactly-once), honoring the same read options — `startingVersion`,
    * `maxVersionsPerBatch` (bounded backfill through admission control),
    * `ignoreChanges`; change-feed mode is the `graft.t__changes` table
    * name. The plain tail's internal rows carry a trailing
    * `_commit_version` the TABLE schema does not expose — a thin
    * projection drops it; the CDF table exposes it. */
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val conf = TxnTail.Conf(root,
      startingVersion = scanOptions.get("startingversion").map(_.toLong).getOrElse(0L),
      ignoreChanges = scanOptions.get("ignorechanges").exists(_.toBoolean),
      maxVersionsPerBatch = scanOptions.get("maxversionsperbatch").map(_.toLong),
      readChangeFeed = cdf)
    GraftTableStream(new TxnTailStream(conf),
      if (cdf) null else tblSchema.fields.map(_.dataType))
  }

  // ---- batch CHANGE FEED (`SELECT ... FROM graft.t__changes`) -------------
  // Delta's `table_changes` spelled as a table name: every version in
  // [startingVersion, endingVersion] (options; defaults 0..snapshot)
  // contributes exactly its change rows, through the SAME per-commit
  // partitions and readers the streaming tail plans — one change-feed
  // code path serves both batch SQL and readStream.
  private def cdfStream(from: Long): TxnTailStream =
    new TxnTailStream(TxnTail.Conf(root, from, ignoreChanges = false,
      maxVersionsPerBatch = None, readChangeFeed = true))
  private def cdfRange: (Long, Long) = {
    val from = scanOptions.get("startingversion").map(_.toLong).getOrElse(0L)
    val to = scanOptions.get("endingversion").map(_.toLong).getOrElse(version)
    require(from >= 0 && to <= version && from <= to,
      s"graft catalog: change-feed range [$from, $to] outside [0, $version]")
    (from, to)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    if (cdf) {
      val (from, to) = cdfRange
      return cdfStream(from).planInputPartitions(
        TxnTailOffset(from - 1), TxnTailOffset(to))
    }
    val (static, total) = pruning
    val kept0 = if (runtimeFilters.isEmpty) static
      else prune(static, runtimeFilters.toSeq)
    // a fully-deleted file contributes nothing — zero partitions is a
    // valid DSv2 scan (schema comes from readSchema)
    val kept = kept0.filterNot(TxnTable.fullyDeleted)
    GraftCatalog.lastScanReport = Some(GraftCatalog.ScanReport(
      root, version, kept.size, total,
      (pushed ++ runtimeFilters).map(_.toString).toSeq, required.fieldNames.toSeq))
    val schemaJson = required.json
    // Columnar is a SCAN-level decision (Spark refuses mixed row/columnar
    // partitions): vectorized whenever no surviving file carries a
    // deletion vector (DV ordinals are whole-file row indexes, which the
    // batch reader does not track). Clean files ALSO split at
    // maxPartitionBytes ranges — parquet assigns each row group to the
    // split holding its midpoint (Spark's own splitting rule), so one
    // huge file fans out across executors instead of pinning one task.
    val vectorize = !cdf &&
      SparkSession.active.conf.get("graft.catalog.vectorized", "true").toBoolean &&
      kept.forall(_.dv.isEmpty)
    if (!vectorize)
      kept.map { a =>
        GraftInputPartition(
          TxnTable.filePath(root, a.file).toString, schemaJson,
          a.partitionValues,
          a.dv.map(d => java.util.Base64.getEncoder.encodeToString(
            DeletionVectors.readDvData(root, d))).orNull)
      }.toArray
    else {
      val maxBytes = math.max(1L,
        org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes)
      kept.flatMap { a =>
        val path = TxnTable.filePath(root, a.file).toString
        val n = math.max(1L, (a.bytes + maxBytes - 1) / maxBytes)
        (0L until n).map { i =>
          GraftInputPartition(path, schemaJson, a.partitionValues, null,
            vectorized = true, splitStart = i * maxBytes,
            splitLength = math.min(maxBytes, a.bytes - i * maxBytes))
        }
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (cdf) cdfStream(0L).createReaderFactory() else GraftReaderFactory()

  /** Post-pruning size: lets Catalyst broadcast a catalog-served dimension
    * and plan joins on real bytes, not defaults. Under the cost-based
    * optimizer (`spark.sql.cbo.enabled`) the scan ALSO reports per-column
    * min/max/nullCount folded from the per-file footer stats the commit
    * log already persists — zero extra I/O, O(kept files) driver work —
    * so Catalyst estimates range-filter selectivity and join cardinality
    * from real value bounds (a selectively-filtered fact side then
    * BROADCASTS where the no-stats default would sort-merge; plan-gated in
    * GraftCatalogSpec). Footers carry no NDV; distinctCount is emitted
    * only where a sound bound exists — exact for an all-null (0) or
    * single-valued (1) column, and for INTEGRAL-domain types (int/long/
    * short/byte/date/boolean) the closed-form upper bound
    * min(max − min + 1, non-null rows), which is what Catalyst's
    * uniformity assumption wants anyway (FilterEstimation refuses range
    * estimation without an NDV). Fractional/string/decimal columns have
    * no honest footer-derived bound and stay NDV-less. */
  override def estimateStatistics(): Statistics = {
    if (cdf) return new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
    val (kept, _) = pruning
    val bytes = kept.map(_.bytes).sum
    val rows = kept.flatMap(a => a.stats.map(s =>
      TxnTable.decodeStats(s).numRecords - a.dv.map(_.cardinality).getOrElse(0L)))
    val cbo = SparkSession.active.conf.get("spark.sql.cbo.enabled", "false").toBoolean
    val colStats: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      // DV-carrying snapshots emit NO column stats: footer min/max/null
      // counts describe the file INCLUDING rows a deletion vector hides,
      // so folding them against DV-adjusted row counts would hand
      // Catalyst invalid statistics (negative NDV, nullCount > numRows)
      if (!cbo || kept.isEmpty || rows.size != kept.size ||
          kept.exists(_.dv.isDefined))
        java.util.Collections.emptyMap()
      else GraftScan.foldColumnStats(required, kept, rows.sum,
        // LATEST config, even under time travel: ANALYZE stats are
        // estimates by contract, and min/max/nullCount (the sound parts)
        // always fold from THIS snapshot's own files
        TxnTable.readTableConfig(root))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        if (rows.size == kept.size) java.util.OptionalLong.of(rows.sum)
        else java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  override def description(): String = {
    val (kept, total) = pruning
    s"graft root=$root version=$version files=${kept.size}/$total " +
      s"PushedFilters=[${pushed.mkString(", ")}]"
  }
}

object GraftScan {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics

  /** Fold kept files' footer stats (stats key by PHYSICAL column name;
    * partition values fold in as point ranges, like pruning) into
    * per-column DSv2 statistics. A column is reported only when EVERY kept
    * file carries its stat — the same conservatism as skipping: partial
    * knowledge never becomes a confident estimate. Values convert to
    * Catalyst-internal form (days/micros for temporal, Decimal for
    * decimals) because that is what FilterEstimation folds over. */
  private[sources] def foldColumnStats(required: StructType,
                                       kept: Seq[TxnTable.AddFile],
                                       totalRows: Long,
                                       tableCfg: Map[String, String] = Map.empty)
  : java.util.Map[NamedReference, ColumnStatistics] = {
    val stats = kept.map(a => TxnTable.withPartitionStats(
      TxnTable.decodeStats(a.stats.get), a.partitionValues))
    def ord(a: Any, b: Any): Int = (a, b) match {
      case (x: BigDecimal, y: BigDecimal) => x.compare(y)
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
      case _ => 0
    }
    def catalystValue(dt: DataType, v: Any): Option[Any] = (dt, v) match {
      case (_, null) => None
      case (LongType, bd: BigDecimal)      => Some(bd.toLong)
      case (IntegerType, bd: BigDecimal)   => Some(bd.toInt)
      case (ShortType, bd: BigDecimal)     => Some(bd.toShort)
      case (ByteType, bd: BigDecimal)      => Some(bd.toByte)
      case (DoubleType, bd: BigDecimal)    => Some(bd.toDouble)
      case (FloatType, bd: BigDecimal)     => Some(bd.toFloat)
      case (DateType, bd: BigDecimal)      => Some(bd.toInt)  // epoch days
      case (TimestampType | TimestampNTZType, bd: BigDecimal) =>
        Some(bd.toLong)                                        // epoch micros
      case (d: DecimalType, bd: BigDecimal) =>
        Some(Decimal(bd.underlying.setScale(d.scale), d.precision, d.scale))
      case (BooleanType, b: java.lang.Boolean) => Some(b)
      case _ => None // strings/binary: unused by estimation, stay unreported
    }
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    required.fields.foreach { f =>
      val pn = TxnTable.physicalName(f)
      val mins = stats.map(_.minV.get(pn))
      val maxs = stats.map(_.maxV.get(pn))
      val nulls = stats.map(_.nullC.get(pn))
      if (mins.forall(_.isDefined) && maxs.forall(_.isDefined)) {
        val nonNullMins = mins.flatten.filter(_ != null)
        val nonNullMaxs = maxs.flatten.filter(_ != null)
        val mn = nonNullMins.reduceOption((a, b) => if (ord(a, b) <= 0) a else b)
          .flatMap(catalystValue(f.dataType, _))
        val mx = nonNullMaxs.reduceOption((a, b) => if (ord(a, b) >= 0) a else b)
          .flatMap(catalystValue(f.dataType, _))
        val nc = if (nulls.forall(_.isDefined)) Some(nulls.flatten.sum) else None
        val allNull = nc.contains(totalRows)
        val single = nonNullMins.nonEmpty && nonNullMins.size == mins.size &&
          mn.isDefined && mx.isDefined && {
            val lo = nonNullMins.reduce((a, b) => if (ord(a, b) <= 0) a else b)
            val hi = nonNullMaxs.reduce((a, b) => if (ord(a, b) >= 0) a else b)
            ord(lo, hi) == 0 && nc.contains(0L)
          }
        val nonNullRows = (totalRows - nc.getOrElse(0L)).max(0L)
        // ANALYZE-persisted estimate (any type, keyed by physical name,
        // capped at live non-null rows so deletes can't leave it unsound)
        val analyzed = tableCfg.get(TxnTable.NdvKeyPrefix + pn)
          .flatMap(s => scala.util.Try(s.toLong).toOption)
          .map(_.min(nonNullRows).max(0L))
        val ndv: Option[Long] =
          if (allNull) Some(0L)
          else if (single) Some(1L)
          else if (analyzed.isDefined) analyzed
          else f.dataType match {
            case ByteType | ShortType | IntegerType | LongType | DateType
              if nonNullMins.nonEmpty && nonNullMaxs.nonEmpty =>
              val lo = nonNullMins.collect { case d: BigDecimal => d }
                .reduceOption(_ min _)
              val hi = nonNullMaxs.collect { case d: BigDecimal => d }
                .reduceOption(_ max _)
              for (l <- lo; h <- hi) yield
                (h - l + 1).min(BigDecimal(nonNullRows)).toLong
            case BooleanType => Some(2L.min(nonNullRows))
            case _ => None
          }
        if (mn.isDefined || mx.isDefined || nc.isDefined)
          out.put(Expressions.column(f.name), new ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              ndv.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def min(): java.util.Optional[Object] =
              mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty())
            override def max(): java.util.Optional[Object] =
              mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty())
            override def nullCount(): java.util.OptionalLong =
              nc.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
          })
      }
    }
    out
  }
}

final case class GraftInputPartition(path: String, schemaJson: String,
                                     partValues: Map[String, String],
                                     dvB64: String,
                                     vectorized: Boolean = false,
                                     splitStart: Long = 0L,
                                     splitLength: Long = Long.MaxValue)
    extends InputPartition

/** Standalone factory (ships whole — no outer captures): row readers for
  * DV-carrying scans, Spark's vectorized parquet reader (ColumnarBatch,
  * whole-stage-codegen-friendly) for clean ones. */
final case class GraftReaderFactory() extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean =
    p.asInstanceOf[GraftInputPartition].vectorized
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftRowReader(p.asInstanceOf[GraftInputPartition])
  override def createColumnarReader(p: InputPartition)
  : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftVectorReader(p.asInstanceOf[GraftInputPartition])
}

/** Executor-side COLUMNAR reader: delegates the page decode to Spark's own
  * [[org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader]]
  * over this partition's byte range (row groups pick their split by
  * midpoint), with the TxnTable read matrix prepared around it: requested
  * columns rename to column-mapping PHYSICAL names, path-encoded partition
  * constants populate per-batch constant vectors, pre-evolution files
  * null-fill missing columns, and narrow files (INT32 under a widened
  * LongType) up-convert inside the vectorized updaters. Emitted batches
  * re-order column vectors back to the scan's requested order (partition
  * constants append at the end of the underlying batch). */
final class GraftVectorReader(p: GraftInputPartition)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val required = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
  // partition columns are path-encoded (never in the data files); every
  // other requested column reads from the file (or null-fills)
  private val partIdx = required.fields.zipWithIndex
    .filter { case (f, _) => p.partValues.contains(f.name) }
  private val fileIdx = required.fields.zipWithIndex
    .filterNot { case (f, _) => p.partValues.contains(f.name) }
  private val physFile = StructType(fileIdx.map { case (f, _) =>
    f.copy(name = TxnTable.physicalName(f), nullable = true) })
  private val partSchema = StructType(partIdx.map(_._1))
  private val partRow = new GenericInternalRow(partIdx.map { case (f, _) =>
    GraftCatalog.partConst(p.partValues(f.name), f.dataType) }.toArray[Any])
  // required ordinal -> underlying batch column (file cols, then part cols)
  private val perm: Array[Int] = {
    val filePos = fileIdx.map(_._2).zipWithIndex.toMap
    val partPos = partIdx.map(_._2).zipWithIndex.toMap
    required.indices.map(i =>
      filePos.get(i).getOrElse(fileIdx.length + partPos(i))).toArray
  }

  private val conf = GroupDecode.freshConf()
  conf.set("parquet.read.support.class",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
  conf.set("org.apache.spark.sql.parquet.row.requested_schema", physFile.json)
  conf.setBoolean("spark.sql.parquet.binaryAsString", false)
  conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
  conf.setBoolean("spark.sql.caseSensitive", false)
  conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
  conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
  conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
  conf.set("spark.sql.session.timeZone", "UTC")

  // graft data files are written by Spark 3/4 (proleptic calendar):
  // rebase mode CORRECTED on both counters is exact
  private val reader = new VectorizedParquetRecordReader(
    null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
  try {
    reader.initialize(
      new org.apache.hadoop.mapred.FileSplit(
        new org.apache.hadoop.fs.Path(p.path), p.splitStart, p.splitLength,
        Array.empty[String]),
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID()))
    reader.initBatch(partSchema, partRow)
    reader.enableReturningBatches()
  } catch { case t: Throwable => reader.close(); throw t }

  override def next(): Boolean = reader.nextBatch()
  override def get(): ColumnarBatch = {
    val b = reader.resultBatch()
    val out = new ColumnarBatch(perm.map(b.column))
    out.setNumRows(b.numRows())
    out
  }
  override def close(): Unit = reader.close()
}

/** The catalog-table face of [[TxnTailStream]]: full delegation —
  * INCLUDING admission control, so `maxVersionsPerBatch` bounds backfill
  * batches identically to `format("txn-tail")` — with an optional
  * row-width projection (null = none, the CDF table's rows already match
  * its schema). */
final case class GraftTableStream(inner: TxnTailStream,
                                  projectTo: Array[DataType])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  override def initialOffset(): Offset = inner.initialOffset()
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def reportLatestOffset(): Offset = inner.reportLatestOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    inner.latestOffset(start, limit)
  override def latestOffset(): Offset = inner.latestOffset() // throws: use 2-arg
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    inner.planInputPartitions(start, end)
  override def createReaderFactory(): PartitionReaderFactory =
    if (projectTo == null) inner.createReaderFactory()
    else GraftTailProjectFactory(inner.createReaderFactory(), projectTo)
  override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()
}

/** Projects the txn-tail stream's rows down to the table schema (drops
  * the trailing `_commit_version`) for `readStream.table` consumers.
  * Standalone case class: ships to executors, so no outer captures. */
final case class GraftTailProjectFactory(inner: PartitionReaderFactory,
                                         types: Array[DataType])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = {
        val row = r.get()
        new GenericInternalRow(Array.tabulate[Any](types.length)(i =>
          row.get(i, types(i))))
      }
      override def close(): Unit = r.close()
    }
  }
}

/** Executor-side ROW reader — the deletion-vector path (and the
  * `graft.catalog.vectorized=false` debug fallback): one whole parquet
  * file via the parquet-column record API, PROJECTED to the requested
  * columns (the file reader's requested schema restricts which column
  * chunks are even fetched). Handles the full TxnTable read matrix:
  * column-mapping physical names, pre-widen narrow files (INT32→long,
  * FLOAT→double up-convert), pre-evolution files missing columns (null),
  * path-encoded partition constants, the flat temporal/decimal type
  * matrix (INT96 and annotated INT64 timestamps, INT32/INT64/binary
  * decimals), and deletion vectors (marked ordinals skip — the record
  * stream's index IS `_metadata.row_index`, which is why DV scans read
  * whole files on this path). Clean scans take [[GraftVectorReader]]. */
final class GraftRowReader(p: GraftInputPartition)
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.io.ColumnIOFactory
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
  import org.apache.parquet.schema.MessageType

  private val schema = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
  private val physNames: Array[String] = schema.fields.map(TxnTable.physicalName)
  private val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
    new org.apache.hadoop.fs.Path(p.path),
    GroupDecode.freshConf()))
  private val fileSchema = reader.getFooter.getFileMetaData.getSchema
  // project the file read to the requested columns that exist in the file
  private val wanted = physNames.filter(fileSchema.containsField)
  private val requested: MessageType =
    if (wanted.isEmpty) null
    else {
      import scala.jdk.CollectionConverters._
      new MessageType(fileSchema.getName,
        wanted.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))).toList.asJava)
    }
  if (requested != null) reader.setRequestedSchema(requested)
  schema.fields.zip(physNames).foreach { case (f, pn) =>
    GroupDecode.checkDecimalScale(fileSchema, pn, f.dataType, p.path) }
  private val totalRows: Long = reader.getRecordCount

  private val dvDrop: DeletionVectors.RoaringBitmapArray =
    if (p.dvB64 == null) null
    else DeletionVectors.RoaringBitmapArray.deserialize(
      java.util.Base64.getDecoder.decode(p.dvB64))

  private var recordReader: org.apache.parquet.io.RecordReader[Group] = _
  private var remaining = 0L
  private var current: Group = _
  private var ordinal = -1L

  override def next(): Boolean = {
    while (true) {
      if (requested == null) {
        // zero projected file columns (count-style scans, pre-evolution
        // files): emit footer-counted rows without touching pages
        ordinal += 1
        if (ordinal >= totalRows) return false
        if (dvDrop == null || !dvDrop.contains(ordinal)) return true
      } else {
        while (remaining == 0L) {
          val rg = reader.readNextRowGroup()
          if (rg == null) return false
          remaining = rg.getRowCount
          recordReader = new ColumnIOFactory().getColumnIO(requested)
            .getRecordReader(rg, new GroupRecordConverter(requested))
        }
        current = recordReader.read(); remaining -= 1; ordinal += 1
        if (dvDrop == null || !dvDrop.contains(ordinal)) return true
      }
    }
    false
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      vals(i) =
        if (requested == null || !requested.containsField(physNames(i)))
          if (p.partValues.contains(f.name)) GraftCatalog.partConst(p.partValues(f.name), f.dataType)
          else null
        else {
          val fi = requested.getFieldIndex(physNames(i))
          if (current.getFieldRepetitionCount(fi) == 0) null
          else {
            GroupDecode.value(current, fi,
              requested.getType(fi), f.dataType)
          }
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}
