package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction => UFn}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** [[TxnTable]] concern module — READS: snapshot/time-travel scans
  * (deletion-vector-filtered, column-mapping-aware), row tracking,
  * shallow clone, change feeds, restore, the symlink-manifest export,
  * and the files/detail/history audit tables. */
private[sources] trait TxnReadOps { self: TxnTable.type =>
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, -1L)

  /** Time travel: the table exactly as of commit `asOf` (−1 = latest).
    * Fails loudly if a needed file was vacuumed away. */
  def readVersion(spark: SparkSession, root: String, asOf: Long): DataFrame = {
    val last = latestVersion(root)
    require(last >= 0, s"$root is not a TxnTable (no _delta_log)")
    require(asOf <= last, s"version $asOf does not exist (latest $last)")
    val adds = liveAdds(root, asOf)
    val missing = adds.filterNot(a => Files.exists(filePath(root, a.file)))
    require(missing.isEmpty,
      s"version ${if (asOf < 0) last else asOf} references vacuumed files: " +
        missing.map(_.file).mkString(", "))
    // every commit adds at least one part file (Spark writes schema-bearing
    // empty parts), so a resolvable version always has files
    require(adds.nonEmpty, s"no live files at version $asOf")
    readFiles(spark, root, adds, asOf)
  }

  /** SHALLOW CLONE: create a new table at `dstRoot` whose version 0
    * re-adds the SOURCE's live files by ABSOLUTE path — zero data bytes
    * copied or read; stats, bloom indexes, schema, and constraints carry
    * over, so the clone prunes like the source from birth. The clone then
    * evolves INDEPENDENTLY: copy-on-write rewrites land under the clone's
    * own root, and neither writes nor [[vacuum]] through the clone ever
    * touch the source (vacuum skips absolute entries). The usual
    * dev/test-sandbox shape: branch a 100 TB table in O(files) metadata.
    * PARTITIONED sources clone too: every re-add carries its
    * partitionValues and the clone's metaData records the partition
    * columns, so the clone's reads scan its absolute re-adds as one
    * relation with partition values off its own log, and prune partitions
    * exactly like the source. Source files vacuumed AWAY later make the
    * clone's reads fail loudly, exactly like the source's own too-old
    * time travel (pin the source's retention accordingly). */
  def cloneShallow(srcRoot: String, dstRoot: String): Long = {
    require(latestVersion(srcRoot) >= 0, s"$srcRoot is not a TxnTable (no _delta_log)")
    require(latestVersion(dstRoot) < 0, s"$dstRoot already has a _delta_log")
    val (schema, pcs) = readMeta(srcRoot).getOrElse(
      sys.error(s"$srcRoot has no metaData to clone"))
    val srcAbs = Paths.get(srcRoot).toAbsolutePath
    val adds = liveAdds(srcRoot, -1L)
      .map { a =>
        // a deletion-vector sidecar lives under the SOURCE root; the
        // clone's descriptor must say so explicitly (storageType "p",
        // absolute path — the protocol's cross-root DV reference), or the
        // relative "u" form would resolve under the clone and dangle
        val dv = a.dv.map {
          case d if d.storageType == "u" =>
            d.copy(storageType = "p",
              pathOrInlineDv = d.resolveFile(srcRoot).toAbsolutePath.toString)
          case d => d
        }
        a.copy(file = srcAbs.resolve(a.file).toString, dv = dv)
      }
    commit(dstRoot, 0L, "clone", adds, Seq.empty,
      schemaJson = Some(schema.json), partCols = pcs,
      extraConfig = Some(readTableConfig(srcRoot)))
    0L
  }

  /** Resolve a wall-clock timestamp (epoch ms) to the LATEST version whose
    * commit landed at or before it — `timestampAsOf` time travel. The
    * timestamp of record is the commit's commitInfo (what external readers
    * see). Fails loudly for instants before the first commit. */
  def versionAsOf(root: String, tsMillis: Long): Long = {
    val vs = versions(root)
    require(vs.nonEmpty, s"$root is not a TxnTable (no _delta_log)")
    // commitInfo stamps come off one writer-side clock and are read
    // newest-first; the scan stops at the first (= latest) hit, so the
    // common "read the table as of just now" costs one file
    vs.reverseIterator.find(v => commitTimestamp(root, v) <= tsMillis)
      .getOrElse(sys.error(
        s"no commit at or before $tsMillis (first commit at " +
          s"${commitTimestamp(root, vs.head)})"))
  }

  private[sources] def commitTimestamp(root: String, v: Long): Long =
    readCommit(root, v).timestamp

  /** Time travel by TIMESTAMP: the table as of the last commit ≤ `tsMillis`. */
  def readTimestamp(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOf(root, tsMillis))

  /** DESCRIBE HISTORY: one row per retained commit, newest first —
    * version, commit timestamp, operation, and action counts, straight off
    * each commit's `commitInfo` and file actions. Pure metadata fold,
    * O(retained versions) like Delta's own; history below [[expireLog]]'s
    * horizon is gone with its commits, exactly like time travel. (The
    * per-ACTION audit dump is [[history]].) */
  def historySummary(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    require(latestVersion(root) >= 0, s"$root is not a TxnTable (no _delta_log)")
    versions(root).map { v =>
      val c = readCommit(root, v)
      def n(kind: String) = c.actions.count(_.action == kind)
      (v, new java.sql.Timestamp(c.timestamp), c.op, n("add"), n("remove"), n("cdc"))
    }.sortBy(-_._1)
      .toDF("version", "timestamp", "operation", "num_added_files",
        "num_removed_files", "num_change_files")
  }

  /** A log entry's qualified `file:` URI: what [[TxnFileIndex]] lists and
    * `_metadata.file_path` reads for it. */
  private[sources] def fileUri(root: String, f: String): String =
    TxnFileIndex.qualified(filePath(root, f)).toUri.toString

  /** file → descriptor for the DV-carrying members of a remove set, so
    * the log's remove actions name the instance they tombstone. */
  private[sources] def dvTombstones(adds: Seq[AddFile]): Map[String, DeletionVectors.DvDescriptor] =
    adds.flatMap(a => a.dv.map(a.file -> _)).toMap

  /** Merge-on-read row filter: drop rows a live add's deletion vector
    * marks. None when no add carries a DV — non-DV tables pay zero (no
    * metadata column, no probe, unchanged plan). Keyed by the file's URI
    * (`_metadata.file_path`), never its name: one partitioned write gives
    * every partition directory the same part-file names. The probe is a
    * codegen'd O(1) bitmap lookup per row
    * ([[graft.functions.DvRowDeleted]]); deleted positions never join or
    * shuffle, which is what keeps a 10M-row DV as cheap as a 10-row one. */
  private[sources] def dvAliveFilter(spark: SparkSession, root: String,
                            adds: Seq[AddFile]): Option[Column] = {
    val dvAdds = adds.filter(_.dv.isDefined)
    if (dvAdds.isEmpty) None
    else {
      val blobs = dvAdds.map { a =>
        fileUri(root, a.file) -> DeletionVectors.readDvData(root, a.dv.get)
      }.toMap
      val lookup = new graft.functions.DvLookup(
        spark.sparkContext.broadcast(blobs))
      Some(org.apache.spark.sql.GraftColumnExpr.column(
        org.apache.spark.sql.catalyst.expressions.Not(
          graft.functions.DvRowDeleted(
            org.apache.spark.sql.GraftColumnExpr.expr(col("_metadata.file_path")),
            org.apache.spark.sql.GraftColumnExpr.expr(col("_metadata.row_index")),
            lookup))))
    }
  }

  /** An add whose deletion vector covers EVERY physical row is logically
    * empty — scanning it buys nothing (a fully-deleted 1 GB file would
    * still decode end-to-end just to probe every row away). */
  private[sources] def fullyDeleted(a: AddFile): Boolean =
    a.dv.exists(d => a.stats.exists(s =>
      decodeStats(s).numRecords == d.cardinality))

  /** The one snapshot scan every TxnTable read builds on: a single file
    * relation over a [[TxnFileIndex]] of the non-empty adds, so Spark
    * neither lists nor stats a file and partition values come from the
    * log. Data columns scan under their PHYSICAL names (plus any `hidden`
    * physical fields) and come back under the metaData schema's logical
    * names and order, followed by `extra`, which may read the `_metadata`
    * columns. Files an evolution predates lack the new columns and read
    * null for them; deletion-vector adds filter their marked rows out. An
    * empty file list scans zero files under the same schema. */
  private def scan(spark: SparkSession, root: String, adds: Seq[AddFile], asOf: Long,
                   hidden: Seq[StructField], extra: Seq[Column]): DataFrame = {
    val (schema, pcs) = readMeta(root, asOf).getOrElse(
      sys.error(s"$root has no metaData"))
    val kept = adds.filterNot(fullyDeleted)
    val partSchema = StructType(pcs.map(schema(_)))
    val dataSchema = StructType(schema.fields.filterNot(f => pcs.contains(f.name))
      .map(f => f.copy(name = physicalName(f))) ++ hidden)
    val rel = HadoopFsRelation(TxnFileIndex(root, kept, partSchema), partSchema,
      org.apache.spark.sql.GraftColumnExpr.asNullable(dataSchema), None,
      new ParquetFileFormat, Map.empty)(spark)
    val df = spark.baseRelationToDataFrame(rel)
    val alive = dvAliveFilter(spark, root, kept).map(df.filter).getOrElse(df)
    if (pcs.isEmpty && colMapping(schema).isEmpty && extra.isEmpty) alive
    else alive.select(schema.fields.toSeq.map(f =>
      col(physicalName(f)).as(f.name)) ++ extra: _*)
  }

  /** Read a set of live files as of `asOf`'s schema. */
  private[sources] def readFiles(spark: SparkSession, root: String,
                        adds: Seq[AddFile], asOf: Long = -1L): DataFrame =
    scan(spark, root, adds, asOf, Nil, Nil)

  // ---- row tracking (stable row ids) ------------------------------------------
  // The protocol's rowTracking feature: every row gets a STABLE id —
  // fresh files get a baseRowId block off a never-reused high-water mark
  // (row_id = baseRowId + physical row index), and rewrites that must
  // preserve identity MATERIALIZE the ids into a hidden column. The
  // 100 TB payoff is lineage: dedup decisions, quality labels, and
  // incremental downstream state can key on a row forever, across
  // compaction, clustering, purge, and merge-on-read DML (whose untouched
  // files keep ids by construction — the bitmap marks positions, the
  // file's identity never moves).

  /** The materialized-row-id physical column name (recorded in config as
    * delta.rowTracking.materializedRowIdColumnName). Hidden: never part
    * of the logical schema, ignored by every explicit-schema scan. */
  private[sources] val RowIdCol = "_graft_row_id"

  private[sources] def rowTrackingOn(root: String): Boolean =
    readTableConfig(root).get("delta.enableRowTracking").contains("true")

  /** ENABLE row tracking: one metadata-only commit that re-adds every
    * live file (the [[commit]] stamper assigns each its baseRowId block)
    * and records the feature config. Idempotent; time travel below the
    * enable has no row ids. */
  def enableRowTracking(spark: SparkSession, root: String): Long = casRetry("enableRowTracking") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val cfg = readTableConfig(root)
    if (cfg.get("delta.enableRowTracking").contains("true")) return v - 1
    val (schema, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData to enable row tracking on"))
    val live = liveAdds(root, v - 1)
    val newCfg = cfg + ("delta.enableRowTracking" -> "true") +
      ("delta.rowTracking.materializedRowIdColumnName" -> RowIdCol)
    commit(root, v, "enable-row-tracking",
      adds = live.map(_.copy(baseRowId = None)), removes = live.map(_.file).sorted,
      schemaJson = Some(schema.json), dataChange = false, partCols = pcs,
      extraConfig = Some(newCfg), removeDvs = dvTombstones(live))
    v
  }

  /** Snapshot read with the stable `_row_id` column: materialized ids win
    * (files a layout rewrite carried forward), else baseRowId + the
    * physical row index. Deletion vectors compose (marked rows vanish,
    * their ids simply go unused). */
  def readWithRowIds(spark: SparkSession, root: String, asOf: Long = -1L): DataFrame = {
    require(rowTrackingOn(root),
      s"$root does not track row ids (call enableRowTracking first)")
    val last = latestVersion(root)
    require(last >= 0, s"$root is not a TxnTable (no _delta_log)")
    require(asOf <= last, s"version $asOf does not exist (latest $last)")
    val adds = liveAdds(root, asOf)
    require(adds.nonEmpty, s"no live files at version $asOf")
    readFilesRowId(spark, root, adds, asOf)
  }

  /** The layout-rewrite read: when row tracking is on, rows come back
    * WITH their ids materialized under [[RowIdCol]], so the rewrite's
    * output files preserve identity; otherwise a plain [[readFiles]]. */
  private[sources] def readFilesPreservingIds(spark: SparkSession, root: String,
                                     adds: Seq[AddFile], asOf: Long): DataFrame =
    if (!rowTrackingOn(root)) readFiles(spark, root, adds, asOf)
    else readFilesRowId(spark, root, adds, asOf)
      .withColumnRenamed("_row_id", RowIdCol)

  private[sources] def readFilesRowId(spark: SparkSession, root: String,
                             adds: Seq[AddFile], asOf: Long): DataFrame = {
    import spark.implicits._
    // the scan carries the hidden materialized column: files without it
    // (fresh appends) read null and fall back to baseRowId + row_index
    val scanned = scan(spark, root, adds, asOf,
      hidden = Seq(StructField(RowIdCol, LongType)),
      extra = Seq(col(RowIdCol).as("_mat_id"),
        col("_metadata.file_path").as("_fn"),
        col("_metadata.row_index").as("_rix")))
    // per-file fresh-id base, broadcast — O(files) rows, never data-sized
    val baseDf = adds.map(a =>
      (fileUri(root, a.file), a.baseRowId.getOrElse(-1L))).toDF("_fn2", "_base")
    scanned.join(broadcast(baseDf), col("_fn") === col("_fn2"), "left")
      .withColumn("_row_id",
        coalesce(col("_mat_id"), when(col("_base") >= 0L, col("_base") + col("_rix"))))
      .drop("_mat_id", "_fn", "_fn2", "_rix", "_base")
  }

  /** [[readFiles]] plus a `_file` column carrying each row's source file as
    * a ROOT-RELATIVE path (the commit log's file key) — the attribution
    * column copy-on-write MERGE/DELETE group their touched-file analysis
    * on. The `_metadata.file_path` URI is normalized to the log's key
    * space right in the scan, so every downstream comparison is an exact
    * Set lookup — no O(live × touched) suffix scans on the driver. */
  private[sources] def readFilesTagged(spark: SparkSession, root: String,
                              adds: Seq[AddFile], asOf: Long,
                              rowIndex: Boolean = false): DataFrame = {
    val rootAbs = Paths.get(root).toAbsolutePath.toString
    // file_path is a percent-encoded file: URI whose slash count varies by
    // renderer (Hadoop says file:/p, java.nio file:///p) — collapse the
    // scheme to a bare absolute path, decode it (escaping '+' first, which
    // a URI keeps literal), then strip the table root
    val relExpr = regexp_replace(
      url_decode(regexp_replace(regexp_replace(col("_metadata.file_path"),
        "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"), "\\+", "%2B")),
      "^" + java.util.regex.Pattern.quote(rootAbs) + "/", "")
    // merge-on-read DELETE needs each row's physical position too
    scan(spark, root, adds, asOf, Nil, relExpr.as("_file") +:
      (if (rowIndex) Seq(col("_metadata.row_index").as("_ri")) else Nil))
  }

  /** Change data feed between two committed versions: the keyed row-level
    * diff an incremental consumer applies to stay in sync. Emits the table
    * columns plus `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage (the open CDF vocabulary); unchanged rows emit
    * nothing. Computed as a key-shuffled full-outer join of the two
    * snapshots — the backfill path that needs no stored change files; a
    * streaming CDF would persist per-commit change files at write time
    * (the [[commit]] seam to extend). `keys` must be unique per snapshot. */
  def changeFeed(spark: SparkSession, root: String, fromV: Long, toV: Long,
                 keys: Seq[String]): DataFrame = {
    val o = readVersion(spark, root, fromV)
    val n = readVersion(spark, root, toV)
    val cols = n.columns.toSeq
    val os = o.select(struct(cols.map(col): _*).as("_o"))
    val ns = n.select(struct(cols.map(col): _*).as("_n"))
    val on = keys.map(k => col(s"_o.$k") === col(s"_n.$k")).reduce(_ && _)
    val changed = os.join(ns, on, "full_outer")
      .filter(col("_o").isNull || col("_n").isNull || !(col("_o") <=> col("_n")))
    val events = changed.select(explode(
      when(col("_o").isNull,
        array(struct(col("_n").as("r"), lit("insert").as("t"))))
      .when(col("_n").isNull,
        array(struct(col("_o").as("r"), lit("delete").as("t"))))
      .otherwise(array(
        struct(col("_o").as("r"), lit("update_preimage").as("t")),
        struct(col("_n").as("r"), lit("update_postimage").as("t"))))).as("e"))
    events.select(cols.map(c => col(s"e.r.$c")) :+ col("e.t").as("_change_type"): _*)
  }

  /** file → serialized delta bitmap (new DV minus the tombstoned one) of
    * one delete-dv commit — the positions that commit deleted. Shared by
    * the batch CDF and the txn-tail streaming source. */
  private[sources] def dvDeltaBlobs(root: String, v: Long): Map[String, Array[Byte]] = {
    val acts = readCommit(root, v).actions
    val newAdds = acts.collect { case Action(_, _, "add", a) => a }
    val oldDv = acts.collect { case Action(_, _, "remove", a) => a.file -> a.dv }.toMap
    newAdds.flatMap { a =>
      a.dv.map { d =>
        val bm = DeletionVectors.readBitmap(root, d)
        oldDv.get(a.file).flatten.foreach(od =>
          bm.andNot(DeletionVectors.readBitmap(root, od)))
        a.file -> bm.serialize()
      }
    }.toMap
  }

  /** The rows one delete-dv commit marked, synthesized from the bitmap
    * delta between each re-added file's new DV and the removed instance's
    * old one (the tombstone carries it). Reads only the touched files and
    * emits only delta-marked positions — the O(delta) CDF merge-on-read
    * deletes get for free, no stored change files. None for a no-match
    * audit commit. */
  private[sources] def dvDeltaRows(spark: SparkSession, root: String, v: Long,
                          acts: Seq[Action]): Option[DataFrame] = {
    val newAdds = acts.collect { case Action(_, _, "add", a) => a }
    if (newAdds.isEmpty) return None
    val deltaBlobs = dvDeltaBlobs(root, v)
    if (deltaBlobs.isEmpty) return None
    // scan the touched files WITHOUT their current DVs: the delta rows are
    // deleted now, so the usual alive filter would drop exactly the rows
    // this feed must emit
    val bare = newAdds.map(_.copy(dv = None))
    val taggedScan = readFilesTagged(spark, root, bare, v, rowIndex = true)
    val lookup = new graft.functions.DvLookup(
      spark.sparkContext.broadcast(deltaBlobs))
    val marked = org.apache.spark.sql.GraftColumnExpr.column(
      graft.functions.DvRowDeleted(
        org.apache.spark.sql.GraftColumnExpr.expr(col("_file")),
        org.apache.spark.sql.GraftColumnExpr.expr(col("_ri")), lookup))
    Some(taggedScan.filter(marked).drop("_file", "_ri")
      .withColumn("_change_type", lit("delete"))
      .withColumn("_commit_version", lit(v)))
  }

  /** INCREMENTAL change data feed over (fromV, toV]: one row per change
    * per COMMIT (table columns + `_change_type` + `_commit_version`),
    * assembled from O(delta) metadata + files — never a snapshot diff:
    *
    *  - append commits synthesize `insert` rows from their own add files;
    *  - merge/delete commits written with `cdf = true` read their
    *    persisted change-data files;
    *  - merge-on-read deletes ([[deleteDv]]) synthesize their deletes
    *    from the BITMAP DELTA (new DV minus the tombstoned instance's) —
    *    O(touched files), no change files needed;
    *  - layout-only commits (OPTIMIZE / ZORDER) emit nothing;
    *  - a row-rewriting commit WITHOUT change files (overwrite, restore,
    *    non-CDF merge/delete): with `keys` provided, DEGRADES to
    *    [[changeFeed]]'s keyed snapshot diff for just that one version
    *    (cost proportional to the two adjacent snapshots, not the range)
    *    — the output then carries a `_change_mode` column
    *    (`cdf`/`append`/`snapshot_diff`) so consumers can see which
    *    commits were reconstructed; without `keys` it fails loudly, as a
    *    consumer with no row identity cannot diff.
    *
    * This is the read side of the streaming-CDF contract: a downstream
    * incremental consumer tails versions and applies exactly each commit's
    * effects, at a cost proportional to what changed. Frames from before a
    * schema evolution are null-backfilled to the widest schema in the
    * range (`unionByName(allowMissingColumns)`). */
  def changeFeedIncremental(spark: SparkSession, root: String,
                            fromV: Long, toV: Long,
                            keys: Seq[String] = Seq.empty): DataFrame = {
    require(fromV < toV, s"empty version range ($fromV, $toV]")
    require(toV <= latestVersion(root), s"version $toV does not exist")
    // Frames from different versions union BY NAME — across a RENAME that
    // would silently emit BOTH the old and the new column, each half-null,
    // though they are the same physical column. Project every frame to the
    // RANGE-END logical names through PHYSICAL identity first: a field's
    // physicalName is stable across renames (it defaults to the name for
    // never-renamed columns), so pre-rename `cents` re-labels to `amount`
    // and the feed stays one seamless column. Columns added after v stay
    // absent and null-backfill as before.
    val toPhysToLogical = readMeta(root, toV).map(_._1.fields.iterator
      .map(f => physicalName(f) -> f.name).toMap).getOrElse(Map.empty)
    // change-data files carry PHYSICAL names (like data files) — re-attach
    // the range end's logical names directly off the stable identity
    def physToRangeEnd(df: DataFrame): DataFrame = {
      val renames = df.columns.iterator
        .flatMap(c => toPhysToLogical.get(c).filter(_ != c).map(c -> _)).toMap
      if (renames.isEmpty) df
      else df.select(df.columns.toSeq.map(c =>
        renames.get(c).map(col(c).as(_)).getOrElse(col(c))): _*)
    }
    def toRangeEndNames(df: DataFrame, v: Long): DataFrame = {
      if (toPhysToLogical.isEmpty) return df
      val renames = readMeta(root, v).map(_._1.fields.iterator.flatMap { f =>
        toPhysToLogical.get(physicalName(f)).filter(_ != f.name).map(f.name -> _)
      }.toMap).getOrElse(Map.empty)
      if (renames.isEmpty) df
      else df.select(df.columns.toSeq.map(c =>
        renames.get(c).map(col(c).as(_)).getOrElse(col(c))): _*)
    }
    val perVersion = versions(root).filter(v => v > fromV && v <= toV).flatMap { v =>
      val c = readCommit(root, v)
      val (acts, op) = (c.actions, c.op)
      val cdcFiles = acts.collect { case Action(_, _, "cdc", a) => a.file }
      val addFiles = acts.collect { case Action(_, _, "add", a) => a }
      val hasRemove = acts.exists(_.action == "remove")
      val layoutOnly = op == "optimize" || op == "optimize-zorder" ||
        op == "optimize-cluster" || op == "purge-deletes" ||
        op == "enable-row-tracking" // metadata re-adds: zero row changes
      def tagged(df: DataFrame, mode: String): DataFrame =
        if (keys.isEmpty) df else df.withColumn("_change_mode", lit(mode))
      val frame: Option[DataFrame] =
      if (layoutOnly || acts.isEmpty) None
      else if (cdcFiles.nonEmpty)
        Some(tagged(physToRangeEnd(
          spark.read.parquet(cdcFiles.map(f => filePath(root, f).toString): _*))
            .withColumn("_commit_version", lit(v)), "cdf"))
      else if (op == "delete-dv")
        // a merge-on-read delete needs NO stored change files: the rows it
        // deleted are exactly the bitmap DELTA (new DV minus the removed
        // instance's DV) of each re-added file — read just those files and
        // keep only delta-marked positions. O(touched files), like cdf.
        dvDeltaRows(spark, root, v, acts).map(df => tagged(df, "dv_delta"))
      else if (!hasRemove && (op == "append" || op.startsWith("append#")))
        Some(tagged(readFiles(spark, root, addFiles, v)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v)), "append"))
      else if (addFiles.isEmpty && !hasRemove) None // audited no-op commit
      else if (keys.nonEmpty)
        Some(tagged(changeFeed(spark, root, v - 1, v, keys)
          .withColumn("_commit_version", lit(v)), "snapshot_diff"))
      else sys.error(
        s"version $v ($op) rewrites rows without change files; " +
          "pass keys= for a per-version snapshot-diff fallback, " +
          "use changeFeed's snapshot diff, or commit with cdf = true")
      frame.map(toRangeEndNames(_, v))
    }
    require(perVersion.nonEmpty, s"no data-changing commits in ($fromV, $toV]")
    perVersion.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** RESTORE the table to the contents of `toVersion` — a PURE METADATA
    * commit: the restored version's files are re-added (with their
    * original stats/partitionValues/blooms) and the current extras
    * removed; not one byte of data is read or written, which is what
    * makes rollback instant at any table size. History keeps advancing
    * (the restore is itself a new version; the bad versions remain
    * auditable and time-travelable until vacuum). Fails loudly if the
    * target version's files were already vacuumed. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = casRetry("restore") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    require(toVersion >= 0 && toVersion < v,
      s"cannot restore to version $toVersion (latest ${v - 1})")
    val want = liveAdds(root, toVersion)
    val missing = want.filterNot(a => Files.exists(filePath(root, a.file)))
    require(missing.isEmpty,
      s"restore target $toVersion references vacuumed files: " +
        missing.map(_.file).mkString(", "))
    val curAdds = liveAdds(root, v - 1)
    val curByFile = curAdds.map(a => a.file -> a).toMap
    val wantFiles = want.map(_.file).toSet
    // re-add on ANY difference in the add's state, not just path presence:
    // the same file can be live on both sides with DIFFERENT deletion
    // vectors (a deleteDv between the target and now) — a path-only check
    // would silently keep the current DV and the restore would lie. The
    // superseded instance is explicitly removed first (strict protocol
    // readers reconcile by (path, dvId)), with its descriptor on the
    // tombstone.
    val readds = want.filterNot(a => curByFile.get(a.file).contains(a))
    val dropped = (curByFile.keySet -- wantFiles).toSeq ++
      readds.map(_.file).filter(curByFile.contains)
    commit(root, v, s"restore#$toVersion",
      adds = readds,
      removes = dropped.sorted,
      removeDvs = dvTombstones(dropped.flatMap(curByFile.get)))
    v
  }

  /** SYMLINK MANIFEST export (the Hive `SymlinkTextInputFormat` layout
    * the open lakehouse formats generate for Presto/Trino/Athena-class
    * readers): `_symlink_format_manifest/[col=val/...]manifest` text
    * files, one line per live data file's absolute `file:` URI. An
    * external engine that cannot fold the transaction log reads the
    * manifest instead and sees exactly the current snapshot — partition
    * dirs mirror the hive layout so partition pruning still works.
    * FULL regeneration each call (stale manifests are how external
    * readers see ghosts — the old tree is removed first); rerun after
    * every commit that should be visible externally. REFUSED while any
    * live file carries a deletion vector: a manifest can only point at
    * whole files, so exporting one would resurrect deleted rows — run
    * [[purgeDeletes]]/[[optimize]] first (the Delta contract). Returns
    * the manifest files written, root-relative. */
  def generateManifest(root: String): Seq[String] = {
    val last = latestVersion(root)
    require(last >= 0, s"$root is not a TxnTable (no _delta_log)")
    val live = liveAdds(root, last)
    val withDv = live.filter(_.dv.exists(_.cardinality > 0))
    require(withDv.isEmpty,
      s"generateManifest: ${withDv.size} live file(s) carry deletion " +
        "vectors — a symlink manifest cannot express row-level deletes " +
        "and would resurrect them; run purgeDeletes (REORG) first")
    val (_, pcs) = readMeta(root).getOrElse((StructType(Nil), Seq.empty))
    val base = Paths.get(root, "_symlink_format_manifest")
    // full regeneration: remove the previous tree so dropped partitions
    // cannot linger as ghost manifests
    if (Files.isDirectory(base))
      walkClosed(base).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    // a partitioned file's manifest directory is its own hive-encoded
    // `col=val` path segments (written by the partitioned writer); flat
    // tables get the single root manifest
    val groups = live
      .filter(a => !a.stats.exists(decodeStats(_).numRecords == 0L))
      .groupBy { a =>
        if (pcs.isEmpty) ""
        else a.file.split('/').filter(_.contains('=')).mkString("/")
      }
    groups.toSeq.sortBy(_._1).map { case (dir, adds) =>
      val d = if (dir.isEmpty) base else base.resolve(dir)
      Files.createDirectories(d)
      val lines = adds.map(a =>
        filePath(root, a.file).toAbsolutePath.toUri.toString).sorted
      Files.write(d.resolve("manifest"),
        lines.mkString("\n").getBytes(UTF_8))
      Paths.get(root).relativize(d.resolve("manifest")).toString
    }
  }

  /** Live-file inventory as of a version — the `.files` metadata-table
    * analogue: one row per live file with size, row count, partition
    * values, and the raw stats payload. Pure log fold, no data I/O. */
  def files(spark: SparkSession, root: String, asOf: Long = -1L): DataFrame = {
    import spark.implicits._
    liveAdds(root, asOf).map { a =>
      val n = a.stats.map(decodeStats(_).numRecords)
      (a.file, a.bytes, n.getOrElse(-1L),
        a.partitionValues, a.stats.orNull, a.bloom.isDefined,
        a.dv.map(_.cardinality).getOrElse(0L), a.baseRowId.getOrElse(-1L))
    }.toDF("file", "bytes", "num_records", "partition_values", "stats",
      "has_bloom", "dv_cardinality", "base_row_id")
  }

  /** One-row table summary — the DESCRIBE DETAIL analogue. */
  def detail(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val adds = liveAdds(root, -1L)
    val (schema, pcs) = readMeta(root).getOrElse((StructType(Nil), Seq.empty))
    Seq((latestVersion(root), adds.size.toLong, adds.map(_.bytes).sum,
      adds.flatMap(a => a.stats.map(decodeStats(_).numRecords)).sum,
      pcs.mkString(","), schema.simpleString))
      .toDF("version", "num_files", "size_bytes", "num_records",
        "partition_columns", "schema")
  }

  /** SHOW PARTITIONS: the live hive partition paths (`a=1/b=x`, partition
    * columns in layout order) straight off the commit log's
    * partitionValues metadata — O(files) driver work, zero data I/O.
    * Distinct and sorted; errors on an unpartitioned table, matching
    * Spark's command. */
  def showPartitions(root: String): Seq[String] = {
    val pcs = readMeta(root).map(_._2).getOrElse(Seq.empty)
    require(pcs.nonEmpty, s"SHOW PARTITIONS: $root is not a partitioned table")
    liveAdds(root, latestVersion(root))
      .map(a => pcs.map(c =>
        s"$c=${a.partitionValues.getOrElse(c, "__HIVE_DEFAULT_PARTITION__")}")
        .mkString("/"))
      .distinct.sorted
  }

  /** SHOW CREATE TABLE rendering: a re-runnable CREATE TABLE statement
    * for the table's current schema, partition layout, and properties —
    * pure metadata (one readMeta fold), like every DESCRIBE surface. */
  def showCreate(root: String, name: String): String = {
    val (schema, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root is not a TxnTable (no metaData)"))
    def q(n: String): String =
      if (n.forall(c => c.isLetterOrDigit || c == '_')) n else s"`$n`"
    val cols = schema.fields.map(f => s"  ${q(f.name)} ${f.dataType.sql}")
      .mkString(",\n")
    val part =
      if (pcs.isEmpty) "" else s"\nPARTITIONED BY (${pcs.map(q).mkString(", ")})"
    val props = readTableConfig(root)
    val propsStr =
      if (props.isEmpty) ""
      else props.toSeq.sortBy(_._1)
        .map { case (k, v) => s"  '$k' = '$v'" }
        .mkString("\nTBLPROPERTIES (\n", ",\n", "\n)")
    s"CREATE TABLE $name (\n$cols)\nUSING graft$part$propsStr"
  }

  /** Commit audit: one row per file action, the DESCRIBE HISTORY
    * analogue; `ts_millis` is the commit's `commitInfo` timestamp. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(root).map(readCommit(root, _)).flatMap(c => c.actions.map(x =>
      (x.version, c.timestamp, x.op, x.action, x.add.file, x.add.bytes, x.add.stats.orNull)))
      .toDF("version", "ts_millis", "op", "action", "file", "bytes", "stats")
  }
}

/** A snapshot's live adds as Spark's file index — Delta's log-backed
  * index: each add's path, size and partition values come from the log,
  * so no scan lists or stats a file. `listFiles` applies the static
  * partition filters itself (the file scan never re-checks partition-only
  * predicates on rows), bound by name to `partitionSchema` like Spark's
  * own `PartitioningAwareFileIndex.prunePartitions`; dynamic pruning
  * filters Spark applies to the returned directories' values. */
private[sources] final case class TxnFileIndex(root: String, adds: Seq[AddFile],
                                               partitionSchema: StructType)
    extends FileIndex {
  import org.apache.hadoop.fs.{FileStatus, Path => HPath}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Predicate}

  private lazy val partitions: Seq[(InternalRow, Seq[FileStatusWithMetadata])] = {
    val key = (a: AddFile) => partitionSchema.fields.toSeq.map(f => a.partitionValues.get(f.name))
    val statuses = adds.map(a => key(a) -> FileStatusWithMetadata(new FileStatus(
      a.bytes, false, 0, 0, 0, TxnFileIndex.qualified(TxnTable.filePath(root, a.file)))))
    val byKey = statuses.groupBy(_._1)
    statuses.map(_._1).distinct.map { k =>
      InternalRow.fromSeq(partitionSchema.fields.toSeq.zip(k).map { case (f, v) =>
        v.map(GraftCatalog.partConst(_, f.dataType)).orNull
      }) -> byKey(k).map(_._2)
    }
  }

  override def rootPaths: Seq[HPath] = Seq(TxnFileIndex.qualified(Paths.get(root)))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep: InternalRow => Boolean =
      if (partitionFilters.isEmpty) _ => true
      else Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexOf(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      }).eval
    partitions.collect { case (v, fs) if keep(v) => PartitionDirectory(v, fs) }
  }

  override def inputFiles: Array[String] =
    partitions.flatMap(_._2.map(_.getPath.toUri.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = adds.map(_.bytes).sum

  override def toString: String = s"TxnFileIndex(${adds.size} files)[$root]"
}

private[sources] object TxnFileIndex {
  /** A local path as the qualified `file:` URI a listing reports. */
  def qualified(p: Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path("file", null, p.toAbsolutePath.toString)
}
