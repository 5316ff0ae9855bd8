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

/** [[TxnTable]] concern module — LAYOUT SERVICES: OPTIMIZE compaction,
  * REORG purge of deletion vectors, z-order, liquid clustering, VACUUM,
  * and log expiry. Layout never changes contents — every op here is
  * dataChange = false. */
private[sources] trait TxnLayoutOps { self: TxnTable.type =>
  /** OPTIMIZE: rewrite every live file smaller than `smallBytes` into
    * compacted files; one commit of remove+add. Contents are bit-identical
    * (no ordering guarantee — parquet tables are unordered sets); history
    * stays time-travelable until [[vacuum]]. On a PARTITIONED table the
    * compaction respects the layout: the small files read back WITH their
    * path-encoded columns, co-locate per partition value, and rewrite
    * under fresh `col=value` directories in ONE partitionBy job — the
    * small-file hygiene pass a streaming-fed hive layout needs, and the
    * partition a file belongs to never changes. */
  def optimize(spark: SparkSession, root: String,
               smallBytes: Long = 8L << 20, targetPartitions: Int = 1): Long = casRetry("optimize") {
    val v = latestVersion(root) + 1
    val pcs = readMeta(root).map(_._2).getOrElse(Seq.empty)
    val small = liveAdds(root, v - 1).filter(_.bytes < smallBytes)
    require(small.nonEmpty, "nothing to optimize")
    val df = readFilesPreservingIds(spark, root, small, v - 1)
    val adds =
      if (pcs.isEmpty) writeDataFiles(df.repartition(targetPartitions), root, v,
        check = false)
      else writePartitionedFiles(
        df.repartition(targetPartitions, pcs.map(col): _*), root, v, pcs,
        check = false)
    commit(root, v, "optimize", adds, small.map(_.file), dataChange = false,
      partCols = pcs, removeDvs = dvTombstones(small))
    v
  }

  /** REORG PURGE (Delta's `REORG TABLE … APPLY (PURGE)` analogue):
    * materialize deletion vectors back into clean files, but ONLY where it
    * pays — files whose deleted fraction is at least `minDeletedFraction`
    * rewrite (through the DV-aware read, so the marked rows vanish and the
    * sidecar drops); lightly-shaved files keep their cheap bitmap. This is
    * the missing third of the MoR lifecycle: [[deleteDv]] defers the
    * rewrite, the scan probe pays a little per read, and purge reclaims
    * space + probe cost once the deleted mass is worth a write. At 100 TB
    * the threshold IS the knob: purge at 2% rewrites 50× more bytes than
    * the deletes shaved; purge at 30–50% amortizes. Layout-only commit
    * (dataChange:false); the freed DV sidecars age out via [[vacuum]]. */
  def purgeDeletes(spark: SparkSession, root: String,
                   minDeletedFraction: Double = 0.1): Long = casRetry("purgeDeletes") {
    require(minDeletedFraction > 0 && minDeletedFraction <= 1,
      s"minDeletedFraction must be in (0,1], got $minDeletedFraction")
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val pcs = readMeta(root).map(_._2).getOrElse(Seq.empty)
    val heavy = liveAdds(root, v - 1).filter { a =>
      a.dv.exists { d =>
        // physical row count from the add's stats; a stats-less DV'd add
        // (shouldn't exist — deleteDv carries stats over) purges to be safe
        a.stats.map(decodeStats(_).numRecords) match {
          case Some(n) if n > 0 => d.cardinality.toDouble / n >= minDeletedFraction
          case _                => true
        }
      }
    }
    if (heavy.isEmpty) return v - 1 // nothing worth rewriting; no commit
    val df = readFilesPreservingIds(spark, root, heavy, v - 1) // DV-aware: marked rows gone
    val adds =
      if (pcs.isEmpty) writeDataFiles(df, root, v, check = false)
      else writePartitionedFiles(df, root, v, pcs, check = false)
    commit(root, v, "purge-deletes", adds, heavy.map(_.file),
      dataChange = false, partCols = pcs, removeDvs = dvTombstones(heavy))
    v
  }

  /** OPTIMIZE ZORDER BY: rewrite the live files CLUSTERED on the Morton
    * interleave of two integral columns ([[graft.operators.ZOrder]]), so
    * every file's (x, y) stats box is a small rectangle and 2-D slice
    * predicates prune files the way 1-D sorts only prune their own column.
    * Same contract as [[optimize]]: contents identical (tables are
    * unordered sets), one remove+add commit, `dataChange:false`, history
    * time-travelable until vacuum. Values are masked into `bits` bits for
    * the clustering key only — correctness never depends on the layout. */
  def optimizeZorder(spark: SparkSession, root: String,
                     xCol: String, yCol: String,
                     targetPartitions: Int, bits: Int = 16): Long =
    optimizeZorderBy(spark, root, Seq(xCol, yCol), targetPartitions, bits)

  /** N-column ZORDER (Delta allows any number; n·bits must fit a BIGINT —
    * lower `bits` for more dimensions). */
  def optimizeZorderBy(spark: SparkSession, root: String, zCols: Seq[String],
                       targetPartitions: Int, bits: Int = 16): Long = casRetry("optimizeZorder") {
    val v = latestVersion(root) + 1
    val pcs = readMeta(root).map(_._2).getOrElse(Seq.empty)
    val live = liveAdds(root, v - 1)
    require(live.nonEmpty, "nothing to optimize")
    val mask = (1L << bits) - 1
    val z = expr(graft.operators.ZOrder.zExprSparkN(
      zCols.map(c => s"(CAST($c AS BIGINT) & $mask)"), bits))
    val df = readFilesPreservingIds(spark, root, live, v - 1)
    // on a partitioned table the hive layout stays the outer key: rows
    // range-cluster on (partition cols, z) so each partition directory's
    // files get tight z-rectangles and no row changes partition
    val keyCols = pcs.map(col) :+ z
    val clustered = df.repartitionByRange(targetPartitions, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    val adds =
      if (pcs.isEmpty) writeDataFiles(clustered, root, v, check = false)
      else writePartitionedFiles(clustered, root, v, pcs, check = false)
    commit(root, v, "optimize-zorder", adds, live.map(_.file), dataChange = false,
      removeDvs = dvTombstones(live),
      partCols = pcs)
    v
  }

  // ---- liquid clustering (incremental z-order maintenance) -------------------
  // The OPTIMIZE ZORDER model rewrites the WHOLE table per pass — correct,
  // but at 100 TB a nightly full rewrite is exactly the write-amplification
  // class DVs and MoR merge just eliminated. The liquid-clustering shape
  // fixes the maintenance cost: the table DECLARES its clustering columns
  // once (metadata), and each OPTIMIZE pass clusters ONLY the files that
  // arrived since the last pass — appends land unclustered, the pass folds
  // them into z-ordered files, already-clustered bytes never rewrite. Cost
  // per pass is proportional to the NEW data, not the table.

  private[sources] val ClusteringKey = "delta.clusteringColumns"
  private[sources] val ClusteringBitsKey = "graft.clustering.bits"

  /** Declare the table's clustering columns — metadata-only, like Delta's
    * `CLUSTER BY`. Numeric columns only (the Morton interleave masks each
    * to `bits` bits; clustering is layout, never correctness). */
  def setClustering(spark: SparkSession, root: String,
                    cols: Seq[String], bits: Int = 16): Long = casRetry("setClustering") {
    require(cols.nonEmpty, "setClustering needs at least one column")
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val (schema, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData to cluster"))
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        sys.error(s"no column $c"))
      require(f.dataType.isInstanceOf[NumericType],
        s"clustering column $c: ${f.dataType.simpleString} is not numeric")
      require(!pcs.contains(c),
        s"$c is a partition column — already the coarse layout key")
    }
    val cfg = readTableConfig(root) +
      (ClusteringKey -> cols.mkString(",")) +
      (ClusteringBitsKey -> bits.toString)
    commit(root, v, s"set-clustering#${cols.mkString(",")}", Seq.empty, Seq.empty,
      schemaJson = Some(schema.json), dataChange = false, partCols = pcs,
      extraConfig = Some(cfg))
    v
  }

  /** The declared clustering columns (empty when never set). */
  def clusteringColumns(root: String): Seq[String] =
    readTableConfig(root).get(ClusteringKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** INCREMENTAL clustering pass: z-order-rewrite ONLY the live files a
    * previous pass did not produce (attribution by each file's add-action
    * op). Appends since the last pass fold into clustered files; bytes a
    * prior pass already placed never rewrite — the pass costs O(new
    * data). Reads through deletion vectors (marked rows vanish, sidecars
    * drop), respects the hive layout (clusters within partitions), and
    * commits `dataChange:false` so streams skip it. No unclustered file →
    * NO commit. After [[expireLog]] truncates the op attribution below a
    * checkpoint, old files may re-cluster ONCE — wasted bytes, never
    * wrong bytes. Returns the committed (or current) version. */
  def optimizeCluster(spark: SparkSession, root: String,
                      targetPartitions: Int = 1): Long = casRetry("optimizeCluster") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val zCols = clusteringColumns(root)
    require(zCols.nonEmpty,
      s"$root has no clustering columns (declare them with setClustering)")
    val bits = readTableConfig(root).get(ClusteringBitsKey)
      .map(_.toInt).getOrElse(16)
    val pcs = readMeta(root).map(_._2).getOrElse(Seq.empty)
    val clustered = actions(root, v - 1).collect {
      case Action(_, op, "add", a) if op == "optimize-cluster" => a.file
    }.toSet
    val stale = liveAdds(root, v - 1).filterNot(a => clustered(a.file))
    if (stale.isEmpty) return v - 1 // fully clustered; no commit
    val mask = (1L << bits) - 1
    // ONE clustering column is a plain range sort (no interleave needed);
    // two or more take the Morton key
    val z = if (zCols.size == 1) col(zCols.head)
      else expr(graft.operators.ZOrder.zExprSparkN(
        zCols.map(c => s"(CAST($c AS BIGINT) & $mask)"), bits))
    val df = readFilesPreservingIds(spark, root, stale, v - 1) // DV-aware: marked rows gone
    val keyCols = pcs.map(col) :+ z
    val out = df.repartitionByRange(targetPartitions, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    val adds =
      if (pcs.isEmpty) writeDataFiles(out, root, v, check = false)
      else writePartitionedFiles(out, root, v, pcs, check = false)
    commit(root, v, "optimize-cluster", adds, stale.map(_.file),
      dataChange = false, partCols = pcs, removeDvs = dvTombstones(stale))
    v
  }

  /** VACUUM: physically delete files not referenced by any version >
    * `retainAfter` — both files a retained remove superseded AND orphans a
    * losing CAS attempt wrote but never committed (referenced by no log
    * entry, so invisible to every reader). Time travel to ≤ `retainAfter`
    * then fails loudly. As in the open formats, vacuuming while a writer
    * is mid-commit can sweep that writer's not-yet-committed files — run
    * it with a retention window in shared settings. */
  /** `dryRun = true` reports every file vacuum WOULD delete without
    * touching one byte — the sanity check an operator runs before
    * pointing a retention window at a 100 TB table. */
  def vacuum(root: String, retainAfter: Long,
             dryRun: Boolean = false): Seq[String] = {
    val latest = latestVersion(root)
    // the CURRENT snapshot is always retained (Delta's rule): a
    // retainAfter at or past latest would otherwise compute an empty
    // keep-set and delete every live file of a table the log still serves
    val firstKept = math.max(math.min(retainAfter, latest - 1) + 1, 0L)
    val keep = (firstKept to latest)
      .flatMap(v => liveFiles(root, v).map(_._1)).toSet
    val all = actions(root, -1L).collect { case Action(_, _, "add", a) => a.file }.distinct
    // change-data files age with their commit: a CDF range read reaches
    // only retained versions, so cdc files of vacuumed-away versions go too
    val cdcVictims = versions(root).filter(_ < firstKept)
      .flatMap(v => readCommit(root, v).actions.collect {
        case Action(_, _, "cdc", a) => a.file })
    // absolute entries are a shallow clone's references INTO its source —
    // vacuum through the clone must never reclaim the source's bytes
    val victims = (all.filterNot(keep.contains) ++ cdcVictims)
      .filterNot(f => Paths.get(f).isAbsolute)
      .filter(f => Files.exists(Paths.get(root, f)))
    if (!dryRun) victims.foreach(f => Files.delete(Paths.get(root, f)))
    // after expireLog, adds referenced only by a checkpoint are absent
    // from the remaining commit files — the keep-set guards them from the
    // orphan sweep (an orphan is on disk AND referenced by nothing)
    val everAdded = all.toSet ++ keep ++
      actions(root, -1L).collect { case Action(_, _, "cdc", a) => a.file }
    val orphans = Seq("data", "cdc").flatMap { sub =>
      val d = Paths.get(root, sub)
      if (!Files.isDirectory(d)) Seq.empty[String]
      else walkClosed(d).iterator().asScala
        .filter { p => val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".") }
        .map(p => Paths.get(root).relativize(p).toString)
        .filterNot(everAdded.contains).toSeq
    }
    if (!dryRun) orphans.foreach(f => Files.delete(Paths.get(root, f)))
    // deletion-vector files age like data files: a DV referenced only by
    // vacuumed-away versions (a later deleteDv superseded it, or the file
    // was compacted) is reclaimed; DVs any retained version references
    // stay. Absolute ("p") and inline ("i") descriptors never resolve to
    // a relative path here, mirroring the clone rule above.
    def dvRel(d: DeletionVectors.DvDescriptor): Option[String] =
      if (d.storageType != "u") None
      else Some(Paths.get(root).toAbsolutePath
        .relativize(d.resolveFile(root).toAbsolutePath).toString)
    val allDv = actions(root, -1L)
      .collect { case Action(_, _, "add", a) => a.dv }
      .flatten.flatMap(dvRel).distinct
    val keepDv = (firstKept to latest)
      .flatMap(v => liveAdds(root, v).flatMap(_.dv).flatMap(dvRel)).toSet
    val dvVictims = allDv.filterNot(keepDv.contains)
      .filter(f => Files.exists(Paths.get(root, f)))
    if (!dryRun) dvVictims.foreach(f => Files.delete(Paths.get(root, f)))
    val dvDir = Paths.get(root, "dv")
    val dvOrphans =
      if (!Files.isDirectory(dvDir)) Seq.empty[String]
      else walkClosed(dvDir).iterator().asScala
        .filter { p => val n = p.getFileName.toString
          n.endsWith(".bin") && !n.startsWith(".") }
        .map(p => Paths.get(root).relativize(p).toString)
        .filterNot((allDv.toSet ++ keepDv).contains).toSeq
    if (!dryRun) dvOrphans.foreach(f => Files.delete(Paths.get(root, f)))
    victims ++ orphans ++ dvVictims ++ dvOrphans
  }

  /** Sweep the LIFECYCLE directories the atomic-swap DDL leaves around a
    * table root — the disk that grows without bound under repeated
    * CTAS/REPLACE/DROP cycles and that [[vacuum]] (scoped inside a live
    * table) never sees:
    *
    *  - `<root>.__stage-*` — a CRASHED CTAS's orphan staging table.
    *    RECLAIMED once every byte in it is older than `olderThan` (an
    *    in-flight CTAS is actively writing, so its newest mtime is recent)
    *    and no live replace-intent marker references it.
    *  - `<root>.__replace-intent` whose target resolves — a STALE marker
    *    (the swap completed; only a crash between marker write and the
    *    first move leaves one). Reclaimed past retention: a live commit's
    *    marker is milliseconds old.
    *  - `<root>.__replaced-<ts>` — an RTAS-tombstoned predecessor, and
    *    `_delta_log.dropped-<ts>` inside the root — DROP tombstones. REPORTED with sizes, never deleted: they
    *    are the restore path, and reclaiming them is an operator decision
    *    (delete the reported paths directly once certain).
    *
    * Everything younger than `olderThan` (epoch ms, the same cutoff shape
    * as [[vacuum]]) is left untouched and reported `reclaimed = false`.
    * O(lifecycle files) driver I/O — never scans table data. */
  def sweepStaging(root: String, olderThan: Long,
                   dryRun: Boolean = false): Seq[SweepEntry] = {
    val rootPath = Paths.get(root).toAbsolutePath
    val parent = Option(rootPath.getParent).getOrElse(return Seq.empty)
    val name = rootPath.getFileName.toString
    def treeFiles(p: Path): Seq[Path] =
      if (!Files.exists(p)) Seq.empty
      else walkClosed(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    def newestMtime(p: Path): Long =
      (treeFiles(p).map(f => Files.getLastModifiedTime(f).toMillis) :+
        Files.getLastModifiedTime(p).toMillis).max
    def bytesOf(p: Path): Long = treeFiles(p).map(Files.size(_)).sum
    def deleteTree(p: Path): Unit =
      walkClosed(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    // a LIVE replace intent pins its staging directory: the committer (or
    // a recovering reader) may still promote it
    val marker = Paths.get(GraftCatalog.replaceIntentPath(root))
    val pinnedStaging: Option[String] =
      if (!Files.exists(marker)) None
      else try Some(MiniJson.parse(new String(Files.readAllBytes(marker), UTF_8))
        .asInstanceOf[Map[String, Any]]("staging").asInstanceOf[String])
      catch { case _: Exception => None }
    val siblings =
      if (!Files.isDirectory(parent)) Seq.empty[Path]
      else listClosed(parent).iterator().asScala
        .filter(_.getFileName.toString.startsWith(name + ".__")).toSeq
    val sibEntries = siblings.flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith(s"$name.__stage-")) {
        val pinned = pinnedStaging.exists(s =>
          Paths.get(s).toAbsolutePath == p.toAbsolutePath)
        val old = newestMtime(p) < olderThan
        val reclaim = old && !pinned
        val b = bytesOf(p)
        if (reclaim && !dryRun) deleteTree(p)
        Some(SweepEntry("stage-orphan", p.toString, b, reclaim))
      } else if (n.startsWith(s"$name.__replaced-")) {
        Some(SweepEntry("replaced", p.toString, bytesOf(p), reclaimed = false))
      } else if (n == s"$name.__replace-intent") {
        // stale only if the target RESOLVES (swap completed) and the
        // marker has aged past retention
        val stale = latestVersion(root) >= 0 &&
          Files.getLastModifiedTime(p).toMillis < olderThan
        val b = Files.size(p) // before the delete — size(p) after would throw
        if (stale && !dryRun) Files.deleteIfExists(p)
        Some(SweepEntry("replace-intent", p.toString, b, stale))
      } else if (n.startsWith(s"$name.__replace-intent.tmp")) {
        // debris from a crash between the marker write and its atomic
        // move — never consulted by recovery, reclaimable past retention
        val old = Files.getLastModifiedTime(p).toMillis < olderThan
        val b = Files.size(p)
        if (old && !dryRun) Files.deleteIfExists(p)
        Some(SweepEntry("replace-intent-tmp", p.toString, b, old))
      } else None
    }
    val droppedEntries =
      if (!Files.isDirectory(rootPath)) Seq.empty[SweepEntry]
      else listClosed(rootPath).iterator().asScala
        .filter(_.getFileName.toString.startsWith("_delta_log.dropped-"))
        .map(p => SweepEntry("dropped", p.toString, bytesOf(p),
          reclaimed = false)).toSeq
    (sibEntries ++ droppedEntries).sortBy(e => (e.kind, e.path))
  }

  /** EXPIRE the log below the newest checkpoint — the bounded-metadata
    * half of the lifecycle (VACUUM bounds data files, this bounds commit
    * files; Delta's log-retention analogue). Deletes every commit JSON and
    * older checkpoint below it. Reads at or above the checkpoint are
    * unaffected (they seed from it — including the idempotence ledger and
    * the table schema, for this module and external readers alike); time
    * travel and history below it fail loudly afterwards, like vacuumed
    * versions. Run [[vacuum]] for the expired versions' now-unreferenced
    * data files. */
  def expireLog(root: String): Seq[String] = {
    val (jsons, cps) = logListing(root)
    val cv = cps.lastOption.getOrElse(sys.error(
      s"$root has no checkpoint yet (one lands every $CheckpointInterval commits)"))
    (jsons.filter(_ < cv).map(commitPath(root, _)) ++
      cps.filter(_ < cv).map(checkpointPath(root, _))).map { p =>
      Files.delete(p)
      s"_delta_log/${p.getFileName}"
    }
  }

}
