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

/** [[TxnTable]] concern module — ROW-LEVEL DML: DELETE and UPDATE in
  * copy-on-write and merge-on-read (deletion-vector) flavors, plus the
  * shared executor-built bitmap collector. The SQL surface
  * ([[graft.sql.GraftDmlRule]]) lowers here. */
private[sources] trait TxnDmlOps { self: TxnTable.type =>
  /** DELETE WHERE (copy-on-write): remove every row matching `pred` in ONE
    * commit. Two-stage file pruning keeps the rewrite proportional to the
    * data actually hit: stats skipping first (files whose min/max prove no
    * match are never even scanned), then a scan of the candidates finds the
    * files that truly CONTAIN a match — only those are rewritten, with
    * their surviving rows (`pred` false or null) copied forward. Untouched
    * files stay in place; pre-delete versions stay time-travelable. */
  def delete(spark: SparkSession, root: String, pred: Column,
             cdf: Boolean = false): Long = casRetry("delete") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val meta = readMeta(root)
    val pcs = meta.map(_._2).getOrElse(Seq.empty)
    val adds = liveAdds(root, v - 1)
    // on a partitioned table [[pruneAdds]] already prunes whole partitions:
    // partitionValues fold in as point stats, so a partition-equality
    // conjunct drops every other directory before any footer is touched
    val (candidates, _) = pruneAdds(adds, pred,
      meta.map(m => colMapping(m._1)).getOrElse(Map.empty),
      genSchema = meta.map(_._1))
    val touchedRel =
      if (candidates.isEmpty) Seq.empty[String]
      else {
        val cur = readFilesTagged(spark, root, candidates, v - 1)
        val touched = cur.filter(pred).select("_file").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        if (touched.isEmpty) Seq.empty[String]
        else {
          // rewrite pass reads the TOUCHED files only (round 19): the old
          // `_file isin` filter over the candidate scan compared a derived
          // metadata string per row and could prune nothing — every
          // candidate file was re-read to rewrite the touched subset
          val byFile = addIndex(root, candidates)
          val inTouched = readFilesTagged(spark, root,
            touched.map(byFile), v - 1)
          val carried = inTouched
            .filter(!coalesce(pred, lit(false)))
            .drop("_file")
          // cdf = true persists the deleted rows as change-data files
          val cdcAdds =
            if (!cdf) Seq.empty[AddFile]
            else writeCdcFiles(
              inTouched.filter(coalesce(pred, lit(false))).drop("_file")
                .withColumn("_change_type", lit("delete")), root, v)
          // survivors were already valid — a delete introduces no rows,
          // so the constraint pass is skipped like OPTIMIZE's
          val rewritten =
            if (pcs.isEmpty) writeDataFiles(carried, root, v, check = false)
            else writePartitionedFiles(carried, root, v, pcs, check = false)
          commit(root, v, "delete", rewritten, touched, partCols = pcs,
            cdc = cdcAdds,
            removeDvs = dvTombstones(
              candidates.filter(a => touched.contains(a.file))))
          touched
        }
      }
    if (touchedRel.isEmpty) // no row matched: still a (file-free) commit,
      commit(root, v, "delete", Seq.empty, Seq.empty) // so the op is audited
    v
  }

  /** MERGE-ON-READ DELETE via deletion vectors: matching rows are MARKED
    * deleted in per-file bitmaps ([[DeletionVectors]]) — the touched data
    * files are re-added unchanged with a `deletionVector` descriptor, and
    * every read filters the marked positions out with an O(1)-per-row
    * probe. This is the write-amplification fix copy-on-write [[delete]]
    * lacks: deleting 0.1% of a 1 GB file commits a few-KB bitmap instead
    * of rewriting the gigabyte — at 100 TB the difference IS the DELETE
    * cost. Trade-off: reads carry the probe until [[optimize]] compacts
    * the file (compaction reads through the DV and drops it).
    *
    * Bitmaps are built DISTRIBUTED: each executor group folds its file's
    * matched row positions into a roaring bitmap; only the serialized
    * bitmaps (KBs) reach the driver, never row data. A file with an
    * existing DV gets the union (already-marked rows can't re-match — the
    * matching scan reads through the current DVs). Stats carry over
    * unchanged: min/max/null bounds stay valid (possibly loose) over the
    * surviving rows, numRecords becomes an upper bound — pruning remains
    * sound. The commit removes and re-adds the SAME path; the fold lands
    * on the re-add (removes order before adds). First use records
    * `delta.enableDeletionVectors=true` and upgrades the log protocol
    * to reader 3 / writer 7 with the deletionVectors feature, per the
    * public Delta protocol. `cdf = true` additionally persists the
    * deleted rows as change-data files for the incremental feed. */
  /** Default driver-side budget for per-commit DV blobs (256 MB). The
    * commit is driver-side metadata, so SOME driver residency is inherent
    * — the budget turns "a predicate touching millions of files silently
    * balloons the driver" into a loud, actionable failure instead. */
  private[sources] val DvDriverBudgetBytes: Long = 256L << 20

  /** Fold (file, rowIndex) matches into per-file roaring bitmaps on the
    * EXECUTORS and stream only the serialized blobs to the driver —
    * partition by partition via toLocalIterator, aborting loudly the
    * moment the accumulated bytes cross `budget` (never after the heap is
    * already gone). Shared by [[deleteDv]] and [[mergeDv]]. */
  private[sources] def collectDvBlobs(matched: DataFrame, what: String,
                             budget: Long): Seq[(String, Array[Byte], Long)] = {
    import org.apache.spark.sql.Encoders
    val ds = matched
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (f, it) =>
        val b = new DeletionVectors.RoaringBitmapArray
        it.foreach(t => b.add(t._2))
        (f, b.serialize(), b.cardinality)
      }(Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.scalaLong))
    val buf = Seq.newBuilder[(String, Array[Byte], Long)]
    var total = 0L
    var n = 0
    val it = ds.toLocalIterator()
    while (it.hasNext) {
      val t = it.next()
      total += t._2.length; n += 1
      require(total <= budget,
        s"$what: deletion-vector blobs for $n+ touched files exceed the " +
          s"driver budget ($total > $budget bytes) — narrow the predicate, " +
          "raise driverDvBudgetBytes, or use the copy-on-write path")
      buf += t
    }
    buf.result()
  }

  def deleteDv(spark: SparkSession, root: String, pred: Column,
               cdf: Boolean = false,
               driverDvBudgetBytes: Long = DvDriverBudgetBytes): Long = casRetry("deleteDv") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val meta = readMeta(root)
    val pcs = meta.map(_._2).getOrElse(Seq.empty)
    val adds = liveAdds(root, v - 1)
    val (candidates, _) = pruneAdds(adds, pred,
      meta.map(m => colMapping(m._1)).getOrElse(Map.empty),
      genSchema = meta.map(_._1))
    val committed =
      if (candidates.isEmpty) false
      else {
        val cur = readFilesTagged(spark, root, candidates, v - 1,
          rowIndex = true)
        val matched = cur.filter(pred)
          .select(col("_file").cast("string"), col("_ri").cast("long"))
        val perFile = collectDvBlobs(matched, "deleteDv", driverDvBudgetBytes)
        if (perFile.isEmpty) false
        else {
          val byFile = addIndex(root, candidates)
          val merged = perFile.sortBy(_._1).map { case (f, blob, _) =>
            val bm = DeletionVectors.RoaringBitmapArray.deserialize(blob)
            val a = byFile(f)
            a.dv.foreach(d => bm.or(DeletionVectors.readBitmap(root, d)))
            (a, bm)
          }
          val descs = DeletionVectors.writeDescriptors(root, merged.map(_._2))
          val newAdds = merged.zip(descs).map { case ((a, _), d) =>
            a.copy(dv = Some(d)) }
          val cdcAdds =
            if (!cdf) Seq.empty[AddFile]
            else writeCdcFiles(
              readFilesTagged(spark, root, perFile.map(t => byFile(t._1)), v - 1)
                .filter(coalesce(pred, lit(false)))
                .drop("_file")
                .withColumn("_change_type", lit("delete")), root, v)
          // schema + config ride the commit so the first DV use records
          // delta.enableDeletionVectors (idempotent afterwards)
          val cfg = readTableConfig(root)
          val (schemaJson, withCfg) =
            if (cfg.get("delta.enableDeletionVectors").contains("true"))
              (None, None)
            else (readMeta(root).map(_._1.json),
              Some(cfg + ("delta.enableDeletionVectors" -> "true")))
          commit(root, v, "delete-dv", newAdds, newAdds.map(_.file),
            schemaJson = schemaJson, partCols = pcs, cdc = cdcAdds,
            extraConfig = withCfg,
            removeDvs = dvTombstones(merged.map(_._1)))
          true
        }
      }
    if (!committed) // no row matched: still a (file-free) commit,
      commit(root, v, "delete-dv", Seq.empty, Seq.empty) // audited
    v
  }

  /** Apply an UPDATE's SET map to a row frame: assigned columns take
    * their expression (over the OLD row), cast back to the table type so
    * `set cents = cents * 2` can never silently widen the schema;
    * everything else passes through. Shared by [[update]]/[[updateDv]]. */
  private[sources] def applySet(df: DataFrame, schema: StructType,
                       set: Map[String, Column]): DataFrame = {
    set.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"UPDATE sets unknown column $c"))
    df.select(schema.fields.toSeq.map { f =>
      set.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
    }: _*)
  }

  /** UPDATE WHERE (copy-on-write): rows matching `pred` get the `set`
    * expressions applied (each a Column over the OLD row), in ONE commit.
    * Same two-stage pruning as [[delete]]: stats skip the candidates,
    * then only files truly CONTAINING a match rewrite — their unmatched
    * rows copied forward beside the updated images, inside their
    * partition. NULL-predicate rows do not match (SQL UPDATE). Updated
    * images re-validate CHECK constraints (an update can break what the
    * original append proved); a violating update refuses BEFORE anything
    * commits. `cdf = true` persists update pre/post image change files. */
  def update(spark: SparkSession, root: String, pred: Column,
             set: Map[String, Column], cdf: Boolean = false): Long = casRetry("update") {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val meta = readMeta(root)
    val pcs = meta.map(_._2).getOrElse(Seq.empty)
    set.keys.foreach(c => require(!pcs.contains(c),
      s"UPDATE of partition column $c is not supported (rows would have " +
        "to move directories — delete + append instead)"))
    val schema = meta.map(_._1).getOrElse(
      sys.error(s"$root has no metaData to update"))
    val adds = liveAdds(root, v - 1)
    val (candidates, _) = pruneAdds(adds, pred,
      meta.map(m => colMapping(m._1)).getOrElse(Map.empty),
      genSchema = meta.map(_._1))
    val touchedRel =
      if (candidates.isEmpty) Seq.empty[String]
      else {
        val cur = readFilesTagged(spark, root, candidates, v - 1)
        val touched = cur.filter(pred).select("_file").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        if (touched.isEmpty) Seq.empty[String]
        else {
          // touched-only rewrite read — see [[delete]] (round 19)
          val byFile = addIndex(root, candidates)
          val inTouched = readFilesTagged(spark, root,
            touched.map(byFile), v - 1)
            .drop("_file")
          val hit = coalesce(pred, lit(false))
          val updated = applySet(inTouched.filter(hit), schema, set)
          val carried = inTouched.filter(!hit)
          val cdcAdds =
            if (!cdf) Seq.empty[AddFile]
            else writeCdcFiles(
              inTouched.filter(hit)
                .withColumn("_change_type", lit("update_preimage"))
                .unionByName(updated
                  .withColumn("_change_type", lit("update_postimage"))),
              root, v)
          // carried rows were already valid; only the updated images need
          // the constraint pass — validate them alone, then write both
          // without a second pass
          validateConstraints(updated, root)
          val out = carried.unionByName(updated)
          val rewritten =
            if (pcs.isEmpty) writeDataFiles(out, root, v, check = false)
            else writePartitionedFiles(out, root, v, pcs, check = false)
          commit(root, v, "update", rewritten, touched, partCols = pcs,
            cdc = cdcAdds,
            removeDvs = dvTombstones(
              candidates.filter(a => touched.contains(a.file))))
          touched
        }
      }
    if (touchedRel.isEmpty) // no row matched: still a (file-free) commit,
      commit(root, v, "update", Seq.empty, Seq.empty) // so the op is audited
    v
  }

  /** MERGE-ON-READ UPDATE via deletion vectors: rows matching `pred` are
    * DV-MARKED in their files and their UPDATED IMAGES (the `set`
    * expressions over the old row) land in NEW files — updating 0.1% of
    * the rows spread over many gigabyte files commits a few-KB bitmap
    * plus the images' own bytes, where copy-on-write [[update]] rewrites
    * every touched file whole. Files whose cumulative deleted fraction
    * (existing DV + newly matched) reaches `rewriteFraction` take the
    * copy-on-write path in the same commit (the [[purgeDeletes]]
    * threshold reused — no purge-bait left behind). Updated images
    * re-validate CHECK constraints before anything commits; `cdf = true`
    * persists pre/post image change files; bitmaps stream to the driver
    * under `driverDvBudgetBytes` ([[collectDvBlobs]]). */
  def updateDv(spark: SparkSession, root: String, pred: Column,
               set: Map[String, Column], cdf: Boolean = false,
               rewriteFraction: Double = 0.1,
               driverDvBudgetBytes: Long = DvDriverBudgetBytes): Long = casRetry("updateDv") {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    require(rewriteFraction > 0 && rewriteFraction <= 1,
      s"rewriteFraction must be in (0,1], got $rewriteFraction")
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val meta = readMeta(root)
    val pcs = meta.map(_._2).getOrElse(Seq.empty)
    set.keys.foreach(c => require(!pcs.contains(c),
      s"UPDATE of partition column $c is not supported (rows would have " +
        "to move directories — delete + append instead)"))
    val schema = meta.map(_._1).getOrElse(
      sys.error(s"$root has no metaData to update"))
    val adds = liveAdds(root, v - 1)
    val (candidates, _) = pruneAdds(adds, pred,
      meta.map(m => colMapping(m._1)).getOrElse(Map.empty),
      genSchema = meta.map(_._1))
    val committed =
      if (candidates.isEmpty) false
      else {
        val cur = readFilesTagged(spark, root, candidates, v - 1,
          rowIndex = true)
        val hit = coalesce(pred, lit(false))
        val perFile = collectDvBlobs(
          cur.filter(hit).select(col("_file").cast("string"), col("_ri").cast("long")),
          "updateDv", driverDvBudgetBytes).sortBy(_._1)
        if (perFile.isEmpty) false
        else {
          val byFile = addIndex(root, candidates)
          val (dvSide, cowSide) = perFile.partition { case (f, _, card) =>
            val a = byFile(f)
            val old = a.dv.map(_.cardinality).getOrElse(0L)
            a.stats.map(decodeStats(_).numRecords) match {
              case Some(n) if n > 0 => (old + card).toDouble / n < rewriteFraction
              case _                => false // stats-less: rewrite to be safe
            }
          }
          val touchedAll = perFile.map(_._1)
          // touched-only rewrite reads — see [[delete]] (round 19)
          val inTouched = readFilesTagged(spark, root,
            touchedAll.map(byFile), v - 1)
            .drop("_file")
          val updated = applySet(inTouched.filter(hit), schema, set)
          validateConstraints(updated, root)
          val carried = {
            val cowFiles = cowSide.map(_._1)
            if (cowFiles.isEmpty) updated
            else readFilesTagged(spark, root, cowFiles.map(byFile), v - 1)
              .filter(!hit).drop("_file").unionByName(updated)
          }
          val cdcAdds =
            if (!cdf) Seq.empty[AddFile]
            else writeCdcFiles(
              inTouched.filter(hit)
                .withColumn("_change_type", lit("update_preimage"))
                .unionByName(updated
                  .withColumn("_change_type", lit("update_postimage"))),
              root, v)
          val dvMerged = dvSide.map { case (f, blob, _) =>
            val bm = DeletionVectors.RoaringBitmapArray.deserialize(blob)
            val a = byFile(f)
            a.dv.foreach(d => bm.or(DeletionVectors.readBitmap(root, d)))
            (a, bm)
          }
          val dvReadds =
            if (dvMerged.isEmpty) Seq.empty[AddFile]
            else DeletionVectors.writeDescriptors(root, dvMerged.map(_._2))
              .zip(dvMerged).map { case (d, (a, _)) => a.copy(dv = Some(d)) }
          val dataAdds =
            if (pcs.isEmpty) writeDataFiles(carried, root, v, check = false)
            else writePartitionedFiles(carried, root, v, pcs, check = false)
          val cfg = readTableConfig(root)
          val withCfg =
            if (dvReadds.isEmpty ||
              cfg.get("delta.enableDeletionVectors").contains("true")) None
            else Some(cfg + ("delta.enableDeletionVectors" -> "true"))
          val touchedSet = touchedAll.toSet
          commit(root, v, "update-dv", dataAdds ++ dvReadds, touchedAll.sorted,
            schemaJson = Some(schema.json), partCols = pcs, cdc = cdcAdds,
            extraConfig = withCfg,
            removeDvs = dvTombstones(candidates.filter(a => touchedSet(a.file))))
          true
        }
      }
    if (!committed) // no row matched: still a (file-free) commit,
      commit(root, v, "update-dv", Seq.empty, Seq.empty) // audited
    v
  }
}
