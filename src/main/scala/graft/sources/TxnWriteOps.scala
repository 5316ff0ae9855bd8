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

/** [[TxnTable]] concern module — BATCH WRITES: create/append (with schema
  * evolution + column-mapping stamping), partitioned appends, idempotent
  * appends, overwrite, and the keyed/multi-clause MERGE front doors. */
private[sources] trait TxnWriteOps { self: TxnTable.type =>
  /** CREATE an empty table: a v0 commit fixing the schema (and, when
    * `partCols` is non-empty, the hive partition layout every later append
    * must match). One schema-bearing empty part file keeps the snapshot
    * readable from birth (a zero-row scan, not an error) — the CREATE
    * TABLE half of the SQL surface's CTAS. */
  def create(spark: SparkSession, root: String, schema: StructType,
             partCols: Seq[String] = Nil,
             properties: Map[String, String] = Map.empty): Long = {
    require(latestVersion(root) < 0, s"$root already has a _delta_log")
    require(partCols.forall(schema.fieldNames.contains),
      s"partition columns ${partCols.mkString(",")} must exist in the schema")
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .repartition(1)
    val adds = writeDataFiles(empty, root, 0, check = false)
    commit(root, 0, "create", adds, Seq.empty,
      schemaJson = Some(schema.json), partCols = partCols,
      extraConfig = if (properties.isEmpty) None else Some(properties))
    0L
  }

  /** Append `df` as a new commit; returns the committed version. Safe
    * under CONCURRENT writers: the data files are written once (appends
    * are snapshot-independent), then the version claim retries the CAS
    * until it lands on a fresh latest+1. The batch schema must match the
    * table's (names + types; order and nullability free) — for widening
    * batches use [[appendEvolve]]. */
  def append(df: DataFrame, root: String): Long =
    appendImpl(df, root, evolve = false)

  /** Append with SCHEMA EVOLUTION (the mergeSchema shape): new columns
    * extend the table schema (a metaData action records the evolved shape
    * at this commit — latest-wins on read, old versions keep theirs under
    * time travel), columns the batch omits read back as null from the
    * unified-schema scan, and type changes are refused. */
  def appendEvolve(df: DataFrame, root: String): Long =
    appendImpl(df, root, evolve = true)

  /** Unify the batch schema with the table's current one. `evolve = false`
    * refuses any shape drift; `evolve = true` widens (new columns append,
    * type changes are refused). Recomputed per CAS attempt — see
    * [[appendImpl]]. */
  private[sources] def unifiedSchema(root: String, batch: StructType,
                            evolve: Boolean, what: String): StructType =
    readMeta(root) match {
      case None => batch
      case Some((cur, _)) if sameShape(cur, batch) => cur
      case Some((cur, _)) =>
        require(evolve,
          s"$what batch schema ${batch.simpleString} does not match table " +
            s"schema ${cur.simpleString}; use appendEvolve to widen")
        val curTypes = cur.fields.map(f => f.name -> shapeType(f.dataType)).toMap
        batch.fields.foreach { f =>
          curTypes.get(f.name).foreach { dt =>
            require(dt == shapeType(f.dataType),
              s"column ${f.name}: type change $dt -> ${f.dataType} is not " +
                "supported in an append; widen the TABLE first with " +
                "widenColumn (metadata-only), then append the wide batch")
          }
        }
        StructType(cur.fields ++
          batch.fields.filterNot(f => curTypes.contains(f.name))
            .map(_.copy(nullable = true)))
    }

  /** Under name-mode column mapping, brand-new columns an evolution adds
    * get FRESH physical names off the maxColumnId counter — a re-added
    * column NEVER reuses a dropped column's physical name, so old files'
    * stale values cannot leak into it (the column-mapping protocol's
    * no-reuse rule). Identity tables pass through untouched. */
  private[sources] def stampEvolved(root: String,
                           schema: StructType): (StructType, Option[Map[String, String]]) = {
    val cfg = readTableConfig(root)
    if (!cfg.get("delta.columnMapping.mode").contains("name")) (schema, None)
    else if (schema.fields.forall(_.metadata.contains(PhysNameKey))) (schema, None)
    else {
      var id = cfg.get("delta.columnMapping.maxColumnId")
        .map(_.toLong).getOrElse(schema.fields.length.toLong)
      val out = StructType(schema.fields.map { f =>
        if (f.metadata.contains(PhysNameKey)) f
        else {
          id += 1
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(PhysNameKey, s"col-$id").putLong(ColIdKey, id).build())
        }
      })
      (out, Some(cfg + ("delta.columnMapping.maxColumnId" -> id.toString)))
    }
  }

  private[sources] def appendImpl(df: DataFrame, root: String, evolve: Boolean): Long = {
    requireUnpartitioned(root, "plain append")
    // the mapping for NEW columns must be fixed BEFORE the files write —
    // they land under their fresh physical names
    val (unifiedPre, _) = stampEvolved(root,
      unifiedSchema(root, df.schema, evolve, "append"))
    val batchCols = df.columns.toSet
    val adds = writeDataFiles(df, root, latestVersion(root) + 1,
      mappingOverride = Some(colMapping(unifiedPre)))
    casRetry("append") {
      // the unified schema is recomputed INSIDE the retry body: a lost CAS
      // means another writer (possibly an evolving append) advanced the
      // table, and committing a schema unified against the pre-race
      // metadata would re-emit the stale shape as latest and regress the
      // evolution for every later read
      val (unified, cfgUp) = stampEvolved(root,
        unifiedSchema(root, df.schema, evolve, "append"))
      require(
        colMapping(unified).view.filterKeys(batchCols).toMap ==
          colMapping(unifiedPre).view.filterKeys(batchCols).toMap,
        "a concurrent schema change remapped this batch's columns between " +
          "write and commit; retry the append")
      val v = latestVersion(root) + 1
      commit(root, v, "append", adds, Seq.empty,
        schemaJson = Some(unified.json), extraConfig = cfgUp)
      v
    }
  }

  /** Append into a HIVE-PARTITIONED layout (`data/vN/col=value/part…`):
    * every add action records its partitionValues, and reads prune on them
    * BEFORE stats — the coarse 100 TB knife (a day-partitioned table's
    * time-range query touches the matching directories' files only, by
    * metadata fold alone). The first commit fixes the partition columns
    * (recorded in the metaData action); later appends must match them. Partition column stats live
    * in partitionValues, data-column stats in the footers — exactly the
    * protocol's split. */
  def appendPartitioned(df: DataFrame, root: String,
                        partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "appendPartitioned needs partition columns")
    require(partCols.forall(df.columns.contains),
      s"partition columns ${partCols.mkString(",")} must exist in the schema")
    val adds = writePartitionedFiles(df, root, latestVersion(root) + 1, partCols)
    casRetry("appendPartitioned") {
      val v = latestVersion(root) + 1
      if (v > 0) readMeta(root).foreach { case (_, pcs) =>
        require(pcs == partCols,
          s"table is partitioned by ${pcs.mkString(",")}, got ${partCols.mkString(",")}")
      }
      // the batch frame has no column-mapping metadata — inherit the
      // table's per-field metadata (stable physical names) or a renamed
      // table's next partitioned append would wipe the mapping
      val schemaOut = readMeta(root).map(_._1) match {
        case Some(cur) =>
          StructType(df.schema.fields.map(f =>
            cur.fields.find(_.name == f.name)
              .map(o => f.copy(metadata = o.metadata)).getOrElse(f)))
        case None => df.schema
      }
      commit(root, v, "append", adds, Seq.empty,
        schemaJson = Some(schemaOut.json), partCols = partCols)
      v
    }
  }

  private[sources] def writePartitionedFiles(df0: DataFrame, root: String, version: Long,
                                    partCols: Seq[String],
                                    check: Boolean = true): Seq[AddFile] = {
    if (check) validateConstraints(df0, root)
    // data columns rename logical → physical under column mapping, exactly
    // like the flat writer; partition columns never rename (renameColumn
    // refuses them — their name is the directory encoding), so partitionBy
    // keys are untouched
    val mapping = readMeta(root).map(m => colMapping(m._1)).getOrElse(Map.empty)
    val df = if (mapping.isEmpty) df0
      else df0.select(df0.columns.toSeq.map(c =>
        col(c).as(mapping.getOrElse(c, c))): _*)
    val sub = dataSub(version)
    val dst = Paths.get(root, sub)
    withMicrosTimestamps(df)(
      df.write.partitionBy(partCols: _*).mode(SaveMode.ErrorIfExists)
        .parquet(dst.toString))
    // partition columns are path-encoded, not stored in the files
    val dataSchema = StructType(
      df.schema.fields.filterNot(f => partCols.contains(f.name)))
    val rels = walkClosed(dst).iterator().asScala
      .filter { p => val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") }
      .map(p => dst.relativize(p).toString)
      .toSeq.sorted
    val stats = new java.util.concurrent.ConcurrentHashMap[String, String]()
    rels.asJava.parallelStream()
      .forEach(r => stats.put(r, footerStats(dst.resolve(r), dataSchema)))
    rels.map { r =>
      val pvs = r.split('/').init.map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"unexpected non-partition dir in $r")
        unescapePartValue(kv.substring(0, i)) -> unescapePartValue(kv.substring(i + 1))
      }.toMap
      AddFile(s"$sub/$r", Files.size(dst.resolve(r)), Some(stats.get(r)), pvs)
    }
  }

  /** Undo Hive-style %XX path escaping of partition names/values. */
  private[sources] def unescapePartValue(s: String): String = {
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder; var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 3 <= s.length) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }
  }

  /** Idempotent append: commits `df` tagged with `token` unless a commit
    * bearing the same token already exists, in which case that version is
    * returned and NOTHING is written — the txnAppId/txnVersion exactly-once
    * pattern with the commit log as the dedup ledger. This is what lets a
    * restarted streaming query redeliver a micro-batch harmlessly (see
    * [[graft.streaming.TxnSink]]). */
  def appendOnce(df: DataFrame, root: String, token: String,
                 partCols: Seq[String] = Nil): Long = {
    // tokens embed in one NDJSON log line: quotes/backslashes round-trip
    // through esc()+MiniJson, but raw control characters would split the
    // line — refuse them at the door
    require(token.forall(c => c >= ' '),
      s"appendOnce token must not contain control characters: ${token.trim}")
    // the table's layout wins; partCols only seeds a FIRST commit (the
    // streaming-sink path: batch 0 creates the partitioned table)
    val pcs = readMeta(root).map(_._2).getOrElse(partCols)
    require(partCols.isEmpty || pcs == partCols,
      s"table is partitioned by ${pcs.mkString(",")}, got ${partCols.mkString(",")}")
    // the merge ledger's appIds carry this prefix — an append token
    // spelled the same would alias it
    require(!token.startsWith(MergeDvLedger),
      s"appendOnce token must not start with $MergeDvLedger: $token")
    // the dedup ledger is the log's `txn` actions (appId = token), which
    // checkpoints carry, so redelivery detection folds checkpoint + tail
    def existing: Option[Long] = snapshot(root).txns.get(token)
    existing.getOrElse {
      val adds =
        if (pcs.isEmpty) writeDataFiles(df, root, latestVersion(root) + 1)
        else writePartitionedFiles(df, root, latestVersion(root) + 1, pcs)
      casRetry("appendOnce") {
        // exactly-once hinges on the ledger check and the version claim
        // sharing ONE snapshot: pin v FIRST, check the token at v−1, then
        // CAS exactly v. Checking the ledger "at latest" instead is a
        // TOCTOU — a racer committing the same token between the check and
        // the claim lands the token TWICE at consecutive versions (caught
        // live by the concurrent-appendOnce spec). If the racer claims v
        // first, our CAS fails and the retry sees their token.
        val v = latestVersion(root) + 1
        snapshot(root, v - 1).txns.get(token).getOrElse {
          // same rebase rule as appendImpl: a mismatched batch must not
          // silently become the table's latest metaData
          val unified = unifiedSchema(root, df.schema, evolve = false, "appendOnce")
          commit(root, v, s"append#$token", adds, Seq.empty,
            schemaJson = Some(unified.json), txn = Some((token, v)),
            partCols = pcs)
          v
        }
      }
    }
  }

  /** Replace the table contents with `df` (the batch overwrite sink shape,
    * ref SaveDelta batch path): adds the new files, removes every
    * previously-live one — in ONE commit, so readers flip atomically and
    * the pre-overwrite version remains time-travelable. */
  def overwrite(df: DataFrame, root: String): Long = casRetry("overwrite") {
    val pcs = readMeta(root).map(_._2).getOrElse(Seq.empty)
    val v = latestVersion(root) + 1
    require(pcs.forall(df.columns.contains),
      s"overwrite batch must carry the partition columns ${pcs.mkString(",")}")
    val adds =
      if (pcs.isEmpty) writeDataFiles(df, root, v)
      else writePartitionedFiles(df, root, v, pcs)
    // keep column-mapping metadata (stable physical names / ids) across an
    // overwrite: matching columns inherit the table's field metadata, so
    // the just-written physically-named files stay readable
    val schemaOut = readMeta(root).map(_._1) match {
      case Some(cur) if sameShape(cur, df.schema) => cur
      case Some(cur) =>
        StructType(df.schema.fields.map(f =>
          cur.fields.find(_.name == f.name)
            .map(o => f.copy(metadata = o.metadata)).getOrElse(f)))
      case None => df.schema
    }
    val dropped = liveAdds(root, v - 1)
    commit(root, v, "overwrite", adds,
      dropped.map(_.file), schemaJson = Some(schemaOut.json),
      partCols = pcs, removeDvs = dvTombstones(dropped))
    v
  }

  /** MERGE INTO (keyed upsert, copy-on-write): apply `delta` to the
    * current snapshot — delta rows whose key matches an existing row
    * REPLACE it, the rest INSERT — in ONE commit. The Delta-lake merge
    * mechanics, not an overwrite in disguise: only the live files that
    * actually CONTAIN a matched key are rewritten (their unmatched rows
    * copied forward + every delta row); untouched files stay in place, so
    * a merge that hits one hot partition of a 100 TB table rewrites that
    * partition, not the table. File attribution rides `_metadata.file_path`
    * (no extra scan); the touched-file list is O(files) driver metadata,
    * same as the commit itself, and AQE broadcasts the delta key set when
    * it is small (the typical CDC upsert batch). Pre-merge versions stay time-travelable.
    * `delta` must carry distinct keys (the upsert set) and the table
    * schema. */
  def merge(spark: SparkSession, delta: DataFrame, root: String,
            keys: Seq[String], cdf: Boolean = false): Long = casRetry("merge") {
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    // a delta narrower than an evolved table would silently drop the new
    // columns from the carried rows — refuse shape drift here
    readMeta(root).foreach { case (cur, _) =>
      require(sameShape(cur, delta.schema),
        s"merge delta schema ${delta.schema.simpleString} must match the " +
          s"table schema ${cur.simpleString}") }
    val pcs = readMeta(root).map(_._2).getOrElse(Seq.empty)
    val live = liveAdds(root, v - 1)
    // partition pruning of the candidate set: when every partition column
    // is a merge key, a file whose partitionValues tuple never appears in
    // the delta cannot contain a matched key — whole untouched partitions
    // drop out of the scan by metadata alone (the 100 TB shape: a
    // day-keyed upsert touches its days' directories, not the table)
    val candidates =
      if (pcs.nonEmpty && pcs.forall(keys.contains)) {
        val dTuples = delta
          .select(pcs.map(c => col(c).cast("string")): _*).distinct()
          .collect().map(r => pcs.indices.map(i =>
            if (r.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__" else r.getString(i)).toList)
          .toSet
        live.filter(a => dTuples.contains(pcs.map(c =>
          a.partitionValues.getOrElse(c, "")).toList))
      } else live
    val cols = delta.columns.toSeq
    val cur = readFilesTagged(spark, root, candidates, v - 1)
      .select(col("_file"), struct(cols.map(col): _*).as("_r"))
    val dKeys = delta.select(keys.map(col): _*).distinct()
    val onKeys = keys.map(k => col(s"_r.$k") === dKeys(k)).reduce(_ && _)
    // touched = live files containing at least one delta key — O(files) rows
    val touchedRel =
      if (candidates.isEmpty) Seq.empty[String]
      else cur.join(dKeys, onKeys, "left_semi")
        .select(col("_file")).distinct().collect().map(_.getString(0)).toSeq.sorted
    // touched-only rewrite read (round 19): the old `_file isin` filter
    // compared a derived metadata string per row and pruned nothing at
    // the reader — every candidate file was re-scanned to rewrite the
    // touched subset
    val byFileCow = addIndex(root, candidates)
    def touchedStruct(files: Seq[String], as: String) =
      readFilesTagged(spark, root, files.map(byFileCow), v - 1)
        .select(struct(cols.map(col): _*).as(as))
    val carried =
      if (touchedRel.isEmpty) delta
      else {
        touchedStruct(touchedRel, "_r")
          .join(dKeys, onKeys, "left_anti")
          .select(cols.map(c => col(s"_r.$c").as(c)): _*)
          .unionByName(delta)
      }
    // cdf = true persists this commit's row-level changes as change-data
    // files (the streaming-CDF write side — [[changeFeedIncremental]]
    // reads them): matched keys whose row actually changed emit
    // update pre/post images, unmatched delta rows emit inserts.
    // Opt-in: a merge without CDF consumers pays nothing extra.
    val cdcAdds =
      if (!cdf) Seq.empty[AddFile]
      else {
        val changes =
          if (touchedRel.isEmpty) delta.withColumn("_change_type", lit("insert"))
          else {
            val old = touchedStruct(touchedRel, "_o")
            val nsj = delta.select(struct(cols.map(col): _*).as("_n"))
            val on = keys.map(k => col(s"_o.$k") === col(s"_n.$k")).reduce(_ && _)
            val joined = old.join(nsj, on, "full_outer")
              // carried rows (_n null) and no-op updates stay silent
              .filter(col("_o").isNull ||
                (col("_n").isNotNull && !(col("_o") <=> col("_n"))))
            joined.select(explode(
              when(col("_o").isNull,
                array(struct(col("_n").as("r"), lit("insert").as("t"))))
              .otherwise(array(
                struct(col("_o").as("r"), lit("update_preimage").as("t")),
                struct(col("_n").as("r"), lit("update_postimage").as("t"))))).as("e"))
              .select(cols.map(c => col(s"e.r.$c")) :+
                col("e.t").as("_change_type"): _*)
          }
        writeCdcFiles(changes, root, v)
      }
    val adds =
      if (pcs.isEmpty) writeDataFiles(carried, root, v)
      else writePartitionedFiles(carried, root, v, pcs)
    // commit the TABLE's schema (same shape was required above): the
    // delta frame has no column-mapping metadata to preserve
    val schemaOut = readMeta(root).map(_._1).getOrElse(delta.schema)
    val touchedSet = touchedRel.toSet
    commit(root, v, "merge", adds, touchedRel,
      schemaJson = Some(schemaOut.json), partCols = pcs, cdc = cdcAdds,
      removeDvs = dvTombstones(candidates.filter(a => touchedSet(a.file))))
    v
  }

  /** MULTI-CLAUSE MERGE — the full SQL semantics over an arbitrary join
    * condition: conditional WHEN MATCHED UPDATE/DELETE, conditional WHEN
    * NOT MATCHED INSERT, WHEN NOT MATCHED BY SOURCE UPDATE/DELETE (see
    * [[MergeClause]]). `condition` and every clause expression reference
    * the two sides through `targetAlias`/`sourceAlias` (e.g.
    * `col("t.id") === col("s.id")`). `mor = false` rewrites touched files
    * copy-on-write; `mor = true` marks replaced rows in deletion-vector
    * bitmaps and spills only images + inserts to new files (files past
    * `rewriteFraction` cumulative deletion rewrite clean instead).
    * `cdf = true` persists per-clause change files. ONE commit either
    * way; SQL `MERGE INTO` on a graft-catalog table lowers here. Design
    * and scale notes: [[MergeMulti]]. */
  def mergeMulti(spark: SparkSession, root: String, source: DataFrame,
                 condition: Column,
                 matched: Seq[MergeClause] = Nil,
                 notMatched: Seq[MergeClause] = Nil,
                 notMatchedBySource: Seq[MergeClause] = Nil,
                 targetAlias: String = "t", sourceAlias: String = "s",
                 cdf: Boolean = false, mor: Boolean = false,
                 rewriteFraction: Double = 0.1,
                 driverDvBudgetBytes: Long = DvDriverBudgetBytes,
                 schemaEvolution: Boolean = false): Long =
    MergeMulti.run(spark, root, source, condition, targetAlias, sourceAlias,
      matched, notMatched, notMatchedBySource, cdf, mor, rewriteFraction,
      driverDvBudgetBytes, schemaEvolution)

  /** MERGE-ON-READ MERGE: the keyed upsert of [[merge]] with [[deleteDv]]'s
    * write-amplification fix composed in. Rows a delta key REPLACES are
    * DV-MARKED in place (their file re-adds unchanged with a new deletion
    * vector); every delta row — replacement images and fresh inserts alike
    * — lands in NEW files. A CDC-style merge touching 1% of the rows in
    * many files therefore commits a few bitmaps plus the delta's own bytes
    * where copy-on-write [[merge]] rewrites every touched file whole — at
    * 100 TB that difference IS the merge cost. Files whose CUMULATIVE
    * deleted fraction (existing DV + newly matched rows) reaches
    * `rewriteFraction` take the copy-on-write path right here instead (the
    * [[purgeDeletes]] threshold reused: past that mass a rewrite is
    * cheaper than carrying the bitmap, and handling it in the merge means
    * the commit never manufactures purge-bait). Same contract as [[merge]]
    * otherwise: `delta` carries distinct keys and the table schema, ONE
    * commit, whole-partition pruning when every partition column is a
    * merge key, `cdf = true` persists row-level change files, pre-merge
    * versions stay time-travelable. Bitmaps build distributed and stream
    * to the driver under `driverDvBudgetBytes` ([[collectDvBlobs]]). */
  def mergeDv(spark: SparkSession, delta: DataFrame, root: String,
              keys: Seq[String], cdf: Boolean = false,
              rewriteFraction: Double = 0.1,
              driverDvBudgetBytes: Long = DvDriverBudgetBytes): Long = casRetry("mergeDv") {
    mergeDvBody(spark, delta, root, keys, cdf, rewriteFraction,
      driverDvBudgetBytes, op = "merge-dv", token = None)
  }

  /** IDEMPOTENT merge-on-read merge: [[mergeDv]] tagged with `token` — a
    * commit bearing the same token already in the ledger returns that
    * version and writes NOTHING. The exactly-once upsert twin of
    * [[appendOnce]]: a restarted streaming query redelivering micro-batch
    * N merges it zero times more, which is what lets
    * [[graft.streaming.TxnUpsertSink]] land a CDC changelog as keyed
    * upserts with exactly-once CONTENT. The token ledger rides the same
    * checkpointed fold as appendOnce's (`txn` appIds prefixed `merge-dv#`), so redelivery
    * detection stays O(checkpoint + tail) at any history length. */
  def mergeDvOnce(spark: SparkSession, delta: DataFrame, root: String,
                  keys: Seq[String], token: String, cdf: Boolean = false,
                  rewriteFraction: Double = 0.1,
                  driverDvBudgetBytes: Long = DvDriverBudgetBytes): Long = {
    require(token.forall(c => c >= ' '),
      s"mergeDvOnce token must not contain control characters: ${token.trim}")
    def existing: Option[Long] = snapshot(root).txns.get(MergeDvLedger + token)
    existing.getOrElse(casRetry("mergeDvOnce") {
      // the same token may have won a concurrent race — re-check inside
      // the CAS loop so redelivery never double-merges
      existing.getOrElse(mergeDvBody(spark, delta, root, keys, cdf,
        rewriteFraction, driverDvBudgetBytes, s"merge-dv#$token", Some(token)))
    })
  }

  /** appId prefix of [[mergeDvOnce]]'s `txn` actions — keeps its ledger
    * apart from [[appendOnce]]'s, whose appId is the bare token. */
  private[sources] val MergeDvLedger = "merge-dv#"

  private[sources] def mergeDvBody(spark: SparkSession, delta: DataFrame, root: String,
                          keys: Seq[String], cdf: Boolean,
                          rewriteFraction: Double,
                          driverDvBudgetBytes: Long,
                          op: String, token: Option[String]): Long = {
    require(rewriteFraction > 0 && rewriteFraction <= 1,
      s"rewriteFraction must be in (0,1], got $rewriteFraction")
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    // exactly-once: the token-ledger check shares THIS claim's snapshot
    // (v − 1) — checking "at latest" outside would be the appendOnce
    // TOCTOU, where a racer's commit between check and claim lands the
    // same token twice. If a racer claims v first, our CAS fails and the
    // retry re-enters here seeing their token.
    val appId = token.map(MergeDvLedger + _)
    appId.foreach { id =>
      val prior = snapshot(root, v - 1).txns.get(id)
      if (prior.isDefined) return prior.get
    }
    readMeta(root).foreach { case (cur, _) =>
      require(sameShape(cur, delta.schema),
        s"mergeDv delta schema ${delta.schema.simpleString} must match the " +
          s"table schema ${cur.simpleString}") }
    val pcs = readMeta(root).map(_._2).getOrElse(Seq.empty)
    val live = liveAdds(root, v - 1)
    val candidates =
      if (pcs.nonEmpty && pcs.forall(keys.contains)) {
        val dTuples = delta
          .select(pcs.map(c => col(c).cast("string")): _*).distinct()
          .collect().map(r => pcs.indices.map(i =>
            if (r.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__" else r.getString(i)).toList)
          .toSet
        live.filter(a => dTuples.contains(pcs.map(c =>
          a.partitionValues.getOrElse(c, "")).toList))
      } else live
    val cols = delta.columns.toSeq
    val dKeys = delta.select(keys.map(col): _*).distinct()
    if (candidates.isEmpty) {
      // nothing can match: the whole delta is an insert batch
      val cdcAdds =
        if (!cdf) Seq.empty[AddFile]
        else writeCdcFiles(delta.withColumn("_change_type", lit("insert")), root, v)
      val adds =
        if (pcs.isEmpty) writeDataFiles(delta, root, v)
        else writePartitionedFiles(delta, root, v, pcs)
      val schemaOut = readMeta(root).map(_._1).getOrElse(delta.schema)
      commit(root, v, op, adds, Seq.empty,
        schemaJson = Some(schemaOut.json), partCols = pcs, cdc = cdcAdds,
        txn = appId.map(id => (id, v)))
      return v
    }
    val cur = readFilesTagged(spark, root, candidates, v - 1, rowIndex = true)
      .select(col("_file"), col("_ri"), struct(cols.map(col): _*).as("_r"))
    val onKeys = keys.map(k => col(s"_r.$k") === dKeys(k)).reduce(_ && _)
    // per-file bitmaps of the REPLACED positions — O(files) driver metadata
    // (the same shape as the commit itself), rows never leave the executors
    val matched = collectDvBlobs(
      cur.join(dKeys, onKeys, "left_semi")
        .select(col("_file").cast("string"), col("_ri").cast("long")),
      "mergeDv", driverDvBudgetBytes).sortBy(_._1)
    val byFile = addIndex(root, candidates)
    // lightly-hit files keep their bytes and gain a bitmap; files past the
    // threshold (counting what earlier DVs already shaved) rewrite clean
    val (dvSide, cowSide) = matched.partition { case (f, _, card) =>
      val a = byFile(f)
      val old = a.dv.map(_.cardinality).getOrElse(0L)
      a.stats.map(decodeStats(_).numRecords) match {
        case Some(n) if n > 0 => (old + card).toDouble / n < rewriteFraction
        case _                => false // stats-less: rewrite to be safe
      }
    }
    // touched-only rewrite reads (round 19) — see [[merge]]
    def touchedStructDv(files: Seq[String], as: String) =
      readFilesTagged(spark, root, files.map(byFile), v - 1)
        .select(struct(cols.map(col): _*).as(as))
    val cowFiles = cowSide.map(_._1)
    val carried =
      if (cowFiles.isEmpty) delta
      else touchedStructDv(cowFiles, "_r")
        .join(dKeys, onKeys, "left_anti")
        .select(cols.map(c => col(s"_r.$c").as(c)): _*)
        .unionByName(delta)
    val touchedAll = matched.map(_._1)
    val cdcAdds =
      if (!cdf) Seq.empty[AddFile]
      else {
        val changes =
          if (touchedAll.isEmpty) delta.withColumn("_change_type", lit("insert"))
          else {
            val old = touchedStructDv(touchedAll, "_o")
            val nsj = delta.select(struct(cols.map(col): _*).as("_n"))
            val on = keys.map(k => col(s"_o.$k") === col(s"_n.$k")).reduce(_ && _)
            val joined = old.join(nsj, on, "full_outer")
              .filter(col("_o").isNull ||
                (col("_n").isNotNull && !(col("_o") <=> col("_n"))))
            joined.select(explode(
              when(col("_o").isNull,
                array(struct(col("_n").as("r"), lit("insert").as("t"))))
              .otherwise(array(
                struct(col("_o").as("r"), lit("update_preimage").as("t")),
                struct(col("_n").as("r"), lit("update_postimage").as("t"))))).as("e"))
              .select(cols.map(c => col(s"e.r.$c")) :+
                col("e.t").as("_change_type"): _*)
          }
        writeCdcFiles(changes, root, v)
      }
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
      if (pcs.isEmpty) writeDataFiles(carried, root, v)
      else writePartitionedFiles(carried, root, v, pcs)
    val schemaOut = readMeta(root).map(_._1).getOrElse(delta.schema)
    // the first DV use flips the table feature on, exactly like deleteDv
    val cfg = readTableConfig(root)
    val withCfg =
      if (dvReadds.isEmpty || cfg.get("delta.enableDeletionVectors").contains("true")) None
      else Some(cfg + ("delta.enableDeletionVectors" -> "true"))
    val touchedSet = touchedAll.toSet
    commit(root, v, op, dataAdds ++ dvReadds, touchedAll.sorted,
      schemaJson = Some(schemaOut.json), partCols = pcs, cdc = cdcAdds,
      extraConfig = withCfg, txn = appId.map(id => (id, v)),
      removeDvs = dvTombstones(candidates.filter(a => touchedSet(a.file))))
    v
  }

}
