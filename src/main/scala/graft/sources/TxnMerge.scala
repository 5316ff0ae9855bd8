package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One WHEN clause of a multi-clause MERGE ([[TxnTable.mergeMulti]]) —
  * the SQL-standard / open-lakehouse clause model:
  *
  * {{{
  *   WHEN MATCHED [AND cond] THEN UPDATE SET ... | UPDATE SET * | DELETE
  *   WHEN NOT MATCHED [AND cond] THEN INSERT (...) VALUES (...) | INSERT *
  *   WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE
  * }}}
  *
  * Conditions and expressions are Columns over the ALIASED sides (the
  * `targetAlias`/`sourceAlias` passed to mergeMulti): matched clauses see
  * both `t.*` and `s.*`; not-matched (insert) clauses see `s.*` (target
  * refs are null); not-matched-by-source clauses see `t.*` only (source
  * refs are null — don't reference them). Within each group the FIRST
  * clause whose condition holds applies; a condition of None always
  * holds. */
sealed trait MergeClause { def condition: Option[Column] }
object MergeClause {
  /** WHEN [NOT] MATCHED ... THEN UPDATE SET col = expr, ... */
  final case class Update(condition: Option[Column],
                          set: Map[String, Column]) extends MergeClause
  /** UPDATE SET * — every target column takes the same-named source column. */
  final case class UpdateAll(condition: Option[Column]) extends MergeClause
  /** WHEN [NOT] MATCHED ... THEN DELETE */
  final case class Delete(condition: Option[Column]) extends MergeClause
  /** WHEN NOT MATCHED ... THEN INSERT (cols) VALUES (exprs); unmentioned
    * table columns insert NULL. */
  final case class Insert(condition: Option[Column],
                          values: Map[String, Column]) extends MergeClause
  /** INSERT * — every target column takes the same-named source column. */
  final case class InsertAll(condition: Option[Column]) extends MergeClause
}

/** Multi-clause MERGE (the full SQL semantics) over [[TxnTable]], in both
  * copy-on-write and merge-on-read (deletion-vector) flavors.
  *
  * Execution shape, chosen for the 100 TB case (the open lakehouse
  * engines' two-pass merge):
  *
  *  1. **Classify** — ONE full-outer join of the live snapshot (tagged
  *     with file/row-index provenance) against the source on the merge
  *     condition, reduced immediately to a COMPACT classification
  *     relation: matched rows keep only (file, rowIndex, applying-clause
  *     index), unmatched target rows survive only when a
  *     NOT-MATCHED-BY-SOURCE clause applies to them, unmatched source
  *     rows survive only when an insert clause applies (carrying their
  *     row struct so the insert pass never rescans the target). With no
  *     BY-SOURCE clauses the materialized relation is O(source + matched),
  *     never O(table).
  *  2. **Guard** — SQL MERGE's cardinality rule: if any MATCHED clause
  *     exists and one target row matched several source rows, fail
  *     loudly (a nondeterministic update is corruption, not a result).
  *  3. **Rewrite** — copy-on-write: only files CONTAINING a row some
  *     update/delete clause applies to rewrite (their other rows carry
  *     forward); merge-on-read: lightly-hit files take a deletion-vector
  *     bitmap and keep their bytes, files past `rewriteFraction`
  *     (counting prior DVs) rewrite clean, update images and inserts land
  *     in new files.
  *  4. **Commit** — ONE commit: removes + adds (+ re-adds with DVs) +
  *     optional change-data files carrying the per-clause change types
  *     (update_preimage/update_postimage, delete, insert).
  */
private[sources] object MergeMulti {
  import TxnTable._
  import MergeClause._

  /** First-applying-clause index over a clause list: a nested CASE WHEN
    * evaluated where both sides' columns resolve; −1 = none applies. */
  private def clauseIdx(clauses: Seq[MergeClause]): Column =
    clauses.zipWithIndex.foldRight(lit(-1)) { case ((c, i), rest) =>
      c.condition.map(cond => when(coalesce(cond, lit(false)), lit(i))
        .otherwise(rest)).getOrElse(lit(i))
    }

  /** Is the clause `idx` selected a DELETE? */
  private def isDelete(clauses: Seq[MergeClause], idx: Column): Column =
    clauses.zipWithIndex.filter(_._1.isInstanceOf[Delete])
      .map { case (_, i) => idx === i }
      .foldLeft(lit(false))(_ || _)

  /** The per-column UPDATE image under clause list `clauses` selected by
    * the INLINE `idx` expression (all evaluated in one select over the
    * join): nested CASE per table column, falling back to the carried
    * target value. */
  private def imageCols(schema: StructType, clauses: Seq[MergeClause],
                        idx: Column, tAlias: String, sAlias: String,
                        sourceCols: Set[String]): Seq[Column] =
    schema.fields.toSeq.map { f =>
      val base: Column = col(s"$tAlias.${f.name}")
      clauses.zipWithIndex.foldRight(base) { case ((c, i), rest) =>
        c match {
          case Update(_, set) if set.contains(f.name) =>
            when(idx === i, set(f.name).cast(f.dataType)).otherwise(rest)
          case UpdateAll(_) =>
            require(sourceCols.contains(f.name),
              s"MERGE UPDATE SET *: source has no column ${f.name}")
            when(idx === i, col(s"$sAlias.${f.name}").cast(f.dataType))
              .otherwise(rest)
          case _ => rest
        }
      }.as(f.name)
    }

  def run(spark: SparkSession, root: String, source: DataFrame,
          condition: Column, targetAlias: String, sourceAlias: String,
          matched: Seq[MergeClause], notMatched: Seq[MergeClause],
          notMatchedBySource: Seq[MergeClause],
          cdf: Boolean, mor: Boolean, rewriteFraction: Double,
          driverDvBudgetBytes: Long,
          schemaEvolution: Boolean = false): Long = casRetry("mergeMulti") {
    matched.foreach {
      case _: Update | _: UpdateAll | _: Delete => ()
      case c => sys.error(s"WHEN MATCHED supports UPDATE/DELETE, got $c")
    }
    notMatched.foreach {
      case _: Insert | _: InsertAll => ()
      case c => sys.error(s"WHEN NOT MATCHED supports INSERT, got $c")
    }
    notMatchedBySource.foreach {
      case _: Update | _: Delete => ()
      case c => sys.error(s"WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE, got $c")
    }
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    require(rewriteFraction > 0 && rewriteFraction <= 1,
      s"rewriteFraction must be in (0,1], got $rewriteFraction")
    val v = latestVersion(root) + 1
    require(v > 0, s"$root is not a TxnTable (no _delta_log)")
    val (schema0, pcs) = readMeta(root).getOrElse(
      sys.error(s"$root has no metaData to merge into"))
    // WITH SCHEMA EVOLUTION (the Delta rule): source columns absent from
    // the target join the schema IN THIS COMMIT (one metaData action
    // alongside the adds — never a separate version) when a * action
    // exists or an assignment names them. Existing files read null for
    // the new columns, exactly like addColumn.
    val evolved: Seq[StructField] =
      if (!schemaEvolution) Seq.empty
      else {
        require(colMapping(schema0).isEmpty,
          "MERGE WITH SCHEMA EVOLUTION on a column-mapped table is not " +
            "supported — ALTER TABLE ... ADD COLUMN first")
        val all = matched ++ notMatched ++ notMatchedBySource
        val starred = all.exists {
          case _: UpdateAll | _: InsertAll => true
          case _ => false
        }
        val assigned = all.flatMap {
          case Update(_, set) => set.keys
          case Insert(_, values) => values.keys
          case _ => Nil
        }.toSet
        source.schema.fields.toSeq
          .filter(f => !schema0.fieldNames.contains(f.name) &&
            (starred || assigned.contains(f.name)))
          .map(f => StructField(f.name, f.dataType, nullable = true))
      }
    val schema = StructType(schema0.fields ++ evolved)
    // pre-evolution target rows expose the new columns as null so every
    // clause expression resolves against them
    def padEvolved(df: DataFrame): DataFrame =
      evolved.foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    // partition columns never move between directories in-place; SET keys
    // must name real columns (a typo'd target would otherwise no-op
    // silently — imageCols only applies keys it finds in the schema)
    (matched ++ notMatchedBySource).foreach {
      case Update(_, set) => set.keys.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"MERGE UPDATE names unknown column $c")
        require(!pcs.contains(c),
          s"MERGE UPDATE of partition column $c is not supported")
      }
      case UpdateAll(_) => require(pcs.isEmpty,
        "MERGE UPDATE SET * on a partitioned table is not supported " +
          "(name the non-partition columns explicitly)")
      case _ => ()
    }
    val live = liveAdds(root, v - 1)
    val sourceCols = source.columns.toSet
    val srcCols = source.columns.toSeq
    val byFile = addIndex(root, live)
    def emptyLike(extra: Seq[StructField] = Nil): DataFrame =
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(schema.fields ++ extra))

    // ---- pass 1: classify --------------------------------------------------
    val tgt = padEvolved(readFilesTagged(spark, root, live, v - 1, rowIndex = true))
      .withColumn("_tp", lit(true)).alias(targetAlias)
    val src = source.withColumn("_sp", lit(true)).alias(sourceAlias)
    val j = tgt.join(src, condition, "full_outer")
    val tp = coalesce(col("_tp"), lit(false))
    val sp = coalesce(col("_sp"), lit(false))
    val mIdx = clauseIdx(matched)
    val nbIdx = clauseIdx(notMatchedBySource)
    val niIdx = clauseIdx(notMatched)
    val srcStruct = struct(srcCols.map(c => col(s"$sourceAlias.$c")): _*)
    val clsAll = j.select(
      col("_file"), col("_ri"), tp.as("_t"), sp.as("_s"),
      when(tp && sp, mIdx).otherwise(lit(-1)).as("_m"),
      when(tp && !sp, nbIdx).otherwise(lit(-1)).as("_nb"),
      when(!tp && sp, niIdx).otherwise(lit(-1)).as("_ni"),
      when(!tp && sp && niIdx >= 0, srcStruct).as("_src"))
    // compact: matched rows all survive (the cardinality guard needs
    // them); unmatched sides survive only when a clause applies.
    // lazyCut, not eager (round 19): every consumer — the cardinality
    // guard's collect right below, the insert frame, the MoR bitmap
    // collector — runs INSIDE this merge call, before the caller's
    // `finally` can reclaim anything, so the dedicated materialization
    // action bought nothing (the guard's collect is the first consumer
    // and computes the blocks itself).
    val cls = graft.Materialize.lazyCut(clsAll.filter(
      (col("_t") && col("_s")) ||
        (col("_t") && !col("_s") && col("_nb") >= 0) ||
        (!col("_t") && col("_s") && col("_ni") >= 0)))

    // ---- pass 2: cardinality guard + touched files, ONE action ------------
    // per file: the max source-match multiplicity of any of its MATCHED
    // rows (the SQL MERGE cardinality rule) and whether any row has an
    // applying update/delete clause (the rewrite trigger) — O(files) rows
    // to the driver, exactly like the commit itself
    val fileRep = cls.filter(col("_t"))
      .groupBy("_file", "_ri")
      .agg(sum(when(col("_s"), 1L).otherwise(0L)).as("nm"),
        max(when(col("_m") >= 0 || col("_nb") >= 0, 1).otherwise(0)).as("ap"))
      .groupBy("_file")
      .agg(max(col("nm")).as("max_matches"), max(col("ap")).as("applied"))
      .collect()
    if (matched.nonEmpty) {
      require(!fileRep.exists(_.getLong(1) > 1L),
        "MERGE: a target row matched multiple source rows while MATCHED " +
          "clauses exist — the update/delete would be nondeterministic; " +
          "deduplicate the source on the merge keys first")
    }
    val touched = fileRep.filter(_.getInt(2) == 1)
      .map(_.getString(0)).toSeq.sorted

    // ---- inserts (shared by both flavors): O(source), off the struct ------
    val insFrame = cls.filter(col("_ni") >= 0)
      .select(col("_ni") +: srcCols.map(c => col(s"_src.$c").as(c)): _*)
      .alias(sourceAlias)
    val inserts = notMatched.zipWithIndex.collect {
      case (Insert(_, values), i) =>
        values.keys.foreach(c => require(schema.fieldNames.contains(c),
          s"MERGE INSERT names unknown column $c"))
        insFrame.filter(col("_ni") === i).select(schema.fields.toSeq.map { f =>
          values.get(f.name).map(_.cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)).as(f.name)
        }: _*)
      case (InsertAll(_), i) =>
        insFrame.filter(col("_ni") === i).select(schema.fields.toSeq.map { f =>
          require(sourceCols.contains(f.name),
            s"MERGE INSERT *: source has no column ${f.name}")
          col(s"$sourceAlias.${f.name}").cast(f.dataType).as(f.name)
        }: _*)
    }.reduceOption(_ unionByName _).getOrElse(emptyLike())

    // ---- pass 3: the touched-file outcome ----------------------------------
    // One select over a left join re-attaches each matched row's source
    // row (unique by the guard); every clause expression evaluates inline.
    // `imagesOnly = true` keeps only rows an UPDATE clause applies to (the
    // merge-on-read shape: carried rows stay in their file, deletes are
    // bitmap marks); false emits the full copy-on-write rewrite.
    def rewriteRows(files: Seq[String], imagesOnly: Boolean): (DataFrame, DataFrame) = {
      // With no MATCHED clause the cardinality guard does not run (SQL
      // only forbids multi-matches an update/delete would act on), so a
      // carried target row matching several source rows would come out of
      // the left-outer join once PER source row. Tag each target row with
      // its (file, row-index) identity and collapse back to one row —
      // carried duplicates are bitwise identical (BY-SOURCE clauses never
      // fire on matched rows and see no source columns by contract).
      val needDedup = matched.isEmpty && !imagesOnly
      val inT = padEvolved(readFilesTagged(spark, root,
        files.map(byFile), v - 1, rowIndex = needDedup))
        .withColumn("_tp", lit(true)).alias(targetAlias)
      val jb = inT.join(src, condition, "left_outer")
      val m = when(sp, mIdx).otherwise(lit(-1))
      val nb = when(!sp, nbIdx).otherwise(lit(-1))
      val tCols = schema.fieldNames.toSeq.map(c => col(s"$targetAlias.$c").as(c))
      val mImg = imageCols(schema, matched, m, targetAlias, sourceAlias, sourceCols)
      val nbImg = imageCols(schema, notMatchedBySource, nb, targetAlias, sourceAlias, sourceCols)
      val idCols = if (needDedup)
        Seq(col(s"$targetAlias._file").as("_f"), col(s"$targetAlias._ri").as("_r"))
      else Seq.empty[Column]
      val withImgs0 = jb.select(idCols ++ Seq(
        m.as("_m"), nb.as("_nb"),
        struct(tCols: _*).as("_told"),
        struct(mImg: _*).as("_mimg"),
        struct(nbImg: _*).as("_nbimg")): _*)
      val withImgs =
        if (needDedup) withImgs0.dropDuplicates("_f", "_r") else withImgs0
      val mDel = isDelete(matched, col("_m"))
      val nbDel = isDelete(notMatchedBySource, col("_nb"))
      val outStruct =
        when(col("_m") >= 0 && !mDel, col("_mimg"))
          .when(col("_nb") >= 0 && !nbDel, col("_nbimg"))
          .when(if (imagesOnly) lit(false)
          else col("_m") < 0 && col("_nb") < 0, col("_told"))
      val kept = withImgs.filter(outStruct.isNotNull)
        .select(schema.fieldNames.toSeq.map(c =>
          outStruct.getField(c).as(c)): _*)
      val changes =
        if (!cdf) null
        else {
          val applied = withImgs.filter(col("_m") >= 0 || col("_nb") >= 0)
          val img = when(col("_m") >= 0, col("_mimg")).otherwise(col("_nbimg"))
          val del = (col("_m") >= 0 && mDel) || (col("_nb") >= 0 && nbDel)
          applied.select(explode(
            when(del, array(struct(col("_told").as("r"), lit("delete").as("t"))))
              .otherwise(array(
                struct(col("_told").as("r"), lit("update_preimage").as("t")),
                struct(img.as("r"), lit("update_postimage").as("t"))))).as("e"))
            .select(schema.fieldNames.toSeq.map(c => col(s"e.r.$c")) :+
              col("e.t").as("_change_type"): _*)
        }
      (kept, changes)
    }

    val insertChanges =
      if (cdf) inserts.withColumn("_change_type", lit("insert")) else null

    if (!mor) {
      // ---- copy-on-write ---------------------------------------------------
      val (keptRows, changeRows) =
        if (touched.isEmpty) (emptyLike(), null)
        else rewriteRows(touched, imagesOnly = false)
      val out = keptRows.unionByName(inserts)
      validateConstraints(out, root)
      val adds =
        if (pcs.isEmpty) writeDataFiles(out, root, v, check = false)
        else writePartitionedFiles(out, root, v, pcs, check = false)
      val cdcAdds =
        if (!cdf) Seq.empty[AddFile]
        else writeCdcFiles(
          Seq(Option(changeRows), Some(insertChanges))
            .flatten.reduce(_ unionByName _), root, v)
      val touchedSet = touched.toSet
      commit(root, v, "merge-multi", adds, touched,
        schemaJson = Some(schema.json), partCols = pcs, cdc = cdcAdds,
        removeDvs = dvTombstones(live.filter(a => touchedSet(a.file))))
    } else {
      // ---- merge-on-read ---------------------------------------------------
      // per-file bitmaps of rows an update/delete clause applies to
      val dvRows = cls.filter(col("_m") >= 0 || col("_nb") >= 0)
        .select(col("_file").cast("string"), col("_ri").cast("long"))
      val perFile = collectDvBlobs(dvRows, "mergeMulti", driverDvBudgetBytes)
        .sortBy(_._1)
      val (dvSide, cowSide) = perFile.partition { case (f, _, card) =>
        val a = byFile(f)
        val old = a.dv.map(_.cardinality).getOrElse(0L)
        a.stats.map(decodeStats(_).numRecords) match {
          case Some(n) if n > 0 => (old + card).toDouble / n < rewriteFraction
          case _                => false
        }
      }
      val (dvImages, dvChanges) =
        if (dvSide.isEmpty) (emptyLike(), null)
        else rewriteRows(dvSide.map(_._1), imagesOnly = true)
      val (cowKept, cowChanges) =
        if (cowSide.isEmpty) (emptyLike(), null)
        else rewriteRows(cowSide.map(_._1), imagesOnly = false)
      val newRows = dvImages.unionByName(cowKept).unionByName(inserts)
      validateConstraints(newRows, root)
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
        if (pcs.isEmpty) writeDataFiles(newRows, root, v, check = false)
        else writePartitionedFiles(newRows, root, v, pcs, check = false)
      val cdcAdds =
        if (!cdf) Seq.empty[AddFile]
        else writeCdcFiles(
          Seq(Option(dvChanges), Option(cowChanges), Some(insertChanges))
            .flatten.reduce(_ unionByName _), root, v)
      val cfg = readTableConfig(root)
      val withCfg =
        if (dvReadds.isEmpty || cfg.get("delta.enableDeletionVectors").contains("true")) None
        else Some(cfg + ("delta.enableDeletionVectors" -> "true"))
      val touchedSet = touched.toSet
      commit(root, v, "merge-multi", dataAdds ++ dvReadds, touched,
        schemaJson = Some(schema.json), partCols = pcs, cdc = cdcAdds,
        extraConfig = withCfg,
        removeDvs = dvTombstones(live.filter(a => touchedSet(a.file))))
    }
    v
  }
}
