package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction => UFn}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** [[TxnTable]] concern module — the LOG LAYER: the `_delta_log` commit
  * (atomic version claim, token ledger, row-id stamping), the ONE fold of
  * its actions into a [[Snapshot]], parquet checkpoints, per-file footer
  * statistics, and the data/cdc file writers. Everything here is O(files)
  * driver metadata or a distributed write job. */
private[sources] trait TxnLogOps { self: TxnTable.type =>
  private[sources] def decodeStats(json: String): FileStats = {
    val m = MiniJson.parse(json).asInstanceOf[Map[String, Any]]
    FileStats(
      m("numRecords").asInstanceOf[BigDecimal].toLongExact,
      m.getOrElse("minValues", Map.empty).asInstanceOf[Map[String, Any]],
      m.getOrElse("maxValues", Map.empty).asInstanceOf[Map[String, Any]],
      m.getOrElse("nullCount", Map.empty).asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.asInstanceOf[BigDecimal].toLongExact })
  }

  private[sources] def deltaDir(root: String): Path = Paths.get(root, "_delta_log")

  /** Files.list with DETERMINISTIC close: the JDK stream holds an open
    * directory fd until closed, and GC-lazy reclamation let a long test
    * suite hit EMFILE (error=24) — every directory listing in this module
    * therefore materializes eagerly and closes before returning. Log/data
    * directories are O(files) small; the eager Seq is never the cost. */
  private[sources] def listClosed(d: Path): java.util.stream.Stream[Path] = {
    val s = java.nio.file.Files.list(d)
    try {
      val all = s.iterator().asScala.toVector
      java.util.Arrays.stream(all.toArray)
    } finally s.close()
  }

  /** Files.walk with deterministic close — see [[listClosed]]. */
  private[sources] def walkClosed(d: Path): java.util.stream.Stream[Path] = {
    val s = java.nio.file.Files.walk(d)
    try {
      val all = s.iterator().asScala.toVector
      java.util.Arrays.stream(all.toArray)
    } finally s.close()
  }

  /** Resolve a log file entry against the table root. Entries are
    * normally root-relative; a SHALLOW CLONE's version 0 re-adds the
    * source's files by ABSOLUTE path (the Delta clone shape), which
    * resolves as itself. */
  private[sources] def filePath(root: String, f: String): Path = {
    val p = Paths.get(f)
    if (p.isAbsolute) p else Paths.get(root, f)
  }

  private[sources] def commitPath(root: String, v: Long): Path =
    deltaDir(root).resolve(f"$v%020d.json")
  private[sources] def checkpointPath(root: String, v: Long): Path =
    deltaDir(root).resolve(f"$v%020d.checkpoint.parquet")

  /** (commit versions, checkpoint versions), both ascending — one listing
    * of `_delta_log`. Writers' in-flight tmp files start with a dot. */
  private[sources] def logListing(root: String): (Seq[Long], Seq[Long]) = {
    val d = deltaDir(root)
    if (!Files.isDirectory(d)) (Seq.empty, Seq.empty)
    else {
      val names = listClosed(d).iterator().asScala
        .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq
      def vs(suffix: String) = names.filter(_.endsWith(suffix))
        .map(_.stripSuffix(suffix)).filter(_.forall(_.isDigit)).map(_.toLong).sorted
      (vs(".json"), vs(".checkpoint.parquet"))
    }
  }

  private[sources] def versions(root: String): Seq[Long] = logListing(root)._1

  /** Latest committed version, −1 for an empty/new table. */
  def latestVersion(root: String): Long = versions(root).lastOption.getOrElse(-1L)

  private[sources] def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  /** Spec-shaped deletionVector descriptor JSON. */
  private[sources] def dvJson(d: DeletionVectors.DvDescriptor): String =
    s"""{"storageType":"${esc(d.storageType)}","pathOrInlineDv":"${esc(d.pathOrInlineDv)}","offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  private[sources] def dvOf(m: Map[String, Any]): DeletionVectors.DvDescriptor =
    DeletionVectors.DvDescriptor(
      m("storageType").asInstanceOf[String],
      m("pathOrInlineDv").asInstanceOf[String],
      m.get("offset").map(_.asInstanceOf[BigDecimal].toIntExact).getOrElse(0),
      m("sizeInBytes").asInstanceOf[BigDecimal].toIntExact,
      m("cardinality").asInstanceOf[BigDecimal].toLongExact)

  // ---- the commit ------------------------------------------------------------

  /** Write one version of the OPEN Delta transaction protocol (delta.io
    * PROTOCOL.md) — newline-delimited JSON actions in
    * `_delta_log/%020d.json`, the table's one log. The whole commit is
    * written to a writer-unique tmp file first, then published iff the
    * version is unclaimed: that claim IS the commit point, so a crash can
    * only leave a version wholly present or wholly absent. The claim goes
    * through the [[CommitLock]] seam — a hard link by default (link(2)
    * fails if the target exists, where rename(2) silently REPLACES — the
    * classic lost-commit race), the conditional-put lease protocol under
    * `graft.commit.lock=lease` on S3-class stores.
    *
    * Version 0 carries `protocol` and `metaData` with the Spark schema JSON
    * as `schemaString` (the Delta schema serialization IS the StructType
    * JSON shape). Data files stay where the writers put them — `add.path`
    * is root-relative with subdirectories, which the protocol allows.
    * Layout commits carry `dataChange:false` so downstream streams skip
    * them; idempotent writes carry the `txn` action that keys the dedup
    * ledger. External readers (delta-spark, DuckDB delta, Trino) fold the
    * same actions [[snapshot]] folds — DeltaLogSpec proves it version by
    * version. */
  private[sources] def commit(root: String, version: Long, op: String,
                     adds: Seq[AddFile], removes: Seq[String],
                     schemaJson: Option[String] = None,
                     dataChange: Boolean = true,
                     txn: Option[(String, Long)] = None,
                     partCols: Seq[String] = Nil,
                     cdc: Seq[AddFile] = Nil,
                     extraConfig: Option[Map[String, String]] = None,
                     removeDvs: Map[String, DeletionVectors.DvDescriptor] = Map.empty): Unit = {
    val prior = if (version == 0L) Snapshot.empty else snapshot(root, version - 1)
    // configuration survives re-emission: a schema evolution must not drop
    // the table's constraints
    val config = extraConfig.getOrElse(prior.config)
    // ROW TRACKING: when enabled (possibly by THIS commit's extraConfig),
    // every not-yet-stamped add gets a fresh baseRowId block off the
    // folded high-water mark, and the commit records the advanced mark.
    // Re-adds (DV commits, restore, clone) arrive pre-stamped and keep
    // their ids — that is the stability contract.
    val (stamped, hwm) =
      if (adds.isEmpty || !config.get("delta.enableRowTracking").contains("true"))
        (adds, None)
      else {
        // pre-stamped adds (re-adds, a CLONE's inherited ids) first raise
        // the mark — fresh blocks must never collide with ids that arrived
        // stamped from a log this table's own mark never covered
        val preMax = adds.flatMap(a => a.baseRowId.map(_ +
          math.max(a.stats.map(decodeStats(_).numRecords).getOrElse(0L), 1L)))
          .maxOption.getOrElse(0L)
        var next = math.max(prior.hwm, preMax)
        val out = adds.map { a =>
          if (a.baseRowId.isDefined) a
          else {
            val n = a.stats.map(decodeStats(_).numRecords).getOrElse(sys.error(
              s"row tracking needs per-file stats; ${a.file} has none"))
            val s = a.copy(baseRowId = Some(next)); next += math.max(n, 1L); s
          }
        }
        (out, if (next > prior.hwm) Some(next) else None)
      }
    // MONOTONIC commit timestamps (Delta's inCommitTimestamp semantics):
    // timestampAsOf time travel scans commitInfo stamps newest-first and
    // early-exits on the first hit — a wall clock that regressed between
    // writers (skew, NTP step) would silently resolve the WRONG version.
    // Stamp max(now, previous + 1): strictly increasing at any commit
    // rate, one tiny prior-file read per commit.
    val now = {
      val wall = System.currentTimeMillis()
      if (version == 0L) wall
      else try math.max(wall, commitTimestamp(root, version - 1) + 1)
      catch { case _: Exception => wall } // prior commit expired: keep wall
    }
    val pcJson = partCols.map(c => s""""${esc(c)}"""").mkString("[", ",", "]")
    // a metaData action rides version 0, any commit whose schema shape
    // evolved, and any configuration change (constraints) — latest-wins
    // fold on the read side, per the protocol
    val emitMeta = version == 0L || extraConfig.isDefined || schemaJson.exists { j =>
      prior.meta.exists(m =>
        !sameShape(m.schema, DataType.fromJson(j).asInstanceOf[StructType]))
    }
    val configJson = config.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    // CHECK constraints require writer feature level 3 (delta.io
    // PROTOCOL.md); the commit that first sets one upgrades the protocol.
    // Deletion vectors are a TABLE FEATURE: reader 3 / writer 7 with
    // explicit readerFeatures/writerFeatures. Feature state is derived
    // from the FOLDED config: once delta.enableDeletionVectors landed,
    // every later protocol emission keeps the feature lists, so a later
    // constraint commit can never fold-downgrade the protocol below what
    // the DV files require.
    val needsWriter3 = extraConfig.exists(_.keys.exists(_.startsWith("delta.constraints.")))
    val dvActive = adds.exists(_.dv.isDefined) ||
      config.get("delta.enableDeletionVectors").contains("true")
    // name-mode column mapping needs reader 2 / writer 5 (legacy levels);
    // under table features it must be LISTED alongside deletionVectors.
    // typeWidening exists ONLY as a table feature (no legacy level), so a
    // widened table emits the feature protocol even without DVs.
    val mappingActive = config.get("delta.columnMapping.mode").contains("name")
    val wideningActive = config.get("delta.enableTypeWidening").contains("true")
    val genActive = config.get("graft.generatedColumns").exists(_.nonEmpty)
    val rowTrackingActive = config.get("delta.enableRowTracking").contains("true")
    val constraintsActive =
      config.keys.exists(_.startsWith("delta.constraints.")) || needsWriter3
    val featureProtocol = {
      val dvF = if (dvActive) Seq("deletionVectors") else Nil
      val mapF = if (mappingActive) Seq("columnMapping") else Nil
      val wideF = if (wideningActive) Seq("typeWidening") else Nil
      val rf = dvF ++ mapF ++ wideF
      val wf = dvF ++ mapF ++ wideF ++
        (if (constraintsActive) Seq("checkConstraints") else Nil) ++
        (if (genActive) Seq("generatedColumns") else Nil) ++
        // rowTracking + domainMetadata are WRITER features (a reader that
        // ignores baseRowId still reads the rows)
        (if (rowTrackingActive) Seq("rowTracking", "domainMetadata") else Nil)
      def arr(fs: Seq[String]) = fs.map(f => s""""$f"""").mkString("[", ",", "]")
      if (rf.isEmpty)
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":${arr(wf)}}}"""
      else
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":${arr(rf)},"writerFeatures":${arr(wf)}}}"""
    }
    // legacy protocol levels are cumulative: mapping 2/5 ⊇ generated 1/4 ⊇
    // constraints 1/3 ⊇ base 1/2 — a commit that activates any of them
    // emits the MAX the folded config requires
    val legacyWriter = Seq(2, if (constraintsActive) 3 else 2,
      if (genActive) 4 else 2, if (mappingActive) 5 else 2).max
    val legacyReader = if (mappingActive) 2 else 1
    val head =
      (if ((dvActive || wideningActive || rowTrackingActive) &&
        (adds.exists(_.dv.isDefined) || needsWriter3 || extraConfig.isDefined))
        Seq(featureProtocol)
      else if (version == 0L)
        Seq(s"""{"protocol":{"minReaderVersion":$legacyReader,"minWriterVersion":$legacyWriter}}""")
      else if (legacyWriter > 2 && extraConfig.isDefined)
        Seq(s"""{"protocol":{"minReaderVersion":$legacyReader,"minWriterVersion":$legacyWriter}}""")
      else if (needsWriter3)
        Seq(s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""")
      else Seq.empty) ++
      (if (emitMeta) Seq(
        s"""{"metaData":{"id":"${tableId(root)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson.getOrElse(sys.error("first commit must carry a schema")))}","partitionColumns":$pcJson,"configuration":$configJson,"createdTime":$now}}""")
      else Seq.empty) ++
      txn.map { case (app, v) => s"""{"txn":{"appId":"${esc(app)}","version":$v}}""" }.toSeq ++
      Seq(s"""{"commitInfo":{"timestamp":$now,"operation":"${esc(op)}"}}""")
    // removes BEFORE adds: a merge-on-read commit removes and re-adds the
    // SAME path (new deletion vector), and the line-ordered fold must land
    // on the re-add. A remove of a DV-carrying instance names the
    // descriptor it tombstones — strict protocol readers reconcile
    // adds/removes by (path, dvId), not path alone.
    val lines = head ++
      removes.map { f =>
        val dvF = removeDvs.get(f)
          .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
        s"""{"remove":{"path":"${esc(f)}","deletionTimestamp":$now,"dataChange":$dataChange$dvF}}"""
      } ++
      stamped.map { a =>
        val mt = Files.getLastModifiedTime(filePath(root, a.file)).toMillis
        val stField = a.stats.map(j => s""","stats":"${esc(j)}"""").getOrElse("")
        val dvField = a.dv.map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
        // row tracking per the protocol: the add's fresh-id base and the
        // version whose commit assigned it
        val rField = a.baseRowId.map(r =>
          s""","baseRowId":$r,"defaultRowCommitVersion":$version""").getOrElse("")
        // per-file Bloom indexes ride the protocol's free-form add tags
        val tField = a.bloom.map(b => s""","tags":{"${TxnModel.BloomTag}":"${esc(b)}"}""").getOrElse("")
        val pv = a.partitionValues.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
          .mkString("{", ",", "}")
        s"""{"add":{"path":"${esc(a.file)}","partitionValues":$pv,"size":${a.bytes},"modificationTime":$mt,"dataChange":$dataChange$stField$dvField$rField$tField}}"""
      } ++
      // the row-id high-water mark is DOMAIN METADATA per the protocol —
      // the one piece of row-tracking state adds alone cannot carry
      // (vacuumed history must never recycle ids)
      hwm.map(h =>
        s"""{"domainMetadata":{"domain":"${TxnModel.RowTrackingDomain}","configuration":"{\\"rowIdHighWaterMark\\":${h - 1}}","removed":false}}""").toSeq ++
      // change-data files (the protocol's AddCDCFile): CDF readers fold
      // these from the version-range commit JSONs — per the protocol they
      // do NOT enter checkpoints
      cdc.map { a =>
        s"""{"cdc":{"path":"${esc(a.file)}","partitionValues":{},"size":${a.bytes},"dataChange":false}}"""
      }
    Files.createDirectories(deltaDir(root))
    val tmp = deltaDir(root).resolve(
      s".$version-${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(UTF_8))
    if (!CommitLock.active.claim(commitPath(root, version), tmp))
      throw new ConcurrentCommitException(root, version)
    if (version > 0 && version % CheckpointInterval == 0)
      writeCheckpoint(root, version)
  }


  /** Commits between checkpoint parquet files. */
  private[sources] val CheckpointInterval = 10L

  /** file → add over a candidate set, for resolving the `_file` values a
    * scan attributed rows to. A miss is a broken invariant (a path that did
    * not round-trip to its log key), so it fails naming the file and the
    * table instead of a bare NoSuchElementException. */
  private[sources] def addIndex(root: String, adds: Seq[AddFile]): String => AddFile = {
    val m = adds.map(a => a.file -> a).toMap
    f => m.getOrElse(f, sys.error(
      s"file $f is not among the candidate adds of $root's snapshot"))
  }

  /** Re-run `body` (which recomputes latest+1 and its snapshot basis each
    * attempt) until its commit wins the version CAS. Orphaned data files a
    * losing attempt wrote are unreferenced by any log entry, invisible to
    * readers, and reclaimed by [[vacuum]] — the same garbage story as the
    * open formats. */
  private[sources] def casRetry[T](what: String)(body: => T): T = {
    var attempts = 0
    while (true) {
      try return body
      catch { case _: ConcurrentCommitException =>
        attempts += 1
        require(attempts < 64, s"$what lost the commit race $attempts times")
      }
    }
    sys.error("unreachable")
  }

  /** Deterministic table id for the Delta metaData action (stable across
    * commits; derived from the table root, not wall-clock). */
  private[sources] def tableId(root: String): String =
    java.util.UUID.nameUUIDFromBytes(("graft-txn:" + root).getBytes(UTF_8)).toString

  // ---- the fold ----------------------------------------------------------------

  private[sources] def num(m: Map[String, Any], k: String): Option[Long] =
    m.get(k).collect { case b: BigDecimal => b.toLongExact }
  private def strs(m: Map[String, Any], k: String): Option[Seq[String]] =
    m.get(k).collect { case s: Seq[_] => s.collect { case x: String => x } }
  private def strMap(m: Map[String, Any], k: String): Map[String, String] =
    m.get(k).collect { case x: Map[_, _] =>
      x.collect { case (k: String, v: String) => k -> v } }.getOrElse(Map.empty)
  private[sources] def obj(m: Map[String, Any], k: String): Option[Map[String, Any]] =
    m.get(k).collect { case x: Map[_, _] => x.asInstanceOf[Map[String, Any]] }

  private[sources] def addOf(a: Map[String, Any]): LoggedAdd =
    LoggedAdd(AddFile(a("path").asInstanceOf[String], num(a, "size").getOrElse(0L),
      a.get("stats").collect { case s: String => s }, strMap(a, "partitionValues"),
      strMap(a, "tags").get(TxnModel.BloomTag), obj(a, "deletionVector").map(dvOf),
      num(a, "baseRowId")),
      num(a, "modificationTime").getOrElse(0L), num(a, "defaultRowCommitVersion"))

  /** Fold the log up to `asOf` (−1 = latest): seeded from the newest
    * checkpoint parquet at or below it, then the commit JSONs after that
    * checkpoint, each action in line order (the protocol's rule: a remove
    * cancels the add before it, a LATER re-add — restore, a DV rewrite —
    * resurrects the file). Reads parquet on the driver, never through a
    * Spark job. A version below the retained log ([[expireLog]]) fails
    * loudly instead of folding a partial history. */
  private[sources] def snapshot(root: String, asOf: Long = -1L): Snapshot = {
    val (jsons, cps) = logListing(root)
    val upTo = if (asOf < 0) jsons.lastOption.getOrElse(-1L) else asOf
    val seed = cps.filter(_ <= upTo).lastOption
    require(upTo < 0 || seed.isDefined || jsons.headOption.forall(_ == 0L),
      s"version $upTo of $root is below the retained log (first retained " +
        s"commit ${jsons.head}); expireLog removed its history")
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, LoggedAdd]
    val tombs = scala.collection.mutable.LinkedHashMap.empty[String, Tombstone]
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var protocol: Option[Protocol] = None
    var meta: Option[TableMeta] = None
    def fold(action: Map[String, Any]): Unit = {
      val (kind, body) = action.head
      val m = body.asInstanceOf[Map[String, Any]]
      kind match {
        case "add" =>
          val la = addOf(m)
          adds(la.add.file) = la; tombs.remove(la.add.file)
        case "remove" =>
          val path = m("path").asInstanceOf[String]
          adds.remove(path)
          tombs(path) = Tombstone(path, num(m, "deletionTimestamp").getOrElse(0L),
            obj(m, "deletionVector").map(dvOf))
        case "metaData" =>
          meta = Some(TableMeta(m.get("id").collect { case s: String => s }.getOrElse(""),
            m("schemaString").asInstanceOf[String],
            strs(m, "partitionColumns").getOrElse(Nil), strMap(m, "configuration"),
            num(m, "createdTime")))
        case "protocol" =>
          protocol = Some(Protocol(num(m, "minReaderVersion").get.toInt,
            num(m, "minWriterVersion").get.toInt,
            strs(m, "readerFeatures"), strs(m, "writerFeatures")))
        case "txn" =>
          txns(m("appId").asInstanceOf[String]) = num(m, "version").get
        case "domainMetadata" =>
          val name = m("domain").asInstanceOf[String]
          if (m.get("removed").contains(true)) domains.remove(name)
          else domains(name) = m("configuration").asInstanceOf[String]
        case _ => () // commitInfo, cdc: history, not state
      }
    }
    seed.foreach(cv => checkpointActions(checkpointPath(root, cv)).foreach(fold))
    val tail = jsons.filter(v => v > seed.getOrElse(-1L) && v <= upTo)
    tail.foreach(v => commitLines(root, v).foreach(fold))
    Snapshot(adds.values.toSeq, tombs.values.toSeq, protocol, meta,
      txns.toMap, domains.toMap)
  }

  /** One commit's actions, parsed in line order. */
  private[sources] def commitLines(root: String, v: Long): Seq[Map[String, Any]] =
    parsedOnce(commitPath(root, v))(p =>
      Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
        .map(MiniJson.parse(_).asInstanceOf[Map[String, Any]]))

  private def checkpointActions(p: Path): Seq[Map[String, Any]] =
    parsedOnce(p)(readCheckpoint)

  /** Parsed log files by path, valid while the file's identity (inode,
    * size, mtime) holds. A published commit or checkpoint never changes,
    * and one operation folds the same checkpoint + tail several times
    * (schema, config, live files, the commit's own basis); a replaced
    * file (DROP, then a re-create at the same root) misses on its
    * identity. */
  private val parsedLog =
    new java.util.concurrent.ConcurrentHashMap[Path, (AnyRef, Seq[Map[String, Any]])]()

  private def parsedOnce(p: Path)(parse: Path => Seq[Map[String, Any]]): Seq[Map[String, Any]] = {
    val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
    val id = (a.fileKey, a.size, a.lastModifiedTime)
    Option(parsedLog.get(p)).filter(_._1 == id).map(_._2).getOrElse {
      val acts = parse(p)
      if (parsedLog.size >= 4096) parsedLog.clear()
      parsedLog.put(p, (id, acts))
      acts
    }
  }

  /** The rows of a checkpoint parquet, each decoded into the same
    * single-key action map a commit JSON line parses to — so checkpoints
    * and commits feed the one fold. Record-API read on the driver (the
    * [[footerStats]]/[[GroupDecode]] machinery), no Spark job. */
  private def readCheckpoint(p: Path): Seq[Map[String, Any]] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.schema.LogicalTypeAnnotation.{ListLogicalTypeAnnotation, MapLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def value(g: Group, i: Int): Any = {
      val t = g.getType.getType(i)
      if (t.isPrimitive) t.asPrimitiveType.getPrimitiveTypeName match {
        case BINARY  => g.getString(i, 0)
        case INT32   => BigDecimal(g.getInteger(i, 0))
        case INT64   => BigDecimal(g.getLong(i, 0))
        case BOOLEAN => g.getBoolean(i, 0)
        case other   => sys.error(s"checkpoint $p: unexpected parquet type $other")
      } else {
        val sub = g.getGroup(i, 0)
        // MAP / LIST: a repeated wrapper group of key_value / element
        def entries = (0 until sub.getFieldRepetitionCount(0)).map(sub.getGroup(0, _))
        def opt(e: Group, j: Int): Any = if (e.getFieldRepetitionCount(j) == 0) null else value(e, j)
        t.getLogicalTypeAnnotation match {
          case _: MapLogicalTypeAnnotation => entries.map(e => e.getString(0, 0) -> opt(e, 1)).toMap
          case _: ListLogicalTypeAnnotation => entries.map(opt(_, 0))
          case _ => fields(sub)
        }
      }
    }
    def fields(g: Group): Map[String, Any] =
      (0 until g.getType.getFieldCount).filter(g.getFieldRepetitionCount(_) > 0)
        .map(i => g.getType.getFieldName(i) -> value(g, i)).toMap
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), GroupDecode.freshConf()))
    try {
      val schema = rd.getFooter.getFileMetaData.getSchema
      val out = Seq.newBuilder[Map[String, Any]]
      var rg = rd.readNextRowGroup()
      while (rg != null) {
        val rr = new ColumnIOFactory().getColumnIO(schema)
          .getRecordReader(rg, new GroupRecordConverter(schema))
        var n = 0L
        while (n < rg.getRowCount) {
          val row = fields(rr.read())
          if (row.nonEmpty) out += row
          n += 1
        }
        rg = rd.readNextRowGroup()
      }
      out.result()
    } finally rd.close()
  }

  /** (checkpoint version used, tail commit files folded) for a read at
    * `asOf` — the observability hook the checkpoint spec gates on. */
  private[graft] def foldReport(root: String, asOf: Long = -1L): (Option[Long], Int) = {
    val (jsons, cps) = logListing(root)
    val upTo = if (asOf < 0) jsons.lastOption.getOrElse(-1L) else asOf
    val ck = cps.filter(_ <= upTo).lastOption
    (ck, jsons.count(v => v > ck.getOrElse(-1L) && v <= upTo))
  }

  /** Write a PROTOCOL.md checkpoint: one parquet file holding the complete
    * replay state at `version` — latest protocol + metaData, per-appId txn
    * versions, every live add, current remove tombstones, domain metadata
    * — plus the `_last_checkpoint` pointer. Every reader (this module's
    * [[snapshot]] and external engines alike) then folds O(1) checkpoint
    * rows + the JSON tail after it instead of every commit since version 0;
    * [[expireLog]] can then drop the JSONs below it. The state comes from
    * [[snapshot]] itself, which seeds from the previous checkpoint, so the
    * chain stays lossless across expiries. Checkpoint actions carry
    * `dataChange:false` per the protocol. The pointer is written LAST and
    * atomically: a crash mid-checkpoint leaves the previous pointer intact
    * and readers just fold a longer tail. */
  private[sources] def writeCheckpoint(root: String, version: Long): Unit = {
    val spark = SparkSession.getActiveSession.getOrElse(return)
    val s = snapshot(root, version)
    val d = deltaDir(root)
    def jl(v: Option[Long]): java.lang.Long = v.map(java.lang.Long.valueOf).orNull
    def dvRow(dv: Option[DeletionVectors.DvDescriptor]): Row = dv.map(x =>
      Row(x.storageType, x.pathOrInlineDv, Integer.valueOf(x.offset),
        Integer.valueOf(x.sizeInBytes), java.lang.Long.valueOf(x.cardinality))).orNull
    val rows: Seq[Row] =
      s.protocol.toSeq.map(p => Row(null, null, null, null,
        Row(p.minReader, p.minWriter, p.readerFeatures.orNull, p.writerFeatures.orNull),
        null)) ++
      s.meta.toSeq.map(m => Row(null, null, null,
        // the real configuration (delta.constraints.* etc.) must survive
        // into the checkpoint — after expireLog removes the metaData-
        // bearing JSONs it is the only copy any reader ever sees
        Row(m.id, null, null, Row("parquet", Map.empty[String, String]),
          m.schemaString, m.partitionColumns, m.configuration, jl(m.createdTime)),
        null, null)) ++
      s.txns.toSeq.map { case (app, v) =>
        Row(Row(app, java.lang.Long.valueOf(v), null), null, null, null, null, null) } ++
      s.adds.map { la =>
        val a = la.add
        Row(null, Row(a.file, a.partitionValues, a.bytes, la.modificationTime,
          false, a.stats.orNull, dvRow(a.dv), jl(a.baseRowId), jl(la.rowCommitVersion),
          a.bloom.map(b => Map(TxnModel.BloomTag -> b)).orNull),
          null, null, null, null) } ++
      s.tombstones.map(t => Row(null, null,
        Row(t.path, t.deletionTimestamp, false, dvRow(t.dv)), null, null, null)) ++
      s.domains.toSeq.map { case (name, cfg) =>
        Row(null, null, null, null, null, Row(name, cfg, false)) }
    val dvSchema = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val cpSchema = StructType(Seq(
      StructField("txn", StructType(Seq(
        StructField("appId", StringType), StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", dvSchema),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType),
        StructField("tags", MapType(StringType, StringType))))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType),
        StructField("deletionVector", dvSchema)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("description", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    val tmpDir = d.resolve(s".cp-$version-${java.util.UUID.randomUUID().toString.take(8)}")
    spark.createDataFrame(rows.asJava, cpSchema).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(tmpDir.toString)
    val part = listClosed(tmpDir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("checkpoint write produced no parquet part"))
    Files.move(part, checkpointPath(root, version), StandardCopyOption.ATOMIC_MOVE)
    walkClosed(tmpDir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    val ptrTmp = d.resolve(s"._last_checkpoint.tmp")
    Files.write(ptrTmp,
      s"""{"version":$version,"size":${rows.size}}""".getBytes(UTF_8))
    Files.move(ptrTmp, d.resolve("_last_checkpoint"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private[sources] def statsEligible(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType => true
    // temporal mins/maxes persist in their INTERNAL unit (epoch days /
    // epoch micros) as plain numbers, so the one BigDecimal conjunct
    // engine prunes them against Literal(TimestampType).value (micros) /
    // Literal(DateType).value (days) with no new compare path
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** JSON-encode one stat value (String | Boolean | BigDecimal | null). */
  private[sources] def statJson(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + MiniJson.escape(s) + "\""
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case n => n.toString
  }

  /** Three-way compare in stat-value space (both sides String | Boolean |
    * java.math.BigDecimal); strings in UTF8 binary order. */
  private[sources] def statOrd(a: Any, b: Any): Int = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case _ => sys.error(s"incomparable stats $a / $b")
  }

  /** Per-file column stats straight from the parquet FOOTER — O(footer)
    * driver metadata I/O, no Spark job, which is what keeps every commit's
    * stats cost proportional to file COUNT, not data size, at 100 TB.
    * Parquet chunk statistics are bounds by contract (binary truncation
    * rounds min down and max up), and bounds are exactly what pruning
    * needs. A column any row group lacks stats for is left out (= never
    * pruned on); numRecords is always exact. */
  private[sources] def footerStats(p: Path, schema: StructType): String = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri),
      GroupDecode.freshConf()))
    try {
      val blocks = rd.getFooter.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      val mins = Map.newBuilder[String, Any]
      val maxs = Map.newBuilder[String, Any]
      val nulls = Map.newBuilder[String, Long]
      for (f <- schema.fields if statsEligible(f.dataType)) {
        val chunks = blocks.map(b =>
          b.getColumns.asScala.find(_.getPath.toDotString == f.name))
        if (chunks.nonEmpty && chunks.forall(_.isDefined)) {
          val sts = chunks.flatten.map(_.getStatistics)
          if (sts.forall(s => s != null && s.isNumNullsSet)) {
            val nullTotal = sts.map(_.getNumNulls).sum
            nulls += f.name -> nullTotal
            val valued = sts.filter(_.hasNonNullValue)
            val allNullChunksProven = // chunks without values are all-null
              sts.zip(blocks).forall { case (s, b) =>
                s.hasNonNullValue || s.getNumNulls == b.getRowCount }
            if (valued.isEmpty && nullTotal == numRecords) {
              mins += f.name -> null; maxs += f.name -> null
            } else if (valued.nonEmpty && allNullChunksProven) {
              val vs = valued.map(s => (statValue(f.dataType, s.`type`(), s.genericGetMin),
                statValue(f.dataType, s.`type`(), s.genericGetMax)))
              if (vs.forall { case (a, b) => a != null && b != null }) {
                mins += f.name -> vs.map(_._1).reduce((a, b) => if (statOrd(a, b) <= 0) a else b)
                maxs += f.name -> vs.map(_._2).reduce((a, b) => if (statOrd(a, b) >= 0) a else b)
              }
            }
          }
        }
      }
      def obj(m: Map[String, Any]) = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${MiniJson.escape(k)}":${statJson(v)}""" }
        .mkString("{", ",", "}")
      s"""{"numRecords":$numRecords,"minValues":${obj(mins.result())},""" +
        s""""maxValues":${obj(maxs.result())},""" +
        s""""nullCount":${obj(nulls.result().map { case (k, v) =>
          k -> (java.math.BigDecimal.valueOf(v): Any) })}}"""
    } finally rd.close()
  }

  /** Decode a footer min/max into stat-value space for the Spark type;
    * null = undecodable (NaN, INT96, unexpected physical type) → drop the
    * column. Temporal values normalize to their Spark-internal unit
    * (days / micros) so predicate literals compare directly. */
  private[sources] def statValue(dt: DataType,
                                 prim: org.apache.parquet.schema.PrimitiveType,
                                 v: Any): Any = (dt, v) match {
    case (DateType, i: java.lang.Integer) =>
      java.math.BigDecimal.valueOf(i.longValue)
    case (TimestampType | TimestampNTZType, l: java.lang.Long) =>
      import org.apache.parquet.schema.LogicalTypeAnnotation
      prim.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              java.math.BigDecimal.valueOf(l.longValue).scaleByPowerOfTen(3)
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              java.math.BigDecimal.valueOf(l.longValue)
            case LogicalTypeAnnotation.TimeUnit.NANOS =>
              // bounds must bracket: floor the min... a single value can't
              // know which side it is; integer-divide is exact enough ONLY
              // when it brackets both ways, so keep full nano precision
              new java.math.BigDecimal(java.math.BigInteger.valueOf(l.longValue),
                3) // nanos/1000 with exact decimal scale — still micros
          }
        case _ => java.math.BigDecimal.valueOf(l.longValue)
      }
    // INT96 timestamps: parquet marks their stats unreliable; Binary here
    // falls through to the catch-all null below
    case _ => statValueBase(dt, v)
  }

  private def statValueBase(dt: DataType, v: Any): Any = (dt, v) match {
    case (StringType, b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
    case (BooleanType, b: java.lang.Boolean) => b
    case (d: DecimalType, i: java.lang.Integer) =>
      java.math.BigDecimal.valueOf(i.longValue, d.scale)
    case (d: DecimalType, l: java.lang.Long) =>
      java.math.BigDecimal.valueOf(l.longValue, d.scale)
    case (d: DecimalType, b: org.apache.parquet.io.api.Binary) =>
      new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale)
    case (FloatType, f: java.lang.Float) =>
      if (f.isNaN || f.isInfinite) null else new java.math.BigDecimal(f.toString)
    case (DoubleType, dd: java.lang.Double) =>
      if (dd.isNaN || dd.isInfinite) null else new java.math.BigDecimal(dd.toString)
    case (_: NumericType, n: Number) => new java.math.BigDecimal(n.toString)
    case _ => null
  }

  /** Writer-private data directory: named for the version the writer was
    * AIMING at plus a random tag, so concurrent writers never collide on a
    * path and a commit that loses the version CAS can rebase and point its
    * log entry at the files it already wrote. Files only become visible
    * through a committed log entry; never-committed ones are orphans that
    * [[vacuum]] sweeps. */
  private[sources] def dataSub(version: Long): String =
    s"data/v$version-${java.util.UUID.randomUUID().toString.take(8)}"

  /** TxnTable DATA files write timestamps as INT64 micros even under the
    * session default (INT96): INT96 is deprecated parquet, costs 50%
    * more bytes per value, and — decisive here — carries NO usable footer
    * statistics, so a timestamp predicate could never skip files. Scoped
    * to the write (set/restore around the job) so a session's OTHER
    * parquet output keeps whatever encoding its consumers expect. A
    * concurrent writer racing the restore window at worst writes INT96 —
    * correctness is unaffected (the readers decode both), only that
    * file's skipping potential is lost. */
  private[sources] def withMicrosTimestamps[T](df: DataFrame)(body: => T): T = {
    val hasTs = df.schema.fields.exists(_.dataType == TimestampType)
    val k = "spark.sql.parquet.outputTimestampType"
    val conf = df.sparkSession.conf
    val prev = conf.get(k)
    if (!hasTs || prev == "TIMESTAMP_MICROS") body
    else {
      conf.set(k, "TIMESTAMP_MICROS")
      try body finally conf.set(k, prev)
    }
  }

  /** Write per-commit CHANGE-DATA files (table columns + `_change_type`)
    * under `cdc/v<version>-<tag>` — the persisted row-level diff an
    * incremental CDF consumer reads instead of re-diffing snapshots. No
    * stats (never pruned on; read whole by version). */
  private[sources] def writeCdcFiles(df0: DataFrame, root: String, version: Long): Seq[AddFile] = {
    // change files carry the STABLE physical names, exactly like data
    // files — a post-rename cdc file written under the new logical name
    // would read back null through every physical-name-resolving consumer
    // (the txn-tail change feed); readers re-attach the logical names of
    // their own range end. `_change_type` is a feed column, never mapped.
    val mapping = readMeta(root).map(m => colMapping(m._1)).getOrElse(Map.empty)
    val df = if (mapping.isEmpty) df0
      else df0.select(df0.columns.toSeq.map(c =>
        col(c).as(mapping.getOrElse(c, c))): _*)
    val sub = s"cdc/v$version-${java.util.UUID.randomUUID().toString.take(8)}"
    val dst = Paths.get(root, sub)
    df.write.mode(SaveMode.ErrorIfExists).parquet(dst.toString)
    listClosed(dst).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .toSeq.sorted
      .map(n => AddFile(s"$sub/$n", Files.size(dst.resolve(n)), None))
  }

  /** Write `df` under a fresh [[dataSub]] dir; stats come off each file's
    * footer (see [[footerStats]] — no second scan). `check = false` skips
    * CHECK-constraint validation (layout-only rewrites of already-valid
    * rows — OPTIMIZE/ZORDER — must not pay a validation pass). */
  private[sources] def writeDataFiles(df0: DataFrame, root: String, version: Long,
                             check: Boolean = true,
                             mappingOverride: Option[Map[String, String]] = None): Seq[AddFile] = {
    if (check) validateConstraints(df0, root)
    // under column mapping the FILES carry the stable physical names (the
    // logical batch columns rename just before the write); stats therefore
    // key by physical name, matching what pruning translates to.
    // `mappingOverride` carries the POST-evolution mapping when the batch
    // introduces new columns to a mapped table — those must land under
    // their fresh physical names, which the current metadata cannot know.
    val mapping = mappingOverride.getOrElse(
      readMeta(root).map(m => colMapping(m._1)).getOrElse(Map.empty))
    val df = if (mapping.isEmpty) df0
      else df0.select(df0.columns.toSeq.map(c =>
        col(c).as(mapping.getOrElse(c, c))): _*)
    val sub = dataSub(version)
    val dst = Paths.get(root, sub)
    withMicrosTimestamps(df)(
      df.write.mode(SaveMode.ErrorIfExists).parquet(dst.toString))
    val names = listClosed(dst).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .toSeq.sorted
    // footer reads are independent metadata I/O — fan out across the
    // common pool; a commit's stats latency stays O(files / cores)
    val stats = new java.util.concurrent.ConcurrentHashMap[String, String]()
    names.asJava.parallelStream()
      .forEach(n => stats.put(n, footerStats(dst.resolve(n), df.schema)))
    names.map(n => AddFile(s"$sub/$n", Files.size(dst.resolve(n)),
      Some(stats.get(n))))
  }
}
