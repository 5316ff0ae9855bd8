package graft.sources

import java.util.{Map => JMap}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `txn-tail` — a Structured Streaming micro-batch source that TAILS a
  * [[TxnTable]] commit log: each micro-batch is the set of versions
  * committed since the last checkpointed one, and each version
  * contributes exactly the rows its `add` actions introduced. The
  * version number IS the offset (one long of checkpoint state), so
  * restart/replay is the standard exactly-once-source contract — the
  * incremental-consumption loop that [[graft.streaming.TxnSink]] writes
  * is closed by this source reading it back.
  *
  * Fidelity rules, mirroring the open lakehouse streaming sources:
  *  - layout-only commits (`optimize*`, `dataChange:false` in the log)
  *    are SKIPPED — compaction must not re-deliver rows;
  *  - a data-changing commit that also REMOVES files (overwrite, merge,
  *    delete) rewrites rows and breaks append-only semantics: the source
  *    fails loudly unless `ignoreChanges=true`, in which case the
  *    version's added files re-emit (carried rows duplicate — the
  *    documented open-format tradeoff, consumers dedup on key);
  *  - every output row carries `_commit_version` so downstream state can
  *    attribute provenance.
  *
  * Scale: the DRIVER folds only commit metadata (two longs of offset
  * state per batch, O(files-touched) planning); each EXECUTOR task reads
  * one parquet file via the parquet-column record API — no Spark scan
  * machinery needed inside a DSv2 reader, and file-level parallelism is
  * the natural unit a 1000-executor tail wants. Supported column types:
  * the integral/floating/boolean/string/binary primitives (the
  * [[graft.streaming.TxnSink]] envelope shapes); nested types belong to
  * batch reads.
  *
  * Options: `path` (table root, required), `startingVersion` (default 0),
  * `ignoreChanges` (default false), `maxVersionsPerBatch` (default
  * unlimited) — the admission-control knob: a tail starting against a
  * long history must arrive as bounded micro-batches, not one giant
  * backfill batch (the maxFilesPerTrigger analogue).
  */
class TxnTailProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "txn-tail"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TxnTail.outputSchema(TxnTail.conf(options.asCaseSensitiveMap()))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new TxnTailTable(properties)
}

object TxnTail {
  final case class Conf(root: String, startingVersion: Long,
                        ignoreChanges: Boolean,
                        maxVersionsPerBatch: Option[Long],
                        readChangeFeed: Boolean)

  def conf(properties: JMap[String, String]): Conf = {
    def opt(k: String): Option[String] = Option(properties.get(k))
    Conf(
      opt("path").getOrElse(sys.error("txn-tail: option 'path' (table root) is required")),
      opt("startingVersion").map(_.toLong).getOrElse(0L),
      opt("ignoreChanges").exists(_.toBoolean),
      opt("maxVersionsPerBatch").map(_.toLong),
      opt("readChangeFeed").exists(_.toBoolean))
  }

  /** Table schema (from the log's metaData action) + `_commit_version`;
    * with `readChangeFeed=true` also `_change_type` — the STREAMING change
    * feed: appends arrive as inserts off their own add files, CDF-enabled
    * merge/delete commits arrive as their persisted change rows, and a
    * rewrite without change files fails loudly instead of re-emitting
    * carried rows (the dedup burden ignoreChanges pushes to consumers). */
  def outputSchema(c: Conf): StructType = {
    val (schema, _) = TxnTable.tableMeta(c.root).getOrElse(
      sys.error(s"txn-tail: ${c.root} has no _delta_log metaData to infer a schema from"))
    // partitioned tables tail fine: partition columns are path-encoded,
    // but every add action records its partitionValues, so the reader
    // synthesizes them as per-file constants (see TxnTailReader)
    schema.fields.foreach { f =>
      require(supported(f.dataType),
        s"txn-tail: unsupported column type ${f.dataType} for ${f.name}")
    }
    val withCt =
      if (c.readChangeFeed)
        schema.fields :+ StructField("_change_type", StringType, nullable = false)
      else schema.fields
    StructType(withCt :+ StructField("_commit_version", LongType, nullable = false))
  }

  private[sources] def resolve(root: String, f: String): String = {
    val p = java.nio.file.Paths.get(f)
    (if (p.isAbsolute) p else java.nio.file.Paths.get(root, f)).toString
  }

  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | BooleanType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType | _: DecimalType => true
    case _ => false
  }
}

final class TxnTailTable(properties: JMap[String, String])
    extends Table with SupportsRead {
  private val c = TxnTail.conf(properties)
  override def name(): String = s"txn-tail:${c.root}"
  override def schema(): StructType = TxnTail.outputSchema(c)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TxnTail.outputSchema(c)
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TxnTailStream(c)
      }
    }
}

/** The last fully-consumed version; −1 = nothing consumed yet. */
final case class TxnTailOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

final class TxnTailStream(c: TxnTail.Conf)
    extends MicroBatchStream with SupportsAdmissionControl {
  private lazy val dataSchemaJson: String = {
    val full = TxnTail.outputSchema(c)
    StructType(full.fields.dropRight(1)).json
  }

  private def available: Long =
    math.max(TxnTable.latestVersion(c.root), c.startingVersion - 1)

  override def initialOffset(): Offset = TxnTailOffset(c.startingVersion - 1)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = TxnTailOffset(available)
  // admission control: cap how many versions one micro-batch admits, so a
  // tail joining a long history backfills in bounded steps
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[TxnTailOffset].version
    val hi = c.maxVersionsPerBatch
      .map(m => math.min(available, lo + m)).getOrElse(available)
    TxnTailOffset(math.max(hi, lo))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")
  override def deserializeOffset(json: String): Offset =
    TxnTailOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[TxnTailOffset].version
    val hi = end.asInstanceOf[TxnTailOffset].version
    ((lo + 1) to hi).flatMap { v =>
      val (op, adds, cdc, rewrites) = TxnTable.commitActions(c.root, v)
      if (op.startsWith("optimize") || op == "purge-deletes" ||
        op == "enable-row-tracking")
        Seq.empty // layout-only: no new rows
      else if (c.readChangeFeed) {
        // change-feed mode: each commit contributes exactly its changes
        if (cdc.nonEmpty)
          cdc.map(a => TxnTailPartition(
            TxnTail.resolve(c.root, a.file), v,
            dataSchemaJson, changeType = null)) // _change_type is IN the file
        else if (op == "delete-dv") {
          // merge-on-read delete: stream the bitmap DELTA's rows as
          // deletes — the reader keeps only delta-marked ordinals
          val byFile = adds.map(a => a.file -> a).toMap
          TxnTable.dvDeltaBlobs(c.root, v).toSeq.sortBy(_._1).map { case (f, blob) =>
            TxnTailPartition(
              TxnTail.resolve(c.root, f), v, dataSchemaJson,
              changeType = "delete",
              partValues = byFile.get(f).map(_.partitionValues)
                .getOrElse(Map.empty),
              dvDeltaB64 = java.util.Base64.getEncoder.encodeToString(blob))
          }
        }
        else if (!rewrites)
          adds.map(a => TxnTailPartition(
            TxnTail.resolve(c.root, a.file), v,
            dataSchemaJson, changeType = "insert", partValues = a.partitionValues))
        else sys.error(
          s"txn-tail: version $v ($op) rewrites rows without change files; " +
            "commit with cdf = true to stream its change feed")
      } else {
        require(!rewrites || c.ignoreChanges,
          s"txn-tail: version $v ($op) rewrites data; the tail is " +
            "append-only — set ignoreChanges=true to re-emit rewritten files")
        adds.map(a => TxnTailPartition(
          TxnTail.resolve(c.root, a.file), v, dataSchemaJson,
          partValues = a.partitionValues))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new TxnTailReader(partition.asInstanceOf[TxnTailPartition])
    }
}

/** `changeType`: non-null = synthesize a constant `_change_type` for every
  * row (append commits in change-feed mode, whose files predate the
  * column); null = the column, if projected, is in the file (cdc files)
  * or absent (plain tail mode). `partValues`: a partitioned table's
  * path-encoded columns, synthesized as per-file constants. */
final case class TxnTailPartition(path: String, version: Long,
                                  schemaJson: String,
                                  changeType: String = null,
                                  partValues: Map[String, String] = Map.empty,
                                  dvDeltaB64: String = null)
    extends InputPartition

/** Executor-side reader: one parquet file through the parquet-column
  * record API (ColumnIO + GroupRecordConverter) — footer-driven, no Spark
  * scan inside the reader, columns projected by the table schema. */
final class TxnTailReader(p: TxnTailPartition)
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.io.ColumnIOFactory
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.convert.GroupRecordConverter

  private val schema =
    DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
  // resolve file columns by their PHYSICAL name: under name-mode column
  // mapping a renamed column's files keep the stable physical name, and
  // the tail must stitch old-physical and new-logical files into ONE
  // seamless column (matching the batch scan), not emit nulls
  private val physNames: Array[String] = schema.fields.map(TxnTable.physicalName)
  private val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
    new org.apache.hadoop.fs.Path(p.path),
    GroupDecode.freshConf()))
  private val fileSchema = reader.getFooter.getFileMetaData.getSchema
  schema.fields.zip(physNames).foreach { case (f, pn) =>
    GroupDecode.checkDecimalScale(fileSchema, pn, f.dataType, p.path) }
  private var recordReader: org.apache.parquet.io.RecordReader[Group] = _
  private var remaining = 0L
  private var current: Group = _
  // delete-dv change-feed partitions keep ONLY the delta-marked physical
  // row positions; ordinal tracks the file-wide row index (the sequential
  // record read makes it exactly _metadata.row_index)
  private val dvKeep: graft.sources.DeletionVectors.RoaringBitmapArray =
    if (p.dvDeltaB64 == null) null
    else graft.sources.DeletionVectors.RoaringBitmapArray.deserialize(
      java.util.Base64.getDecoder.decode(p.dvDeltaB64))
  private var ordinal = -1L

  override def next(): Boolean = {
    while (true) {
      while (remaining == 0L) {
        val rg = reader.readNextRowGroup()
        if (rg == null) return false
        remaining = rg.getRowCount
        recordReader = new ColumnIOFactory().getColumnIO(fileSchema)
          .getRecordReader(rg, new GroupRecordConverter(fileSchema))
      }
      current = recordReader.read(); remaining -= 1; ordinal += 1
      if (dvKeep == null || dvKeep.contains(ordinal)) return true
    }
    false
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](schema.length + 1)
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      // data files committed BEFORE a schema evolution lack the new
      // columns entirely — emit null for them, matching the batch
      // unified-schema scan (getFieldIndex would throw on the backfill)
      vals(i) =
        if (!fileSchema.containsField(physNames(i)))
          if (f.name == "_change_type" && p.changeType != null)
            UTF8String.fromString(p.changeType)
          else if (p.partValues.contains(f.name))
            GraftCatalog.partConst(p.partValues(f.name), f.dataType)
          else null
        else {
          val fi = fileSchema.getFieldIndex(physNames(i))
          if (current.getFieldRepetitionCount(fi) == 0) null
          else {
            // files committed BEFORE a type widening keep their narrow
            // physical type — the shared decode matrix up-converts, like
            // the batch parquet scan (and serves the full flat type
            // surface: temporal + decimal included)
            GroupDecode.value(current, fi,
              fileSchema.getType(fi), f.dataType)
          }
        }
      i += 1
    }
    vals(schema.length) = p.version
    new GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}
