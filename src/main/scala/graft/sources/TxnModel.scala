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

/** Shared value model of the transaction-log table ([[TxnTable]]): the
  * add-action record, its decoded statistics, the commit-race signal, and
  * the tiny deterministic JSON codec the log/stat payloads round-trip
  * through. Package-level so every TxnTable concern module shares one
  * definition; [[TxnTable]] re-exports aliases for API stability. */
/** One `add` action: a data file plus its per-file column statistics —
  * the metadata data skipping folds over. `stats` is the Delta-shaped
  * JSON `{"numRecords":N,"minValues":{…},"maxValues":{…},"nullCount":{…}}`
  * (absent for pre-stats commits; readers must treat absence as
  * "cannot prune"). Numeric/boolean min-max are exact decimal numbers,
  * strings are JSON strings — the encodings the open Delta protocol uses,
  * so the `_delta_log` add action carries it verbatim. Temporal
  * columns are left out of stats (their protocol encoding is a rendered
  * string; pruning on them can be added by widening `statsEligible`). */
/** `baseRowId`: the file's first fresh ROW ID under row tracking
  * (row_id = baseRowId + physical row index, unless the file carries a
  * materialized id column — see [[readWithRowIds]]). None on untracked
  * tables and on adds [[commit]] has not stamped yet. */
final case class AddFile(file: String, bytes: Long, stats: Option[String],
                         partitionValues: Map[String, String] = Map.empty,
                         bloom: Option[String] = None,
                         dv: Option[DeletionVectors.DvDescriptor] = None,
                         baseRowId: Option[Long] = None)

/** Per-file stats decoded for pruning. Map values: BigDecimal | String |
  * Boolean | null (all-null column). A column absent from the maps means
  * "unknown" (ineligible type) — never prune on it. */
/** One line of a [[TxnTable.sweepStaging]] report: a lifecycle directory
  * (crashed-CTAS staging, RTAS-replaced predecessor, DROP tombstone, stale
  * replace-intent marker) with its on-disk size and whether this sweep
  * reclaimed it. */
final case class SweepEntry(kind: String, path: String, bytes: Long,
                            reclaimed: Boolean)

final case class FileStats(numRecords: Long,
                           minV: Map[String, Any], maxV: Map[String, Any],
                           nullC: Map[String, Long],
                           blooms: Map[String, (Int, Array[Long])] = Map.empty)

private[sources] object TxnModel {
  /** add-action tag carrying a file's Bloom index JSON. */
  val BloomTag = "graft.bloom"
  /** domainMetadata domain carrying the row-id high-water mark. */
  val RowTrackingDomain = "delta.rowTracking"
}

/** A live add as the log records it: the file plus the two protocol
  * fields only a checkpoint re-emits. */
private[sources] final case class LoggedAdd(add: AddFile, modificationTime: Long,
                                            rowCommitVersion: Option[Long])
private[sources] final case class Tombstone(path: String, deletionTimestamp: Long,
                                            dv: Option[DeletionVectors.DvDescriptor])
private[sources] final case class Protocol(minReader: Int, minWriter: Int,
                                           readerFeatures: Option[Seq[String]],
                                           writerFeatures: Option[Seq[String]])
private[sources] final case class TableMeta(id: String, schemaString: String,
                                            partitionColumns: Seq[String],
                                            configuration: Map[String, String],
                                            createdTime: Option[Long]) {
  lazy val schema: StructType = DataType.fromJson(schemaString).asInstanceOf[StructType]
}

/** The table at one version — everything the log says about it:
  * live adds and remove tombstones in fold order, the latest protocol
  * and metaData, the idempotence ledger (`txn` appId → version), the
  * latest configuration of each metadata domain, and `hwm`, the next
  * fresh row id (0 when row tracking never assigned any). */
private[sources] final case class Snapshot(adds: Seq[LoggedAdd],
                                           tombstones: Seq[Tombstone],
                                           protocol: Option[Protocol],
                                           meta: Option[TableMeta],
                                           txns: Map[String, Long],
                                           domains: Map[String, String]) {
  def live: Seq[AddFile] = adds.map(_.add)
  def config: Map[String, String] = meta.map(_.configuration).getOrElse(Map.empty)
  // the domain stores the LAST assigned id; the fold wants the next one
  def hwm: Long = domains.get(TxnModel.RowTrackingDomain).map(c =>
    MiniJson.parse(c).asInstanceOf[Map[String, Any]]("rowIdHighWaterMark")
      .asInstanceOf[BigDecimal].toLongExact + 1).getOrElse(0L)
}
private[sources] object Snapshot {
  val empty: Snapshot = Snapshot(Nil, Nil, None, None, Map.empty, Map.empty)
}

/** One file action of a commit, with the commit's operation (its
  * `commitInfo.operation`): `action` is add | remove | cdc. A remove's
  * AddFile carries the path and the tombstoned deletion vector only. */
private[sources] final case class Action(version: Long, op: String, action: String,
                                add: AddFile)

/** One committed version as history sees it: operation, commit
  * timestamp, and its file actions in line order. */
private[sources] final case class Commit(op: String, timestamp: Long,
                                         actions: Seq[Action])

// ---- minimal JSON codec for the stats payload ---------------------------
// The stats object is machine-written by THIS module (strings, exact
// decimal numbers, bools, nulls, one level of nesting), so a tiny
// recursive-descent parser is enough — no library, deterministic.
private[sources] object MiniJson {
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  final class P(val s: String) { var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def expect(c: Char): Unit = { ws(); require(s.charAt(i) == c, s"expected $c at $i in $s"); i += 1 }
  }
  def parse(s: String): Any = { val p = new P(s); value(p) }
  private[sources] def value(p: P): Any = { p.ws(); p.s.charAt(p.i) match {
    case '{' => obj(p)
    case '[' => arr(p)
    case '"' => str(p)
    case 't' => p.i += 4; true
    case 'f' => p.i += 5; false
    case 'n' => p.i += 4; null
    case _ => num(p)
  }}
  private[sources] def arr(p: P): Seq[Any] = {
    p.expect('['); p.ws()
    if (p.s.charAt(p.i) == ']') { p.i += 1; return Seq.empty }
    val b = Seq.newBuilder[Any]
    var more = true
    while (more) {
      b += value(p); p.ws()
      if (p.s.charAt(p.i) == ',') p.i += 1 else more = false
    }
    p.expect(']'); b.result()
  }
  private[sources] def obj(p: P): Map[String, Any] = {
    p.expect('{'); p.ws()
    if (p.s.charAt(p.i) == '}') { p.i += 1; return Map.empty }
    val b = Map.newBuilder[String, Any]
    var more = true
    while (more) {
      p.ws(); val k = str(p); p.expect(':'); b += (k -> value(p)); p.ws()
      if (p.s.charAt(p.i) == ',') p.i += 1 else more = false
    }
    p.expect('}'); b.result()
  }
  private[sources] def str(p: P): String = {
    p.expect('"'); val sb = new StringBuilder
    while (p.s.charAt(p.i) != '"') {
      if (p.s.charAt(p.i) == '\\') {
        p.s.charAt(p.i + 1) match {
          case 'n' => sb.append('\n'); p.i += 2
          case 'r' => sb.append('\r'); p.i += 2
          case 't' => sb.append('\t'); p.i += 2
          case 'u' => sb.append(Integer.parseInt(p.s.substring(p.i + 2, p.i + 6), 16).toChar); p.i += 6
          case c => sb.append(c); p.i += 2
        }
      } else { sb.append(p.s.charAt(p.i)); p.i += 1 }
    }
    p.i += 1; sb.toString
  }
  private[sources] def num(p: P): BigDecimal = {
    val st = p.i
    while (p.i < p.s.length && "+-0123456789.eE".indexOf(p.s.charAt(p.i)) >= 0) p.i += 1
    BigDecimal(p.s.substring(st, p.i))
  }
}

/** Another writer claimed this version first; the caller rebases on the
  * new snapshot and retries (appends) or re-runs its read-modify-write
  * body (merge/delete/overwrite/optimize) — see [[casRetry]]. */
final class ConcurrentCommitException(root: String, version: Long)
  extends RuntimeException(
    s"version $version of $root was committed concurrently")
