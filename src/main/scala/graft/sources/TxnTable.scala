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

/** Minimal log-structured table format over parquet — the executable
  * analogue of the Delta features the offline container blocks (the
  * delta-spark jar is unresolvable; see [[graft.streaming.CdcIngest]]'s
  * format seam). The table's one log IS the open Delta protocol: an
  * ordered `_delta_log/<version>.json` of add/remove FILE ACTIONS plus
  * parquet checkpoints is the source of truth for this module and for
  * external engines alike — readers list the log, fold the actions into
  * a snapshot, and read only live files.
  * That one idea buys, and this module implements:
  *
  *  - **snapshot isolation**: a commit is one atomically-claimed log
  *    file; readers never see half a commit;
  *  - **time travel** ([[readVersion]]): fold actions only up to v;
  *  - **OPTIMIZE** ([[optimize]]): rewrite small files into compacted
  *    ones and commit remove+add — contents identical, history intact
  *    (older versions still resolve to the removed files until vacuumed);
  *  - **VACUUM** ([[vacuum]]): delete files unreferenced by any retained
  *    version — after which too-old time travel FAILS LOUDLY instead of
  *    returning partial data;
  *  - **history** ([[history]]): the commit audit table.
  *
  * Scale notes. Data files are written by Spark (distributed, any size);
  * only the ACTION METADATA passes through the driver, exactly as in the
  * production systems (a log entry is O(files touched), not O(rows)).
  * The commit point is a hard-link CAS (fail-if-exists, see [[commit]]);
  * on S3-class stores it becomes a conditional put — the one seam to
  * swap. MULTI-WRITER safe: data files live in writer-private directories
  * and become visible only through a won version claim; losers rebase on
  * the new snapshot and retry ([[casRetry]]), losers' never-referenced
  * files are vacuum-swept orphans. Readers are always safe.
  */
object TxnTable
    extends TxnLogOps with TxnWriteOps with TxnMetaOps with TxnReadOps
    with TxnLayoutOps with TxnSkipOps with TxnDmlOps {
  // API-stability aliases: the model types moved to package level when the
  // 3.9k-line object split into concern modules (round 16); every existing
  // `TxnTable.AddFile`-style reference keeps working.
  type AddFile = graft.sources.AddFile
  val AddFile = graft.sources.AddFile
  type FileStats = graft.sources.FileStats
  val FileStats = graft.sources.FileStats
  type ConcurrentCommitException = graft.sources.ConcurrentCommitException
}
