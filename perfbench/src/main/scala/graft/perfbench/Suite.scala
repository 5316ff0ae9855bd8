package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

import graft.{Materialize, SparkEntry}

/** Warm runs of `SparkEntry.queries` entries over the generated tables,
  * one query at a time, each fully materialized through the `noop` sink
  * (as the engine's own bench does). */
final class Suite(spark: SparkSession, dataDir: String, probe: Option[Probe]) {

  /** Wall ms of one run of `name`; releases its transient
    * materializations afterwards, outside the timed window. */
  def run(name: String): Double = {
    def exec(): Unit =
      SparkEntry.queries(name)(spark, dataDir).write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    probe.fold(exec())(_.scoped(Queries.group(name))(exec()))
    val ms = (System.nanoTime() - t0) / 1e6
    release(name)
    ms
  }

  /** One run of `name` whose result is written as parquet for the oracle
    * compare. */
  def dump(name: String, outDir: Path): Unit = {
    SparkEntry.queries(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
      .parquet(outDir.resolve(name).toString)
    release(name)
  }

  private def release(name: String): Unit = probe match {
    case None => Materialize.releaseTransient(spark)
    case Some(p) =>
      p.span("materialize.release", name)(Materialize.releaseTransient(spark))
      p.cachedMb += spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
  }

  /** The oracle SQL of `names`, as the JSON object the compare reads. */
  def writeOracle(names: Seq[String], path: Path): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = SparkEntry.oracleSql
    val missing = names.filterNot(sql.contains)
    require(missing.isEmpty, s"queries without an oracle: ${missing.mkString(", ")}")
    Files.writeString(path, names.map(n => s"${q(n)}: ${q(sql(n))}").mkString("{", ",\n", "}"))
  }
}
