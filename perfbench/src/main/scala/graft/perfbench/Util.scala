package graft.perfbench

import java.nio.file.{Files, Path}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Median, or 0 when the layer did no work in this workload. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

object Io {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** The query lists. `txn`: lakehouse queries that build their table on
  * every call, so each run times the writes as well as the reads: UPDATE
  * and DELETE with the change feed read through SQL (`q_txn_sql_cdf`);
  * SQL UPDATE, DELETE and MERGE INTO (`q_txn_sql_dml`). The CDC workload
  * runs deletion-vector DELETEs, purge and time travel (`q_txn_dv`).
  * (`q_txn_merge`, `q_txn_cdf` and `q_txn_time_travel` build their table
  * once per session and then only read it.) `ops`: per operator group,
  * the oracle-checked query whose warm time sits near the group's median
  * at sf0.01 on four cores, plus the reference's flagship bonus query,
  * which the CDC workload runs too. */
object Queries {
  val txn: Seq[String] = Seq("q_txn_sql_cdf", "q_txn_sql_dml")
  val ops: Seq[String] = Seq("q_substr_dedup", "q_dedup_minhash_lsh", "q_curation_funnel",
    "q_kcore", "q_simhash", "q_flagship_bonus")
  val cdcTxn: Seq[String] = Seq("q_txn_dv")
  val cdcOps: Seq[String] = Seq("q_flagship_bonus")

  /** The module group a query belongs to, for the per-group metrics. */
  def group(name: String): String = {
    val graph = Set("q_pagerank", "q_ppr", "q_kcore", "q_khop")
    val similarity = Set("q_containment", "q_lsh_quality", "q_simhash", "q_minhash_sig")
    if (name.startsWith("q_txn_")) "txn"
    else if (name.startsWith("q_dedup_")) "dedup"
    else if (name.startsWith("q_substr_")) "substr"
    else if (name.startsWith("q_curation")) "curation"
    else if (graph(name)) "graph"
    else if (similarity(name)) "similarity"
    else "relational"
  }
  val groups: Seq[String] = Seq("txn", "dedup", "substr", "curation", "graph", "similarity", "relational")
}
