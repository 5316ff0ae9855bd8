package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical
import org.scalatest.funsuite.AnyFunSuite

/** Plan-gates for every `Window.partitionBy()`-less site in the engine
  * (round-19, verdict item 7): an unpartitioned window moves its whole
  * input to ONE task, so each such site must provably run over a BOUNDED
  * relation. This spec extracts the CHILD of every unpartitioned logical
  * Window in each affected query and counts its rows — the gate fails
  * loudly if a refactor ever widens one of these inputs past the bound.
  *
  * Why each site is bounded at any corpus scale (not just at test SF):
  *  - q_vocab_growth / q_lorenz: decile spine — ≤ 10 rows by construction.
  *  - q_mix_budget: one row per source — the source dimension.
  *  - q_zipf: `limit 100` applied BELOW the ranking window.
  *  - q_dedup_sweep: one row per threshold bin — fixed bin count.
  *  - q_pareto_docs / q_pareto_incr: one row per distinct n_tokens —
  *    value-compressed, bounded by the max document length domain.
  *  - q_cusum: one row per day — the date-range domain.
  *  - q_wealth_gini (spendRanked): one row per spend bucket (fixed 1024).
  *  - q_auc / q_pr_curve: one row per distinct score / score bucket —
  *    value-compressed (q_pr_curve buckets to a fixed grid; q_auc is
  *    bounded by the score domain, the loosest of these bounds).
  *  - q_bootstrap_ci: one row per bootstrap replicate (fixed 200).
  *  - q_khop: one row per hop level (KHops + 1).
  */
class BoundedWindowSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Row counts of the children of every unpartitioned Window in the
    * query's analyzed plan (empty = the query has none). */
  private def unpartitionedWindowInputRows(name: String): Seq[Long] = {
    val df = SparkEntry.queries(name)(spark, dir)
    val children = df.queryExecution.analyzed.collect {
      case w: logical.Window if w.partitionSpec.isEmpty => w.child
    }
    val out = children.map(c =>
      org.apache.spark.sql.GraftColumnExpr.ofRows(spark, c).count())
    Materialize.releaseTransient(spark)
    out
  }

  // (query, bound at sf0.001, at least one site expected)
  private val sites: Seq[(String, Long)] = Seq(
    "q_vocab_growth" -> 16L,   // deciles (+ spine slack)
    "q_mix_budget"   -> 64L,   // sources
    "q_zipf"         -> 100L,  // limit 100 below the rank window
    "q_dedup_sweep"  -> 64L,   // threshold bins
    "q_pareto_docs"  -> 1024L, // distinct n_tokens (value-compressed)
    "q_pareto_incr"  -> 1024L,
    "q_cusum"        -> 4096L, // distinct days in the fact date range
    "q_wealth_gini"  -> 1100L, // fixed spend-bucket grid
    "q_lorenz"       -> 1100L, // buckets + decile spine
    "q_auc"          -> 20000L, // distinct scores (domain-bounded)
    "q_pr_curve"     -> 1100L, // fixed score grid
    "q_bootstrap_ci" -> 256L,  // replicates
    "q_khop"         -> 16L    // hop levels
  )

  for ((q, bound) <- sites)
    test(s"$q: every unpartitioned window input is bounded (≤ $bound rows)") {
      val rows = unpartitionedWindowInputRows(q)
      assert(rows.nonEmpty,
        s"$q no longer contains an unpartitioned window — update this spec")
      rows.foreach(n => assert(n <= bound,
        s"$q has an unpartitioned window over $n rows (bound $bound) — " +
          "a refactor widened a single-task window input"))
    }

  /** Every textual `Window.orderBy(...)`/`Window.rowsBetween`/
    * `Window.partitionBy()` site in `graft.operators`, by file — each one
    * feeds a query gated above. */
  private val censusSites: Map[String, Seq[String]] = Map(
    "TextAnalysis.scala" -> Seq("q_vocab_growth", "q_mix_budget",
      "q_zipf", "q_zipf"), // zipf: two window expressions over one input
    "Dedup.scala"        -> Seq("q_dedup_sweep"),
    "Selection.scala"    -> Seq("q_pareto_docs/q_pareto_incr"), // shared skyline
    "Relational.scala"   -> Seq("q_cusum", "q_wealth_gini",
      "q_lorenz", "q_lorenz"), // lorenz: grand-total window + decile window
    "Eval.scala"         -> Seq("q_auc", "q_pr_curve", "q_pr_curve", // suffix/total
      "q_bootstrap_ci"),
    "Graph.scala"        -> Seq("q_khop"))

  test("the engine has no unpartitioned-window sites this spec does not enumerate") {
    // Source-level census: every unpartitioned window in main code must
    // belong to a query listed above. Counting textual sites keeps the
    // census cheap and loud: adding a new unpartitioned window anywhere
    // forces the author to extend this spec. The source root comes from
    // the build (`graft.baseDir`), never the working directory.
    import scala.jdk.CollectionConverters._
    val base = Option(System.getProperty("graft.baseDir")).getOrElse(
      fail("graft.baseDir is unset — run through sbt (build.sbt Test / javaOptions)"))
    val roots = java.nio.file.Paths.get(base, "src/main/scala/graft/operators")
    val inSource = FsTest.walk(roots).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val text = java.nio.file.Files.readString(p)
        p.getFileName.toString ->
          "Window\\.(orderBy|rowsBetween|partitionBy\\(\\))".r.findAllIn(text).size
      }.filter(_._2 > 0).toMap
    assert(inSource == censusSites.view.mapValues(_.size).toMap,
      s"unpartitioned-window census drifted: source has $inSource — " +
        "update BoundedWindowSpec's enumeration and bounds")
  }
}
