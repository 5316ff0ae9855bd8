package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the shapes that must survive at 100 TB.
  * These assert on the optimized/executed plan, so a regression that
  * introduces an accidental shuffle, drops a broadcast, or blocks pushdown
  * fails CI — not just the benchmark.
  */
class PlanSpec extends AnyFunSuite {
  import graft.operators._
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dimension joins broadcast — no shuffle of the fact side") {
    val plan = executed(Relational.joinInner(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$plan")
  }

  test("flagship: nation broadcasts; only the per-customer agg shuffles") {
    val plan = executed(Relational.flagshipBonus(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // exactly one aggregation-induced exchange pair (partial+final agg)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("null filter is pushed into the parquet scan") {
    val plan = executed(Relational.cdcExtract(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(event_id)]"), plan)
  }

  test("projection prunes the parquet read schema") {
    val plan = executed(Relational.joinInner(spark, sf))
    // customer scan must not read c_acctbal/c_mktsegment
    assert(!plan.contains("c_acctbal"), plan)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = executed(Relational.topkGroup(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("aggregates are partial+final (map-side combine present)") {
    val plan = executed(Relational.pricingSummary(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("whole-stage codegen covers the scan-project-filter pipelines") {
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    val plan = executed(Relational.validateThreshold(spark, sf))
    assert(plan.contains("*(1)"), plan)
  }

  test("LSH dedup candidates stay distributed — no LocalTableScan in the verify join") {
    // A driver-side collect()+parallelize of candidate pairs shows up as a
    // LocalTableScan (single-partition, driver-memory-bounded). The
    // distributed materialization must not.
    val lsh = executed(Dedup.dedupMinhashLsh(spark, sf))
    assert(!lsh.contains("LocalTableScan"), lsh)
    val sim = executed(Dedup.dedupSimhash(spark, sf))
    assert(!sim.contains("LocalTableScan"), sim)
  }

  test("temporal joins push event_type filters into the parquet scan") {
    // each side of the as-of/range join must scan only its event type —
    // at 100 TB the filter reaching the reader is the difference between
    // reading 2 event types and reading all of them
    val asof = executed(Temporal.asofAttribution(spark, sf))
    assert(asof.contains("EqualTo(event_type,purchase)"), asof)
    assert(asof.contains("EqualTo(event_type,signup)"), asof)
    val range = executed(Temporal.rangeJoinCount(spark, sf))
    assert(range.contains("EqualTo(event_type,error)"), range)
  }

  test("top-ngram mining compiles to TakeOrderedAndProject; contamination broadcasts the eval set") {
    val top = executed(TextAnalysis.topNgrams(spark, sf))
    assert(top.contains("TakeOrderedAndProject"), top)
    val cont = executed(TextAnalysis.contamination(spark, sf))
    // round 12: the bench set rides in as a broadcast one-row array and each
    // doc intersects in place — the corpus pass must be shuffle-free (no
    // explode+groupBy re-aggregation, no hash join on gram strings)
    assert(cont.contains("BroadcastNestedLoopJoin"), cont)
    assert(!cont.contains("SortMergeJoin"), cont)
    assert(!cont.contains("Exchange hashpartitioning"), cont)
  }

  test("norm materialization adds no exchange — brute-force kNN shuffles only for the top-k window") {
    // withNorm used to repartition the corpus on vec_id purely as an
    // optimizer barrier — a full corpus shuffle at 100 TB. The only shuffle
    // allowed in the brute-force plan is the per-query window rank.
    val plan = executed(Similarity.knnBrute(spark, sf))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected only the window exchange, got $shuffles:\n$plan")
  }

  test("metadata-only media query does not read the payload bytes") {
    val plan = executed(Multimodal.mediaMeta(spark, sf))
    // content column is derived, but the scan must read only doc_id+text
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("lang"), plan) // untouched columns pruned
  }

  test("temperature mixing broadcasts the rates — the corpus never shuffles") {
    // the per-source keep-rates are a tiny aggregate; the corpus side must
    // join them via broadcast and evaluate the keep filter in its scan
    // stage — a SortMergeJoin here would shuffle 100 TB to apply a 5-row map
    val plan = executed(TextAnalysis.temperatureSample(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("analytic additions shuffle exactly once") {
    // window breadth: one exchange on user_id feeding both window sorts;
    // grouping sets: Expand above the scan, partial+final agg, one exchange;
    // corr moments: partial+final agg, one exchange on the group key;
    // packing: one exchange on source for the running-offset window
    for ((name, df) <- Seq(
      "q_window_funcs" -> Relational.windowFuncs(spark, sf),
      "q_grouping_sets" -> Relational.groupingSetsSummary(spark, sf),
      "q_corr_stats" -> Relational.corrStats(spark, sf),
      "q_seq_packing" -> TextAnalysis.seqPacking(spark, sf))) {
      val plan = executed(df)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles == 1, s"$name: expected 1 exchange, got $shuffles:\n$plan")
    }
    val gs = executed(Relational.groupingSetsSummary(spark, sf))
    assert(gs.contains("Expand"), gs)
  }

  test("Q10 top-returns compiles to TakeOrderedAndProject, not a global sort") {
    val plan = executed(Relational.topReturns(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("Q6 forecast revenue: all three predicates reach the parquet scan") {
    val plan = executed(DecisionSupport.forecastRevenue(spark, sf))
    // the scan must carry pushed filters on all three predicate columns and
    // read only the columns the query touches
    for (col <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(plan.contains(s"IsNotNull($col)") || plan.contains(s"GreaterThan($col") ||
        plan.contains(s"LessThan($col"), s"$col not pushed:\n$plan")
    assert(!plan.contains("l_orderkey"), s"read schema not pruned:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"scalar agg needs no hash exchange:\n$plan")
  }

  test("Q19 disjunctive predicate: the brand disjunction is pushed to the part scan") {
    val plan = executed(DecisionSupport.disjunctiveRevenue(spark, sf))
    // Catalyst extracts the part-side disjunction (brand/size bands) from the
    // OR-of-ANDs and pushes it below the join into the part parquet scan
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(p_brand")),
      s"part-side disjunction not pushed into the scan:\n$plan")
  }

  test("Q22 dormant accounts: scalar threshold broadcasts; anti-join is not a cartesian") {
    val plan = executed(DecisionSupport.dormantAccounts(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"1-row threshold should broadcast:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must compile to an anti join:\n$plan")
  }

  test("Q4 EXISTS compiles to a semi join; the date window prunes the orders scan") {
    val plan = executed(DecisionSupport.latePriorityCount(spark, sf))
    assert(plan.contains("LeftSemi"), s"EXISTS must compile to a semi join:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")),
      s"order-date window not pushed into the orders scan:\n$plan")
  }

  test("winsorize clip bounds broadcast — the fact never reshuffles for the clip") {
    val plan = executed(Relational.winsorize(spark, sf))
    assert(plan.contains("BroadcastExchange"),
      s"bounds must broadcast, not shuffle-join:\n$plan")
    // exchanges: bounds aggregation + final aggregation — the clip itself adds none
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"expected <=2 exchanges (bounds, final agg), got $shuffles:\n$plan")
  }

  test("z-order keys are a pure scan-project: no exchange at all") {
    val plan = executed(graft.operators.ZOrder.zorderKeys(spark, sf))
    assert(!plan.contains("Exchange"), s"Morton keys must not shuffle:\n$plan")
    // the `*(1)` prefix marks the whole-stage-codegen'd stage at this verbosity
    assert(plan.contains("*(1) Project"), s"interleave must codegen:\n$plan")
  }

  test("chi-square: one fact aggregation, then broadcast-land") {
    val plan = executed(Relational.chiSquare(spark, sf))
    // the cell counts are materialized eagerly (one fact pass inside
    // Materialize.eager), so the final plan must contain NO parquet scan at
    // all — every consumer reads the checkpointed R×C relation
    assert(plan.contains("BroadcastExchange"), s"grid joins should broadcast:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0, s"consumers must reuse the materialized cells, got $scans scans:\n$plan")
  }

  test("path trigrams: user-window exchange + count exchange, top-20 TakeOrdered") {
    val plan = executed(Relational.pathTrigrams(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 exchanges (window, count), got $shuffles:\n$plan")
  }

  test("scd1 merge: the full-outer join reuses the per-side window partitioning") {
    val plan = executed(Relational.scd1Merge(spark, sf))
    // each side shuffles once to user_id for its row_number window; the
    // join's ClusteredDistribution(user_id) is already satisfied — a third
    // exchange would mean the merge reshuffles what the windows partitioned
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 exchanges (one per merge side), got $shuffles:\n$plan")
    assert(plan.contains("FullOuter"), s"merge must be a full-outer join:\n$plan")
  }

  test("basket lift: consumers reuse the materialized basket relation") {
    val plan = executed(Relational.basketLift(spark, sf))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0, s"all three consumers must read the checkpointed baskets, got $scans scans:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"type totals should broadcast:\n$plan")
  }

  test("Q21 window trio shares one orderkey exchange; top-10 is TakeOrdered") {
    val plan = executed(DecisionSupport.latestShipper(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"limit must not global-sort:\n$plan")
    // exchanges: ONE orderkey shuffle feeding the aggregate (subset rule)
    // and all three windows, plus s_name for the final count — exactly 2
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 exchanges (orderkey, final), got $shuffles:\n$plan")
  }

  test("corr stats: one lineitem scan, one aggregation exchange, no Decimal in the row loop") {
    val plan = executed(Relational.corrStats(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected only the partial->final agg exchange, got $shuffles:\n$plan")
    // the round-12 rewrite: moments accumulate in primitive longs (hi/lo
    // split), DECIMAL appears only in the post-agg projection — the partial
    // aggregate must carry no decimal sum buffers
    assert(!plan.contains("sum(cast(xc"), s"per-row decimal accumulation crept back:\n$plan")
  }

  test("shard plan: bucketed windows, no single-partition sort anywhere") {
    val plan = executed(TextAnalysis.shardPlan(spark, sf))
    // one corpus scan; window exchange on bucket + final shard agg exchange
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("SinglePartition"),
      s"the whole point is NO global ordering pass:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected bucket-window + shard-agg exchanges, got $shuffles:\n$plan")
  }

  test("source overlap tail never re-reads the corpus or reshuffles") {
    // everything after the one materialized index job is broadcast-land:
    // the returned plan must contain NO parquet scan and NO hash exchange
    val plan = executed(Dedup.sourceOverlap(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 0, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 0, plan)
  }

  test("RFM bucketing broadcasts the cutoffs — no sort, no extra shuffle") {
    // the per-customer relation arrives materialized; the tail is one
    // broadcast nested-loop of the 1-row cutoffs plus the segment rollup —
    // in particular NO global Sort (the ntile trap) and no re-aggregation
    val plan = executed(Relational.rfmSegments(spark, sf))
    assert(!plan.contains("Sort "), s"global sort crept in:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected only the segment-rollup exchange, got $shuffles:\n$plan")
  }

  test("cross-source dup tagging adds scans only for the source columns") {
    // the pair relation arrives materialized from the LSH pipeline; the
    // only parquet reads are the two id→source tag projections, and both
    // join broadcast (the pair side is small by construction)
    val plan = executed(Dedup.crossSourceDups(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 0, plan)
  }

  test("column profiler reads the table exactly once for all six columns") {
    // the whole point of the one-pass profiler: 6 columns of stats from ONE
    // scan + one aggregate (count-distincts expand rows, not scans)
    val plan = executed(Relational.profileTable(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("anisotropy reads the embeddings corpus exactly once") {
    // the fused form: raw-centroid and normalized-mean folds share one
    // posexplode — the old two-pass shape showed two scans + a broadcast
    val plan = executed(graft.operators.Similarity.anisotropy(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("gopher rule filter is a mapper-only pass — no exchange at all") {
    val plan = executed(TextAnalysis.gopherRules(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert("Exchange".r.findAllIn(plan).size == 0, plan)
  }

  test("heavy hitters: threshold joins broadcast onto the merged sketches") {
    val plan = executed(Relational.heavyHitters(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("triangles: the edge relation is materialized once, never re-derived") {
    // deg, oriented (×2 via self-join), the closing-edge probe, and the
    // edge count all read the SAME materialized edge relation — the
    // lineitem⋈orders pair build must appear zero times in the final plan
    val plan = executed(Graph.triangles(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 0, plan)
  }

  test("bloom probe: the delta joins the stored bitmap by broadcast") {
    // the whole point of the bitmap artifact is that it broadcasts — a
    // shuffle of the delta against the word relation would defeat the
    // pre-filter; the exact companion's corpus join may shuffle, but the
    // word join must be a BroadcastHashJoin with no SortMergeJoin anywhere
    val plan = executed(Dedup.bloomDedup(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"bloom probe fell back to SMJ:\n$plan")
  }

  test("drift TVD: nothing after the binned count scales with the input") {
    // one full-input pass (the map-side-combined (type, bucket) count,
    // materialized); the totals join must broadcast — a shuffle there
    // would mean the rollup re-keyed something input-sized
    val plan = executed(Eval.driftTvd(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("dsir: bucket stats broadcast against the token stream; one doc rollup") {
    // the scoring join keys every token row against the O(B) bucket table —
    // it must broadcast (a shuffle would re-key the exploded corpus), and
    // the materialized token relation is the only corpus-sized input: the
    // documents table itself is never re-scanned after the explode pass
    val plan = executed(Selection.dsirWeights(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("Scan parquet".r.findAllIn(plan).size == 0, plan)
  }

  test("pareto: the frontier broadcasts back; the corpus never sorts") {
    // the skyline window runs over the value-compressed (n_tokens, ymax)
    // relation, then the surviving frontier joins back by broadcast — the
    // corpus-sized side must see neither a global Sort nor an SMJ
    val plan = executed(Selection.paretoDocs(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("grouped ridge: one scan, partial+final aggregation, no joins") {
    // the many-models fit is a single map-side-combinable aggregate over
    // one corpus pass — any join or extra parquet scan means the
    // sufficient-statistics shape regressed
    val plan = executed(Selection.ridgeBySource(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("logit fit: two corpus passes (one per Newton step), weights broadcast") {
    // a Newton step IS a corpus scan — two steps, two scans, never more;
    // the step-1 weights reach the scoring pass by broadcast, not shuffle
    val plan = executed(Classify.logitFit(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 2, plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("priority sample: per-stratum top-(k+1) is map-side limited before the shuffle") {
    // the rank filter must compile to WindowGroupLimit so each map task
    // forwards only k+1 rows per stratum — without it the exchange carries
    // the whole corpus to the window
    val plan = executed(Selection.prioritySample(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("compaction plan: the listing aggregate shuffles once, the window reuses it") {
    // files are (source, stripe) aggregates; the per-source running sum
    // must not introduce a second corpus-sized exchange
    val plan = executed(Lakehouse.compactionPlan(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("sq8: codebook broadcasts; quantization adds no exchange before the top-k window") {
    val plan = executed(Similarity.sq8Recall(spark, sf))
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("attribution: one user-window exchange; the touch join keeps the window partitioning") {
    // both window and touch-type dedup hash by user_id — the join must not
    // add a third corpus exchange on a different key
    val plan = executed(Temporal.firstTouch(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("k-anonymity audit: one scan, pure aggregation, no joins") {
    val plan = executed(Governance.kAnonymity(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("fuzzy match: blocked equi-join — never a cartesian pair explosion") {
    // the blocking key must reach the join condition; an unkeyed similarity
    // join would compile to a nested-loop product and die at scale
    val plan = executed(Governance.fuzzyMatch(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("scd2 lookup: the interval join is a window, not a join") {
    // chained non-overlapping intervals let the point-in-time lookup run as
    // an as-of tag-union-window — the executed plan must contain NO join
    // operator at all (an inequality interval join explodes on hot keys)
    val plan = executed(Temporal.scd2Lookup(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"), plan)
  }

  test("IVM: maintenance scans only the delta — base partials come from the artifact") {
    // the whole point of the counting algorithm: the raw pre-cutoff history
    // is never re-read; one changelog scan feeds both signed delta batches
    val plan = executed(Lakehouse.ivmAgg(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("feature matrix: all three strictly-before counters share one user window exchange") {
    val plan = executed(Temporal.featureMatrix(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("twap: the user window's partitioning is reused by the rollup — one exchange") {
    val plan = executed(Temporal.twap(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("item cosine: degree joins broadcast and the top-k is group-limited map-side") {
    val plan = executed(Graph.itemCosine(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // one fact scan total: pairs AND degrees derive from the materialized
    // per-order part-set relation
    assert("Scan parquet".r.findAllIn(plan).size == 0, plan)
  }

  test("bitmap overlap: intersections never re-touch the fact table") {
    // counts, both join sides, and the word-AND all read the materialized
    // bitmap artifact — zero parquet scans downstream of it
    val plan = executed(Lakehouse.bitmapOverlap(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 0, plan)
  }

  test("conversion-window funnel: the band join stays an equi-join") {
    // day-bucket replication must reach the join key — an inequality-only
    // condition would compile to a nested-loop pair explosion
    val plan = executed(Temporal.funnelWindow(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("z-score: moments broadcast back — the corpus never reshuffles") {
    val plan = executed(TextAnalysis.zscoreNormalize(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only exchange is the per-source moments aggregate
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("event path: one user exchange builds the ordered journey") {
    val plan = executed(Relational.eventPath(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("dau/mau: both grains derive from the materialized user-day relation") {
    val plan = executed(Relational.dauMau(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 0, plan)
  }

  test("k-fold CV: all K models derive from the materialized fold statistics") {
    // one corpus pass built the K-row stats relation; training/eval math is
    // pure expression work over it — no further parquet scans, no shuffles
    val plan = executed(Selection.kfoldRidge(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 0, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
  // shared() relations surface as InMemoryTableScan nodes whose PRINTED
  // repr includes the cached child plan — so "Scan parquet" text appears
  // once per cache REFERENCE. The single-build invariant is therefore:
  // every parquet-scan string lives inside a cache print (scans == IMR
  // references), with at least one cache in play.
  private def cachedSingleScan(plan: String): Unit = {
    val imr = "InMemoryTableScan".r.findAllIn(plan).size
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(imr >= 1, s"expected a shared cached rollup:\n$plan")
    assert(scans == imr, s"a scan escaped the shared rollup ($scans scans, $imr cache refs):\n$plan")
  }

  test("acf: one orders scan feeds both lag-join sides via the shared rollup") {
    cachedSingleScan(executed(Relational.acf(spark, sf)))
  }

  test("cusum: day-grain windows over one shared rollup - single scan") {
    cachedSingleScan(executed(Relational.cusum(spark, sf)))
  }

  test("benford: mapper-side digit extraction, one scan, one aggregate") {
    val plan = executed(Governance.benford(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan)
  }

  test("wealth gini: ranks are bucket-partitioned - no row-grain global sort") {
    val plan = executed(Relational.wealthGini(spark, sf))
    cachedSingleScan(plan)
    // the per-row rank window must be PARTITIONED by the value bucket; the
    // only unpartitioned window runs over the bucket-grain aggregates
    assert("windowspecdefinition\\(bkt".r.findAllIn(plan).nonEmpty,
      s"row rank window lost its bucket partition:\n$plan")
  }

  test("ndcg/mrr: the tokenize pass is shared - no scan outside the caches") {
    cachedSingleScan(executed(TextAnalysis.ndcg(spark, sf)))
    cachedSingleScan(executed(TextAnalysis.mrr(spark, sf)))
  }

  test("the bytes-aware spread never widens past the core count") {
    // local[2]: the floor of 4 must not lift the width above 2 cores
    assert(Materialize.spreadWidth(2, 10L << 20) == 2)
    assert(Materialize.spreadWidth(2, 1L) == 2)
    assert(Materialize.spreadWidth(2, -1L) == 2) // unknown size: full width
    // enough cores: floored at 4, one partition per 64 KiB, capped at cores
    assert(Materialize.spreadWidth(32, 1L) == 4)
    assert(Materialize.spreadWidth(32, 8L * Materialize.SpreadBytesPerPart) == 8)
    assert(Materialize.spreadWidth(32, 1L << 30) == 32)
  }

  test("envelope parse: each envelope's JSON is parsed once") {
    // a keep-filter pushed below the parse would evaluate from_json again
    val plan = executed(Relational.envelopeParse(spark, sf))
    assert("from_json\\(".r.findAllIn(plan).size == 1, plan)
  }
}
