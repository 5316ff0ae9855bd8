package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** One benchmark run: `perfbench/run.py` builds, generates the query
  * tables and starts this with the run's work directory; this writes
  * `result.json` there.
  *
  * Every workload repeats whole rounds of the same three stages, each on
  * fresh tables, until `--seconds` have passed:
  *  1. trickle: `batches` small producer batches, each streamed into the
  *     activity table and followed by a bonus refresh (closed loop, one
  *     producer, one topic partition); the warm-up round streams only the
  *     first `warmBatches`;
  *  2. backlog: `backlog` envelopes already on a one-partition topic,
  *     drained `drains` times, each by one `Trigger.AvailableNow` query
  *     into a fresh table and followed by one refresh;
  *  3. queries: `queryReps` passes of warm runs over `txn` and `ops`.
  * The workloads differ in how large each stage is.
  *
  * An operation that throws (a trickle batch, a drain, a query) is counted
  * as failed and recorded as a problem, and the round goes on. */
object Main {

  final case class Plan(batches: Int, warmBatches: Int, backlog: Int, drains: Int,
                        txn: Seq[String], ops: Seq[String], queryReps: Int)

  val BatchSize = 50 // records per trickle batch: 46 inserts + 4 others
  import Queries._
  // 22 trickle batches commit versions 0..21 of both tables, so each
  // crosses the transaction log's checkpoints at versions 10 and 20.
  // cdc_trickle's two queries are short, so five passes give their
  // medians enough samples.
  val plans: Map[String, Plan] = Map(
    "cdc_trickle" -> Plan(batches = 22, warmBatches = 3, backlog = 2000, drains = 3,
      cdcTxn, cdcOps, queryReps = 5),
    "query_suite" -> Plan(batches = 6, warmBatches = 3, backlog = 30000, drains = 3,
      txn, ops, queryReps = 1))

  final case class Round(table: Seq[Double], fresh: Seq[Double], drainMs: Seq[Double],
                         refreshMs: Seq[Double], queryMs: Map[String, Seq[Double]],
                         bytes: Long, events: Long) {
    def summary: String =
      f"trickle ${Stats.medianOr0(fresh)}%.0f ms, drain ${Stats.medianOr0(drainMs)}%.0f ms, " +
        f"refresh ${Stats.medianOr0(refreshMs)}%.0f ms, " +
        f"queries ${queryMs.values.map(Stats.medianOr0).sum}%.0f ms"
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = plans(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val dataDir = a("data")
    val t0Ms = a("t0-ms").toLong
    val cpus = a("cpus")
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1000.0}%7.2f s  $msg")
    log("jvm started")

    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session ready")
    val probe = if (traced) Some(new Probe(spark)) else None
    def span[T](name: String, op: String)(f: => T): T = probe.fold(f)(_.span(name, op)(f))

    val cdc = new Cdc(spark, seed, probe)
    val suite = new Suite(spark, dataDir, probe)
    val queries = plan.txn ++ plan.ops
    val trickle = Inputs.batches(seed, plan.batches, BatchSize)
    // the backlog: produced once, in producer batches of 500 records
    val backlog = Inputs.batches(seed + 1, plan.backlog / 500, 500)
    backlog.foreach(b => cdc.produce("backlog", b.records))

    val dumps = work.resolve("query-results")
    val problems = ArrayBuffer.empty[String]
    var failed = 0
    /** Run one operation; if it throws, record the problem (and, in a
      * measured round, count the operation as failed) and go on. */
    def attempt[T](warm: Boolean, what: String)(f: => T): Option[T] =
      try Some(f) catch {
        case NonFatal(e) =>
          if (!warm) failed += 1
          problems += s"$what failed: $e"
          log(s"$what failed: $e")
          None
      }
    var roundNo = 0
    /** One round; a warm-up round writes each query's result for the
      * oracle compare instead of timing it. */
    def round(warm: Boolean): Round = {
      val dir = work.resolve(s"round-$roundNo")
      val r = roundNo
      roundNo += 1
      // 1. trickle
      val topic = s"trickle-$r"
      val tTable = s"$dir/trickle/activities"
      val tBonus = s"$dir/trickle/bonus"
      val q = cdc.ingest(topic, tTable, s"$dir/trickle/ckpt", Trigger.ProcessingTime(0))
      val table = ArrayBuffer.empty[Double]
      val fresh = ArrayBuffer.empty[Double]
      val batches = if (warm) trickle.take(plan.warmBatches) else trickle
      try batches.zipWithIndex.foreach { case (b, i) =>
        val op = s"trickle-$r-$i"
        attempt(warm, op)(span("op.trickle_batch", op) {
          val t0 = System.nanoTime()
          cdc.produce(topic, b.records)
          q.processAllAvailable()
          val acts = cdc.readActivities(tTable, op)
          val t1 = System.nanoTime()
          cdc.refreshBonus(acts, tBonus, op)
          val t2 = System.nanoTime()
          table += (t1 - t0) / 1e6
          fresh += (t2 - t0) / 1e6
        })
      } finally q.stop()
      log(s"round $r: trickle done")
      // 2. backlog, drained `drains` times into fresh tables (once to warm up)
      val drains = if (warm) 1 else plan.drains
      val drained = (0 until drains).flatMap { k =>
        val op = s"backlog-$r-$k"
        attempt(warm, op)(span("op.backlog_drain", op) {
          val t0 = System.nanoTime()
          val d = cdc.ingest("backlog", s"$dir/backlog-$k/activities", s"$dir/backlog-$k/ckpt",
            Trigger.AvailableNow())
          d.awaitTermination()
          val t1 = System.nanoTime()
          cdc.refreshBonus(cdc.readActivities(s"$dir/backlog-$k/activities", op),
            s"$dir/backlog-$k/bonus", op)
          ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
        })
      }
      val bTable = s"$dir/backlog-${drains - 1}/activities"
      log(s"round $r: backlog done")
      // 3. queries
      val qms =
        if (warm) {
          queries.foreach(n => attempt(warm, s"$n (result dump)")(suite.dump(n, dumps)))
          Map.empty[String, Seq[Double]]
        }
        else (1 to plan.queryReps).flatMap(_ => queries.flatMap(n =>
          attempt(warm, n)(span("op.query", n)(suite.run(n))).map(n -> _)))
          .groupMap(_._1)(_._2)
      val events = batches.map(_.inserts.size).sum.toLong + backlog.map(_.inserts.size).sum
      Round(table.toSeq, fresh.toSeq, drained.map(_._1), drained.map(_._2), qms,
        Cdc.bytesUnder(tTable) + Cdc.bytesUnder(bTable), events)
    }
    def dropRound(i: Int): Unit = Io.deleteTree(work.resolve(s"round-$i"))

    // ---- set-up: one warm-up round
    log(s"warm-up round: ${round(warm = true).summary}")
    dropRound(0)
    suite.writeOracle(queries, dumps.resolve("oracle_sql.json"))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    // ---- measured rounds
    val before = probe.map(_.startWindow(cdc.broker.fetchCalls))
    val windowStart = System.currentTimeMillis()
    val rounds = ArrayBuffer.empty[Round]
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    while (rounds.isEmpty || System.nanoTime() < tEnd) {
      if (rounds.nonEmpty) dropRound(roundNo - 1)
      rounds += round(warm = false)
      log(s"round ${rounds.size}: ${rounds.last.summary}")
    }
    val windowEnd = System.currentTimeMillis()
    val after = probe.map(_.snapshot())

    // ---- checks, on the last round's tables
    val last = work.resolve(s"round-${roundNo - 1}")
    def tableChecks(stage: String, dir: String, inserts: Seq[Inputs.Activity]): Seq[String] =
      (Checks.activityIds(cdc.committedIds(s"$dir/activities"), inserts.map(_.id)) ++
        Checks.bonus(cdc.committedBonus(s"$dir/bonus"), cdc.expectedBonus(inserts)))
        .map(s"$stage: " + _)
    attempt(warm = true, "checks") {
      problems ++=
        tableChecks("trickle", s"$last/trickle", Cdc.inserts(trickle)) ++
        Checks.bonusVersions(cdc.bonusVersionCounts(s"$last/trickle/bonus", trickle.size),
          trickle.map(_.inserts.size)).map("trickle: " + _) ++
        tableChecks("backlog", s"$last/backlog-${plan.drains - 1}", Cdc.inserts(backlog))
    }

    /** Median of a metric's samples; a metric left without any (every
      * operation behind it failed) is a problem and reads 0. */
    def med(metric: String, xs: Seq[Double]): Double =
      if (xs.nonEmpty) Stats.median(xs) else { problems += s"$metric: no sample"; 0.0 }
    def perQuery(names: Seq[String]) =
      names.map(n => med(n, rounds.flatMap(_.queryMs.getOrElse(n, Nil)).toSeq)).sum / 1000.0
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("freshness_ms", med("freshness_ms", rounds.flatMap(_.fresh).toSeq), "ms"),
      ("table_freshness_ms", med("table_freshness_ms", rounds.flatMap(_.table).toSeq), "ms"),
      ("events_per_s", med("events_per_s", rounds.flatMap(_.drainMs).map(ms => plan.backlog / (ms / 1000)).toSeq), "events/s"),
      ("bonus_refresh_s", med("bonus_refresh_s", rounds.flatMap(_.refreshMs).map(_ / 1000).toSeq), "s"),
      ("table_bytes_per_event", Stats.median(rounds.map(r => r.bytes.toDouble / r.events).toSeq), "bytes/event"),
      ("lakehouse_s", perQuery(plan.txn), "s"),
      ("analytics_s", perQuery(plan.ops), "s"))
    val perLayer = probe.map(p => Layers.metrics(spark, p, before.get, after.get, windowStart,
      windowEnd, rounds.size, cdc.broker.fetchCalls, s"$last/trickle/activities"))

    probe.foreach(_.writeSpans(work.resolve("spans.jsonl")))
    val attempted = rounds.size * (trickle.size + plan.drains + queries.size * plan.queryReps)
    def json(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    val probs = problems.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
    Files.writeString(work.resolve("result.json"),
      s"""{"attempted":$attempted,"failed":$failed,"problems":$probs,""" +
        s""""metrics":${json(perLayer.getOrElse(endToEnd))},"end_to_end":${json(endToEnd)},""" +
        s""""rounds":${rounds.size},"query_results":"${dumps}"}""")
    cdc.close()
    spark.stop()
  }
}
