package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.sources.TxnTable

/** The traced run's per-layer metrics. Scheduler figures are per round;
  * streaming and table figures are medians per micro-batch or call. */
object Layers {
  def metrics(spark: SparkSession, p: Probe, w: Probe.Window, after: Probe.Totals,
              fromMs: Long, toMs: Long, rounds: Int, fetchCalls: Int,
              table: String): Seq[(String, Double, String)] = {
    val d = after - w.totals
    val batches = p.progress.drop(w.progressFrom).toSeq
    def phase(k: String) = Stats.medianOr0(batches.flatMap(_.get(k)).map(_.toDouble))
    def spans(n: String) = Stats.medianOr0(p.durations(n, w.startNs))
    val perBatch = batches.size.max(1).toDouble
    val (logFiles, logBytes) = Seq("_txn_log", "_delta_log").map(Cdc.filesUnder(table, _))
      .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    val bonus = p.scopes.get("bonus")
    def perCall(f: (Probe.Totals, Int, Double) => Double) =
      bonus.map { case (t, n, g) => f(t, n, g) }.getOrElse(0.0)
    val groups = Queries.groups.flatMap { g =>
      val (t, _, gap) = p.scopes.getOrElse(g, (Probe.Totals(), 0, 0.0))
      Seq((s"$g.jobs", t.jobs.toDouble / rounds, "count"),
        (s"$g.driver_gap_ms", gap / rounds, "ms"),
        (s"$g.task_ms", t.taskMs.toDouble / rounds, "ms"),
        (s"$g.shuffle_bytes", t.shuffleWrite.toDouble / rounds, "bytes"))
    }
    Seq(
      ("kafka.fetch_requests", (fetchCalls - w.fetchCalls) / perBatch, "count"),
      ("kafka.source_tasks", d.sourceTasks / perBatch, "count"),
      ("stream.latest_offset_ms", phase("latestOffset"), "ms"),
      ("stream.query_planning_ms", phase("queryPlanning"), "ms"),
      ("stream.add_batch_ms", phase("addBatch"), "ms"),
      ("stream.wal_commit_ms", phase("walCommit"), "ms"),
      ("stream.commit_offsets_ms", phase("commitOffsets"), "ms"),
      ("stream.trigger_ms", phase("triggerExecution"), "ms"),
      ("txn.append_once_ms", spans("txn.append_once"), "ms"),
      ("txn.versions", TxnTable.latestVersion(table) + 1.0, "count"),
      ("txn.live_files", TxnTable.files(spark, table).count().toDouble, "count"),
      ("txn.log_files", logFiles.toDouble, "count"),
      ("txn.log_bytes", logBytes.toDouble, "bytes"),
      ("txn.fold_tail_commits", TxnTable.foldReport(table)._2.toDouble, "count"),
      ("txn.read_ms", spans("txn.read"), "ms"),
      ("bonus.overwrite_ms", spans("bonus.overwrite"), "ms"),
      ("bonus.jobs", perCall((t, n, _) => t.jobs.toDouble / n), "count"),
      ("bonus.task_ms", perCall((t, n, _) => t.taskMs.toDouble / n), "ms"),
      ("spark.jobs", d.jobs.toDouble / rounds, "count"),
      ("spark.stages", d.stages.toDouble / rounds, "count"),
      ("spark.tasks", d.tasks.toDouble / rounds, "count"),
      ("spark.task_ms", d.taskMs.toDouble / rounds, "ms"),
      ("spark.task_cpu_ms", d.cpuMs / rounds, "ms"),
      ("spark.gc_ms", d.gcMs.toDouble / rounds, "ms"),
      ("spark.driver_gap_ms", p.driverGapMs(fromMs, toMs) / rounds, "ms"),
      ("spark.planning_ms", d.planningMs.toDouble / rounds, "ms"),
      ("spark.shuffle_write_bytes", d.shuffleWrite.toDouble / rounds, "bytes"),
      ("spark.spill_bytes", d.spill.toDouble / rounds, "bytes"),
      ("materialize.release_ms", spans("materialize.release"), "ms"),
      ("materialize.cached_mb", Stats.medianOr0(p.cachedMb.toSeq), "MB"),
    ) ++ groups
  }
}
