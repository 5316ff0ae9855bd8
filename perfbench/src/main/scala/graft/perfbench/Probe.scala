package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all outside the program: spans the
  * benchmark records around its calls into each layer, plus Spark's
  * public SparkListener, QueryExecutionListener and streaming-progress
  * events. Spans stay in memory and are written out at exit. Nothing here
  * is registered on an untraced run. */
final class Probe(spark: SparkSession) {
  import Probe._

  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int, op: String)
  private val spans = ArrayBuffer.empty[Span]
  // spans nest per thread: the streaming sink calls in from its own thread
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()

  /** Time `f` as span `name` under this thread's innermost open span. */
  def span[T](name: String, op: String)(f: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = open.get.headOption.getOrElse(-1)
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try f finally {
      open.set(open.get.tail)
      val s = Span(id, name, t0, System.nanoTime(), parent, op)
      spans.synchronized(spans += s)
    }
  }

  /** Durations in ms of every span called `name` that began after `sinceNs`. */
  def durations(name: String, sinceNs: Long): Seq[Double] = spans.synchronized(
    spans.iterator.filter(s => s.name == name && s.start >= sinceNs)
      .map(s => (s.end - s.start) / 1e6).toSeq)

  @volatile private var totals = Totals()
  /** (start, end) wall-clock ms of every finished job. */
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  /** Stages of jobs a streaming query ran (micro-batch execution tags its
    * jobs with the query id). */
  private val streamStages = scala.collection.mutable.Set.empty[Int]
  /** Per streaming batch with input: the engine's durationMs map. */
  val progress = ArrayBuffer.empty[Map[String, Long]]
  /** Block-manager MB still cached after each query's release. */
  val cachedMb = ArrayBuffer.empty[Double]

  private def add(f: Totals => Totals): Unit = synchronized { totals = f(totals) }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
      if (e.properties != null && e.properties.getProperty("sql.streaming.queryId") != null)
        streamStages ++= e.stageIds
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
      totals = totals.copy(jobs = totals.jobs + 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      // the micro-batch source scan: a streaming job's stage reading a
      // DataSourceRDD (batch queries read DataSourceRDDs too)
      val src = synchronized {
        if (streamStages.remove(i.stageId) && i.rddInfos.exists(_.name.contains("DataSourceRDD")))
          i.numTasks else 0
      }
      add(t => t.copy(stages = t.stages + 1, sourceTasks = t.sourceTasks + src))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) add(t => t.copy(tasks = t.tasks + 1,
        taskMs = t.taskMs + m.executorRunTime,
        cpuMs = t.cpuMs + m.executorCpuTime / 1e6,
        gcMs = t.gcMs + m.jvmGCTime,
        shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = t.spill + m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      add(t => t.copy(planningMs = t.planningMs + ms))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) synchronized {
        import scala.jdk.CollectionConverters._
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Totals once every queued listener event has been delivered. */
  def snapshot(): Totals = {
    org.apache.spark.GraftListenerDrain.drain(spark.sparkContext, 2000L)
    synchronized(totals)
  }

  /** Totals, job gap and call count per scope (a query group, the bonus
    * refresh), over the measured window only. */
  val scopes = scala.collection.mutable.Map.empty[String, (Totals, Int, Double)]

  /** Run `f` and add what Spark did meanwhile to scope `key`. */
  def scoped[T](key: String)(f: => T): T = {
    val b = snapshot()
    val t0 = System.currentTimeMillis()
    try f finally {
      val t1 = System.currentTimeMillis()
      val d = snapshot() - b
      val gap = driverGapMs(t0, t1)
      synchronized {
        val (tt, n, g) = scopes.getOrElse(key, (Totals(), 0, 0.0))
        scopes(key) = (tt + d, n + 1, g + gap)
      }
    }
  }

  /** Mark the start of the measured window: scopes restart, and spans and
    * progress from before it are ignored. */
  def startWindow(fetchCalls: Int): Window = {
    val t = snapshot()
    synchronized {
      scopes.clear()
      cachedMb.clear()
      Window(t, System.nanoTime(), progress.size, fetchCalls)
    }
  }

  /** Wall ms in [fromMs, toMs] that no job covered. */
  def driverGapMs(fromMs: Long, toMs: Long): Double = synchronized {
    val iv = jobSpans.iterator.map { case (s, e) => (s max fromMs, e min toMs) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) covered += curE - curS
    (toMs - fromMs - covered).toDouble
  }

  /** Spans as JSON lines: name, start/end ns, parent span, operation id. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.sortBy(_.id).toSeq).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":"${s.op}"}""")
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Probe {
  /** Running totals since the listeners were registered. */
  final case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          taskMs: Long = 0, cpuMs: Double = 0, gcMs: Long = 0,
                          shuffleWrite: Long = 0, spill: Long = 0,
                          planningMs: Long = 0, sourceTasks: Long = 0) {
    def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskMs - o.taskMs, cpuMs - o.cpuMs, gcMs - o.gcMs,
      shuffleWrite - o.shuffleWrite, spill - o.spill,
      planningMs - o.planningMs, sourceTasks - o.sourceTasks)
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskMs + o.taskMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
      shuffleWrite + o.shuffleWrite, spill + o.spill,
      planningMs + o.planningMs, sourceTasks + o.sourceTasks)
  }

  /** Where the measured window began. */
  final case class Window(totals: Totals, startNs: Long, progressFrom: Int, fetchCalls: Int)
}
