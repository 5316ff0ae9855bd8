package graft

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CdcIngest

/** Streaming CDC ingest (ref SaveDelta.scala semantics): envelope parse,
  * bad-row dropping, checkpointed parquet sink, per-event notifier. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  def envelope(id: Int, emp: Int, us: Long, sport: String,
               dist: String = "null", comment: String = "null"): String =
    s"""{"payload": {"after": {"id": $id, "id_employee": $emp, "start_datetime": $us, "sport_type": "$sport", "distance": $dist, "activity_duration": 3600, "comment": $comment}}}"""

  val good1 = envelope(1, 42, 1718000000000000L, "Vélo", "25000.0", "\"Super séance aujourd'hui !\"")
  val good2 = envelope(2, 7, 1718000060000000L, "Yoga")
  val noAfter = """{"payload": {"before": {"id": 9}}}"""    // delete/tombstone-ish
  val nullId = """{"payload": {"after": {"id_employee": 3, "sport_type": "Marche"}}}"""
  val garbage = "not json at all"

  test("hopping-window agg streams: each event lands in exactly 2 overlapping windows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    // the batch q_hopping_agg expression, unchanged, under a watermark
    val q = mem.toDS().toDF("ts", "event_type", "value")
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select($"window.start".as("window_start"), $"event_type", $"cnt")
      .writeStream.outputMode("complete")
      .format("memory").queryName("hopping_out").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), "view", 1.0),
        (java.sql.Timestamp.valueOf("2024-01-01 10:40:00"), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("select * from hopping_out").collect()
      // event@10:05 → windows [09:30, 10:00]; event@10:40 → [10:00, 10:30]:
      // 10:00 holds both events, 09:30/10:30 one each
      val byStart = rows.map(r => r.getTimestamp(0).toString -> r.getLong(2)).toMap
      assert(byStart.size == 3, rows.mkString("; "))
      assert(byStart("2024-01-01 10:00:00.0") == 2)
      assert(byStart("2024-01-01 09:30:00.0") == 1)
      assert(byStart("2024-01-01 10:30:00.0") == 1)
      assert(rows.map(_.getLong(2)).sum == 4, "2 events x 2 windows")
    } finally q.stop()
  }

  test("ingest: parses inserts, drops non-inserts, appends to checkpointed parquet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = Files.createTempDirectory("cdc_out").toString
    val cp = Files.createTempDirectory("cdc_cp").toString
    val q = CdcIngest.ingest(
      CdcIngest.parseEnvelope(mem.toDF().select($"value".cast("binary").as("value"))),
      out, cp, Trigger.ProcessingTime(0))
    mem.addData(good1, good2, noAfter, nullId, garbage)
    q.processAllAvailable()

    val result = spark.read.parquet(out).cache()
    assert(result.count() == 2) // only the two inserts survive P4
    val r1 = result.filter($"id" === 1).collect()(0)
    assert(r1.getAs[Int]("id_employee") == 42)
    assert(r1.getAs[String]("start_datetime") == "2024-06-10 06:13:20") // µs → formatted UTC string
    assert(r1.getAs[Double]("distance") == 25000.0)
    assert(result.filter($"id" === 2).collect()(0).getAs[String]("comment") == null)

    // append semantics: a new micro-batch appends without rewriting history
    mem.addData(good2)
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(out).count() == 3)
    result.unpersist()
  }

  test("checkpoint restart: a NEW query resumes from committed offsets only") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    val src = JFiles.createTempDirectory("restart_src").toString
    val out = JFiles.createTempDirectory("restart_out").toString
    val cp = JFiles.createTempDirectory("restart_cp").toString
    def writeBatch(name: String, lines: Seq[String]): Unit =
      JFiles.write(Paths.get(s"$src/$name"), lines.mkString("\n").getBytes("UTF-8"))
    def startQuery() = CdcIngest.ingest(
      CdcIngest.parseEnvelope(
        spark.readStream.format("text").load(src).withColumnRenamed("value", "value")),
      out, cp, Trigger.AvailableNow())

    writeBatch("b0.json", Seq(good1, good2))
    val q1 = startQuery(); q1.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)

    // second batch lands while no query is running; a NEW query instance on
    // the same checkpoint must pick up ONLY the new file — no reprocessing
    writeBatch("b1.json", Seq(envelope(3, 9, 1718000120000000L, "Marche")))
    val q2 = startQuery(); q2.awaitTermination()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3, rows.collect().mkString("; "))
    assert(rows.filter($"id" === 3).count() == 1)
  }

  test("deduped ingest drops redelivered envelopes by id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = Files.createTempDirectory("dedup_out").toString
    val cp = Files.createTempDirectory("dedup_cp").toString
    val q = CdcIngest.dedupedIngest(
      CdcIngest.parseEnvelope(mem.toDF().select($"value".cast("binary").as("value"))),
      out, cp, Trigger.ProcessingTime(0))
    mem.addData(good1, good1, good2) // good1 redelivered
    q.processAllAvailable()
    mem.addData(good1)               // redelivered again in a later batch
    q.processAllAvailable(); q.stop()
    val result = spark.read.parquet(out)
    assert(result.count() == 2, result.collect().mkString("; "))
  }

  test("notifier: only non-null-comment events push, envelope guard holds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TestSink.clear()
    val mem = MemoryStream[String]
    val cp = Files.createTempDirectory("notif_cp").toString
    val q = CdcIngest.notifier(
      CdcIngest.parseEnvelope(mem.toDF().select($"value".cast("binary").as("value"))),
      TestSink, cp, Trigger.ProcessingTime(0))
    mem.addData(good1, good2, nullId, garbage)
    q.processAllAvailable(); q.stop()
    assert(TestSink.received.size == 1) // good2 has null comment, bad rows dropped
    assert(TestSink.received.head._2 == "Vélo")
  }

  test("E2E file replay: source → parse → sink → notifier → monitor reconcile") {
    // The full pipeline as ONE flow — the closest offline stand-in for the
    // live Kafka path (S1→P1-P4→S9→A7): a file stream replays Debezium
    // envelope fixtures one file per micro-batch; the checkpointed parquet
    // sink, the per-event notifier, and the listener-based monitor all hang
    // off the same parse, and the reconciliation loop must close exactly.
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    val src = JFiles.createTempDirectory("e2e_src").toString
    val out = JFiles.createTempDirectory("e2e_out").toString
    val cpI = JFiles.createTempDirectory("e2e_cp_ingest").toString
    val cpN = JFiles.createTempDirectory("e2e_cp_notif").toString
    // three replay files → three micro-batches (maxFilesPerTrigger=1):
    // 7 envelope lines, 4 surviving inserts, 2 with comments
    JFiles.write(Paths.get(s"$src/b0.json"), Seq(good1, good2).mkString("\n").getBytes("UTF-8"))
    JFiles.write(Paths.get(s"$src/b1.json"), Seq(noAfter, nullId, garbage).mkString("\n").getBytes("UTF-8"))
    JFiles.write(Paths.get(s"$src/b2.json"), Seq(
      envelope(3, 9, 1718000120000000L, "Marche"),
      envelope(4, 11, 1718000180000000L, "Course", "5000.0", "\"10k prep\"")).mkString("\n").getBytes("UTF-8"))

    val monitor = new graft.streaming.ProgressMonitor
    spark.streams.addListener(monitor)
    TestSink.clear()
    def source() = spark.readStream.format("text")
      .option("maxFilesPerTrigger", "1").load(src)
    val qIngest = CdcIngest.ingest(CdcIngest.parseEnvelope(source()),
      out, cpI, Trigger.AvailableNow())
    val qNotif = CdcIngest.notifier(CdcIngest.parseEnvelope(source()),
      TestSink, cpN, Trigger.AvailableNow())
    try {
      qIngest.awaitTermination(); qNotif.awaitTermination()

      // S9: the sink holds exactly the surviving inserts
      val sunk = spark.read.parquet(out)
      assert(sunk.count() == 4, sunk.collect().mkString("; "))
      assert(sunk.select($"id").as[Int].collect().sorted.sameElements(Array(1, 2, 3, 4)))
      // P15/P16: only commented events notified
      assert(TestSink.received.map(_._2).sorted == Seq("Course", "Vélo"),
        TestSink.received.toString)
      // A7: the listener saw every source line across all micro-batches...
      val totals = monitor.totals(qIngest.id)
      assert(totals.inputRows == 7, s"monitor counted ${totals.inputRows} input rows")
      assert(totals.batches >= 3, s"one micro-batch per file expected, got ${totals.batches}")
      // ...and the reference's reconciliation loop closes: sink rows ==
      // processed minus the 3 dropped non-inserts
      val (sinkCount, processed) = CdcIngest.reconcile(spark, out, qIngest)
      assert(sinkCount == 4 && processed == 7,
        s"reconcile mismatch: sink=$sinkCount processed=$processed")
    } finally {
      qIngest.stop(); qNotif.stop()
      spark.streams.removeListener(monitor)
    }
  }

  test("a Debezium update envelope does not append a second row for its id") {
    import spark.implicits._
    def withOp(op: String, duration: Int) =
      s"""{"payload": {"op": "$op", "after": {"id": 5, "id_employee": 42, "start_datetime": 1718000000000000, "sport_type": "Yoga", "activity_duration": $duration}}}"""
    val rows = CdcIngest.parseEnvelope(Seq(withOp("c", 600), withOp("u", 900),
      withOp("d", 0), good2).toDF("value")).select("id", "activity_duration").collect()
    // the create and the op-less envelope land; the update and delete do not
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      Seq((2, 3600), (5, 600)), rows.toSeq)
  }
}

/** Deterministic notification sink (the Slack webhook stand-in). */
object TestSink extends CdcIngest.NotificationSink {
  import scala.collection.concurrent.TrieMap
  private val buf = TrieMap.empty[Int, (Int, String)]
  def notify(r: Row): Unit =
    buf.put(r.getAs[Int]("id"), (r.getAs[Int]("id_employee"), r.getAs[String]("sport_type")))
  def received: Seq[(Int, String)] = buf.values.toSeq
  def clear(): Unit = buf.clear()
}
