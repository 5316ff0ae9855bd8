package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.Schemas

/** Structured-Streaming CDC ingest — the rebuild of the reference's
  * `spark/SaveDelta.scala` streaming job (SURVEY §2.7, §3.1):
  *
  *   Kafka source (S1) → value AS STRING (P2) → envelope extraction (P1)
  *   → epoch-µs → formatted string (P3) → id IS NOT NULL filter (P4)
  *   → append sink, 30 s trigger, checkpointed (S9).
  *
  * Differences by design:
  *   - one `from_json` with the full envelope schema instead of the
  *     reference's 7 repeated `get_json_object` parses (SaveDelta.scala:
  *     139-148) — one parse per row, codegen-friendly;
  *   - sink is checkpointed parquet (exactly-once via the streaming commit
  *     log) since this build ships no Delta jars (SURVEY §7.4 risk 6); the
  *     append/30s/checkpoint semantics are identical, and a Delta sink is a
  *     one-line `format` change where the jar exists;
  *   - the source is pluggable: any streaming DataFrame with a string
  *     `value` column (Kafka via `format("kafka")` where the connector jar
  *     exists, file/rate/memory sources otherwise — the reference itself
  *     falls back to a rate source, SaveDelta.scala:123-127).
  *
  * Only creates reach the append sink — the reference's semantics (risk
  * 7): delete/tombstone envelopes carry no `payload.after.id` and fall to
  * the P4 filter, and updates (`op` = `u`, which DO carry `after`) are
  * dropped by their op, or an edited activity would append a second row
  * under the same id. Envelopes without an `op` (snapshot-less producers)
  * count as creates.
  */
object CdcIngest {

  /** Envelope JSON → streamed/Delta shape with the reference's two type
    * drifts: start_datetime epoch-µs LONG → "yyyy-MM-dd HH:mm:ss" STRING,
    * distance → DOUBLE (ref: SaveDelta.scala:140-148; FIXTURES.md A4). */
  def parseEnvelope(raw: DataFrame): DataFrame =
    raw
      // the parse is a generator's output, so the optimizer cannot push the
      // P4 + creates-only filter below it (a pushed-down filter re-parses
      // the JSON): each envelope parses once
      .select(explode(array(
        from_json(col("value").cast("string"), Schemas.envelopeSchema))).as("env"))
      .filter(col("env.payload.after.id").isNotNull &&
        (col("env.payload.op").isNull || !col("env.payload.op").isin("u", "d")))
      .select(
        col("env.payload.after.id").as("id"),
        col("env.payload.after.id_employee").as("id_employee"),
        from_unixtime(expr("env.payload.after.start_datetime div 1000000"),
          "yyyy-MM-dd HH:mm:ss").as("start_datetime"),
        col("env.payload.after.sport_type").as("sport_type"),
        col("env.payload.after.activity_duration").as("activity_duration"),
        col("env.payload.after.distance").cast("double").as("distance"),
        col("env.payload.after.comment").as("comment"))

  /** Start the append ingest into a checkpointed sink
    * (ref: SaveDelta.scala:157-163 — outputMode append, 30 s processing-time
    * trigger, checkpointLocation).
    *
    * `format` is the Delta seam: the reference sinks to Delta; pass "delta"
    * where the delta-spark jars exist. Resolution of
    * `io.delta:delta-spark_2.13:4.0.0` was attempted in this build and
    * fails offline (zero-egress container; cache holds only test libs), so
    * the default — checkpointed parquet with the streaming commit log,
    * which preserves the append/30 s/exactly-once semantics — is what CI
    * exercises. */
  def ingest(
      parsed: DataFrame,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      format: String = "parquet"): StreamingQuery =
    parsed.writeStream
      .format(format)
      .outputMode("append")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Per-event push sink (ref: slack_notifier/slack_notification.py:96-132):
    * only events with a non-null comment notify (P15); the envelope-validity
    * guard (P16) is the id/required-field null check. The webhook is
    * isolated behind [[NotificationSink]] — deterministic impls for tests,
    * an HTTP impl in production. */
  trait NotificationSink extends Serializable {
    def notify(activity: Row): Unit
  }

  def notifier(
      parsed: DataFrame,
      sink: NotificationSink,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    parsed
      .filter(col("comment").isNotNull &&
        col("id_employee").isNotNull && col("sport_type").isNotNull)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        // Per-event push from the EXECUTORS (`foreachPartition`), one sink
        // connection per partition — not a driver-side collect(): the
        // reference's consumer loop is single-process, but at scale the
        // notifiable stream must not funnel through (or fit in) the driver.
        batch.foreachPartition { rows: Iterator[Row] => rows.foreach(sink.notify) }
      }
      .start()

  /** Deduplicated ingest (extension; the reference is append-only with no
    * dedup, SURVEY §2.7): drops redelivered envelopes by primary key before
    * the sink — the at-least-once-source → exactly-once-content upgrade.
    * State is bounded by the watermark on the derived event time. */
  def dedupedIngest(
      parsed: DataFrame,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    parsed
      .withColumn("event_ts", to_timestamp(col("start_datetime"), "yyyy-MM-dd HH:mm:ss"))
      .withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
      .drop("event_ts")
      .writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming progress reconciliation (ref: SaveDelta.scala:176-228): total
    * rows ingested per the sink vs rows reported processed. Returns
    * (sinkCount, processedCount). */
  def reconcile(spark: SparkSession, outPath: String, query: StreamingQuery): (Long, Long) = {
    val sinkCount = spark.read.parquet(outPath).count()
    val processed = query.recentProgress.map(_.numInputRows).sum
    (sinkCount, processed)
  }
}
