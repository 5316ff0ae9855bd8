package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.KafkaBrokerStub
import graft.etl.SportPipeline
import graft.sources.{Sources, TxnTable}
import graft.streaming.{CdcIngest, TxnSink}
import Inputs.{Activity, Batch, Bonus}

/** The reference's pipeline driven from outside: Debezium envelopes are
  * produced into an in-process Kafka broker, `kafka-lite` streams them
  * through `CdcIngest.parseEnvelope` into `TxnSink`, and `SportPipeline`
  * rebuilds the bonus table into a second TxnTable. */
final class Cdc(spark: SparkSession, seed: Long, probe: Option[Probe]) {

  val broker = new KafkaBrokerStub
  private val emps = Inputs.employees(seed)
  private val vals = Inputs.validations(seed)

  private val empDf: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(emps.map(e => Row(e.id, e.grossSalary, e.businessUnity, e.contractType)): _*),
    StructType(Seq(StructField("id_employee", IntegerType), StructField("gross_salary", IntegerType),
      StructField("business_unity", StringType), StructField("constract_type", StringType))))
  private val valDf: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(vals.map(v => Row(v.idEmployee, v.idEmployee,
      v.distance.bigDecimal.setScale(2), v.isValid)): _*),
    StructType(Seq(StructField("id_validate", IntegerType), StructField("id_employee", IntegerType),
      StructField("calculed_distance", DecimalType(10, 2)), StructField("is_valid", BooleanType))))

  private def span[T](name: String, op: String)(f: => T): T =
    probe.fold(f)(_.span(name, op)(f))

  def produce(topic: String, recs: Seq[Inputs.Record]): Unit = {
    val now = System.currentTimeMillis()
    broker.append(topic, 0, recs.map(r => (now, r.key, r.value)))
  }

  /** Start the CDC ingest of `topic` into `table`. Untraced runs call
    * `TxnSink.ingest` itself; traced runs use the same `foreachBatch`
    * shape around the same `TxnTable.appendOnce` call, so the commit can
    * be timed. */
  def ingest(topic: String, table: String, ckpt: String, trigger: Trigger): StreamingQuery = {
    val parsed = CdcIngest.parseEnvelope(
      Sources.kafkaLiteStream(spark, s"${broker.host}:${broker.port}", topic))
    probe match {
      case None => TxnSink.ingest(parsed, table, ckpt, appId = "perfbench", trigger = trigger)
      case Some(p) =>
        parsed.writeStream.outputMode("append").option("checkpointLocation", ckpt)
          .trigger(trigger)
          .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
            p.span("txn.append_once", s"$topic#$batchId") {
              TxnTable.appendOnce(batch.toDF(), table, s"perfbench#batch-$batchId")
            }
            ()
          }.start()
    }
  }

  /** Rebuild the bonus table from the activity table and commit it. */
  def refreshBonus(activities: DataFrame, bonusRoot: String, op: String): Long = {
    def commit = span("bonus.overwrite", op) {
      TxnTable.overwrite(SportPipeline.run(empDf, valDf, activities), bonusRoot)
    }
    probe.fold(commit)(_.scoped("bonus")(commit))
  }

  def readActivities(table: String, op: String): DataFrame =
    span("txn.read", op)(TxnTable.read(spark, table))

  // ---- checks, outside every timed window ----

  def committedIds(table: String): Seq[Int] =
    TxnTable.read(spark, table).select("id").collect().toSeq.map(_.getInt(0))

  def committedBonus(bonusRoot: String, version: Long = -1L): Seq[Bonus] =
    TxnTable.readVersion(spark, bonusRoot, version)
      .select("id_employee", "count_activity", "mean_duration", "commute_prime",
        "total_salary", "is_valid_activities")
      .collect().toSeq.map { r =>
        Bonus(r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Double]), BigDecimal(r.getDecimal(3)),
          BigDecimal(r.getDecimal(4)), r.getBoolean(5))
      }

  /** Sum of `count_activity` at each bonus version 0..n-1, in one job. */
  def bonusVersionCounts(bonusRoot: String, n: Int): Seq[Long] =
    (0 until n).map { v =>
      TxnTable.readVersion(spark, bonusRoot, v.toLong)
        .agg(coalesce(sum(col("count_activity")), lit(0L)).as("n"))
        .select(lit(v).as("v"), col("n"))
    }.reduce(_ union _).collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq

  def expectedBonus(inserts: Seq[Activity]): Map[Int, Bonus] =
    Inputs.expectedBonus(emps, vals, inserts)

  def close(): Unit = broker.close()
}

object Cdc {
  /** Every byte under a table root: data, logs and checkpoints (0 when a
    * failed operation left no table). */
  def bytesUnder(root: String): Long =
    if (!Files.isDirectory(Paths.get(root))) 0L
    else {
      val s = Files.walk(Paths.get(root))
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Count and bytes of the files under `root/<dir>`. */
  def filesUnder(root: String, dir: String): (Long, Long) = {
    val p = Paths.get(root, dir)
    if (!Files.isDirectory(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        (fs.length.toLong, fs.map(Files.size(_)).sum)
      } finally s.close()
    }
  }

  def inserts(batches: Seq[Batch]): Seq[Activity] = batches.flatMap(_.inserts)
}
