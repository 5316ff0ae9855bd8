package graft.model

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.types._

/** Data model of the Sport-Advantages platform (SURVEY.md §1), as Spark
  * schemas + case classes. Column names (including the `constract_type`
  * typo) are canonical — every downstream artifact of the reference uses
  * them (ref: init-scripts/init-db.sql:11-49; read_delta.py:285-290).
  */
object Schemas {

  /** ref: init-db.sql:11-23 (employees), Excel loader
    * commute_validation.py:193-203. */
  case class Employee(
      id_employee: Int,
      first_name: String,
      last_name: String,
      birthday: Date,
      business_unity: String,
      hire_date: Date,
      gross_salary: Int,
      constract_type: String,
      address: String,
      transport_mode: String,
      paid_leaved_days: Int)

  /** ref: init-db.sql:26-35. */
  case class CommuteValidation(
      id_validate: Int,
      id_employee: Int,
      calculed_distance: Option[java.math.BigDecimal],
      calculed_duration: Option[java.math.BigDecimal],
      is_valid: Option[Boolean],
      error_message: Option[String],
      created_at: Timestamp)

  /** Postgres shape — ref: init-db.sql:38-49. */
  case class SportActivity(
      id: Int,
      id_employee: Int,
      first_name: String,
      last_name: String,
      start_datetime: Timestamp,
      sport_type: String,
      distance: Option[Int],
      activity_duration: Int,
      comment: Option[String])

  /** Streamed/Delta shape after CDC extraction — the two deliberate type
    * drifts (distance INT→DOUBLE, start_datetime TIMESTAMP→formatted STRING)
    * are part of the contract (ref: SaveDelta.scala:87-95,140-147; Trino
    * columns in superset.db). */
  val streamedActivitySchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("id_employee", IntegerType),
    StructField("start_datetime", StringType),
    StructField("sport_type", StringType),
    StructField("activity_duration", IntegerType),
    StructField("distance", DoubleType),
    StructField("comment", StringType)))

  /** Debezium envelope carried on the Kafka topic: {"payload":{"after":{...}}}
    * with start_datetime in epoch-MICROseconds (ref: SaveDelta.scala:140-147;
    * slack_notification.py:119-124; FIXTURES.md A5). `op` and `after` are
    * modeled — ingest keeps creates only (SURVEY §7.4 risk 7): updates drop
    * by `op`, deletes and tombstones by the id-not-null filter. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("payload", StructType(Seq(
      StructField("op", StringType),
      StructField("after", StructType(Seq(
        StructField("id", IntegerType),
        StructField("id_employee", IntegerType),
        StructField("first_name", StringType),
        StructField("last_name", StringType),
        StructField("start_datetime", LongType),
        StructField("sport_type", StringType),
        StructField("distance", DoubleType),
        StructField("activity_duration", IntegerType),
        StructField("comment", StringType)))))))))

  /** `final` Delta table — ref: read_delta.py:285-290, FIXTURES.md A6. */
  val finalSchema: StructType = StructType(Seq(
    StructField("id_employee", IntegerType),
    StructField("gross_salary", IntegerType),
    StructField("business_unity", StringType),
    StructField("constract_type", StringType),
    StructField("id_validate", IntegerType),
    StructField("calculed_distance", DecimalType(10, 2)),
    StructField("calculed_duration", DecimalType(10, 2)),
    StructField("is_valid", BooleanType),
    StructField("error_message", StringType),
    StructField("created_at", TimestampType),
    StructField("count_activity", LongType),
    StructField("mean_duration", DoubleType)))
}
