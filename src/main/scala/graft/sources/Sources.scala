package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader

/** Source operators — the reference's complete ingest surface (SURVEY §2.1)
  * as Spark readers. Everything is a thin declarative builder: Catalyst owns
  * pushdown/pruning; these functions own the reference's option sets and
  * schema contracts.
  */
object Sources {

  /** S1 — Kafka CDC stream source with the reference's exact options
    * (ref: spark/SaveDelta.scala:104-112: earliest offsets, tolerate data
    * loss, consumer group). Requires the spark-sql-kafka connector jar on
    * the cluster classpath. Resolution of
    * `org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2` was attempted in
    * this build and fails offline ("Not found" in every configured repo —
    * the zero-egress dependency cache holds only the test libraries), and
    * no connector jar ships in /opt/spark/jars, so a live `format("kafka")`
    * load cannot run here: the call is the documented production seam
    * (tests use file/rate/memory sources — as does the reference's own
    * fallback). What DOES execute offline is the wire FORMAT: the
    * RecordBatch v2 codec (streaming/KafkaFraming.scala) encodes/decodes
    * real Kafka-framed batches distributed — oracle-gated by
    * [[kafkaRoundtrip]] and stream-consumed in KafkaFramingSpec — so the
    * only unexecuted surface WAS the TCP protocol inside the blocked jar —
    * which [[kafkaLiteStream]] now rebuilds from the public protocol spec
    * and executes over a real socket. */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String,
                  groupId: String = "spark-graft-cdc"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .option("kafka.group.id", groupId)
      .load()

  /** S1, jar-free: the `kafka-lite` source ([[KafkaLite]]) speaks the real
    * Kafka wire protocol in pure JDK — ApiVersions handshake, Metadata,
    * ListOffsets, Fetch v4 returning RecordBatch v2 frames decoded by
    * [[graft.streaming.KafkaFraming]] — with the stock connector's output
    * schema, so [[graft.streaming.CdcIngest]] consumes either
    * interchangeably. The driver plans [start, end) offset ranges per
    * partition; each executor task opens its own socket to the partition
    * leader. Exercised end-to-end over TCP in KafkaLiteStreamSpec. */
  def kafkaLiteStream(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka-lite")
      .option("bootstrap", bootstrap)
      .option("topic", topic)
      .load()

  /** S2 — rate fallback source, 1 row/s (ref: SaveDelta.scala:123-127). */
  def rateStream(spark: SparkSession, rowsPerSecond: Int = 1): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()

  /** S3 — columnar batch table scan (Delta in the reference, parquet here —
    * ref: read_delta.py:51). */
  def table(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S4/S6 — JDBC full-table scan (ref: read_delta.py:87-103 — employees_
    * masked + commute_validations over PostgreSQL). The production target
    * is PostgreSQL (default driver); the same path is exercised end-to-end
    * in SourcesSpec against embedded Derby (on every Spark classpath), so
    * the read/write contract is TESTED, not just declared.
    * `partitionColumn` enables parallel reads at scale — the reference read
    * single-threaded; a 1000-executor cluster must not. */
  def jdbcTable(spark: SparkSession, url: String, dbtable: String,
                user: String, password: String,
                partitionColumn: Option[(String, Long, Long, Int)] = None,
                driver: String = "org.postgresql.Driver"): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", dbtable)
      .option("user", user).option("password", password)
      .option("driver", driver)
    partitionColumn.fold(base) { case (c, lo, hi, n) =>
      base.option("partitionColumn", c).option("lowerBound", lo)
        .option("upperBound", hi).option("numPartitions", n)
    }.load()
  }

  /** French HR-workbook header → canonical employees schema
    * (ref: commute_validation.py:193-203; Données+RH.xlsx). */
  val hrHeaderMap: Seq[(String, String)] = Seq(
    "ID salarié" -> "id_employee",
    "Prénom" -> "first_name",
    "Nom" -> "last_name",
    "Date de naissance" -> "birthday",
    "BU" -> "business_unity",
    "Date d'embauche" -> "hire_date",
    "Salaire brut" -> "gross_salary",
    "Type de contrat" -> "constract_type",
    "Adresse du domicile" -> "address",
    "Moyen de déplacement" -> "transport_mode",
    "Nombre de jours de CP" -> "paid_leaved_days")

  /** S5 (binary path) — NATIVE `.xlsx` ingest of the French-header HR
    * workbook, no spark-excel/POI jar (both were proven offline-
    * unresolvable — see [[hrCsv]]): an .xlsx is a ZIP of SpreadsheetML
    * XML (public ECMA-376), and the JDK ships both the zip codec and a
    * StAX parser, so [[Xlsx]] reads the binary workbook directly.
    * Distributed by construction: `binaryFile` lists the glob and each
    * workbook parses WHERE ITS BYTES LAND via the `xlsx_records`
    * expression — a directory of thousands of HR exports (the real shape
    * of spreadsheet ingest) scales per-file, nothing on the driver. Same
    * header map + typed projection as the CSV variant; both shared-string
    * and inline-string workbooks are spec-gated end-to-end against real
    * zip bytes (SourcesSpec). */
  def hrXlsx(spark: SparkSession, pathGlob: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val recs = spark.read.format("binaryFile").load(pathGlob)
      .selectExpr("explode(xlsx_records(content)) AS m")
    val withCanon = hrHeaderMap.foldLeft(recs) { case (df, (fr, canon)) =>
      // accept the French header (the workbook contract) or an already-
      // canonical header (re-exported workbooks)
      df.withColumn(canon,
        coalesce(element_at(col("m"), fr), element_at(col("m"), canon)))
    }
    withCanon.select(
      col("id_employee").cast("int"),
      col("first_name"), col("last_name"),
      to_date(col("birthday"), "yyyy-MM-dd").as("birthday"),
      col("business_unity"),
      to_date(col("hire_date"), "yyyy-MM-dd").as("hire_date"),
      col("gross_salary").cast("int"),
      col("constract_type"),
      col("address"), col("transport_mode"),
      col("paid_leaved_days").cast("int"))
  }

  /** S5 (text path) — HR workbook ingest from a header CSV export with the
    * same French→canonical column mapping and explicit types. (Historical
    * note kept for the jar record: resolution of
    * `com.crealytics:spark-excel_2.13:3.5.1_0.20.4` was attempted in this
    * build and fails offline — "Not found" in every configured repository;
    * no such jar ships in /opt/spark/jars. That connector is now
    * unnecessary: [[hrXlsx]] parses the binary workbook natively.) */
  def hrCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("encoding", "UTF-8")
      .csv(path)
    val renamed = hrHeaderMap.foldLeft(raw) { case (df, (fr, canon)) =>
      if (df.columns.contains(fr)) df.withColumnRenamed(fr, canon) else df
    }
    renamed.select(
      col("id_employee").cast("int"),
      col("first_name"), col("last_name"),
      to_date(col("birthday"), "yyyy-MM-dd").as("birthday"),
      col("business_unity"),
      to_date(col("hire_date"), "yyyy-MM-dd").as("hire_date"),
      col("gross_salary").cast("int"),
      col("constract_type"),
      col("address"), col("transport_mode"),
      col("paid_leaved_days").cast("int"))
  }

  /** S13 — catalog registration (Trino `register_table` analogue): expose a
    * parquet path as a queryable name for `spark.sql`. */
  def registerTable(spark: SparkSession, name: String, path: String): Unit =
    spark.read.parquet(path).createOrReplaceTempView(name)

  /** Embedded-Derby helper shared by the oracle query and SourcesSpec: one
    * driver-class constant (10.15+ package; older Derby used
    * org.apache.derby.jdbc.AutoloadedDriver) and a fresh database URL.
    * Derby reads `derby.stream.error.file` only at ENGINE boot, so the
    * property is set before the first database in this JVM — later calls
    * keep logging to the first temp dir, which is still outside the repo. */
  object Derby {
    val Driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    def freshDbUrl(): String = {
      val tmp = java.nio.file.Files.createTempDirectory("derby_db")
      if (System.getProperty("derby.stream.error.file") == null)
        System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
      s"jdbc:derby:$tmp/db;create=true"
    }
    /** Shut an embedded database down, releasing its page cache and
      * background threads (Derby signals success via SQLException 08006). */
    def shutdown(url: String): Unit =
      try java.sql.DriverManager.getConnection(
        url.replace(";create=true", ";shutdown=true"))
      catch { case _: java.sql.SQLException => () }

    /** Shut down AND reclaim the database's temp directory — shutdown()
      * alone releases the engine but leaves the db files, so repeated
      * bench/verify invocations would accumulate disk. */
    def destroy(url: String): Unit = {
      shutdown(url)
      val db = url.stripPrefix("jdbc:derby:").takeWhile(_ != ';')
      val root = java.nio.file.Paths.get(db).getParent  // the derby_db tmp dir
      if (root != null && root.getFileName.toString.startsWith("derby_db")) {
        import scala.jdk.CollectionConverters._
        val w = java.nio.file.Files.walk(root)
        val all = try w.iterator().asScala.toSeq finally w.close()
        all.reverse
          .foreach(p => try java.nio.file.Files.deleteIfExists(p)
                        catch { case _: java.io.IOException => () })
      }
    }
  }

  // ---------------------------------------------------------------------------
  // Oracle-gated JDBC round-trip: events are bulk-appended to an embedded
  // Derby database (on every Spark classpath) through the SAME appendJdbc
  // path the PostgreSQL production contract uses, read back with a 4-way
  // PARTITIONED parallel scan over the DATA-DERIVED key range (so every
  // partition genuinely reads rows at every sf), and aggregated. The
  // DuckDB oracle computes the identical aggregate straight from parquet —
  // so the whole write→parallel-read JDBC surface (S4/S6/S12) is
  // hash-gated, not just spec-gated. The 5-row result is materialized
  // EAGERLY so the database can be shut down and reclaimed before the
  // DataFrame is returned (a lazy read would pin the Derby instance for
  // the JVM lifetime — one leaked page cache per bench invocation).
  // ---------------------------------------------------------------------------
  private val jdbcScenarioCache =
    scala.collection.concurrent.TrieMap[graft.Artifacts.Key, (String, Long, Long)]()

  /** The JDBC scenario database (embedded Derby, events bulk-inserted),
    * built ONCE per (session, dir) like the txn scenario tables: database
    * creation + the 60k-row INSERT are one-time source-provisioning cost
    * (the bench records it in the cold run), while the QUERY measures the
    * partitioned-cursor read + aggregate — the S4/S6 read path. Returns
    * (url, min event_id, max event_id) so the split bounds need no extra
    * pass. The database is reclaimed at JVM exit. */
  private def jdbcScenario(s: SparkSession, dir: String): (String, Long, Long) =
    graft.Artifacts.cached(jdbcScenarioCache, s, dir) {
      import org.apache.spark.sql.functions._
      val url = Derby.freshDbUrl()
      Runtime.getRuntime.addShutdownHook(new Thread(() => Derby.destroy(url)))
      val sample = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      Sinks.appendJdbc(sample, url, "events_rt", "", "", Derby.Driver)
      val bounds = sample.agg(min(col("event_id")), max(col("event_id"))).first()
      if (bounds.isNullAt(0)) (url, 0L, 0L)
      else (url, bounds.getLong(0), bounds.getLong(1))
    }

  def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (url, lo, hi) = jdbcScenario(s, dir)
    // partitioned read only when there is a genuine key RANGE to split:
    // an empty table has NULL bounds and Spark's partitioned JDBC read
    // misbehaves when lowerBound == upperBound — both fall back to the
    // single-cursor scan
    val split = if (lo == hi) None else Some(("event_id", lo, hi, 4))
    val agg = jdbcTable(s, url, "events_rt", "", "", split, Derby.Driver)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    graft.Materialize.eager(agg)
  }
  val jdbcRoundtripSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type
      |""".stripMargin

  /** Recursively reclaim a temp directory a roundtrip query created —
    * repeated bench/verify invocations must not accumulate disk. */
  private def reclaim(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root)) {
      val w = java.nio.file.Files.walk(root)
      val all = try w.iterator().asScala.toSeq finally w.close()
      all.reverse
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
                      catch { case _: java.io.IOException => () })
    }
  }

  // ---------------------------------------------------------------------------
  // Oracle-gated ORC round-trip with PARTITIONED layout: events land in ORC
  // partitioned by event_type (orc-core ships in spark-sql — no extra jar),
  // are read back through a partition-pruned scan (the isin filter prunes
  // directories before any ORC byte is read — the 100 TB point of a
  // partitioned layout), and aggregated. The DuckDB oracle computes the
  // identical aggregate from parquet, so the write→prune→read ORC surface
  // is hash-gated end-to-end, same contract as q_jdbc_roundtrip. The
  // result is materialized eagerly so the temp layout can be reclaimed
  // before the DataFrame is returned.
  // ---------------------------------------------------------------------------
  private val orcKeepTypes = Seq("click", "purchase")
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc")
    try {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("event_type").orc(tmp.toString)
      val agg = s.read.orc(tmp.toString)
        .filter(col("event_type").isin(orcKeepTypes: _*))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      graft.Materialize.eager(agg)
    } finally reclaim(tmp)
  }
  val orcRoundtripSql: String =
    s"""SELECT event_type, count(*) AS n,
       |       count(DISTINCT user_id) AS n_users,
       |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE event_type IN (${orcKeepTypes.map("'" + _ + "'").mkString(", ")})
       |GROUP BY event_type
       |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated JSON-lines corpus round-trip: documents serialize to JSONL
  // (the interchange format LLM corpus pipelines actually exchange — one
  // JSON object per line), are re-ingested with an EXPLICIT schema (schema
  // inference at 100 TB means reading the corpus twice; production JSONL
  // readers always declare), and summarized per source. Escaping is the
  // real content of this gate: any divergence in how quotes/newlines/
  // non-ASCII survive the serialize→parse cycle changes text lengths and
  // breaks the hash against the parquet-direct oracle.
  // ---------------------------------------------------------------------------
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl")
    try {
      val docs = Tables.documents(s, dir)
      docs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .json(tmp.toString)
      val agg = s.read.schema(docs.schema).json(tmp.toString)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("bigint")).as("sum_text_len"),
          countDistinct(col("lang")).as("n_langs"))
      graft.Materialize.eager(agg)
    } finally reclaim(tmp)
  }
  val jsonlRoundtripSql: String =
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |       count(DISTINCT lang) AS n_langs
      |FROM documents GROUP BY source
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated Kafka RecordBatch v2 round-trip: events are packed into
  // REAL Kafka wire frames (magic 2, CRC32C, zigzag-varint records — the
  // byte layout a broker emits; see streaming/KafkaFraming.scala) and
  // decoded back, all distributed via the kafka_batch_encode/decode
  // expressions. This is the executable half of the S1 Kafka contract the
  // offline container permits: the connector/broker jars cannot resolve
  // (documented at kafkaStream above), but the framing every consumer
  // ultimately decodes is pure public bytes — any encode/decode bit error
  // (CRC section bounds, varint zigzag, delta bases) breaks the hash
  // against the frame-free oracle. Scale shape: one shuffle groups events
  // into 64-record batches; framing and parsing run where the groups
  // live, never on the driver.
  // ---------------------------------------------------------------------------
  def kafkaRoundtrip(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"ts")
      .groupBy(expr("event_id div 64").as("bucket"))
      .agg(sort_array(collect_list(
        struct($"event_id", $"user_id", $"event_type", $"ts"))).as("recs"))
      .selectExpr(
        "kafka_batch_encode(transform(recs, r -> struct(" +
          "unix_micros(r.ts) div 1000 AS ts, " +
          "cast(cast(r.event_id as string) as binary) AS key, " +
          "cast(concat(r.event_type, '|', cast(r.user_id as string)) as binary) AS value)), " +
          "bucket * 64) AS frame")
      .selectExpr("explode(kafka_batch_decode(frame)) AS r")
      .selectExpr(
        "r.offset AS offset",
        "CAST(CAST(r.key AS STRING) AS BIGINT) AS event_id",
        "CAST(r.value AS STRING) AS payload",
        "r.ts_ms AS ts_ms")
  }
  val kafkaRoundtripSql: String =
    """WITH r AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |         event_id // 64 AS bucket,
      |         row_number() OVER (PARTITION BY event_id // 64
      |                            ORDER BY event_id) - 1 AS off_delta
      |  FROM events)
      |SELECT bucket * 64 + off_delta AS offset,
      |       event_id,
      |       event_type || '|' || CAST(user_id AS VARCHAR) AS payload,
      |       epoch_us(ts) // 1000 AS ts_ms
      |FROM r
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated Avro Object Container File round-trip: documents are packed
  // into REAL Avro OCFs (magic + schema metadata + zigzag-varint record
  // blocks; see sources/AvroOcf.scala) and decoded back, all distributed via
  // the avro_ocf_encode/decode expressions — the at-rest interchange format
  // of the Kafka Connect ecosystem the reference's CDC feed lives in. The
  // packed struct exercises every encoding branch that can corrupt silently:
  // zigzag longs, UTF-8 text, IEEE doubles, and a deterministic null pattern
  // through the ["null", T] union. The oracle computes the same aggregate
  // straight from parquet, so one mis-encoded varint or union branch breaks
  // the hash. Scale shape: one shuffle groups docs into 64-record files;
  // encode/decode run where the groups live, never on the driver.
  // ---------------------------------------------------------------------------
  def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    Tables.documents(s, dir)
      .selectExpr(
        "doc_id", "source",
        "CASE WHEN n_chars % 7 = 0 THEN NULL ELSE lang END AS lang",
        "cast(n_chars as bigint) AS n_chars", "text",
        "cast(n_chars as double) * 0.25 AS score")
      .groupBy(expr("doc_id div 64").as("bucket"))
      .agg(sort_array(collect_list(
        struct($"doc_id", $"source", $"lang", $"n_chars", $"text", $"score"))).as("recs"))
      .selectExpr("avro_ocf_encode(recs) AS f")
      .selectExpr("explode(avro_ocf_decode(f, " +
        "'doc_id BIGINT, source STRING, lang STRING, n_chars BIGINT, " +
        "text STRING, score DOUBLE')) AS r")
      .groupBy($"r.source".as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"r.n_chars").cast("long").as("sum_chars"),
        sum(length($"r.text")).cast("long").as("sum_text_len"),
        countDistinct($"r.lang").as("n_langs"),
        sum(when($"r.lang".isNull, 1L).otherwise(0L)).cast("long").as("n_null_lang"),
        sum($"r.score".cast("decimal(18,2)")).cast("double").as("sum_score"))
  }
  val avroRoundtripSql: String =
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |       count(DISTINCT CASE WHEN n_chars % 7 = 0 THEN NULL ELSE lang END) AS n_langs,
      |       CAST(sum(CASE WHEN n_chars % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_lang,
      |       CAST(sum(CAST(n_chars * 0.25 AS DECIMAL(18,2))) AS DOUBLE) AS sum_score
      |FROM documents GROUP BY source
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated XML corpus round-trip: documents are serialized into XML
  // dump documents (the format large text corpora actually arrive in —
  // Wikipedia/Stack Exchange dumps, TEI archives) and parsed back, all
  // distributed via the xml_encode/xml_records expressions over the JDK
  // StAX codec (sources/XmlCorpus.scala). The gates XML can fail silently
  // on: text escaping (& < > quotes must survive writer→parser), the
  // absent-element idiom (NULL lang omits the element; the reader must
  // surface a missing map key, counted per source), and attribute
  // round-trip (@id carries the doc id). The oracle computes the same
  // aggregate straight from parquet. Scale shape: one shuffle groups docs
  // into 64-record documents; encode/parse run where the groups live.
  // ---------------------------------------------------------------------------
  def xmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"source", $"lang", $"n_chars", $"text")
      .groupBy(expr("doc_id div 64").as("bucket"))
      .agg(sort_array(collect_list(
        struct($"doc_id", $"source", $"lang", $"n_chars", $"text"))).as("rs"))
      .selectExpr(
        """xml_encode(transform(rs, r -> struct(
          |  cast(r.doc_id as string) AS `@id`,
          |  r.source AS source,
          |  CASE WHEN r.n_chars % 5 = 0 THEN NULL ELSE r.lang END AS lang,
          |  cast(r.n_chars as string) AS n_chars,
          |  r.text AS text))) AS x""".stripMargin)
      .selectExpr("explode(xml_records(x, 'doc')) AS m")
      .selectExpr(
        "m['source'] AS source",
        "element_at(m, 'lang') AS lang",
        "cast(m['n_chars'] as bigint) AS n_chars",
        "m['text'] AS text",
        "cast(m['@id'] as bigint) AS doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("sum_chars"),
        sum(length($"text")).cast("long").as("sum_text_len"),
        countDistinct($"lang").as("n_langs"),
        sum(when($"lang".isNull, 1L).otherwise(0L)).cast("long").as("n_omitted_lang"),
        max($"doc_id").cast("long").as("max_id"))
  }
  val xmlRoundtripSql: String =
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |       count(DISTINCT CASE WHEN n_chars % 5 = 0 THEN NULL ELSE lang END) AS n_langs,
      |       CAST(sum(CASE WHEN n_chars % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_omitted_lang,
      |       CAST(max(doc_id) AS BIGINT) AS max_id
      |FROM documents GROUP BY source
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated transaction-log table: three append commits of disjoint
  // md5-bucket slices of events (the q_ab_test split idiom), one OPTIMIZE
  // rewrite, then every version read back via time travel and aggregated.
  // The oracle replays the versions as cumulative bucket filters — and
  // version 3 (post-OPTIMIZE) must equal version 2 exactly, which is the
  // whole OPTIMIZE contract: file layout changes, contents don't. Any
  // commit-fold bug (remove not masking an add, time travel leaking a
  // later commit, optimize dropping/duplicating rows) breaks the hash.
  // ---------------------------------------------------------------------------
  private val timeTravelScenarioCache =
    scala.collection.concurrent.TrieMap[graft.Artifacts.Key, String]()

  /** The time-travel scenario table (three bucket appends + OPTIMIZE),
    * built ONCE per (session, dir) — the query times the four versioned
    * reads (the capability), not table construction (spec- and
    * sf1-sweep-gated), matching the merge/CDF scenarios. */
  private def timeTravelScenario(s: SparkSession, dir: String): String =
    graft.Artifacts.cached(timeTravelScenarioCache, s, dir) {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_txn")
      Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim(tmp)))
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          bucket.as("b"))
      TxnTable.append(ev.filter($"b" <= 2), tmp.toString)                  // v0
      TxnTable.append(ev.filter($"b" === 3 || $"b" === 4), tmp.toString)   // v1
      TxnTable.append(ev.filter($"b" === 5), tmp.toString)                 // v2
      TxnTable.optimize(s, tmp.toString, smallBytes = Long.MaxValue)       // v3
      tmp.toString
    }

  def txnTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = timeTravelScenario(s, dir)
    val per = (0L to 3L).map { v =>
      TxnTable.readVersion(s, root, v)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
    }.reduce(_ union _)
    graft.Materialize.eager(per)
  }
  val txnTimeTravelSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events),
      |v AS (SELECT 0 AS version, 2 AS maxb UNION ALL SELECT 1, 4
      |      UNION ALL SELECT 2, 5 UNION ALL SELECT 3, 5)
      |SELECT CAST(version AS BIGINT) AS version,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM v JOIN ev ON ev.b <= v.maxb
      |GROUP BY version
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated MERGE INTO on the transaction-log table: two appends of
  // disjoint md5-bucket slices, then one keyed upsert whose delta UPDATES
  // bucket 3 (cents doubled) and INSERTS buckets 4 — Delta-lake merge
  // mechanics (copy-on-write: only files containing matched keys rewrite;
  // TxnTableSpec proves the pruning), committed atomically so every
  // pre-merge version stays time-travelable. The oracle replays all three
  // versions as bucket algebra; a merge that drops a carried row, double-
  // applies an update, or loses an insert breaks the hash.
  // ---------------------------------------------------------------------------
  private val mergeScenarioCache =
    scala.collection.concurrent.TrieMap[graft.Artifacts.Key, String]()

  /** The merge-scenario table (v0/v1 bucket appends, v2 keyed upsert),
    * built ONCE per (session, dir) and shared by the merge and CDF queries
    * — an at-rest artifact like the dedup family's shingle index. The dir
    * is reclaimed at JVM exit (eviction just forgets the path; these are
    * tmp dirs sized O(events)). */
  private def mergeScenario(s: SparkSession, dir: String): String =
    graft.Artifacts.cached(mergeScenarioCache, s, dir) {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_merge")
      Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim(tmp)))
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          bucket.as("b"))
      TxnTable.append(ev.filter($"b" <= 1).select($"event_id", $"cents"), tmp.toString) // v0
      TxnTable.append(ev.filter($"b" === 2 || $"b" === 3)
        .select($"event_id", $"cents"), tmp.toString)                                   // v1
      val delta = ev.filter($"b" === 3 || $"b" === 4)
        .select($"event_id", ($"cents" * 2).as("cents"))
      TxnTable.merge(s, delta, tmp.toString, Seq("event_id"))                           // v2
      tmp.toString
    }

  def txnMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = mergeScenario(s, dir)
    val per = (0L to 2L).map { v =>
      TxnTable.readVersion(s, root, v)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
    }.reduce(_ union _)
    graft.Materialize.eager(per)
  }
  val txnMergeSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev WHERE b <= 1
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM ev WHERE b <= 3
      |UNION ALL
      |SELECT 2, count(*),
      |       CAST(sum(CASE WHEN b >= 3 THEN 2 * cents ELSE cents END) AS BIGINT)
      |FROM ev WHERE b <= 4
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated DELETE WHERE on the transaction-log table: append the whole
  // events slice, copy-on-write delete a cents range, report both versions.
  // Survivor semantics are exact (pred FALSE or NULL rows stay), and the
  // delete's stats pruning means only files whose [min,max] straddles the
  // range are even scanned — the spec proves that; the oracle proves the
  // row algebra: v0 = everything, v1 = everything outside [5000,15000].
  // ---------------------------------------------------------------------------
  def txnDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_delete")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      TxnTable.append(ev, tmp.toString)                                          // v0
      TxnTable.delete(s, tmp.toString, $"cents" >= 5000L && $"cents" <= 15000L)  // v1
      val per = (0L to 1L).map { v =>
        TxnTable.readVersion(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum($"cents").cast("long").as("sum_cents"))
          .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnDeleteSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT)
      |FROM ev WHERE cents < 5000 OR cents > 15000 OR cents IS NULL
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated data-skipping read: events written range-partitioned on
  // cents (so commit-log file stats carry near-disjoint ranges), then read
  // back through readWhere — the pruner drops every file whose [min,max]
  // misses [10000,20000] before a single footer opens. Pruning is invisible
  // to the rows (the oracle is the plain WHERE); TxnTableSpec gates that
  // files actually get skipped.
  // ---------------------------------------------------------------------------
  def txnSkip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_skip")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      TxnTable.append(ev.repartitionByRange(8, $"cents"), tmp.toString)
      val hit = TxnTable.readWhere(s, tmp.toString,
        $"cents" >= 10000L && $"cents" <= 20000L)
      graft.Materialize.eager(hit.agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum($"cents").cast("long").as("sum_cents"),
        min($"cents").cast("long").as("min_cents"),
        max($"cents").cast("long").as("max_cents")))
    } finally reclaim(tmp)
  }
  val txnSkipSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(min(cents) AS BIGINT) AS min_cents,
      |       CAST(max(cents) AS BIGINT) AS max_cents
      |FROM (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events)
      |WHERE cents BETWEEN 10000 AND 20000
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated change data feed over the merge scenario: the keyed diff
  // between the pre-merge and post-merge versions must emit exactly the
  // merge's effects — bucket-4 rows as inserts, bucket-3 rows as update
  // pre/post image pairs (EXCEPT cents=0, where doubling changes nothing and
  // a faithful CDF stays silent), and no deletes. The oracle rebuilds that
  // ledger from bucket algebra alone.
  // ---------------------------------------------------------------------------
  def txnCdf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = mergeScenario(s, dir)
    val agg = TxnTable.changeFeed(s, root, 1L, 2L, Seq("event_id"))
      .groupBy($"_change_type".as("change_type"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum($"cents").cast("long").as("sum_cents"))
    graft.Materialize.eager(agg)
  }
  val txnCdfSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events)
      |SELECT 'insert' AS change_type, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(2 * cents) AS BIGINT) AS sum_cents
      |FROM ev WHERE b = 4
      |UNION ALL
      |SELECT 'update_preimage', count(*), CAST(sum(cents) AS BIGINT)
      |FROM ev WHERE b = 3 AND cents IS NOT NULL AND cents <> 0
      |UNION ALL
      |SELECT 'update_postimage', count(*), CAST(sum(2 * cents) AS BIGINT)
      |FROM ev WHERE b = 3 AND cents IS NOT NULL AND cents <> 0
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated PARTITIONED table: events land hive-partitioned by
  // event_type (partitionValues recorded per add action in the
  // `_delta_log`), then a partition-equality + cents-range read goes
  // through readWhere — the partition conjunct prunes whole directories by
  // metadata fold, the range conjunct prunes the survivors by footer
  // stats. The oracle is the plain WHERE; TxnTableSpec gates the pruning.
  // ---------------------------------------------------------------------------
  def txnPartition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_part")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          $"event_type")
      TxnTable.appendPartitioned(ev, tmp.toString, Seq("event_type"))
      val hit = TxnTable.readWhere(s, tmp.toString,
        $"event_type" === "purchase" && $"cents" >= 2000L && $"cents" <= 30000L)
      graft.Materialize.eager(hit.agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum($"cents").cast("long").as("sum_cents"),
        min($"cents").cast("long").as("min_cents"),
        max($"cents").cast("long").as("max_cents")))
    } finally reclaim(tmp)
  }
  val txnPartitionSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(min(cents) AS BIGINT) AS min_cents,
      |       CAST(max(cents) AS BIGINT) AS max_cents
      |FROM (SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_type
      |      FROM events)
      |WHERE event_type = 'purchase' AND cents BETWEEN 2000 AND 30000
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated SCHEMA EVOLUTION: the table starts as (event_id, cents),
  // then an evolving append widens it with event_type — pre-evolution rows
  // must read back NULL for the new column through the unified-schema scan,
  // and both generations' money must survive intact. The oracle rebuilds
  // the generation split from the same md5 buckets.
  // ---------------------------------------------------------------------------
  def txnEvolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_evolve")
    try {
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          $"event_type", bucket.as("b"))
      TxnTable.append(ev.filter($"b" <= 2)
        .select($"event_id", $"cents"), tmp.toString)                 // v0 narrow
      TxnTable.appendEvolve(ev.filter($"b" === 3 || $"b" === 4)
        .select($"event_id", $"cents", $"event_type"), tmp.toString)  // v1 wide
      val agg = TxnTable.read(s, tmp.toString)
        .groupBy(coalesce($"event_type", lit("<pre-evolution>")).as("etype"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
      graft.Materialize.eager(agg)
    } finally reclaim(tmp)
  }
  val txnEvolveSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents, event_type,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events)
      |SELECT CASE WHEN b <= 2 THEN '<pre-evolution>' ELSE event_type END AS etype,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM ev WHERE b <= 4 GROUP BY 1
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated BLOOM-INDEXED point lookup: events append with per-file
  // Bloom filters over event_id, then an IN-list probe goes through
  // readWhere — the blooms prove absence where min/max ranges cannot
  // (high-cardinality unsorted keys). Pruning is invisible to the rows
  // (the oracle is the plain WHERE IN); TxnTableSpec gates the pruning
  // and the no-false-negative property.
  // ---------------------------------------------------------------------------
  def txnBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      TxnTable.appendBloom(ev.repartition(8), tmp.toString, Seq("event_id"))
      val hit = TxnTable.readWhere(s, tmp.toString,
        $"event_id".isin(7L, 123L, 999L, 4321L))
      graft.Materialize.eager(hit.agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum($"cents").cast("long").as("sum_cents")))
    } finally reclaim(tmp)
  }
  val txnBloomSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events WHERE event_id IN (7, 123, 999, 4321)
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated RESTORE: build three versions (two bucket appends, then a
  // cents-range delete), roll back to the pre-delete version as pure
  // metadata, and report all four versions — the restored version must
  // reproduce version 1's algebra exactly while the deleted state stays
  // auditable at version 2. A restore that rewrote, lost, or resurrected
  // the wrong rows breaks the hash.
  // ---------------------------------------------------------------------------
  private val restoreScenarioCache =
    scala.collection.concurrent.TrieMap[graft.Artifacts.Key, String]()

  private def restoreScenario(s: SparkSession, dir: String): String =
    graft.Artifacts.cached(restoreScenarioCache, s, dir) {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_restore")
      Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim(tmp)))
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          bucket.as("b"))
      TxnTable.append(ev.filter($"b" <= 1).select($"event_id", $"cents"), tmp.toString) // v0
      TxnTable.append(ev.filter($"b" === 2 || $"b" === 3)
        .select($"event_id", $"cents"), tmp.toString)                                   // v1
      TxnTable.delete(s, tmp.toString, $"cents" >= 3000L && $"cents" <= 20000L)         // v2
      TxnTable.restore(s, tmp.toString, 1L)                                             // v3
      tmp.toString
    }

  def txnRestore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = restoreScenario(s, dir)
    val per = (0L to 3L).map { v =>
      TxnTable.readVersion(s, root, v)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
    }.reduce(_ union _)
    graft.Materialize.eager(per)
  }
  val txnRestoreSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev WHERE b <= 1
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM ev WHERE b <= 3
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM ev
      |WHERE b <= 3 AND (cents < 3000 OR cents > 20000 OR cents IS NULL)
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM ev WHERE b <= 3
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated INCREMENTAL change data feed: appends, a CDF-enabled merge
  // and a CDF-enabled delete, then changeFeedIncremental reads PER-COMMIT
  // changes from O(delta) metadata + persisted change files — never a
  // snapshot diff. The oracle rebuilds each commit's ledger from bucket
  // algebra: v1's inserts, v2's insert/update pre+post images (silent on
  // no-op updates), v3's deletes evaluated on the post-merge state.
  // ---------------------------------------------------------------------------
  private val cdfIncScenarioCache =
    scala.collection.concurrent.TrieMap[graft.Artifacts.Key, String]()

  /** The CDF-scenario table (two appends, a CDF merge, a CDF delete),
    * built ONCE per (session, dir) — the capability the query times is the
    * incremental CHANGE-FEED READ of an existing table, not the table's
    * construction (the mergeScenario precedent). */
  private def cdfIncScenario(s: SparkSession, dir: String): String =
    graft.Artifacts.cached(cdfIncScenarioCache, s, dir) {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdf_inc")
      Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim(tmp)))
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          bucket.as("b"))
      TxnTable.append(ev.filter($"b" <= 1)
        .select($"event_id", $"cents"), tmp.toString)                        // v0
      TxnTable.append(ev.filter($"b" === 2 || $"b" === 3)
        .select($"event_id", $"cents"), tmp.toString)                        // v1
      val delta = ev.filter($"b" === 3 || $"b" === 4)
        .select($"event_id",
          when($"b" === 3, $"cents" * 2).otherwise($"cents").as("cents"))
      TxnTable.merge(s, delta, tmp.toString, Seq("event_id"), cdf = true)    // v2
      TxnTable.delete(s, tmp.toString,
        $"cents" >= 3000L && $"cents" <= 20000L, cdf = true)                 // v3
      tmp.toString
    }

  def txnCdfInc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = cdfIncScenario(s, dir)
    val agg = TxnTable.changeFeedIncremental(s, root, 0L, 3L)
      .groupBy($"_commit_version".cast("long").as("commit_version"),
        $"_change_type".as("change_type"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum($"cents").cast("long").as("sum_cents"))
    graft.Materialize.eager(agg)
  }
  val txnCdfIncSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events)
      |SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM ev WHERE b = 2 OR b = 3
      |UNION ALL
      |SELECT 2, 'insert', count(*), CAST(sum(cents) AS BIGINT) FROM ev WHERE b = 4
      |UNION ALL
      |SELECT 2, 'update_preimage', count(*), CAST(sum(cents) AS BIGINT)
      |FROM ev WHERE b = 3 AND cents IS NOT NULL AND cents <> 0
      |UNION ALL
      |SELECT 2, 'update_postimage', count(*), CAST(sum(2 * cents) AS BIGINT)
      |FROM ev WHERE b = 3 AND cents IS NOT NULL AND cents <> 0
      |UNION ALL
      |SELECT 3, 'delete', count(*),
      |       CAST(sum(CASE WHEN b = 3 THEN 2 * cents ELSE cents END) AS BIGINT)
      |FROM ev WHERE b <= 4
      |  AND (CASE WHEN b = 3 THEN 2 * cents ELSE cents END) BETWEEN 3000 AND 20000
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated MERGE INTO a PARTITIONED table: events land hive-
  // partitioned by event_type, then one keyed upsert (keys = event_id +
  // event_type, so the partition columns ARE merge keys) updates bucket-3
  // rows (cents doubled) and inserts bucket-4 rows. Because the partition
  // tuple is part of the key, the candidate set prunes to the delta's
  // partitions by metadata fold alone, the rewrite happens per touched
  // partition, and untouched partitions' files stay byte-identical
  // (TxnTableSpec gates both). The oracle replays v0/v1 per partition.
  // ---------------------------------------------------------------------------
  private val mergePartScenarioCache =
    scala.collection.concurrent.TrieMap[graft.Artifacts.Key, String]()

  /** The partitioned-merge scenario table, built ONCE per (session, dir)
    * like [[mergeScenario]]: the query times the versioned reads; the
    * merge's write-path cost and pruning guarantees are TxnTableSpec's
    * and the sf1 sweep's evidence. */
  private def mergePartScenario(s: SparkSession, dir: String): String =
    graft.Artifacts.cached(mergePartScenarioCache, s, dir) {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_merge_part")
      Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim(tmp)))
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          $"event_type", bucket.as("b"))
      TxnTable.appendPartitioned(ev.filter($"b" <= 3)
        .select($"event_id", $"cents", $"event_type"),
        tmp.toString, Seq("event_type"))                                     // v0
      val delta = ev.filter($"b" === 3 || $"b" === 4)
        .select($"event_id",
          when($"b" === 3, $"cents" * 2).otherwise($"cents").as("cents"),
          $"event_type")
      TxnTable.merge(s, delta, tmp.toString, Seq("event_id", "event_type"))  // v1
      tmp.toString
    }

  def txnMergePart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = mergePartScenario(s, dir)
    val per = (0L to 1L).map { v =>
      TxnTable.readVersion(s, root, v)
        .groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .selectExpr(s"${v}L AS version", "event_type", "n_rows", "sum_cents")
    }.reduce(_ union _)
    graft.Materialize.eager(per)
  }
  val txnMergePartSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents, event_type,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events)
      |SELECT CAST(0 AS BIGINT) AS version, event_type,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM ev WHERE b <= 3 GROUP BY event_type
      |UNION ALL
      |SELECT 1, event_type, count(*),
      |       CAST(sum(CASE WHEN b = 3 THEN 2 * cents ELSE cents END) AS BIGINT)
      |FROM ev WHERE b <= 4 GROUP BY event_type
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated DELETE WHERE on a PARTITIONED table: the predicate's
  // partition-equality conjunct prunes every other partition's directory
  // before a single footer opens (partitionValues fold in as point stats),
  // the cents-range conjunct prunes the survivors by footer stats, and only
  // files truly containing matches rewrite — within their partition.
  // The oracle replays survivor semantics (pred FALSE or NULL stays).
  // ---------------------------------------------------------------------------
  private val deletePartScenarioCache =
    scala.collection.concurrent.TrieMap[graft.Artifacts.Key, String]()

  private def deletePartScenario(s: SparkSession, dir: String): String =
    graft.Artifacts.cached(deletePartScenarioCache, s, dir) {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_delete_part")
      Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim(tmp)))
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          $"event_type")
      TxnTable.appendPartitioned(ev, tmp.toString, Seq("event_type"))          // v0
      TxnTable.delete(s, tmp.toString,
        $"event_type" === "purchase" && $"cents" >= 5000L && $"cents" <= 15000L) // v1
      tmp.toString
    }

  def txnDeletePart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = deletePartScenario(s, dir)
    val per = (0L to 1L).map { v =>
      TxnTable.readVersion(s, root, v)
        .groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .selectExpr(s"${v}L AS version", "event_type", "n_rows", "sum_cents")
    }.reduce(_ union _)
    graft.Materialize.eager(per)
  }
  val txnDeletePartSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_type FROM events)
      |SELECT CAST(0 AS BIGINT) AS version, event_type,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM ev GROUP BY event_type
      |UNION ALL
      |SELECT 1, event_type, count(*), CAST(sum(cents) AS BIGINT)
      |FROM ev
      |WHERE event_type IS DISTINCT FROM 'purchase'
      |   OR cents < 5000 OR cents > 15000 OR cents IS NULL
      |GROUP BY event_type
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated SHALLOW CLONE: branch the merge-scenario table by
  // metadata alone, copy-on-write delete a cents range ON THE CLONE, and
  // report both sides — the clone must show the delete, the source must
  // not (a clone-side write leaking into the source breaks the source
  // row's hash). The zero-copy/vacuum-safety mechanics are TxnTableSpec's
  // evidence; the oracle proves the divergent row algebra.
  // ---------------------------------------------------------------------------
  private val cloneScenarioCache =
    scala.collection.concurrent.TrieMap[graft.Artifacts.Key, String]()

  private def cloneScenario(s: SparkSession, dir: String): String =
    graft.Artifacts.cached(cloneScenarioCache, s, dir) {
      import s.implicits._
      val src = mergeScenario(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_clone")
      Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim(tmp)))
      TxnTable.cloneShallow(src, tmp.toString)
      TxnTable.delete(s, tmp.toString, $"cents" >= 1000L && $"cents" <= 9999L)
      tmp.toString
    }

  def txnClone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = mergeScenario(s, dir)
    val cl = cloneScenario(s, dir)
    def agg(root: String, side: String) =
      TxnTable.read(s, root)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .selectExpr(s"'$side' AS side", "n_rows", "sum_cents")
    graft.Materialize.eager(agg(src, "source") union agg(cl, "clone"))
  }
  val txnCloneSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events),
      |v2 AS (SELECT CASE WHEN b >= 3 THEN 2 * cents ELSE cents END AS c
      |       FROM ev WHERE b <= 4)
      |SELECT 'source' AS side, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(c) AS BIGINT) AS sum_cents FROM v2
      |UNION ALL
      |SELECT 'clone', count(*), CAST(sum(c) AS BIGINT)
      |FROM v2 WHERE c < 1000 OR c > 9999 OR c IS NULL
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated PARTITIONED SHALLOW CLONE: branch the hive-partitioned
  // merge scenario by metadata alone (absolute re-adds carry their
  // partitionValues), then copy-on-write delete one PARTITION on the clone
  // — the delete prunes to that partition's directory before any footer
  // opens, the clone diverges, the source must not move. Closes the last
  // partitioned-vs-flat asymmetry in the lakehouse feature matrix.
  // ---------------------------------------------------------------------------
  private val clonePartScenarioCache =
    scala.collection.concurrent.TrieMap[graft.Artifacts.Key, String]()

  private def clonePartScenario(s: SparkSession, dir: String): String =
    graft.Artifacts.cached(clonePartScenarioCache, s, dir) {
      import s.implicits._
      val src = mergePartScenario(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_clone_part")
      Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim(tmp)))
      TxnTable.cloneShallow(src, tmp.toString)
      TxnTable.delete(s, tmp.toString, $"event_type" === "click")
      tmp.toString
    }

  def txnClonePart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = mergePartScenario(s, dir)
    val cl = clonePartScenario(s, dir)
    def agg(root: String, side: String) =
      TxnTable.read(s, root)
        .groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .selectExpr(s"'$side' AS side", "event_type", "n_rows", "sum_cents")
    graft.Materialize.eager(agg(src, "source") union agg(cl, "clone"))
  }
  val txnClonePartSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents, event_type,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events),
      |v1 AS (SELECT event_type,
      |              CASE WHEN b = 3 THEN 2 * cents ELSE cents END AS c
      |       FROM ev WHERE b <= 4)
      |SELECT 'source' AS side, event_type, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(c) AS BIGINT) AS sum_cents FROM v1 GROUP BY event_type
      |UNION ALL
      |SELECT 'clone', event_type, count(*), CAST(sum(c) AS BIGINT)
      |FROM v1 WHERE event_type <> 'click' GROUP BY event_type
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated MERGE-ON-READ DELETE (deletion vectors): append the events
  // slice range-clustered on cents, MoR-delete a cents band (v1), then a
  // second MoR delete (v2) that must UNION into the existing bitmaps. No
  // data file is rewritten at any point — v1/v2 cost one roaring-bitmap
  // sidecar each — yet every read filters the marked rows exactly. The
  // oracle replays the same row algebra with plain WHEREs; DvTableSpec
  // gates the no-rewrite property, the log descriptors, and the
  // checkpoint/vacuum lifecycle.
  // ---------------------------------------------------------------------------
  def txnDv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dv")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      TxnTable.append(ev.repartitionByRange(8, $"cents"), tmp.toString)        // v0
      TxnTable.deleteDv(s, tmp.toString,
        $"cents" >= 5000L && $"cents" <= 15000L)                               // v1
      TxnTable.deleteDv(s, tmp.toString, $"cents" % 97L === 0L)                // v2
      // v3: REORG PURGE materializes DV-heavy files clean — the contents
      // must be bit-identical to v2 (the oracle proves it: same algebra)
      TxnTable.purgeDeletes(s, tmp.toString, minDeletedFraction = 0.01)        // v3
      val per = (0L to 3L).map { v =>
        TxnTable.readVersion(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum($"cents").cast("long").as("sum_cents"))
          .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnDvSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |v1 AS (SELECT cents FROM ev
      |       WHERE cents < 5000 OR cents > 15000 OR cents IS NULL),
      |v2 AS (SELECT cents FROM v1 WHERE cents % 97 <> 0 OR cents IS NULL)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM v1
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM v2
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM v2
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated COLUMN RENAME (name-mode column mapping): append events,
  // rename cents → amount (metadata-only — zero data bytes rewritten, the
  // parquet files keep their stable physical names), then append MORE rows
  // under the NEW logical name. Reads must stitch old-physical and
  // new-logical files into one seamless column at every version; time
  // travel below the rename keeps the old name (v0 aggregates `cents`).
  // ColumnMappingSpec gates the no-rewrite property, pruning through the
  // name map, and the log's mapping metadata/protocol.
  // ---------------------------------------------------------------------------
  def txnRename(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_rename")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      TxnTable.append(ev, tmp.toString)                          // v0
      TxnTable.renameColumn(s, tmp.toString, "cents", "amount")  // v1
      TxnTable.append(ev.filter($"cents" > 20000L)
        .select($"event_id", $"cents".as("amount")), tmp.toString) // v2
      val per = Seq((0L, "cents"), (1L, "amount"), (2L, "amount")).map { case (v, c) =>
        TxnTable.readVersion(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col(c)).cast("long").as("sum_amount"))
          .selectExpr(s"${v}L AS version", "n_rows", "sum_amount")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnRenameSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_amount FROM ev
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM ev
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(cents) AS BIGINT)
      |FROM (SELECT cents FROM ev
      |      UNION ALL SELECT cents FROM ev WHERE cents > 20000)
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated MERGE-ON-READ MERGE (deletion vectors): append the events
  // slice range-clustered on cents, then two keyed upserts that DV-mark the
  // replaced rows instead of rewriting their files (v1: bucket-3 rows'
  // cents doubled + bucket-4 inserts; v2: bucket-2 rows tripled — the
  // second merge must UNION into the existing bitmaps), then REORG PURGE
  // materializes the accumulated bitmaps clean (v3, bit-identical to v2).
  // Replacement images + inserts land in NEW files; the touched files keep
  // their bytes — DvTableSpec gates the no-rewrite property and the
  // hybrid copy-on-write fallback; the oracle proves the row algebra.
  // ---------------------------------------------------------------------------
  def txnMergeDv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge_dv")
    try {
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          bucket.as("b"))
      TxnTable.append(ev.filter($"b" <= 3).select($"event_id", $"cents")
        .repartitionByRange(8, $"cents"), tmp.toString)                     // v0
      val delta1 = ev.filter($"b" === 3 || $"b" === 4)
        .select($"event_id",
          when($"b" === 3, $"cents" * 2).otherwise($"cents").as("cents"))
      TxnTable.mergeDv(s, delta1, tmp.toString, Seq("event_id"),
        rewriteFraction = 0.5)                                              // v1
      val delta2 = ev.filter($"b" === 2)
        .select($"event_id", ($"cents" * 3).as("cents"))
      TxnTable.mergeDv(s, delta2, tmp.toString, Seq("event_id"),
        rewriteFraction = 0.5)                                              // v2
      TxnTable.purgeDeletes(s, tmp.toString, minDeletedFraction = 0.01)     // v3
      val per = (0L to 3L).map { v =>
        TxnTable.readVersion(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum($"cents").cast("long").as("sum_cents"))
          .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnMergeDvSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events),
      |v1 AS (SELECT CASE WHEN b = 3 THEN 2 * cents ELSE cents END AS c, b
      |       FROM ev WHERE b <= 4),
      |v2 AS (SELECT CASE WHEN b = 2 THEN 3 * c ELSE c END AS c FROM v1)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev WHERE b <= 3
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(c) AS BIGINT) FROM v1
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(c) AS BIGINT) FROM v2
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(c) AS BIGINT) FROM v2
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated MERGE-ON-READ UPDATE (deletion vectors): append the
  // events slice range-clustered on cents, UPDATE a cents band ×2 (v1 —
  // the matched rows DV-mark in place, their doubled images land in new
  // files), then a second update (+7 on multiples of 97) that must apply
  // to the CURRENT state including v1's images and union into existing
  // bitmaps (v2), then REORG PURGE materializes everything clean (v3,
  // bit-identical to v2). The oracle replays the same row algebra with
  // nested CASE WHENs; DvTableSpec gates the no-rewrite property and the
  // constraint re-validation.
  // ---------------------------------------------------------------------------
  def txnUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_update")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      TxnTable.append(ev.repartitionByRange(8, $"cents"), tmp.toString)     // v0
      TxnTable.updateDv(s, tmp.toString,
        $"cents" >= 5000L && $"cents" <= 6000L,
        Map("cents" -> ($"cents" * 2L)), rewriteFraction = 0.5)             // v1
      TxnTable.updateDv(s, tmp.toString, $"cents" % 97L === 0L,
        Map("cents" -> ($"cents" + 7L)), rewriteFraction = 0.5)             // v2
      TxnTable.purgeDeletes(s, tmp.toString, minDeletedFraction = 0.01)     // v3
      val per = (0L to 3L).map { v =>
        TxnTable.readVersion(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum($"cents").cast("long").as("sum_cents"))
          .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnUpdateSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |v1 AS (SELECT CASE WHEN cents BETWEEN 5000 AND 6000
      |              THEN 2 * cents ELSE cents END AS c FROM ev),
      |v2 AS (SELECT CASE WHEN c % 97 = 0 THEN c + 7 ELSE c END AS c FROM v1)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(c) AS BIGINT) FROM v1
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(c) AS BIGINT) FROM v2
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(c) AS BIGINT) FROM v2
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated TYPE WIDENING: append events with cents as INT, widen the
  // column to BIGINT by metadata alone (zero bytes rewritten — the INT
  // files keep their physical type and the scan up-converts), then append
  // rows whose values OVERFLOW int (cents * 100000 > 2^31) — only possible
  // because the table type is now wide. Reads at every version must agree
  // with the oracle's replay; time travel below the widen keeps INT (the
  // v0/v1 frames aggregate the narrow column). TxnWidenSpec gates the
  // no-rewrite property, the refusal matrix, and the log's feature.
  // ---------------------------------------------------------------------------
  def txnWiden(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_widen")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS INT)").as("cents"))
      TxnTable.append(ev, tmp.toString)                                     // v0
      TxnTable.widenColumn(s, tmp.toString, "cents",
        org.apache.spark.sql.types.LongType)                                // v1
      TxnTable.append(ev.filter($"cents" > 20000)
        .select($"event_id",
          ($"cents".cast("long") * 100000L).as("cents")), tmp.toString)     // v2
      val per = (0L to 2L).map { v =>
        TxnTable.readVersion(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum($"cents").cast("long").as("sum_cents"))
          .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnWidenSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS INT) AS cents FROM events)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM ev
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(c) AS BIGINT)
      |FROM (SELECT CAST(cents AS BIGINT) AS c FROM ev
      |      UNION ALL
      |      SELECT CAST(cents AS BIGINT) * 100000 FROM ev WHERE cents > 20000)
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated LIQUID CLUSTERING (incremental z-order maintenance):
  // declare clustering columns once, run an optimizeCluster pass (full,
  // first time), append MORE rows, run the pass again — the second pass
  // folds ONLY the new files into the layout (ClusteringSpec gates that
  // the first pass's outputs never rewrite). Contents must be
  // bit-identical at every step — clustering is layout, never
  // correctness — which is exactly what the oracle replays.
  // ---------------------------------------------------------------------------
  def txnCluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cluster")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", $"user_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      TxnTable.append(ev.repartition(4), tmp.toString)                      // v0
      TxnTable.setClustering(s, tmp.toString, Seq("user_id", "cents"))      // v1
      TxnTable.optimizeCluster(s, tmp.toString, targetPartitions = 4)       // v2
      TxnTable.append(ev.filter($"cents" > 20000L), tmp.toString)           // v3
      TxnTable.optimizeCluster(s, tmp.toString, targetPartitions = 2)       // v4
      val per = Seq(0L, 2L, 3L, 4L).map { v =>
        TxnTable.readVersion(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum($"cents").cast("long").as("sum_cents"))
          .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnClusterSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |v3 AS (SELECT cents FROM ev
      |       UNION ALL SELECT cents FROM ev WHERE cents > 20000)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM ev
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM v3
      |UNION ALL
      |SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM v3
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated GENERATED COLUMNS with derived partition pruning: events
  // land day-partitioned where `day` is DECLARED as
  // date_format(ts, 'yyyy-MM-dd'); the query then filters on `ts` ALONE
  // and aggregates per day — the pruner derives the day-directory bounds
  // the user never wrote (GeneratedColumnsSpec gates the file counts; the
  // oracle proves the row algebra). The 100 TB shape: time-range queries
  // on a day-partitioned table prune by metadata without the analyst
  // knowing the partitioning exists.
  // ---------------------------------------------------------------------------
  def txnGenerated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_generated")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", $"ts",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          date_format($"ts", "yyyy-MM-dd").as("day"))
      TxnTable.appendPartitioned(ev.repartition(8, $"day"),
        tmp.toString, Seq("day"))                                           // v0
      TxnTable.setGeneratedColumn(s, tmp.toString, "day",
        "date_format(ts, 'yyyy-MM-dd')")                                    // v1
      val lo = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
      val hi = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      graft.Materialize.eager(
        TxnTable.readWhere(s, tmp.toString, $"ts" >= lo && $"ts" < hi)
          .groupBy($"day")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum($"cents").cast("long").as("sum_cents")))
    } finally reclaim(tmp)
  }
  val txnGeneratedSql: String =
    """WITH ev AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT strftime(ts, '%Y-%m-%d') AS day,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM ev
      |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      |  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      |GROUP BY 1
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated ROW TRACKING: events land as ONE file sorted by event_id,
  // so the backfilled row ids are exactly rank(event_id) − 1 — an
  // engine-independent identity DuckDB can replay with row_number(). A
  // merge-on-read delete then marks a cents band, and REORG PURGE rewrites
  // the survivors into a new file at NEW physical positions — only the
  // materialized-id column keeps every surviving row's id, which is
  // precisely what the v3 read must prove (ids unchanged through a full
  // physical rewrite). RowTrackingSpec gates the lifecycle breadth.
  // ---------------------------------------------------------------------------
  def txnRowIds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_rowids")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .repartition(1).sortWithinPartitions($"event_id")
      TxnTable.append(ev, tmp.toString)                                     // v0
      TxnTable.enableRowTracking(s, tmp.toString)                           // v1
      TxnTable.deleteDv(s, tmp.toString,
        $"cents" >= 5000L && $"cents" <= 15000L)                            // v2
      TxnTable.purgeDeletes(s, tmp.toString, minDeletedFraction = 0.01)     // v3
      val per = Seq(1L, 3L).map { v =>
        TxnTable.readWithRowIds(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            countDistinct($"_row_id").cast("long").as("n_ids"),
            min($"_row_id").cast("long").as("min_id"),
            max($"_row_id").cast("long").as("max_id"),
            sum($"_row_id").cast("long").as("sum_ids"))
          .selectExpr(s"${v}L AS version", "n_rows", "n_ids", "min_id",
            "max_id", "sum_ids")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnRowIdsSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |r AS (SELECT cents, row_number() OVER (ORDER BY event_id) - 1 AS rid FROM ev),
      |surv AS (SELECT rid FROM r
      |         WHERE cents < 5000 OR cents > 15000 OR cents IS NULL)
      |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(DISTINCT rid) AS BIGINT) AS n_ids,
      |       CAST(min(rid) AS BIGINT) AS min_id, CAST(max(rid) AS BIGINT) AS max_id,
      |       CAST(sum(rid) AS BIGINT) AS sum_ids FROM r
      |UNION ALL
      |SELECT 3, count(*), count(DISTINCT rid), CAST(min(rid) AS BIGINT),
      |       CAST(max(rid) AS BIGINT), CAST(sum(rid) AS BIGINT) FROM surv
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated SQL READ SURFACE (DSv2 TableCatalog): the same lakehouse
  // lifecycle as q_txn_dv — append range-clustered, merge-on-read delete,
  // append more — but every READ is literal `spark.sql` through the
  // registered `graft` catalog: `VERSION AS OF v` routes Spark's native
  // time-travel analysis to GraftCatalog.loadTable(ident, version), and
  // the filtered latest read pushes its predicate into the DSv2 scan where
  // the one pruning engine (stats/partition/bloom/DV) drops files at
  // planning (plan-gated in GraftCatalogSpec). This is the reference's
  // consumption shape — SQL over registered tables (README.md:115-121) —
  // now first-class over the transaction log.
  // ---------------------------------------------------------------------------
  def txnSqlRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqlread")
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("graft.catalog.path.sql_ev", tmp.toString)
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      TxnTable.append(ev.repartitionByRange(8, $"cents"), tmp.toString)     // v0
      TxnTable.deleteDv(s, tmp.toString,
        $"cents" >= 5000L && $"cents" <= 15000L)                            // v1
      TxnTable.append(ev.filter($"cents" > 20000L), tmp.toString)           // v2
      val per = (0L to 2L).map { v =>
        s.sql(s"SELECT ${v}L AS version, count(*) AS n_rows, " +
          s"CAST(sum(cents) AS BIGINT) AS sum_cents " +
          s"FROM graft.sql_ev VERSION AS OF $v")
      }.reduce(_ union _)
      val filtered = s.sql(
        "SELECT 90L AS version, count(*) AS n_rows, " +
          "CAST(sum(cents) AS BIGINT) AS sum_cents " +
          "FROM graft.sql_ev WHERE cents <= 1000")
      graft.Materialize.eager(per union filtered)
    } finally reclaim(tmp)
  }
  val txnSqlReadSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |v1 AS (SELECT cents FROM ev
      |       WHERE cents < 5000 OR cents > 15000 OR cents IS NULL),
      |v2 AS (SELECT cents FROM v1
      |       UNION ALL SELECT cents FROM ev WHERE cents > 20000)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM v1
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM v2
      |UNION ALL
      |SELECT 90, count(*), CAST(sum(cents) AS BIGINT) FROM v2 WHERE cents <= 1000
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated MERGE WITH SCHEMA EVOLUTION through literal SQL: the
  // source carries a column the target lacks (`src_tag`); `UPDATE SET *` /
  // `INSERT *` under WITH SCHEMA EVOLUTION widen the schema IN the merge
  // commit (one version: data + metaData action together, the Delta
  // shape) — matched rows take the tag, inserted rows carry it, carried
  // rows read null, and time travel below the merge still shows the old
  // two-column schema.
  // ---------------------------------------------------------------------------
  def txnMergeEvolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_mergeevolve")
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("graft.catalog.path.ev_ev", tmp.toString)
    try {
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          bucket.as("b"))
      TxnTable.append(ev.filter($"b" <= 4).select($"event_id", $"cents")
        .repartitionByRange(8, $"cents"), tmp.toString)                    // v0
      ev.filter($"b" >= 3 && $"b" <= 6)
        .select($"event_id", $"cents",
          concat(lit("s"), ($"event_id" % 3L).cast("string")).as("src_tag"))
        .createOrReplaceTempView("ev_evolve_src")
      val v = s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft.ev_ev AS t
          |USING ev_evolve_src AS s ON t.event_id = s.event_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin).head.getLong(0)
      require(v == 1L, s"evolution must ride the merge commit, got version $v")
      val byTag = s.sql(
        "SELECT COALESCE(src_tag, '_none') AS tag, count(*) AS n_rows, " +
          "CAST(sum(cents) AS BIGINT) AS sum_cents FROM graft.ev_ev GROUP BY 1")
      val v0 = s.sql(
        "SELECT '_v0' AS tag, count(*) AS n_rows, " +
          "CAST(sum(cents) AS BIGINT) AS sum_cents " +
          "FROM graft.ev_ev VERSION AS OF 0")
      graft.Materialize.eager(byTag union v0)
    } finally reclaim(tmp)
  }
  val txnMergeEvolveSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events),
      |tgt AS (SELECT event_id, cents FROM ev WHERE b <= 4),
      |src AS (SELECT event_id, cents,
      |               's' || CAST(event_id % 3 AS VARCHAR) AS src_tag
      |        FROM ev WHERE b BETWEEN 3 AND 6),
      |final AS (
      |  SELECT t.event_id, COALESCE(s.cents, t.cents) AS cents, s.src_tag
      |  FROM tgt t LEFT JOIN src s USING (event_id)
      |  UNION ALL
      |  SELECT s.event_id, s.cents, s.src_tag FROM src s
      |  WHERE s.event_id NOT IN (SELECT event_id FROM tgt))
      |SELECT COALESCE(src_tag, '_none') AS tag,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM final GROUP BY 1
      |UNION ALL
      |SELECT '_v0', count(*), CAST(sum(cents) AS BIGINT) FROM tgt
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated BATCH CHANGE FEED through the SQL front door:
  // `graft.t__changes` is Delta's table_changes spelled as a table name —
  // plain SQL over it returns every version's change rows (insert /
  // update_preimage / update_postimage / delete) with their commit
  // provenance, and `spark.read.option("startingVersion"/"endingVersion")`
  // bounds the range (the same partitions the streaming tail plans — one
  // change-feed code path). The oracle replays the full lifecycle
  // algebraically per change type.
  // ---------------------------------------------------------------------------
  def txnSqlCdf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqlcdf")
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("graft.catalog.path.cdf_ev", tmp.toString)
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      TxnTable.append(ev.repartitionByRange(8, $"cents"), tmp.toString)  // v0
      TxnTable.update(s, tmp.toString,
        $"cents" >= 5000L && $"cents" <= 6000L,
        Map("cents" -> ($"cents" * 2L)), cdf = true)                     // v1
      TxnTable.delete(s, tmp.toString, $"cents" % 97L === 0L, cdf = true) // v2
      val full = s.sql(
        "SELECT _commit_version AS version, _change_type AS change_type, " +
          "count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents " +
          "FROM graft.cdf_ev__changes GROUP BY 1, 2")
      val ranged = s.read
        .option("startingVersion", "2").option("endingVersion", "2")
        .table("graft.cdf_ev__changes")
        .agg(count(lit(1)).as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .selectExpr("90L AS version", "'ranged_delete' AS change_type",
          "n_rows", "sum_cents")
      graft.Materialize.eager(full.unionByName(ranged))
    } finally reclaim(tmp)
  }
  val txnSqlCdfSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |upd AS (SELECT * FROM ev WHERE cents BETWEEN 5000 AND 6000),
      |v1 AS (SELECT event_id, CASE WHEN cents BETWEEN 5000 AND 6000
      |                             THEN 2 * cents ELSE cents END AS cents FROM ev),
      |del AS (SELECT * FROM v1 WHERE COALESCE(cents % 97 = 0, FALSE))
      |SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev
      |UNION ALL
      |SELECT 1, 'update_preimage', count(*), CAST(sum(cents) AS BIGINT)
      |FROM upd HAVING count(*) > 0
      |UNION ALL
      |SELECT 1, 'update_postimage', count(*), CAST(sum(2 * cents) AS BIGINT)
      |FROM upd HAVING count(*) > 0
      |UNION ALL
      |SELECT 2, 'delete', count(*), CAST(sum(cents) AS BIGINT)
      |FROM del HAVING count(*) > 0
      |UNION ALL
      |SELECT 90, 'ranged_delete', count(*), CAST(sum(cents) AS BIGINT) FROM del
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated FULL TYPE MATRIX through the SQL front door: a TxnTable
  // with TIMESTAMP, DATE, DECIMAL(12,2) data columns and a DECIMAL(3,1)
  // PARTITION column, every read a literal `spark.sql` over the graft
  // catalog — the reference's `final` schema shape (init-db.sql:26-35:
  // NUMERIC(10,2), TIMESTAMPTZ; README.md:141-164 DECIMAL math). Decimal
  // arithmetic stays exact end-to-end (sum over DECIMAL, ×100 → BIGINT),
  // dates aggregate and render, timestamps compare in epoch-µs; the
  // partition decimal round-trips through the hive path encoding.
  // GraftCatalogSpec plan-gates the timestamp-predicate file skipping and
  // decimal-partition pruning this enables.
  // ---------------------------------------------------------------------------
  def txnSqlTypes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqltypes")
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("graft.catalog.path.ty_ev", tmp.toString)
    try {
      val ev = Tables.events(s, dir).select(
        $"event_id", $"ts", to_date($"ts").as("d"),
        expr("CAST(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(14,2)) / 100 " +
          "AS DECIMAL(12,2))").as("amt"),
        expr("CAST(CAST(event_id % 4 AS DOUBLE) / 2 AS DECIMAL(3,1))").as("pb"))
      TxnTable.appendPartitioned(ev, tmp.toString, Seq("pb"))
      graft.Materialize.eager(s.sql(
        """WITH cut AS (SELECT min(unix_micros(ts)) +
          |  (max(unix_micros(ts)) - min(unix_micros(ts))) DIV 2 AS c
          |  FROM graft.ty_ev)
          |SELECT CAST(pb * 10 AS BIGINT) AS pb10,
          |       count(*) AS n_rows,
          |       CAST(sum(amt) * 100 AS BIGINT) AS sum_cents,
          |       CAST(count(DISTINCT d) AS BIGINT) AS n_days,
          |       CAST(max(d) AS STRING) AS max_day,
          |       CAST(max(unix_micros(ts)) AS BIGINT) AS max_us
          |FROM graft.ty_ev, cut
          |WHERE unix_micros(ts) >= cut.c
          |GROUP BY pb
          |""".stripMargin))
    } finally reclaim(tmp)
  }
  val txnSqlTypesSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |         CAST(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(14,2)) / 100
      |              AS DECIMAL(12,2)) AS amt,
      |         CAST(CAST(event_id % 4 AS DOUBLE) / 2 AS DECIMAL(3,1)) AS pb
      |  FROM events),
      |cut AS (SELECT min(epoch_us(ts)) +
      |          (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS c FROM ev)
      |SELECT CAST(pb * 10 AS BIGINT) AS pb10,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(amt) * 100 AS BIGINT) AS sum_cents,
      |       CAST(count(DISTINCT d) AS BIGINT) AS n_days,
      |       CAST(max(d) AS VARCHAR) AS max_day,
      |       CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
      |FROM ev, cut
      |WHERE epoch_us(ts) >= cut.c
      |GROUP BY pb
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated COLUMN DROP (column mapping): append 3 columns, DROP one
  // by metadata alone (v1 — zero data bytes rewritten; the bytes stay in
  // the old files, invisible to every read), then RE-ADD the same logical
  // name via schema evolution (v2). The re-added column gets a FRESH
  // physical name, so the old files read NULL for it — the dropped values
  // can never leak back (the no-reuse rule; GraftCatalogSpec gates the
  // leak case directly, this query gates the row algebra at 3 SFs: v2's
  // distinct/null counts only come out right if old rows are null and new
  // rows carry the re-added values). Time travel below the drop restores
  // the column (v0 aggregates it).
  // ---------------------------------------------------------------------------
  def txnDrop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_drop")
    try {
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          $"event_type")
      TxnTable.append(ev, tmp.toString)                       // v0
      TxnTable.dropColumn(s, tmp.toString, "event_type")      // v1
      TxnTable.appendEvolve(ev.filter($"cents" > 20000L)
        .select($"event_id", $"cents",
          concat(lit("re_"), $"event_type").as("event_type")), tmp.toString) // v2
      def full(v: Long) =
        TxnTable.readVersion(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum($"cents").cast("long").as("sum_cents"),
            countDistinct($"event_type").cast("long").as("n_types"),
            sum(when($"event_type".isNull, 1L).otherwise(0L))
              .cast("long").as("n_null_types"))
          .selectExpr(s"${v}L AS version", "n_rows", "sum_cents",
            "n_types", "n_null_types")
      val v1 = TxnTable.readVersion(s, tmp.toString, 1L)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .selectExpr("1L AS version", "n_rows", "sum_cents",
          "-1L AS n_types", "-1L AS n_null_types")
      graft.Materialize.eager(full(0L) union v1 union full(2L))
    } finally reclaim(tmp)
  }
  val txnDropSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_type
      |  FROM events),
      |v2 AS (SELECT NULL AS event_type, cents FROM ev
      |       UNION ALL
      |       SELECT 're_' || event_type AS event_type, cents FROM ev
      |       WHERE cents > 20000)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
      |       CAST(count(*) FILTER (WHERE event_type IS NULL) AS BIGINT) AS n_null_types
      |FROM ev
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT), -1, -1 FROM ev
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(cents) AS BIGINT),
      |       CAST(count(DISTINCT event_type) AS BIGINT),
      |       CAST(count(*) FILTER (WHERE event_type IS NULL) AS BIGINT)
      |FROM v2
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated ARRAY columns through the SQL front door: the engine's
  // OWN flagship data shape — an `ARRAY<FLOAT>` embeddings TxnTable —
  // served entirely by literal `spark.sql` over the graft catalog. The
  // lifecycle exercises BOTH catalog readers on arrays: v0 scans
  // vectorized (Spark's nested ColumnarBatch path), then a deletion-vector
  // DELETE forces the row reader (GroupDecode's list branch) for the
  // current snapshot. The query itself is the brute-force cosine top-k the
  // Scala tier runs in q_knn_brute (float_dot — the codegen'd fold with
  // left-to-right double accumulation, bit-identical to the DuckDB
  // list_reduce replay), plus per-label norm aggregates at both versions
  // (summed in micro-units so the group-sum is order-independent).
  // ---------------------------------------------------------------------------
  def txnSqlEmbed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqlembed")
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("graft.catalog.path.emb_t", tmp.toString)
    try {
      TxnTable.append(Tables.embeddings(s, dir), tmp.toString)          // v0
      TxnTable.deleteDv(s, tmp.toString, col("vec_id") % 11L === 3L)    // v1: DV → row path
      val knn = s.sql(
        """WITH q AS (SELECT vec_id AS qid, embedding AS qe
          |           FROM graft.emb_t WHERE vec_id < 8),
          |c AS (SELECT vec_id AS nid, embedding AS ne FROM graft.emb_t),
          |scored AS (
          |  SELECT qid, nid,
          |         float_dot(qe, ne) /
          |           (sqrt(float_dot(qe, qe)) * sqrt(float_dot(ne, ne))) AS cosine
          |  FROM q JOIN c ON qid <> nid),
          |ranked AS (
          |  SELECT qid, nid, cosine, row_number() OVER
          |    (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
          |  FROM scored)
          |SELECT 'knn' AS kind, qid AS a, CAST(rank AS BIGINT) AS b,
          |       nid AS c, cosine AS x
          |FROM ranked WHERE rank <= 3
          |""".stripMargin)
      def lbl(kind: String, from: String) = s.sql(
        s"""SELECT '$kind' AS kind, CAST(label AS BIGINT) AS a,
           |       count(*) AS b,
           |       CAST(sum(CAST(floor(sqrt(float_dot(embedding, embedding))
           |         * 1e6) AS BIGINT)) AS BIGINT) AS c,
           |       0D AS x
           |FROM $from GROUP BY label
           |""".stripMargin)
      graft.Materialize.eager(
        knn.unionByName(lbl("lbl", "graft.emb_t"))
          .unionByName(lbl("lbl0", "graft.emb_t VERSION AS OF 0")))
    } finally reclaim(tmp)
  }
  private val dotEmb =
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(%1$s)+1), i -> %1$s[i]::DOUBLE * %2$s[i]::DOUBLE)), (acc, v) -> acc + v)"
  val txnSqlEmbedSql: String = {
    def dot(a: String, b: String) = dotEmb.format(a, b)
    s"""WITH cur AS (SELECT vec_id, embedding, label FROM embeddings
       |            WHERE vec_id % 11 <> 3),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM cur WHERE vec_id < 8),
       |c AS (SELECT vec_id AS nid, embedding AS ne FROM cur),
       |scored AS (
       |  SELECT qid, nid,
       |         ${dot("qe", "ne")} /
       |           (sqrt(${dot("qe", "qe")}) * sqrt(${dot("ne", "ne")})) AS cosine
       |  FROM q JOIN c ON qid <> nid),
       |ranked AS (
       |  SELECT qid, nid, cosine, row_number() OVER
       |    (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
       |  FROM scored)
       |SELECT 'knn' AS kind, qid AS a, CAST(rank AS BIGINT) AS b,
       |       nid AS c, cosine AS x
       |FROM ranked WHERE rank <= 3
       |UNION ALL
       |SELECT 'lbl', CAST(label AS BIGINT), CAST(count(*) AS BIGINT),
       |       CAST(sum(CAST(floor(sqrt(${dot("embedding", "embedding")})
       |         * 1e6) AS BIGINT)) AS BIGINT), 0.0::DOUBLE
       |FROM cur GROUP BY label
       |UNION ALL
       |SELECT 'lbl0', CAST(label AS BIGINT), CAST(count(*) AS BIGINT),
       |       CAST(sum(CAST(floor(sqrt(${dot("embedding", "embedding")})
       |         * 1e6) AS BIGINT)) AS BIGINT), 0.0::DOUBLE
       |FROM embeddings GROUP BY label
       |""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // Oracle-gated MULTI-CLAUSE MERGE: the full SQL MERGE semantics in one
  // lifecycle. v1 (copy-on-write) uses every clause family at once —
  // conditional WHEN MATCHED UPDATE (even scents add), conditional WHEN
  // MATCHED DELETE (multiples of 5), an unconditional MATCHED UPDATE tail
  // (-1 sentinel), conditional NOT MATCHED INSERT (only scents > 20000),
  // and NOT MATCHED BY SOURCE DELETE + UPDATE — first-match-wins within
  // each family, SQL null semantics on every condition. v2 replays a
  // merge-on-read pass (unconditional matched UPDATE ×3 + unconditional
  // INSERT) whose replaced rows DV-mark in place. The oracle replays the
  // whole clause algebra as branch CTEs; MergeMultiSpec gates the file
  // behavior (CoW rewrites only applying files, MoR keeps bytes) and the
  // cardinality guard.
  // ---------------------------------------------------------------------------
  def txnMergeMulti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import MergeClause._
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge_multi")
    try {
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          bucket.as("b"))
      TxnTable.append(ev.filter($"b" <= 4).select($"event_id", $"cents")
        .repartitionByRange(8, $"cents"), tmp.toString)                   // v0
      val src1 = ev.filter($"b" >= 3 && $"b" <= 6)
        .select($"event_id".as("sid"), $"cents".as("scents"))
      TxnTable.mergeMulti(s, tmp.toString, src1,
        condition = col("t.event_id") === col("s.sid"),
        matched = Seq(
          Update(Some(col("s.scents") % 2L === 0L),
            Map("cents" -> (col("t.cents") + col("s.scents")))),
          Delete(Some(col("s.scents") % 5L === 0L)),
          Update(None, Map("cents" -> lit(-1L)))),
        notMatched = Seq(Insert(Some(col("s.scents") > 20000L),
          Map("event_id" -> col("s.sid"), "cents" -> (col("s.scents") + 1L)))),
        notMatchedBySource = Seq(
          Delete(Some(col("t.cents") < 1000L)),
          Update(Some(col("t.cents") >= 30000L),
            Map("cents" -> (col("t.cents") + 5L)))))                      // v1 CoW
      val src2 = ev.filter($"b" === 2)
        .select($"event_id".as("sid"), $"cents".as("scents"))
      TxnTable.mergeMulti(s, tmp.toString, src2,
        condition = col("t.event_id") === col("s.sid"),
        matched = Seq(Update(None, Map("cents" -> (col("t.cents") * 3L)))),
        notMatched = Seq(Insert(None,
          Map("event_id" -> col("s.sid"), "cents" -> col("s.scents")))),
        mor = true, rewriteFraction = 0.5)                                // v2 MoR
      val per = (0L to 2L).map { v =>
        TxnTable.readVersion(s, tmp.toString, v)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum($"cents").cast("long").as("sum_cents"))
          .selectExpr(s"${v}L AS version", "n_rows", "sum_cents")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnMergeMultiSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events),
      |t0 AS (SELECT event_id, cents, b FROM ev WHERE b <= 4),
      |-- v1 clause algebra: matched = b IN (3,4), by-source = b IN (0,1,2),
      |-- insert candidates = b IN (5,6); first-match-wins per family
      |m1 AS (SELECT event_id, cents + cents AS cents, b FROM t0
      |       WHERE b IN (3,4) AND COALESCE(cents % 2 = 0, FALSE)),
      |m3 AS (SELECT event_id, CAST(-1 AS BIGINT) AS cents, b FROM t0
      |       WHERE b IN (3,4) AND NOT COALESCE(cents % 2 = 0, FALSE)
      |         AND NOT COALESCE(cents % 5 = 0, FALSE)),
      |nbu AS (SELECT event_id, cents + 5 AS cents, b FROM t0
      |        WHERE b IN (0,1,2) AND NOT COALESCE(cents < 1000, FALSE)
      |          AND COALESCE(cents >= 30000, FALSE)),
      |nbk AS (SELECT event_id, cents, b FROM t0
      |        WHERE b IN (0,1,2) AND NOT COALESCE(cents < 1000, FALSE)
      |          AND NOT COALESCE(cents >= 30000, FALSE)),
      |ins AS (SELECT event_id, cents + 1 AS cents, b FROM ev
      |        WHERE b IN (5,6) AND COALESCE(cents > 20000, FALSE)),
      |v1 AS (SELECT * FROM m1 UNION ALL SELECT * FROM m3
      |       UNION ALL SELECT * FROM nbu UNION ALL SELECT * FROM nbk
      |       UNION ALL SELECT * FROM ins),
      |-- v2: matched (b=2, still live) triple; ids deleted in v1 re-insert
      |v2 AS (SELECT event_id,
      |              CASE WHEN b = 2 THEN 3 * cents ELSE cents END AS cents
      |       FROM v1
      |       UNION ALL
      |       SELECT event_id, cents FROM ev
      |       WHERE b = 2 AND COALESCE(cents < 1000, FALSE))
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM t0
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM v1
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM v2
      |""".stripMargin

  // ---------------------------------------------------------------------------
  // Oracle-gated SQL DML SURFACE: the whole write lifecycle as literal
  // spark.sql on a graft-catalog table — UPDATE (v1), DELETE (v2), a
  // multi-clause MERGE INTO off a temp view (v3), OPTIMIZE (v4, layout
  // only — contents must not move) — each statement lowering to the same
  // TxnTable engine the Scala API uses (GraftDmlRule / GraftSqlParser),
  // then every version read back through `VERSION AS OF`. The oracle
  // replays the statement algebra with CASE/WHERE CTEs; GraftSqlDmlSpec
  // gates the lowering mechanics (one commit per statement, MoR switch,
  // parser passthrough, VACUUM).
  // ---------------------------------------------------------------------------
  def txnSqlDml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqldml")
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("graft.catalog.path.dml_ev", tmp.toString)
    try {
      val bucket = expr(
        "cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 4), 16, 10) as int) % 7")
      val ev = Tables.events(s, dir)
        .select($"event_id", expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          bucket.as("b"))
      TxnTable.append(ev.select($"event_id", $"cents")
        .repartitionByRange(8, $"cents"), tmp.toString)                   // v0
      s.sql("UPDATE graft.dml_ev SET cents = cents * 2 " +
        "WHERE cents BETWEEN 5000 AND 6000")                              // v1
      s.sql("DELETE FROM graft.dml_ev WHERE cents % 97 = 0")              // v2
      ev.filter($"b" === 3 || $"b" === 5)
        .select($"event_id".as("sid"), $"cents".as("scents"))
        .createOrReplaceTempView("dml_src")
      s.sql(
        """MERGE INTO graft.dml_ev AS t USING dml_src AS s ON t.event_id = s.sid
          |WHEN MATCHED AND s.scents % 2 = 0 THEN UPDATE SET cents = t.cents + s.scents
          |WHEN MATCHED THEN DELETE
          |WHEN NOT MATCHED THEN INSERT (event_id, cents) VALUES (s.sid, s.scents + 1)
          |""".stripMargin)                                               // v3
      s.sql("OPTIMIZE graft.dml_ev")                                      // v4
      val per = (0L to 4L).map { v =>
        s.sql(s"SELECT ${v}L AS version, count(*) AS n_rows, " +
          s"CAST(sum(cents) AS BIGINT) AS sum_cents " +
          s"FROM graft.dml_ev VERSION AS OF $v")
      }.reduce(_ union _)
      graft.Materialize.eager(per)
    } finally reclaim(tmp)
  }
  val txnSqlDmlSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INT % 7 AS b
      |  FROM events),
      |v1 AS (SELECT event_id, b,
      |              CASE WHEN cents BETWEEN 5000 AND 6000
      |                   THEN 2 * cents ELSE cents END AS cents FROM ev),
      |v2 AS (SELECT event_id, b, cents FROM v1
      |       WHERE NOT COALESCE(cents % 97 = 0, FALSE)),
      |-- v3 MERGE: matched = v2 rows with b IN (3,5); scents = the ORIGINAL
      |-- cents of that event (the source derives from ev, not v2)
      |mu AS (SELECT v2.event_id, v2.cents + ev.cents AS cents FROM v2
      |       JOIN ev ON v2.event_id = ev.event_id
      |       WHERE v2.b IN (3,5) AND COALESCE(ev.cents % 2 = 0, FALSE)),
      |keepr AS (SELECT event_id, cents FROM v2 WHERE b NOT IN (3,5)),
      |ins AS (SELECT ev.event_id, ev.cents + 1 AS cents FROM ev
      |        WHERE ev.b IN (3,5)
      |          AND ev.event_id NOT IN (SELECT event_id FROM v2)),
      |v3 AS (SELECT * FROM mu UNION ALL SELECT * FROM keepr
      |       UNION ALL SELECT * FROM ins)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents FROM ev
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM v1
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM v2
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(cents) AS BIGINT) FROM v3
      |UNION ALL
      |SELECT 4, count(*), CAST(sum(cents) AS BIGINT) FROM v3
      |""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_jdbc_roundtrip" -> jdbcRoundtrip _,
    "q_orc_roundtrip" -> orcRoundtrip _,
    "q_jsonl_roundtrip" -> jsonlRoundtrip _,
    "q_kafka_roundtrip" -> kafkaRoundtrip _,
    "q_avro_roundtrip" -> avroRoundtrip _,
    "q_xml_roundtrip" -> xmlRoundtrip _,
    "q_txn_time_travel" -> txnTimeTravel _,
    "q_txn_merge" -> txnMerge _,
    "q_txn_delete" -> txnDelete _,
    "q_txn_skip" -> txnSkip _,
    "q_txn_cdf" -> txnCdf _,
    "q_txn_cdf_inc" -> txnCdfInc _,
    "q_txn_partition" -> txnPartition _,
    "q_txn_merge_part" -> txnMergePart _,
    "q_txn_delete_part" -> txnDeletePart _,
    "q_txn_evolve" -> txnEvolve _,
    "q_txn_bloom" -> txnBloom _,
    "q_txn_restore" -> txnRestore _,
    "q_txn_clone" -> txnClone _,
    "q_txn_dv" -> txnDv _,
    "q_txn_rename" -> txnRename _,
    "q_txn_clone_part" -> txnClonePart _,
    "q_txn_merge_dv" -> txnMergeDv _,
    "q_txn_widen" -> txnWiden _,
    "q_txn_update" -> txnUpdate _,
    "q_txn_cluster" -> txnCluster _,
    "q_txn_generated" -> txnGenerated _,
    "q_txn_rowids" -> txnRowIds _,
    "q_txn_sql_read" -> txnSqlRead _,
    "q_txn_merge_multi" -> txnMergeMulti _,
    "q_txn_sql_dml" -> txnSqlDml _,
    "q_txn_sql_types" -> txnSqlTypes _,
    "q_txn_sql_cdf" -> txnSqlCdf _,
    "q_txn_merge_evolve" -> txnMergeEvolve _,
    "q_txn_drop" -> txnDrop _,
    "q_txn_sql_embed" -> txnSqlEmbed _,
  )
  val oracleSql: Map[String, String] = Map(
    "q_jdbc_roundtrip" -> jdbcRoundtripSql,
    "q_orc_roundtrip" -> orcRoundtripSql,
    "q_jsonl_roundtrip" -> jsonlRoundtripSql,
    "q_kafka_roundtrip" -> kafkaRoundtripSql,
    "q_avro_roundtrip" -> avroRoundtripSql,
    "q_xml_roundtrip" -> xmlRoundtripSql,
    "q_txn_time_travel" -> txnTimeTravelSql,
    "q_txn_merge" -> txnMergeSql,
    "q_txn_delete" -> txnDeleteSql,
    "q_txn_skip" -> txnSkipSql,
    "q_txn_cdf" -> txnCdfSql,
    "q_txn_cdf_inc" -> txnCdfIncSql,
    "q_txn_partition" -> txnPartitionSql,
    "q_txn_merge_part" -> txnMergePartSql,
    "q_txn_delete_part" -> txnDeletePartSql,
    "q_txn_evolve" -> txnEvolveSql,
    "q_txn_bloom" -> txnBloomSql,
    "q_txn_restore" -> txnRestoreSql,
    "q_txn_clone" -> txnCloneSql,
    "q_txn_dv" -> txnDvSql,
    "q_txn_rename" -> txnRenameSql,
    "q_txn_clone_part" -> txnClonePartSql,
    "q_txn_merge_dv" -> txnMergeDvSql,
    "q_txn_widen" -> txnWidenSql,
    "q_txn_update" -> txnUpdateSql,
    "q_txn_cluster" -> txnClusterSql,
    "q_txn_generated" -> txnGeneratedSql,
    "q_txn_rowids" -> txnRowIdsSql,
    "q_txn_sql_read" -> txnSqlReadSql,
    "q_txn_merge_multi" -> txnMergeMultiSql,
    "q_txn_sql_dml" -> txnSqlDmlSql,
    "q_txn_sql_types" -> txnSqlTypesSql,
    "q_txn_sql_cdf" -> txnSqlCdfSql,
    "q_txn_merge_evolve" -> txnMergeEvolveSql,
    "q_txn_drop" -> txnDropSql,
    "q_txn_sql_embed" -> txnSqlEmbedSql,
  )
}
