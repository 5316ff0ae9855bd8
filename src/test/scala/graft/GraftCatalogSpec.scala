package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftCatalog, TxnTable}

/** The DSv2 TableCatalog SQL surface over TxnTable: SELECT with VERSION /
  * TIMESTAMP AS OF, data skipping surviving the catalog path (the plan
  * gate), column pruning, deletion vectors, column mapping + widening
  * through SQL, INSERT INTO/OVERWRITE, CREATE TABLE/CTAS, ALTER TABLE. */
class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  private def mount(name: String): String = {
    val root = Files.createTempDirectory(s"graft_cat_$name").toString
    spark.conf.set(s"graft.catalog.path.$name", root)
    root
  }

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload")
  }

  test("SQL SELECT serves the latest snapshot and VERSION AS OF time travel") {
    val root = mount("tt")
    TxnTable.append(df(1 to 100), root)                    // v0
    TxnTable.delete(spark, root, col("id") > 50L)          // v1
    TxnTable.append(df(200 to 210), root)                  // v2
    assert(spark.sql("SELECT count(*) AS n FROM graft.tt").head.getLong(0) == 61L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.tt VERSION AS OF 0").head.getLong(0) == 100L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.tt VERSION AS OF 1").head.getLong(0) == 50L)
    assert(spark.sql("SELECT sum(id) AS s FROM graft.tt VERSION AS OF 2").head.getLong(0) ==
      (1L to 50L).sum + (200L to 210L).sum)
    // values and strings round-trip
    val r = spark.sql("SELECT payload FROM graft.tt WHERE id = 7").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("v7"))
  }

  test("TIMESTAMP AS OF resolves to the newest commit at or before") {
    val root = mount("ts")
    TxnTable.append(df(1 to 10), root)
    val afterV0 = System.currentTimeMillis() + 1000
    val tsLit = new java.sql.Timestamp(afterV0).toInstant.toString
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.ts TIMESTAMP AS OF '$tsLit'")
      .head.getLong(0) == 10L)
  }

  test("plan gate: data skipping survives the catalog path") {
    val root = mount("skip")
    // range-clustered files give disjoint min/max: a selective predicate
    // must prune files at PLANNING time, through the catalog
    TxnTable.append(df(1 to 10000).repartitionByRange(8, col("id")), root)
    GraftCatalog.lastScanReport = None
    val n = spark.sql("SELECT count(*) AS n FROM graft.skip WHERE id <= 100")
      .head.getLong(0)
    assert(n == 100L)
    val rep = GraftCatalog.lastScanReport.get
    assert(rep.filesTotal >= 8, rep)
    assert(rep.filesKept < rep.filesTotal,
      s"pushed filter did not prune files: $rep")
    assert(rep.pushed.exists(_.contains("id")), rep)
    // column pruning reaches the scan: count(*) needs no data column...
    // and a 1-column projection projects 1 column
    GraftCatalog.lastScanReport = None
    spark.sql("SELECT payload FROM graft.skip WHERE id = 5").collect()
    val rep2 = GraftCatalog.lastScanReport.get
    assert(rep2.projected.toSet == Set("id", "payload"), rep2)
    GraftCatalog.lastScanReport = None
    assert(spark.sql("SELECT sum(id) AS s FROM graft.skip").head.getLong(0) ==
      (1L to 10000L).sum)
    assert(GraftCatalog.lastScanReport.get.projected.toSeq == Seq("id"))
    // explain carries the pruning evidence for a human reader
    val plan = spark.sql("SELECT id FROM graft.skip WHERE id <= 100")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters="), plan)
  }

  test("deletion vectors apply inside the catalog scan") {
    val root = mount("dv")
    TxnTable.append(df(1 to 100).repartition(3), root)
    TxnTable.deleteDv(spark, root, col("id") % 10L === 0L)
    import spark.implicits._
    val got = spark.sql("SELECT id FROM graft.dv").as[Long].collect().sorted
    assert(got.toSeq == (1L to 100L).filterNot(_ % 10 == 0))
    // time travel below the DV commit restores the rows
    assert(spark.sql("SELECT count(*) AS n FROM graft.dv VERSION AS OF 0")
      .head.getLong(0) == 100L)
  }

  test("column mapping + type widening read seamlessly through SQL") {
    val root = mount("map")
    import spark.implicits._
    TxnTable.append((1 to 50).map(i => (i.toLong, i * 100))
      .toDF("id", "cents_int"), root)                        // v0 (int col)
    TxnTable.widenColumn(spark, root, "cents_int", org.apache.spark.sql.types.LongType)
    TxnTable.renameColumn(spark, root, "cents_int", "amount") // now mapped
    TxnTable.append((51 to 60).map(i => (i.toLong, i * 100L))
      .toDF("id", "amount"), root)
    val s = spark.sql("SELECT sum(amount) AS s FROM graft.map").head.getLong(0)
    assert(s == (1 to 60).map(_ * 100L).sum)
    // stats pruning through the PHYSICAL name on a renamed column
    GraftCatalog.lastScanReport = None
    spark.sql("SELECT id FROM graft.map WHERE amount > 5500").collect()
    val rep = GraftCatalog.lastScanReport.get
    assert(rep.filesKept < rep.filesTotal, s"rename broke stats pruning: $rep")
  }

  test("INSERT INTO appends one commit; INSERT OVERWRITE replaces") {
    val root = mount("ins")
    TxnTable.append(df(1 to 10), root)
    spark.sql("INSERT INTO graft.ins SELECT CAST(100 AS BIGINT), 'x'")
    assert(TxnTable.latestVersion(root) == 1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.ins").head.getLong(0) == 11L)
    spark.sql("INSERT OVERWRITE graft.ins SELECT CAST(id AS BIGINT), payload " +
      "FROM graft.ins WHERE id <= 3")
    assert(spark.sql("SELECT count(*) AS n FROM graft.ins").head.getLong(0) == 3L)
    // history intact: the pre-overwrite snapshot still reads
    assert(spark.sql("SELECT count(*) AS n FROM graft.ins VERSION AS OF 1")
      .head.getLong(0) == 11L)
  }

  test("INSERT column lists and static PARTITION clauses align by name") {
    mount("insv")
    spark.sql("CREATE TABLE graft.insv (id BIGINT, v BIGINT, grp STRING) " +
      "PARTITIONED BY (grp)")
    // reordered column list: values must land by NAME, not position
    spark.sql("INSERT INTO graft.insv (grp, id, v) VALUES ('a', 1, 10), ('b', 2, 20)")
    // static partition value + partial column list
    spark.sql("INSERT INTO graft.insv PARTITION (grp = 'c') (id, v) VALUES (3, 30)")
    // unnamed nullable columns fill with null
    spark.sql("INSERT INTO graft.insv (id, grp) VALUES (4, 'd')")
    val got = spark.sql("SELECT id, v, grp FROM graft.insv ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 10L, "a"), (2L, 20L, "b"),
      (3L, 30L, "c"), (4L, -1L, "d")), got.toSeq)
  }

  test("CREATE TABLE + CTAS through the catalog") {
    val root = mount("ct")
    spark.sql("CREATE TABLE graft.ct (id BIGINT, payload STRING) USING graft")
    assert(TxnTable.latestVersion(root) == 0L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.ct").head.getLong(0) == 0L)
    spark.sql("INSERT INTO graft.ct VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT count(*) AS n FROM graft.ct").head.getLong(0) == 2L)
    mount("ct2")
    spark.sql("CREATE TABLE graft.ct2 USING graft AS SELECT * FROM graft.ct")
    assert(spark.sql("SELECT count(*) AS n FROM graft.ct2").head.getLong(0) == 2L)
  }

  test("ALTER TABLE RENAME / ALTER TYPE / DROP COLUMN are metadata-only SQL") {
    val root = mount("alt")
    import spark.implicits._
    TxnTable.append((1 to 20).map(i => (i.toLong, i * 10, s"p$i"))
      .toDF("id", "cents", "payload"), root)
    val dataBefore = FsTest.walk(java.nio.file.Paths.get(root, "data"))
      .iterator()
    val nFiles = {
      var n = 0; while (dataBefore.hasNext) { dataBefore.next(); n += 1 }; n
    }
    spark.sql("ALTER TABLE graft.alt RENAME COLUMN cents TO amount")
    spark.sql("ALTER TABLE graft.alt ALTER COLUMN amount TYPE BIGINT")
    spark.sql("ALTER TABLE graft.alt DROP COLUMN payload")
    val after = FsTest.walk(java.nio.file.Paths.get(root, "data")).iterator()
    var n2 = 0; while (after.hasNext) { after.next(); n2 += 1 }
    assert(n2 == nFiles, "ALTERs must not touch data files")
    assert(spark.sql("SELECT * FROM graft.alt").columns.toSeq == Seq("id", "amount"))
    assert(spark.sql("SELECT sum(amount) AS s FROM graft.alt").head.getLong(0) ==
      (1 to 20).map(_ * 10L).sum)
    // time travel below the drop restores the column
    assert(spark.sql("SELECT * FROM graft.alt VERSION AS OF 0").columns.toSeq ==
      Seq("id", "cents", "payload"))
  }

  test("ALTER TABLE ADD COLUMN is metadata-only; existing rows read null") {
    val root = mount("addc")
    import spark.implicits._
    TxnTable.append((1 to 5).map(i => Tuple1(i.toLong)).toDF("id"), root)
    spark.sql("ALTER TABLE graft.addc ADD COLUMN note STRING")
    assert(TxnTable.latestVersion(root) == 1L)
    val rows = spark.sql("SELECT id, note FROM graft.addc").collect()
    assert(rows.length == 5 && rows.forall(_.isNullAt(1)))
    spark.sql("INSERT INTO graft.addc VALUES (6, 'hello')")
    assert(spark.sql("SELECT note FROM graft.addc WHERE id = 6")
      .head.getString(0) == "hello")
    // drop + ADD COLUMN of the same name: fresh physical identity
    spark.sql("ALTER TABLE graft.addc DROP COLUMN note")
    spark.sql("ALTER TABLE graft.addc ADD COLUMN note STRING")
    assert(spark.sql("SELECT note FROM graft.addc WHERE id = 6").head.isNullAt(0),
      "dropped bytes leaked into the re-added column")
  }

  test("drop + re-add: old bytes never leak into the re-added column") {
    val root = mount("readd")
    import spark.implicits._
    TxnTable.append((1 to 10).map(i => (i.toLong, s"secret$i"))
      .toDF("id", "payload"), root)                       // v0
    TxnTable.dropColumn(spark, root, "payload")           // v1
    // re-add the same logical name: fresh physical name, so v0's files
    // must read NULL for it, not the old strings
    TxnTable.appendEvolve((11 to 12).map(i => (i.toLong, s"fresh$i"))
      .toDF("id", "payload"), root)                       // v2
    val rows = spark.sql("SELECT id, payload FROM graft.readd ORDER BY id")
      .collect()
    assert(rows.length == 12)
    assert(rows.filter(_.getLong(0) <= 10).forall(_.isNullAt(1)),
      "dropped bytes leaked into the re-added column")
    assert(rows.filter(_.getLong(0) >= 11).map(_.getString(1)).toSeq ==
      Seq("fresh11", "fresh12"))
    // and the API read agrees
    val api = TxnTable.read(spark, root).orderBy("id").collect()
    assert(api.filter(_.getLong(0) <= 10).forall(_.isNullAt(1)))
  }

  test("partitioned tables: partition pruning through the catalog") {
    val root = mount("part")
    import spark.implicits._
    val d = (1 to 300).map(i => (i.toLong, s"s${i % 3}", i * 2L))
      .toDF("id", "source", "bytes")
    TxnTable.appendPartitioned(d, root, Seq("source"))
    GraftCatalog.lastScanReport = None
    val got = spark.sql(
      "SELECT count(*) AS n, sum(bytes) AS b FROM graft.part WHERE source = 's1'")
      .head
    assert(got.getLong(0) == 100L)
    assert(got.getLong(1) == (1 to 300).filter(_ % 3 == 1).map(_ * 2L).sum)
    val rep = GraftCatalog.lastScanReport.get
    assert(rep.filesKept < rep.filesTotal, s"partition pruning lost: $rep")
  }

  test("readStream.table tails the commit log through the catalog") {
    val root = mount("tail")
    import spark.implicits._
    TxnTable.append((1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "payload"), root)
    val out = Files.createTempDirectory("tail_out").toString
    val ckpt = Files.createTempDirectory("tail_ckpt").toString
    val q = spark.readStream.table("graft.tail")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    TxnTable.append(Seq((6L, "v6")).toDF("id", "payload"), root)
    val q2 = spark.readStream.table("graft.tail")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    val got = spark.read.parquet(out).as[(Long, String)].collect().sorted
    assert(got.toSeq == (1 to 6).map(i => (i.toLong, s"v$i")),
      "the second batch must deliver exactly the new commit (exactly-once tail)")
  }

  test("readStream.table honors startingVersion + maxVersionsPerBatch; " +
    "__changes streams the change feed") {
    import spark.implicits._
    val root = mount("tailopt")
    for (k <- 0 until 4)
      TxnTable.append((k * 10 + 1 to k * 10 + 5).map(i => (i.toLong, s"v$i"))
        .toDF("id", "payload").coalesce(1), root) // v0..v3, 5 rows each
    // bounded backfill through the table name: <=2 versions (10 rows) per
    // micro-batch — parity with format("txn-tail").option(...)
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.option("maxVersionsPerBatch", "2")
      .table("graft.tailopt")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes += b.count(); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val nonEmpty = batchSizes.filter(_ > 0)
    assert(nonEmpty.sum == 20L, batchSizes)
    assert(nonEmpty.size >= 2 && nonEmpty.forall(_ <= 10L),
      s"4 versions at <=2 per batch must arrive in bounded steps: $batchSizes")
    // startingVersion skips history
    val q2 = spark.readStream.option("startingVersion", "3").table("graft.tailopt")
      .writeStream.format("memory").queryName("cat_tailopt").start()
    try {
      q2.processAllAvailable()
      val ids = spark.table("cat_tailopt").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (31L to 35L), ids)
    } finally q2.stop()
    // the change-feed table name: schema + _change_type + _commit_version
    TxnTable.delete(spark, root, col("id") === 1L, cdf = true) // v4
    val q3 = spark.readStream.option("startingVersion", "3")
      .table("graft.tailopt__changes")
      .writeStream.format("memory").queryName("cat_tailcdf").start()
    try {
      q3.processAllAvailable()
      val rows = spark.table("cat_tailcdf").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
        .sortBy(t => (t._3, t._1)).toSeq
      assert(rows == (31L to 35L).map(i => (i, "insert", 3L)) :+
        ((1L, "delete", 4L)), rows)
    } finally q3.stop()
    // batch SQL over the same table name = table_changes (full history)
    val batch = spark.sql("SELECT _commit_version, _change_type, count(*) AS n " +
      "FROM graft.tailopt__changes GROUP BY 1, 2 ORDER BY 1, 2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(batch == (0L to 3L).map(v => (v, "insert", 5L)) :+
      ((4L, "delete", 1L)), batch)
    // ...and read options bound the version range
    val ranged = spark.read.option("startingVersion", "4")
      .table("graft.tailopt__changes").collect()
    assert(ranged.length == 1 && ranged.head.getString(2) == "delete")
    // writes are refused on the change-feed table
    val e = intercept[Throwable] {
      spark.sql("INSERT INTO graft.tailopt__changes VALUES " +
        "(1, 'x', 'insert', 99)")
    }
    assert(e.getMessage != null)
  }

  test("runtime filtering: a selective broadcast join prunes partitions " +
    "the static plan could not") {
    val root = mount("dpp")
    import spark.implicits._
    // fact: 8 hive partitions through the catalog
    val fact = (1 to 4000).map(i => (i.toLong, i * 3L, s"p${i % 8}"))
      .toDF("id", "v", "grp")
    TxnTable.appendPartitioned(fact, root, Seq("grp"))
    // dim: only 2 of the 8 groups survive its filter. A real TABLE (not a
    // local view, which constant-folds away) so the planner sees a build
    // side worth deriving a runtime filter from.
    mount("dpp_dim")
    TxnTable.append((0 to 7).map(i => (s"p$i", if (i < 2) "keep" else "drop"))
      .toDF("dgrp", "flag"), spark.conf.get("graft.catalog.path.dpp_dim"))
    GraftCatalog.lastScanReport = None
    val got = spark.sql(
      """SELECT count(*) AS n, sum(v) AS s
        |FROM graft.dpp f JOIN graft.dpp_dim d ON f.grp = d.dgrp
        |WHERE d.flag = 'keep'""".stripMargin).head
    assert(got.getLong(0) == (1 to 4000).count(i => i % 8 < 2))
    assert(got.getLong(1) == (1 to 4000).filter(_ % 8 < 2).map(_ * 3L).sum)
    val rep = GraftCatalog.lastScanReport.get
    // no static filter touches the fact — only the runtime IN-set from
    // the broadcast build side can have pruned its partitions
    assert(rep.pushed.exists(_.toLowerCase.contains("in")), rep)
    assert(rep.filesKept < rep.filesTotal,
      s"runtime filter did not prune partitions: $rep")
  }

  test("atomic CTAS: commit promotes whole; a failed CTAS leaves no table; " +
    "REPLACE swaps") {
    import scala.jdk.CollectionConverters._
    mount("ctas")
    spark.range(10).selectExpr("id", "id * 2 AS v")
      .createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE graft.ctas AS SELECT * FROM ctas_src")
    assert(spark.sql("SELECT count(*) AS n, sum(v) AS s FROM graft.ctas").head
      .getLong(1) == 90L)
    // a CTAS whose query fails must leave NO table and NO staging dir
    val r2 = mount("ctas2")
    val e = intercept[Throwable] {
      spark.sql("CREATE TABLE graft.ctas2 AS " +
        "SELECT id, CAST(raise_error('boom') AS STRING) AS x FROM ctas_src")
    }
    assert(e.getMessage != null)
    val e2 = intercept[Throwable] { spark.sql("SELECT * FROM graft.ctas2").collect() }
    assert(e2.getMessage.toLowerCase.contains("table"), e2.getMessage)
    val parent = java.nio.file.Paths.get(r2).toAbsolutePath.getParent
    assert(!FsTest.list(parent).iterator().asScala
      .exists(_.getFileName.toString.contains("__stage-")),
      "aborted CTAS left a staging directory")
    // RTAS: old table swaps out atomically (bytes preserved aside)
    spark.sql("REPLACE TABLE graft.ctas AS SELECT id FROM ctas_src WHERE id < 3")
    assert(spark.sql("SELECT * FROM graft.ctas").columns.toSeq == Seq("id"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.ctas").head.getLong(0) == 3L)
    // partitioned CTAS stages the hive layout from birth
    val r3 = mount("ctas3")
    spark.sql("CREATE TABLE graft.ctas3 PARTITIONED BY (grp) AS " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END AS grp FROM ctas_src")
    GraftCatalog.lastScanReport = None
    assert(spark.sql("SELECT count(*) AS n FROM graft.ctas3 WHERE grp = 'e'")
      .head.getLong(0) == 5L)
    val rep3 = GraftCatalog.lastScanReport.get
    assert(rep3.filesKept < rep3.filesTotal, s"partition pruning after CTAS: $rep3")
    assert(FsTest.walk(java.nio.file.Paths.get(r3)).iterator().asScala
      .exists(_.toString.contains("grp=e")), "hive layout missing")
  }

  test("DROP TABLE: refused by default; tombstones metadata only; name " +
    "reclaimable") {
    import scala.jdk.CollectionConverters._
    val root = mount("dropt")
    TxnTable.append(df(1 to 5), root)
    val e = intercept[Throwable] { spark.sql("DROP TABLE graft.dropt") }
    assert(e.getMessage.contains("allowDrop"), e.getMessage)
    spark.conf.set("graft.catalog.allowDrop", "true")
    try {
      spark.sql("DROP TABLE graft.dropt")
      val e2 = intercept[Throwable] { spark.sql("SELECT * FROM graft.dropt").collect() }
      assert(e2.getMessage.toLowerCase.contains("table"), e2.getMessage)
      // not one data byte deleted: the parquet files and the tombstoned
      // log are still on disk
      val files = FsTest.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .map(_.toString).toSeq
      assert(files.exists(_.endsWith(".parquet")), "data files were deleted")
      assert(files.exists(_.contains("_delta_log.dropped-")), files.take(5))
      // drop + re-create round-trips
      spark.sql("CREATE TABLE graft.dropt (id BIGINT, payload STRING)")
      spark.sql("INSERT INTO graft.dropt VALUES (9, 'x')")
      assert(spark.sql("SELECT id FROM graft.dropt").head.getLong(0) == 9L)
    } finally spark.conf.unset("graft.catalog.allowDrop")
  }

  test("type matrix: decimal/date/timestamp round-trip; temporal + decimal " +
    "partition skipping") {
    import spark.implicits._
    val root = mount("types")
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val d = (0 until 960).map { i =>
      (i.toLong,
        java.sql.Timestamp.from(base.plusSeconds(i * 3600L)),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i / 24)),
        new java.math.BigDecimal(s"$i.25"),
        new java.math.BigDecimal(if (i % 2 == 0) "0.5" else "1.5"))
    }.toDF("id", "ts", "t_day", "amt", "pb")
      .withColumn("amt", col("amt").cast("decimal(10,2)"))
      .withColumn("pb", col("pb").cast("decimal(3,1)"))
      // wall-clock twin of ts — TIMESTAMP_NTZ writes µs with
      // isAdjustedToUTC=false and must round-trip both readers
      .withColumn("ts_ntz", col("ts").cast("timestamp_ntz"))
    TxnTable.appendPartitioned(
      d.repartitionByRange(8, col("ts")), root, Seq("pb"))
    // values round-trip exactly through the DSv2 reader
    val row = spark.sql(
      "SELECT ts, t_day, amt, pb, ts_ntz FROM graft.types WHERE id = 25").head
    assert(row.getTimestamp(0).toInstant == base.plusSeconds(25 * 3600L))
    assert(row.getDate(1).toString == "2024-03-02")
    assert(row.getDecimal(2) == new java.math.BigDecimal("25.25"))
    assert(row.getDecimal(3) == new java.math.BigDecimal("1.5").setScale(1))
    // session tz is UTC, so the NTZ wall clock equals the instant's
    assert(row.getAs[java.time.LocalDateTime](4) ==
      java.time.LocalDateTime.ofInstant(base.plusSeconds(25 * 3600L),
        java.time.ZoneOffset.UTC))
    // decimal aggregation is exact (sum of i.25 over all i)
    val sum = spark.sql("SELECT sum(amt) AS s FROM graft.types").head.getDecimal(0)
    assert(sum.compareTo(new java.math.BigDecimal((0 until 960).map(i => i * 100L + 25L).sum)
      .movePointLeft(2)) == 0, sum)
    // timestamp-predicate FILE skipping: range-clustered on ts, a late
    // cutoff must drop most files at planning time
    GraftCatalog.lastScanReport = None
    val late = spark.sql("SELECT count(*) AS n FROM graft.types " +
      "WHERE ts >= TIMESTAMP'2024-04-07 12:00:00'").head.getLong(0)
    assert(late == (0 until 960).count(i =>
      !base.plusSeconds(i * 3600L).isBefore(java.time.Instant.parse("2024-04-07T12:00:00Z"))))
    val rep = GraftCatalog.lastScanReport.get
    assert(rep.filesTotal >= 8, rep)
    assert(rep.filesKept * 2 < rep.filesTotal,
      s"timestamp predicate did not skip files: $rep")
    // decimal PARTITION pruning through the hive path encoding
    GraftCatalog.lastScanReport = None
    val even = spark.sql("SELECT count(*) AS n FROM graft.types " +
      "WHERE pb = CAST(0.5 AS DECIMAL(3,1))").head.getLong(0)
    assert(even == 480L)
    val rep2 = GraftCatalog.lastScanReport.get
    assert(rep2.filesKept * 2 <= rep2.filesTotal,
      s"decimal partition value did not prune: $rep2")
    // date predicate skipping rides the same engine
    GraftCatalog.lastScanReport = None
    assert(spark.sql("SELECT count(*) AS n FROM graft.types " +
      "WHERE t_day = DATE'2024-03-02'").head.getLong(0) == 24L)
    assert(GraftCatalog.lastScanReport.get.filesKept <
      GraftCatalog.lastScanReport.get.filesTotal)
  }

  test("decimal widening (precision + scale) reads exactly on both paths") {
    import spark.implicits._
    val root = mount("decw")
    val d = (1 to 40).map(i => (i.toLong, new java.math.BigDecimal(s"$i.25")))
      .toDF("id", "amt").withColumn("amt", col("amt").cast("decimal(10,2)"))
    TxnTable.append(d.coalesce(1), root)
    TxnTable.widenColumn(spark, root, "amt",
      org.apache.spark.sql.types.DecimalType(14, 4))
    TxnTable.append((41 to 45).map(i => (i.toLong, new java.math.BigDecimal(s"$i.1234")))
      .toDF("id", "amt").withColumn("amt", col("amt").cast("decimal(14,4)"))
      .coalesce(1), root)
    def readAll(): Map[Long, java.math.BigDecimal] =
      spark.sql("SELECT id, amt FROM graft.decw").collect()
        .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val vec = readAll()
    assert(vec(7L).compareTo(new java.math.BigDecimal("7.25")) == 0, vec(7L))
    assert(vec(43L).compareTo(new java.math.BigDecimal("43.1234")) == 0)
    assert(spark.sql("SELECT CAST(sum(amt) * 10000 AS BIGINT) AS s FROM graft.decw")
      .head.getLong(0) ==
      (1 to 40).map(i => i * 10000L + 2500L).sum + (41 to 45).map(i => i * 10000L + 1234L).sum)
    // the row fallback decodes the same values
    spark.conf.set("graft.catalog.vectorized", "false")
    try assert(readAll() == vec)
    finally spark.conf.unset("graft.catalog.vectorized")
  }

  test("legacy INT96 timestamps read correctly through the catalog") {
    import spark.implicits._
    val root = mount("i96")
    val base = java.time.Instant.parse("2023-06-15T08:30:00Z")
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try TxnTable.append((0 until 50).map(i =>
        (i.toLong, java.sql.Timestamp.from(base.plusSeconds(i * 60L))))
        .toDF("id", "ts"), root)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val got = spark.sql("SELECT ts FROM graft.i96 WHERE id = 7").head.getTimestamp(0)
    assert(got.toInstant == base.plusSeconds(7 * 60L))
    assert(spark.sql("SELECT count(DISTINCT ts) AS n FROM graft.i96")
      .head.getLong(0) == 50L)
  }

  test("nested-type tables are refused at resolution, with a clear error") {
    val root = mount("nested")
    TxnTable.append(spark.range(3).select(col("id"),
      struct(col("id").as("a")).as("st")), root)
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val e = intercept[Throwable] { spark.sql("SELECT id FROM graft.nested").collect() }
    assert(chain(e).exists(_.contains("does not serve")), chain(e).mkString(" | "))
    val e2 = intercept[Throwable] {
      mount("nested2")
      spark.sql("CREATE TABLE graft.nested2 (id BIGINT, m MAP<STRING,STRING>)")
    }
    assert(chain(e2).exists(_.contains("does not serve")), chain(e2).mkString(" | "))
    // one level of ARRAY is in-matrix; ARRAY<ARRAY<...>> is not
    val e3 = intercept[Throwable] {
      mount("nested3")
      spark.sql("CREATE TABLE graft.nested3 (id BIGINT, aa ARRAY<ARRAY<FLOAT>>)")
    }
    assert(chain(e3).exists(_.contains("does not serve")), chain(e3).mkString(" | "))
  }

  test("ARRAY columns: vectorized scan, DV row path, debug row path, and " +
    "null arrays/elements all round-trip") {
    val root = mount("arr")
    import spark.implicits._
    // embeddings-shaped data: ARRAY<FLOAT> vectors (some null), plus an
    // ARRAY<STRING> with null ELEMENTS — the two null axes are distinct
    val rows = (1 to 100).map { i =>
      (i.toLong,
        if (i % 17 == 0) null else (0 until 4).map(j => (i * 10 + j).toFloat),
        Seq(s"t$i", null, "x"))
    }
    TxnTable.append(rows.toDF("id", "vec", "tags").repartition(3), root)
    def vecSum(extra: String = ""): Long = spark.sql(
      "SELECT CAST(sum(aggregate(vec, 0D, (a, v) -> a + CAST(v AS DOUBLE))) " +
        s"AS BIGINT) AS s FROM graft.arr $extra").head.getLong(0)
    def expect(ids: Seq[Int]): Long =
      ids.filterNot(_ % 17 == 0).map(i => 40L * i + 6L).sum
    // vectorized path (no DVs)
    assert(vecSum() == expect(1 to 100))
    // null-array and null-element axes
    assert(spark.sql("SELECT count(*) AS n FROM graft.arr WHERE vec IS NULL")
      .head.getLong(0) == (1 to 100).count(_ % 17 == 0).toLong)
    val tags = spark.sql("SELECT tags FROM graft.arr WHERE id = 7")
      .head.getSeq[String](0)
    assert(tags == Seq("t7", null, "x"))
    // array functions compose in SQL (size / element_at / explode)
    assert(spark.sql(
      "SELECT CAST(sum(size(vec)) AS BIGINT) AS s FROM graft.arr WHERE vec IS NOT NULL")
      .head.getLong(0) == (1 to 100).count(_ % 17 != 0).toLong * 4)
    assert(spark.sql(
      "SELECT CAST(element_at(vec, 1) AS BIGINT) AS v FROM graft.arr WHERE id = 3")
      .head.getLong(0) == 30L)
    // DV commit forces the ROW reader — arrays must decode there too
    TxnTable.deleteDv(spark, root, col("id") <= 50L)
    assert(vecSum() == expect(51 to 100))
    assert(spark.sql("SELECT tags FROM graft.arr WHERE id = 51")
      .head.getSeq[String](0) == Seq("t51", null, "x"))
    // debug row path over the DV-free history version
    spark.conf.set("graft.catalog.vectorized", "false")
    try assert(vecSum("VERSION AS OF 0") == expect(1 to 100))
    finally spark.conf.unset("graft.catalog.vectorized")
    // INSERT INTO with an array-typed query lands as a commit
    spark.sql("INSERT INTO graft.arr SELECT 1000L AS id, " +
      "array(CAST(1.5 AS FLOAT), CAST(2.5 AS FLOAT)) AS vec, " +
      "array('a', 'b') AS tags")
    assert(spark.sql(
      "SELECT CAST(aggregate(vec, 0D, (a, v) -> a + CAST(v AS DOUBLE)) AS BIGINT) " +
        "AS s FROM graft.arr WHERE id = 1000").head.getLong(0) == 4L)
  }

  test("vectorized scan: columnar batches, row-group splits fan out, and " +
    "throughput stays near the native reader") {
    val root = mount("vec")
    TxnTable.append(spark.range(0, 2000000)
      .selectExpr("id", "id * 3 AS v", "CAST(id % 97 AS DOUBLE) AS d")
      .coalesce(1), root) // ONE big file
    // columnar proof: the FINAL plan reads batches (ColumnarToRow above
    // the scan; AQE only inserts the transition once stages materialize)
    val q0 = spark.sql("SELECT sum(v) AS s FROM graft.vec")
    q0.collect()
    val plan = q0.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    // one huge file != one task: byte-range splits at maxPartitionBytes
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (1L << 20).toString)
    try {
      val parts = spark.sql("SELECT v FROM graft.vec").rdd.getNumPartitions
      assert(parts > 1, s"a single large file must split across tasks, got $parts")
      assert(spark.sql("SELECT sum(v) AS s, count(*) AS n FROM graft.vec").head
        .getLong(1) == 2000000L, "splits must cover every row exactly once")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
    // micro-bench: catalog scan vs the native snapshot read, same work.
    // Bound is deliberately loose for CI noise; the measured ratio prints.
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val cat = (1 to 3).map(_ =>
      time(spark.sql("SELECT sum(v) AS s, sum(d) AS t FROM graft.vec").collect())).min
    val nat = (1 to 3).map(_ =>
      time(TxnTable.read(spark, root).selectExpr("sum(v) AS s", "sum(d) AS t")
        .collect())).min
    info(f"catalog $cat%.3f s vs native $nat%.3f s (${cat / nat}%.2fx)")
    assert(cat <= nat * 1.5 + 0.3,
      f"catalog scan fell behind the native reader: $cat%.3f vs $nat%.3f s")
    // the row fallback stays available for debugging and DV scans
    spark.conf.set("graft.catalog.vectorized", "false")
    try assert(spark.sql("SELECT count(*) AS n FROM graft.vec").head.getLong(0) ==
      2000000L)
    finally spark.conf.unset("graft.catalog.vectorized")
  }

  test("REPLACE crash window: a reader completes the swap from the intent " +
    "marker; a consumed staging restores the predecessor") {
    import java.nio.file.{Files => JF, Paths => JP}
    val root = mount("rcw")
    TxnTable.append(df(1 to 10), root) // the predecessor (payload v1..v10)
    // simulate a writer that crashed BETWEEN the two REPLACE moves: the
    // staged successor exists, the marker is durable, the target is gone
    val staging = s"$root.__stage-test1"
    TxnTable.append(df(100 to 120), staging)
    val replaced = s"$root.__replaced-999"
    JF.write(JP.get(graft.sources.GraftCatalog.replaceIntentPath(root)),
      s"""{"staging":"$staging","replaced":"$replaced"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    JF.move(JP.get(root), JP.get(replaced)) // the crash point
    // a plain read finds no table at root — and recovers the swap
    assert(spark.sql("SELECT count(*) AS n FROM graft.rcw").head.getLong(0) == 21L)
    assert(!JF.exists(JP.get(graft.sources.GraftCatalog.replaceIntentPath(root))),
      "marker must clear after recovery")
    assert(JF.exists(JP.get(replaced)), "predecessor tombstone is preserved")
    // crash variant: marker present, staging already consumed → the
    // predecessor restores (availability over the half-finished replace)
    val root2 = mount("rcw2")
    TxnTable.append(df(1 to 5), root2)
    val replaced2 = s"$root2.__replaced-7"
    JF.write(JP.get(graft.sources.GraftCatalog.replaceIntentPath(root2)),
      s"""{"staging":"$root2.__stage-gone","replaced":"$replaced2"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    JF.move(JP.get(root2), JP.get(replaced2))
    assert(spark.sql("SELECT count(*) AS n FROM graft.rcw2").head.getLong(0) == 5L)
  }

  test("DDL is recovery-aware: after a crashed REPLACE, tableExists sees " +
    "the table and CREATE refuses to bury the promotable state") {
    import java.nio.file.{Files => JF, Paths => JP}
    val root = mount("rcw3")
    TxnTable.append(df(1 to 10), root)
    val staging = s"$root.__stage-ddl"
    TxnTable.append(df(100 to 120), staging)
    JF.write(JP.get(graft.sources.GraftCatalog.replaceIntentPath(root)),
      s"""{"staging":"$staging","replaced":"$root.__replaced-1"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    JF.move(JP.get(root), JP.get(s"$root.__replaced-1")) // the crash point
    // BEFORE any SELECT touches the table: existence must not depend on
    // whether a reader happened to run recovery first
    assert(spark.catalog.tableExists("graft.rcw3"),
      "crashed-REPLACE table must still exist to DDL")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.rcw3 (id BIGINT) USING graft")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // and the staged content was promoted, not lost
    assert(spark.sql("SELECT count(*) AS n FROM graft.rcw3").head.getLong(0) == 21L)
  }

  test("VACUUM STAGING reclaims a stale replace-intent marker and tmp " +
    "debris without crashing, sizes captured before deletion") {
    import java.nio.file.{Files => JF, Paths => JP}
    val root = mount("swpm")
    TxnTable.append(df(1 to 5), root) // target RESOLVES → marker is stale
    val marker = JP.get(graft.sources.GraftCatalog.replaceIntentPath(root))
    JF.write(marker, """{"staging":"x","replaced":"y"}""".getBytes)
    val tmp = JP.get(s"$root.__replace-intent.tmp-dead1")
    JF.write(tmp, "debris".getBytes)
    val past = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 3600 * 1000)
    JF.setLastModifiedTime(marker, past)
    JF.setLastModifiedTime(tmp, past)
    val entries = TxnTable.sweepStaging(root,
      System.currentTimeMillis() - 3600 * 1000)
    val byKind = entries.map(e => e.kind -> e).toMap
    assert(byKind("replace-intent").reclaimed && !JF.exists(marker))
    assert(byKind("replace-intent").bytes > 0, "size captured before delete")
    assert(byKind("replace-intent-tmp").reclaimed && !JF.exists(tmp))
    assert(byKind("replace-intent-tmp").bytes == 6L)
  }

  test("ARRAY<DECIMAL> with a wider file scale fails at file-open like " +
    "the flat decimal guard") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_arr_dec")
    spark.sql("SELECT array(CAST(1.23456 AS DECIMAL(10,5))) AS amts")
      .coalesce(1).write.parquet(s"$dir/data")
    val part = FsTest.walk(java.nio.file.Paths.get(s"$dir/data"))
      .iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val requested = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("amts",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DecimalType(10, 2)))))
    val e = intercept[UnsupportedOperationException] {
      new graft.sources.GraftRowReader(graft.sources.GraftInputPartition(
        part.toString, requested.json, Map.empty, null))
    }
    assert(e.getMessage.contains("amts") && e.getMessage.contains("truncate"),
      e.getMessage)
  }

  test("a real table named x__changes wins over the change-feed spelling; " +
    "time travel on a feed name errors clearly") {
    val root = mount("shadow__changes")
    TxnTable.append(df(1 to 7), root)
    // resolves as the REAL table: plain schema, no _change_type
    val t = spark.table("graft.shadow__changes")
    assert(t.columns.toSeq == Seq("id", "payload"))
    assert(t.count() == 7L)
    // the feed spelling still works when no real table claims the name
    val base = mount("shadowbase")
    TxnTable.append(df(1 to 3), base)
    assert(spark.table("graft.shadowbase__changes").columns
      .contains("_change_type"))
    val e = intercept[Throwable] {
      spark.sql("SELECT * FROM graft.shadowbase__changes VERSION AS OF 0").collect()
    }
    def chain(x: Throwable) = Iterator.iterate(x)(_.getCause)
      .takeWhile(_ != null).take(8).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("time travel is not supported on change feeds")),
      chain(e).mkString(" | "))
  }

  test("a foreign file whose decimal scale exceeds the table's fails at " +
    "file-open with full context, never mid-decode") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_narrow_dec")
    // a hand-imported foreign file: DECIMAL(10,5) on disk
    spark.sql("SELECT CAST(1.23456 AS DECIMAL(10,5)) AS amt")
      .coalesce(1).write.parquet(s"$dir/data")
    val part = FsTest.walk(java.nio.file.Paths.get(s"$dir/data"))
      .iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    // the table requests DECIMAL(10,2) — narrower scale: reading would
    // truncate; the row reader must refuse AT OPEN, naming file + column
    val requested = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("amt",
        org.apache.spark.sql.types.DecimalType(10, 2))))
    val e = intercept[UnsupportedOperationException] {
      new graft.sources.GraftRowReader(graft.sources.GraftInputPartition(
        part.toString, requested.json, Map.empty, null))
    }
    assert(e.getMessage.contains("amt") && e.getMessage.contains("truncate"),
      e.getMessage)
    // the exact same file under an EQUAL-OR-WIDER table scale reads fine
    val wide = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("amt",
        org.apache.spark.sql.types.DecimalType(12, 5))))
    val r = new graft.sources.GraftRowReader(graft.sources.GraftInputPartition(
      part.toString, wide.json, Map.empty, null))
    try {
      assert(r.next())
      assert(r.get().getDecimal(0, 12, 5).toString == "1.23456")
    } finally r.close()
  }

  test("CBO: reported column stats turn a selective range filter into a " +
    "broadcast decision the no-stats plan cannot make") {
    val root = mount("cbo")
    // fact side: k is UNCLUSTERED (every file spans k=0..49), so file-level
    // skipping cannot shrink the scan — only value-range ESTIMATION can
    TxnTable.append(spark.range(0, 400000)
      .selectExpr("id", "CAST(id % 50 AS BIGINT) AS k",
        "repeat(uuid(), 2) AS pad")
      .repartition(8), root)
    val rawBytes = spark.table("graft.cbo").queryExecution.optimizedPlan
      .stats.sizeInBytes
    // threshold sits BETWEEN the CBO estimate of the filtered fact side
    // (~24k rows × two longs ≈ 0.6 MB) and both unfiltered estimates
    // (probe: 2M longs = 16 MB; fact: whole-file bytes, ~30 MB) — so only
    // value-range estimation can clear the broadcast bar
    val threshold = BigInt(2L * 1024 * 1024)
    assert(rawBytes > threshold * 4, s"fact estimate $rawBytes must dwarf the threshold")
    def plan(): String = {
      val big = spark.range(0, 2000000).withColumnRenamed("id", "rid")
      val q = spark.sql("SELECT id, k FROM graft.cbo WHERE k <= 2")
        .join(big, col("id") === col("rid"))
      q.queryExecution.executedPlan.toString
    }
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    try {
      // without CBO, the filtered fact side keeps its full scan estimate
      assert(!plan().contains("BroadcastHashJoin"),
        "control: the unfiltered estimate must be too big to broadcast")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try {
        // the optimized plan now carries real attribute stats off the scan
        val st = spark.sql("SELECT id, k FROM graft.cbo")
          .queryExecution.optimizedPlan.stats
        val kStats = st.attributeStats.find(_._1.name == "k").map(_._2)
        assert(kStats.exists(s => s.min.contains(0L) && s.max.contains(49L)),
          s"column stats must surface real min/max, got $kStats")
        // k <= 2 over min 0 / max 49 estimates ~6% → under the threshold
        assert(plan().contains("BroadcastHashJoin"),
          s"CBO + column stats must broadcast the filtered side:\n${plan()}")
      } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
  }

  test("ANALYZE TABLE persists string-column NDV that CBO equality " +
    "estimation needs (footers have no NDV; the integral bound cannot " +
    "cover strings)") {
    val root = mount("anlz")
    TxnTable.append(spark.range(0, 400000)
      .selectExpr("id", "concat('grp-', id % 50) AS s",
        "repeat(uuid(), 2) AS pad")
      .repartition(8), root)
    val threshold = BigInt(2L * 1024 * 1024)
    def plan(): String = {
      val big = spark.range(0, 2000000).withColumnRenamed("id", "rid")
      spark.sql("SELECT id, s FROM graft.anlz WHERE s = 'grp-7'")
        .join(big, col("id") === col("rid"))
        .queryExecution.executedPlan.toString
    }
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      // un-analyzed: no NDV for a string column → equality estimation
      // bails → the filtered side keeps its full-scan size → sort-merge
      assert(!plan().contains("BroadcastHashJoin"),
        "control: without ANALYZE a string equality filter must not shrink the estimate")
      val rep = spark.sql(
        "ANALYZE TABLE graft.anlz COMPUTE STATISTICS FOR COLUMNS s, id")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rep.keySet == Set("s", "id"), rep.toString)
      assert(rep("s") >= 45 && rep("s") <= 55, // HLL++ rsd 0.05 around 50
        s"NDV estimate for 50 distinct groups, got ${rep("s")}")
      // the persisted estimate surfaces through the scan's column stats...
      val st = spark.sql("SELECT id, s FROM graft.anlz")
        .queryExecution.optimizedPlan.stats
      val sNdv = st.attributeStats.find(_._1.name == "s")
        .flatMap(_._2.distinctCount)
      assert(sNdv.exists(n => n.toLong == rep("s")), s"got $sNdv")
      // ...and s = 'grp-7' now estimates ~1/50 → under the broadcast bar
      assert(plan().contains("BroadcastHashJoin"),
        s"CBO + analyzed NDV must broadcast the equality-filtered side:\n${plan()}")
      // the stats survive a fresh analysis-free commit and stay capped:
      // deleting most rows must not leave distinctCount above row count
      TxnTable.delete(spark, root, col("id") >= 10)
      val st2 = spark.sql("SELECT s FROM graft.anlz")
        .queryExecution.optimizedPlan.stats
      val capped = st2.attributeStats.find(_._1.name == "s")
        .flatMap(_._2.distinctCount)
      assert(capped.exists(_.toLong <= 10), s"NDV must cap at live rows, got $capped")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
    }
  }

  test("snapshot statistics: a small catalog table broadcasts") {
    val root = mount("dim")
    TxnTable.append(df(1 to 50), root)
    val big = spark.range(10000).withColumnRenamed("id", "k")
    val j = big.join(spark.sql("SELECT id, payload FROM graft.dim"),
      col("k") === col("id"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(j.count() == 50L)
  }
}
