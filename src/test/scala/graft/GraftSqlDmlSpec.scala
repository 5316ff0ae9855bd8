package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftCatalog, TxnTable}

/** SQL DML on graft-catalog tables: DELETE/UPDATE/MERGE lowering to the
  * TxnTable engines (CoW and merge-on-read via graft.dml.mor), and the
  * OPTIMIZE/VACUUM parser extension. */
class GraftSqlDmlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  private def mount(name: String): String = {
    val root = Files.createTempDirectory(s"graft_dml_$name").toString
    spark.conf.set(s"graft.catalog.path.$name", root)
    root
  }

  private def seed(root: String): Unit = {
    import spark.implicits._
    TxnTable.append((1 to 100).map(i => (i.toLong, i * 10L))
      .toDF("id", "cents").repartition(3), root)
  }

  test("DELETE FROM ... WHERE lowers to one TxnTable commit") {
    val root = mount("del"); seed(root)
    val v = spark.sql("DELETE FROM graft.del WHERE cents > 500").head.getLong(0)
    assert(v == 1L)
    assert(TxnTable.latestVersion(root) == 1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.del").head.getLong(0) == 50L)
    // arbitrary (non-Filter-translatable) predicates work too
    spark.sql("DELETE FROM graft.del WHERE pmod(id, 7) = 0")
    assert(spark.sql("SELECT count(*) AS n FROM graft.del").head.getLong(0) ==
      (1 to 50).count(_ % 7 != 0))
  }

  test("UPDATE ... SET lowers with expression semantics over the old row") {
    val root = mount("upd"); seed(root)
    spark.sql("UPDATE graft.upd SET cents = cents * 2 WHERE id <= 10")
    val got = spark.sql("SELECT sum(cents) AS s FROM graft.upd").head.getLong(0)
    assert(got == (1 to 100).map(_ * 10L).sum + (1 to 10).map(_ * 10L).sum)
    // history intact
    assert(spark.sql("SELECT sum(cents) AS s FROM graft.upd VERSION AS OF 0")
      .head.getLong(0) == (1 to 100).map(_ * 10L).sum)
  }

  test("MERGE INTO with all clause families lowers to mergeMulti") {
    import spark.implicits._
    val root = mount("mrg"); seed(root)
    (95 to 110).map(i => (i.toLong, i * 1000L)).toDF("sid", "sval")
      .createOrReplaceTempView("mm_src")
    spark.sql(
      """MERGE INTO graft.mrg AS t USING mm_src AS s ON t.id = s.sid
        |WHEN MATCHED AND s.sval % 2000 = 0 THEN UPDATE SET cents = s.sval
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.sid <= 105 THEN
        |  INSERT (id, cents) VALUES (s.sid, s.sval + 7)
        |WHEN NOT MATCHED BY SOURCE AND t.id < 5 THEN DELETE
        |""".stripMargin)
    val got = TxnTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // matched 95..100: evens update to sval, odds delete
    assert(got(96L) == 96000L && got(98L) == 98000L && got(100L) == 100000L)
    assert(Seq(95L, 97L, 99L).forall(!got.contains(_)))
    // not matched 101..105 insert (+7), 106..110 no clause
    (101 to 105).foreach(i => assert(got(i.toLong) == i * 1000L + 7))
    (106 to 110).foreach(i => assert(!got.contains(i.toLong)))
    // by source: 1..4 deleted
    (1 to 4).foreach(i => assert(!got.contains(i.toLong)))
    assert(got.size == 100 - 4 - 3 + 5)
  }

  test("graft.dml.mor routes SQL DML through deletion vectors") {
    import scala.jdk.CollectionConverters._
    val root = mount("mor"); seed(root)
    val before = FsTest.walk(java.nio.file.Paths.get(root, "data"))
      .iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    spark.conf.set("graft.dml.mor", "true")
    try {
      spark.sql("DELETE FROM graft.mor WHERE pmod(id, 10) = 0")
      spark.sql("UPDATE graft.mor SET cents = cents + 1 WHERE id = 1")
    } finally spark.conf.unset("graft.dml.mor")
    val after = FsTest.walk(java.nio.file.Paths.get(root, "data"))
      .iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    assert(before.forall { case (p, t) => after.get(p).contains(t) },
      "merge-on-read SQL DML must not rewrite data files")
    assert(TxnTable.liveAddsForTest(root).exists(_.dv.isDefined))
    assert(spark.sql("SELECT count(*) AS n FROM graft.mor").head.getLong(0) == 90L)
    assert(spark.sql("SELECT cents FROM graft.mor WHERE id = 1").head.getLong(0) == 11L)
  }

  test("OPTIMIZE compacts; OPTIMIZE ZORDER BY clusters; VACUUM reclaims") {
    import scala.jdk.CollectionConverters._
    val root = mount("opt")
    import spark.implicits._
    TxnTable.append((1 to 1000).map(i => (i.toLong, i * 10L))
      .toDF("id", "cents").repartition(8), root)
    val v1 = spark.sql("OPTIMIZE graft.opt").head.getLong(0)
    assert(v1 == 1L)
    assert(TxnTable.files(spark, root).count() < 8)
    assert(spark.sql("SELECT sum(cents) AS s FROM graft.opt").head.getLong(0) ==
      (1 to 1000).map(_ * 10L).sum)
    spark.sql("OPTIMIZE graft.opt ZORDER BY (id, cents)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.opt").head.getLong(0) == 1000L)
    // vacuum with RETAIN 0 HOURS drops the pre-optimize generations
    val deleted = spark.sql("VACUUM graft.opt RETAIN 0 HOURS").head.getLong(0)
    assert(deleted > 0L)
    // current snapshot still reads; too-old time travel now fails loudly
    assert(spark.sql("SELECT count(*) AS n FROM graft.opt").head.getLong(0) == 1000L)
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM graft.opt VERSION AS OF 0").collect()
    }
  }

  test("SQL DML twin: same ops via API and SQL produce identical logs " +
    "modulo generated file names") {
    import spark.implicits._
    import graft.sources.MergeClause._
    val rootA = mount("twin_api")
    val rootB = mount("twin_sql")
    def seedDf = (1 to 200).map(i => (i.toLong, i * 10L)).toDF("id", "cents")
      .coalesce(1)
    TxnTable.append(seedDf, rootA); TxnTable.append(seedDf, rootB)
    def srcDf = (190 to 210).map(i => (i.toLong, i * 1000L)).toDF("sid", "sval")
    srcDf.createOrReplaceTempView("twin_src")

    // the same four ops, API lane vs SQL lane
    TxnTable.update(spark, rootA,
      col("id") >= 10L && col("id") <= 20L,
      Map("cents" -> (col("cents") * 2L)))
    spark.sql("UPDATE graft.twin_sql SET cents = cents * 2 WHERE id BETWEEN 10 AND 20")
    TxnTable.delete(spark, rootA, col("id") % 7L === 0L)
    spark.sql("DELETE FROM graft.twin_sql WHERE id % 7 = 0")
    TxnTable.mergeMulti(spark, rootA, srcDf,
      condition = col("t.id") === col("s.sid"),
      matched = Seq(
        Update(Some(col("s.sval") % 2000L === 0L), Map("cents" -> col("s.sval"))),
        Delete(None)),
      notMatched = Seq(Insert(None,
        Map("id" -> col("s.sid"), "cents" -> (col("s.sval") + 7L)))),
      notMatchedBySource = Seq(Delete(Some(col("t.id") < 5L))))
    spark.sql(
      """MERGE INTO graft.twin_sql AS t USING twin_src AS s ON t.id = s.sid
        |WHEN MATCHED AND s.sval % 2000 = 0 THEN UPDATE SET cents = s.sval
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (id, cents) VALUES (s.sid, s.sval + 7)
        |WHEN NOT MATCHED BY SOURCE AND t.id < 5 THEN DELETE
        |""".stripMargin)
    TxnTable.optimize(spark, rootA)
    spark.sql("OPTIMIZE graft.twin_sql")

    // log equality modulo the generated values: file names, sizes,
    // timestamps and the root-derived table id
    import scala.jdk.CollectionConverters._
    def normLog(root: String): Seq[String] = {
      val dir = java.nio.file.Paths.get(root, "_delta_log")
      FsTest.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".json")).sortBy(_.getFileName.toString)
        .flatMap(p => Files.readAllLines(p).asScala)
        .map(_.replaceAll("(data|cdc)/v[0-9]+-[0-9a-f]{8}/[^\"]*", "$1/vX/F")
          .replaceAll("\"size\":[0-9]+", "\"size\":0")
          .replaceAll("\"(timestamp|modificationTime|deletionTimestamp|createdTime)\":[0-9]+",
            "\"$1\":0")
          .replaceAll("\"id\":\"[0-9a-f-]{36}\"", "\"id\":\"ID\""))
    }
    assert(normLog(rootA) == normLog(rootB),
      "SQL DML must drive the identical engine commit for commit")
    // and every version's contents agree
    (0L to TxnTable.latestVersion(rootA)).foreach { v =>
      val a = TxnTable.readVersion(spark, rootA, v).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val b = TxnTable.readVersion(spark, rootB, v).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(a == b, s"version $v diverged between API and SQL lanes")
    }
  }

  test("DESCRIBE HISTORY and RESTORE TABLE round the SQL surface out") {
    val root = mount("hist"); seed(root)
    spark.sql("DELETE FROM graft.hist WHERE id > 50")
    spark.sql("UPDATE graft.hist SET cents = 0 WHERE id = 1")
    val hist = spark.sql("DESCRIBE HISTORY graft.hist").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L))
    assert(hist.map(_.getString(2)).toSeq == Seq("update", "delete", "append"))
    assert(hist.forall(_.getString(1).nonEmpty)) // commit timestamps render
    val v = spark.sql("RESTORE TABLE graft.hist TO VERSION AS OF 0")
      .head.getLong(0)
    assert(v == 3L) // restore is itself a commit
    assert(spark.sql("SELECT count(*) AS n FROM graft.hist").head.getLong(0) == 100L)
    assert(spark.sql("SELECT sum(cents) AS s FROM graft.hist").head.getLong(0) ==
      (1 to 100).map(_ * 10L).sum)
  }

  test("RESTORE TO TIMESTAMP AS OF resolves like the catalog's time travel") {
    val root = mount("rts"); seed(root)                               // v0
    Thread.sleep(5)
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("DELETE FROM graft.rts WHERE id > 10")                  // v1
    val tsLit = java.time.Instant.ofEpochMilli(afterV0).toString
    val v = spark.sql(
      s"RESTORE TABLE graft.rts TO TIMESTAMP AS OF '$tsLit'").head.getLong(0)
    assert(v == 2L) // restore commits
    assert(spark.sql("SELECT count(*) AS n FROM graft.rts").head.getLong(0) == 100L)
    // the SQL wall-clock shape parses too (UTC, the session zone)
    val wall = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(afterV0), java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ')
    assert(spark.sql(s"RESTORE graft.rts TO TIMESTAMP AS OF '$wall'")
      .head.getLong(0) == 3L)
    // a bare date parses (midnight UTC — Spark/Delta accept this shape)
    assert(spark.sql("RESTORE graft.rts TO TIMESTAMP AS OF '2099-01-01'")
      .head.getLong(0) == 4L) // resolves to latest
    // garbage names the accepted formats, not a raw parse stack
    val bad = intercept[Exception] {
      spark.sql("RESTORE graft.rts TO TIMESTAMP AS OF 'not-a-time'")
    }
    assert(bad.getMessage.contains("yyyy-MM-dd"), bad.getMessage)
  }

  test("SHOW PARTITIONS lists live hive paths from metadata alone") {
    import spark.implicits._
    val root = mount("shp")
    TxnTable.appendPartitioned((1 to 40).map(i => (i.toLong, i % 4))
      .toDF("id", "b"), root, Seq("b"))
    val parts = spark.sql("SHOW PARTITIONS graft.shp")
      .collect().map(_.getString(0)).toSeq
    assert(parts == Seq("b=0", "b=1", "b=2", "b=3"))
    // a partition whose files all delete drops off the listing
    spark.sql("DELETE FROM graft.shp WHERE b = 2")
    assert(spark.sql("SHOW PARTITIONS graft.shp")
      .collect().map(_.getString(0)).toSeq == Seq("b=0", "b=1", "b=3"))
    // parity with the Scala API
    assert(TxnTable.showPartitions(root) == Seq("b=0", "b=1", "b=3"))
    // unpartitioned tables refuse, like Spark's command
    val root2 = mount("shp2"); seed(root2)
    val e = intercept[Exception] { spark.sql("SHOW PARTITIONS graft.shp2").collect() }
    assert(e.getMessage.contains("not a partitioned table"))
  }

  test("VACUUM STAGING reclaims crashed-CTAS orphans past retention and " +
    "reports replaced/dropped tombstones") {
    import java.nio.file.{Files => JF, Paths => JP}
    import scala.jdk.CollectionConverters._
    val root = mount("swp"); seed(root)
    // a crashed CTAS: a staging sibling whose bytes are OLD
    val stale = JP.get(s"$root.__stage-deadbeef")
    TxnTable.create(spark, stale.toString,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    val past = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 3600 * 1000)
    graft.FsTest.walk(stale).iterator().asScala
      .foreach(p => JF.setLastModifiedTime(p, past))
    // a LIVE (recent) staging sibling must never be touched
    val live = JP.get(s"$root.__stage-cafebabe")
    TxnTable.create(spark, live.toString,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    // an RTAS tombstone: report-only
    val repl = JP.get(s"$root.__replaced-123")
    JF.createDirectories(repl)
    JF.write(repl.resolve("part.parquet"), Array.fill[Byte](64)(1))
    val rows = spark.sql("VACUUM graft.swp STAGING RETAIN 1 HOURS").collect()
    val byPath = rows.map(r => r.getString(1) -> r).toMap
    assert(byPath(stale.toString).getBoolean(3), "stale orphan must reclaim")
    assert(!JF.exists(stale))
    assert(!byPath(live.toString).getBoolean(3), "live staging must survive")
    assert(JF.exists(live))
    assert(byPath(repl.toString).getString(0) == "replaced")
    assert(!byPath(repl.toString).getBoolean(3) && JF.exists(repl))
    assert(byPath(repl.toString).getLong(2) == 64L)
    // DROP tombstones report with sizes
    spark.conf.set("graft.catalog.allowDrop", "true")
    try spark.sql("DROP TABLE graft.swp")
    finally spark.conf.unset("graft.catalog.allowDrop")
    val rows2 = TxnTable.sweepStaging(root, System.currentTimeMillis())
    assert(rows2.count(_.kind == "dropped") == 1) // the renamed _delta_log
    assert(rows2.filter(_.kind == "dropped").forall(e => !e.reclaimed && e.bytes > 0))
  }

  test("MERGE WITH SCHEMA EVOLUTION: an explicit INSERT list with computed " +
    "values does NOT auto-populate evolved columns (only star shapes do)") {
    import spark.implicits._
    val root = mount("sevx"); seed(root) // (id, cents)
    (90 to 110).map(i => (i.toLong, i * 100L, s"f$i"))
      .toDF("id", "cents", "flag").createOrReplaceTempView("sevx_src")
    // a computed value marks the list as genuinely explicit — NOT a star
    // expansion (a full-coverage list of BARE same-name refs is
    // indistinguishable from INSERT * post-analysis and evolves; see
    // GraftDmlRule's documented ambiguity)
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.sevx AS t
        |USING sevx_src AS s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, cents) VALUES (s.id, s.cents + 0)
        |""".stripMargin)
    assert(spark.table("graft.sevx").columns.toSeq == Seq("id", "cents"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.sevx").head.getLong(0) == 110L)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source columns through SQL") {
    import spark.implicits._
    val root = mount("sev"); seed(root) // (id, cents)
    (40 to 110).map(i => (i.toLong, i * 100L, s"f$i"))
      .toDF("id", "cents", "flag").createOrReplaceTempView("sev_src")
    val v = spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.sev AS t USING sev_src AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin).head.getLong(0)
    assert(v == 1L)
    assert(spark.sql("SELECT * FROM graft.sev").columns.toSeq ==
      Seq("id", "cents", "flag"))
    val got = spark.sql("SELECT id, cents, flag FROM graft.sev").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
    assert(got.size == 110)
    assert(got(50L) == ((5000L, Some("f50"))))  // matched: updated + tagged
    assert(got(110L) == ((11000L, Some("f110")))) // inserted
    assert(got(10L) == ((100L, None)))          // carried: null new column
  }

  test("DESCRIBE DETAIL and SHOW CREATE TABLE serve the metadata surface") {
    import spark.implicits._
    val root = mount("det")
    TxnTable.appendPartitioned((1 to 60).map(i => (i.toLong, i * 10L, s"p${i % 3}"))
      .toDF("id", "cents", "grp"), root, Seq("grp"))
    spark.sql("ALTER TABLE graft.det SET TBLPROPERTIES ('graft.owner' = 'etl')")
    // column parity with the Scala TxnTable.detail
    val sqlRow = spark.sql("DESCRIBE DETAIL graft.det").head
    val apiRow = TxnTable.detail(spark, root).head
    assert(spark.sql("DESCRIBE DETAIL graft.det").columns.toSeq ==
      TxnTable.detail(spark, root).columns.toSeq)
    assert(sqlRow.getLong(0) == apiRow.getLong(0))   // version
    assert(sqlRow.getLong(1) == apiRow.getLong(1))   // num_files
    assert(sqlRow.getLong(2) == apiRow.getLong(2))   // size_bytes
    assert(sqlRow.getLong(3) == apiRow.getLong(3))   // num_records
    assert(sqlRow.getString(4) == "grp" && sqlRow.getLong(3) == 60L)
    // SHOW CREATE TABLE renders a re-runnable statement
    val stmt = spark.sql("SHOW CREATE TABLE graft.det").head.getString(0)
    assert(stmt.contains("CREATE TABLE graft.det"), stmt)
    assert(stmt.contains("id BIGINT") && stmt.contains("cents BIGINT") &&
      stmt.contains("grp STRING"), stmt)
    assert(stmt.contains("PARTITIONED BY (grp)"), stmt)
    assert(stmt.contains("USING graft"), stmt)
    assert(stmt.contains("'graft.owner' = 'etl'"), stmt)
  }

  test("TBLPROPERTIES persist from CREATE/CTAS; SHOW TBLPROPERTIES serves them") {
    mount("props")
    spark.sql("CREATE TABLE graft.props (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.owner' = 'etl', 'graft.tier' = 'gold')")
    val shown = spark.sql("SHOW TBLPROPERTIES graft.props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("graft.owner").contains("etl"), shown)
    assert(shown.get("graft.tier").contains("gold"), shown)
    val stmt = spark.sql("SHOW CREATE TABLE graft.props").head.getString(0)
    assert(stmt.contains("'graft.owner' = 'etl'"), stmt)
    // one commit: properties ride the create, not follow-up versions
    assert(graft.sources.TxnTable.latestVersion(
      spark.conf.get("graft.catalog.path.props")) == 0L)
    // CTAS carries them too (through the staging path)
    mount("props2")
    spark.sql("CREATE TABLE graft.props2 TBLPROPERTIES ('graft.owner' = 'ds') " +
      "AS SELECT 1L AS id")
    assert(spark.sql("SHOW TBLPROPERTIES graft.props2").collect()
      .exists(r => r.getString(0) == "graft.owner" && r.getString(1) == "ds"))
  }

  test("DELETE/UPDATE with IN-subquery conditions lower correctly") {
    import spark.implicits._
    val root = mount("subq"); seed(root) // ids 1..100, cents = id*10
    (1 to 100).filter(_ % 9 == 0).map(i => Tuple1(i.toLong))
      .toDF("kid").createOrReplaceTempView("subq_kill")
    spark.sql("DELETE FROM graft.subq WHERE id IN (SELECT kid FROM subq_kill)")
    val left = spark.sql("SELECT id FROM graft.subq").collect()
      .map(_.getLong(0)).toSet
    assert(left == (1 to 100).filterNot(_ % 9 == 0).map(_.toLong).toSet)
    spark.sql("UPDATE graft.subq SET cents = 0 " +
      "WHERE id IN (SELECT kid - 1 FROM subq_kill)")
    val zeroed = spark.sql("SELECT id FROM graft.subq WHERE cents = 0")
      .collect().map(_.getLong(0)).toSet
    assert(zeroed == (1 to 100).filter(i => (i + 1) % 9 == 0).map(_.toLong).toSet)
  }

  test("SHOW TABLES lists TxnTable roots under the catalog root dir") {
    val base = Files.createTempDirectory("graft_showt")
    spark.conf.set("spark.sql.catalog.graft.root", base.toString)
    try {
      import spark.implicits._
      TxnTable.append(Seq((1L, "a")).toDF("id", "v"), s"$base/tbl_one")
      TxnTable.append(Seq((2L, "b")).toDF("id", "v"), s"$base/tbl_two")
      Files.createDirectory(base.resolve("not_a_table"))
      val names = spark.sql("SHOW TABLES IN graft").collect()
        .map(_.getString(1)).sorted.toSeq
      assert(names == Seq("tbl_one", "tbl_two"))
      // and the root-dir mapping serves reads without explicit mounts
      assert(spark.sql("SELECT v FROM graft.tbl_one").head.getString(0) == "a")
    } finally spark.conf.unset("spark.sql.catalog.graft.root")
  }

  test("CREATE TABLE PARTITIONED BY fixes the hive layout from birth") {
    val root = mount("ctp")
    spark.sql("CREATE TABLE graft.ctp (id BIGINT, grp STRING) " +
      "USING graft PARTITIONED BY (grp)")
    spark.sql("INSERT INTO graft.ctp VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    assert(spark.sql("SELECT count(*) AS n FROM graft.ctp WHERE grp = 'a'")
      .head.getLong(0) == 2L)
    // the insert landed hive-partitioned (partition pruning has dirs to prune)
    import scala.jdk.CollectionConverters._
    val dirs = FsTest.walk(java.nio.file.Paths.get(root, "data"))
      .iterator().asScala.map(_.toString).toSeq
    assert(dirs.exists(_.contains("grp=a")) && dirs.exists(_.contains("grp=b")))
    graft.sources.GraftCatalog.lastScanReport = None
    spark.sql("SELECT id FROM graft.ctp WHERE grp = 'b'").collect()
    val rep = graft.sources.GraftCatalog.lastScanReport.get
    assert(rep.filesKept < rep.filesTotal, s"partition pruning lost: $rep")
  }

  test("non-graft statements pass through the parser untouched") {
    assert(spark.sql("SELECT 1 + 1 AS two").head.getInt(0) == 2)
    // a DELETE on a non-graft relation still fails the normal way
    spark.range(5).createOrReplaceTempView("plain_view")
    intercept[Exception] { spark.sql("DELETE FROM plain_view WHERE id = 1") }
  }
}
