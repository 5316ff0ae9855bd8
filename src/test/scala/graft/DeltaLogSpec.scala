package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.TxnTable

/** The Delta-protocol interop contract: every TxnTable commit IS one
  * OPEN-format `_delta_log/%020d.json` (delta.io PROTOCOL.md) that an
  * EXTERNAL reader could fold without this library. This suite plays that
  * external reader: it parses the action JSON by hand (no TxnTable fold
  * involved), reconstructs each version's live-file snapshot, reads those
  * parquet files directly, and proves the contents equal
  * [[TxnTable.readVersion]] — version by version, through append,
  * idempotent append, overwrite and OPTIMIZE. */
class DeltaLogSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tbl(): String = Files.createTempDirectory("delta_spec").toString

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload")
  }

  private def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import spark.implicits._
    d.select("id").as[Long].collect().sorted.toSeq
  }

  // -- a minimal external Delta reader: list, parse, fold -------------------

  private def logFiles(root: String): Seq[(Long, Path)] = {
    val d = Paths.get(root, "_delta_log")
    assert(Files.isDirectory(d), s"no _delta_log under $root")
    FsTest.list(d).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => (p.getFileName.toString.stripSuffix(".json").toLong, p))
      .toSeq.sortBy(_._1)
  }

  /** Pull the string/long/bool value of a top-level key inside the given
    * single-line action object. Hand-rolled on purpose: the point is that
    * the format is plain newline-delimited JSON any consumer can fold. */
  private def field(obj: String, key: String): Option[String] = {
    val at = obj.indexOf(s""""$key":""")
    if (at < 0) None
    else {
      val rest = obj.substring(at + key.length + 3)
      if (rest.startsWith("\"")) {
        val sb = new StringBuilder
        var i = 1
        while (rest.charAt(i) != '"') {
          if (rest.charAt(i) == '\\') { sb.append(rest.charAt(i + 1)); i += 2 }
          else { sb.append(rest.charAt(i)); i += 1 }
        }
        Some(sb.toString)
      } else Some(rest.takeWhile(c => c != ',' && c != '}'))
    }
  }

  /** Fold add/remove actions up to and including version `asOf`; returns
    * live root-relative paths. SEQUENTIAL reconciliation in version order
    * — a remove cancels the add before it, a later re-add (RESTORE)
    * resurrects — the protocol's rule. */
  private def foldLive(root: String, asOf: Long): Seq[String] = {
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    logFiles(root).filter(_._1 <= asOf).foreach { case (_, p) =>
      Files.readAllLines(p).asScala.foreach { l =>
        if (l.contains("\"add\":")) field(l, "path").foreach(live.add)
        else if (l.contains("\"remove\":")) field(l, "path").foreach(live.remove)
      }
    }
    live.toSeq
  }

  private def readFold(root: String, asOf: Long) =
    spark.read.parquet(foldLive(root, asOf).map(f => Paths.get(root, f).toString): _*)

  test("version 0 carries protocol and a schemaString that round-trips") {
    val root = tbl()
    TxnTable.append(df(1 to 3), root)
    val v0 = Files.readAllLines(logFiles(root).head._2).asScala
    val proto = v0.find(_.contains("\"protocol\":")).get
    assert(field(proto, "minReaderVersion").contains("1"), proto)
    assert(field(proto, "minWriterVersion").contains("2"), proto)
    val meta = v0.find(_.contains("\"metaData\":")).get
    assert(field(meta, "provider").contains("parquet"), meta)
    val schema = DataType.fromJson(field(meta, "schemaString").get)
    assert(schema == df(1 to 1).schema, schema)
    // stable table id: a second table at another root differs, same root
    // would not — the id is content-addressed on the root, not wall-clock
    assert(field(meta, "id").exists(_.length == 36), meta)
  }

  test("hand-folded snapshots equal readVersion through append/overwrite/optimize") {
    val root = tbl()
    TxnTable.append(df(1 to 50).repartition(4), root)   // v0
    TxnTable.append(df(51 to 60), root)                 // v1
    TxnTable.overwrite(df(100 to 120), root)            // v2
    TxnTable.optimize(spark, root, smallBytes = Long.MaxValue) // v3
    (0L to 3L).foreach { v =>
      assert(ids(readFold(root, v)) == ids(TxnTable.readVersion(spark, root, v)),
        s"fold mismatch at version $v")
    }
    // OPTIMIZE is layout-only: its actions must say dataChange:false
    val v3 = Files.readAllLines(logFiles(root)(3)._2).asScala
    assert(v3.filter(l => l.contains("\"add\":") || l.contains("\"remove\":"))
      .forall(_.contains("\"dataChange\":false")), v3.mkString("\n"))
  }

  test("idempotent append mirrors exactly one delta commit with a txn action") {
    val root = tbl()
    TxnTable.append(df(1 to 3), root)
    val v1 = TxnTable.appendOnce(df(4 to 6), root, "app-42")
    val replay = TxnTable.appendOnce(df(4 to 6), root, "app-42")
    assert(v1 == replay)
    val logs = logFiles(root)
    assert(logs.map(_._1) == Seq(0L, 1L), logs) // no third commit
    val txn = Files.readAllLines(logs(1)._2).asScala.find(_.contains("\"txn\":")).get
    assert(field(txn, "appId").contains("app-42"), txn)
    assert(ids(readFold(root, 1)) == (1L to 6L))
  }

  test("checkpoint parquet + _last_checkpoint let a reader fold O(1) files, not O(versions)") {
    import org.apache.spark.sql.functions.col
    val root = tbl()
    // 13 commits: appends 0..9 (checkpoint lands at v10's commit below),
    // an overwrite at 10 (the checkpointed version), then a 2-commit tail
    (0 until 10).foreach(i => TxnTable.append(df(i * 10 + 1 to i * 10 + 10), root))
    TxnTable.overwrite(df(500 to 540), root)  // v10 → writes the checkpoint
    TxnTable.append(df(600 to 605), root)     // v11 (tail)
    TxnTable.append(df(700 to 702), root)     // v12 (tail)
    val d = Paths.get(root, "_delta_log")
    val ptr = d.resolve("_last_checkpoint")
    assert(Files.exists(ptr), "_last_checkpoint missing")
    val ptrJson = new String(Files.readAllBytes(ptr))
    assert(ptrJson.contains("\"version\":10"), ptrJson)
    val cp = d.resolve(f"${10L}%020d.checkpoint.parquet")
    assert(Files.exists(cp), "checkpoint parquet missing")
    // -- external reader, checkpoint path: ONE parquet + the tail only ----
    val cpDf = spark.read.parquet(cp.toString)
    // exactly one protocol and one metaData row; schemaString round-trips
    assert(cpDf.filter(col("protocol").isNotNull).count() == 1)
    val metaRows = cpDf.filter(col("metaData").isNotNull)
      .select("metaData.schemaString", "metaData.id").collect()
    assert(metaRows.length == 1)
    assert(DataType.fromJson(metaRows.head.getString(0)) == df(1 to 1).schema)
    // checkpointed snapshot = add rows; fold the tail's JSON on top
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    cpDf.filter(col("add").isNotNull).select("add.path").collect()
      .foreach(r => live.add(r.getString(0)))
    logFiles(root).filter(_._1 > 10L).foreach { case (_, p) =>
      Files.readAllLines(p).asScala.foreach { l =>
        if (l.contains("\"add\":")) field(l, "path").foreach(live.add)
        else if (l.contains("\"remove\":")) field(l, "path").foreach(live.remove)
      }
    }
    val folded = spark.read.parquet(live.toSeq.map(f => Paths.get(root, f).toString): _*)
    assert(ids(folded) == ids(TxnTable.readVersion(spark, root, -1L)),
      "checkpoint+tail fold disagrees with the library snapshot")
    // the checkpoint's remove tombstones cover the overwrite's victims
    assert(cpDf.filter(col("remove").isNotNull).count() > 0,
      "v10 overwrite tombstones missing from the checkpoint")
    // checkpoint actions are dataChange:false per the protocol
    assert(cpDf.filter(col("add.dataChange") === true).count() == 0)

    // EXPIRE the log below the checkpoint: the external fold must still
    // reconstruct the snapshot from checkpoint parquet + remaining tail
    TxnTable.expireLog(root)
    assert(logFiles(root).map(_._1).forall(_ >= 10L),
      "mirror JSONs below the checkpoint must be expired")
    val live2 = scala.collection.mutable.LinkedHashSet.empty[String]
    spark.read.parquet(cp.toString).filter(col("add").isNotNull)
      .select("add.path").collect().foreach(r => live2.add(r.getString(0)))
    logFiles(root).filter(_._1 > 10L).foreach { case (_, p) =>
      Files.readAllLines(p).asScala.foreach { l =>
        if (l.contains("\"add\":")) field(l, "path").foreach(live2.add)
        else if (l.contains("\"remove\":")) field(l, "path").foreach(live2.remove)
      }
    }
    val folded2 = spark.read.parquet(live2.toSeq.map(f => Paths.get(root, f).toString): _*)
    assert(ids(folded2) == ids(TxnTable.readVersion(spark, root, -1L)),
      "post-expiry external fold disagrees with the library snapshot")
  }

  test("checkpoint after expireLog seeds from the prior checkpoint (no state loss)") {
    import org.apache.spark.sql.functions.col
    val root = tbl()
    (0 until 10).foreach(i => TxnTable.append(df(i * 10 + 1 to i * 10 + 10), root)) // v0..v9
    TxnTable.setConstraint(spark, root, "pos_id", "id > 0") // v10 → checkpoint @10
    TxnTable.expireLog(root) // JSONs (and nothing else) below v10 are gone
    assert(logFiles(root).map(_._1).min == 10L)
    // ten more appends cross the NEXT checkpoint boundary (v20) — its fold
    // can only learn the 100 pre-expiry rows' adds from the v10 checkpoint
    (0 until 10).foreach(i =>
      TxnTable.append(df(1000 + i * 10 to 1000 + i * 10 + 5), root)) // v11..v20
    val d = Paths.get(root, "_delta_log")
    val cp20 = d.resolve(f"${20L}%020d.checkpoint.parquet")
    assert(Files.exists(cp20), "v20 checkpoint missing")
    val cpDf = spark.read.parquet(cp20.toString)
    assert(cpDf.filter(col("protocol").isNotNull).count() == 1,
      "protocol row lost across expiry")
    val meta = cpDf.filter(col("metaData").isNotNull)
      .select("metaData.configuration", "metaData.schemaString").collect()
    assert(meta.length == 1, "metaData row lost across expiry")
    // the CHECK constraint's configuration survives INTO the checkpoint —
    // after the next expiry it is the only copy an external reader sees
    assert(meta.head.getMap[String, String](0).get("delta.constraints.pos_id")
      .contains("id > 0"), s"configuration lost: ${meta.head.getMap[String, String](0)}")
    assert(DataType.fromJson(meta.head.getString(1)) == df(1 to 1).schema)
    // external fold of checkpoint-only state (tail is empty at v20) must
    // equal the library snapshot INCLUDING the 100 pre-expiry rows
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    cpDf.filter(col("add").isNotNull).select("add.path").collect()
      .foreach(r => live.add(r.getString(0)))
    logFiles(root).filter(_._1 > 20L).foreach { case (_, p) =>
      Files.readAllLines(p).asScala.foreach { l =>
        if (l.contains("\"add\":")) field(l, "path").foreach(live.add)
        else if (l.contains("\"remove\":")) field(l, "path").foreach(live.remove)
      }
    }
    val folded = spark.read.parquet(live.toSeq.map(f => Paths.get(root, f).toString): _*)
    assert(ids(folded) == ids(TxnTable.readVersion(spark, root, -1L)),
      "post-expiry next-boundary checkpoint lost pre-expiry adds")
    assert(folded.count() == 160, "expected 100 pre-expiry + 60 post-expiry rows")
    // a second expiry cycle: expire below v20, cross v30, fold again —
    // the seed chain (cp10 → cp20 → cp30) must stay lossless
    TxnTable.expireLog(root)
    (0 until 10).foreach(i =>
      TxnTable.append(df(2000 + i * 10 to 2000 + i * 10 + 1), root)) // v21..v30
    val cp30 = d.resolve(f"${30L}%020d.checkpoint.parquet")
    assert(Files.exists(cp30), "v30 checkpoint missing")
    val cpDf3 = spark.read.parquet(cp30.toString)
    assert(cpDf3.filter(col("metaData.configuration")("delta.constraints.pos_id")
      .isNotNull).count() == 1, "configuration lost on second expiry cycle")
    val live3 = scala.collection.mutable.LinkedHashSet.empty[String]
    cpDf3.filter(col("add").isNotNull).select("add.path").collect()
      .foreach(r => live3.add(r.getString(0)))
    val folded3 = spark.read.parquet(live3.toSeq.map(f => Paths.get(root, f).toString): _*)
    assert(ids(folded3) == ids(TxnTable.readVersion(spark, root, -1L)),
      "second expiry cycle lost state")
    assert(folded3.count() == 180)
  }

  test("checkpoint remove tombstones carry the superseded deletionVector (path, dvId)") {
    import org.apache.spark.sql.functions.col
    val root = tbl()
    TxnTable.append(df(1 to 3000).coalesce(1), root)                    // v0
    val file0 = TxnTable.liveAddsForTest(root).head.file
    (1 to 7).foreach(i =>
      TxnTable.append(df(3000 + i * 10 to 3000 + i * 10 + 9), root))    // v1..v7
    TxnTable.deleteDv(spark, root,
      col("id") % 2L === 0L && col("id") <= 3000L)                      // v8: DV A
    TxnTable.deleteDv(spark, root,
      col("id") % 3L === 0L && col("id") <= 3000L)                      // v9: union B
    val bCard = (1 to 3000).count(i => i % 2 == 0 || i % 3 == 0)
    // v10 PURGES file0 (2/3 deleted): its remove must name instance B —
    // and v10 is the checkpoint boundary, so the tombstone lands in the
    // checkpoint parquet's remove struct, not just the expired JSON
    TxnTable.purgeDeletes(spark, root, minDeletedFraction = 0.5)        // v10
    val d = Paths.get(root, "_delta_log")
    val cp = d.resolve(f"${10L}%020d.checkpoint.parquet")
    assert(Files.exists(cp), "v10 checkpoint missing")
    val rm = spark.read.parquet(cp.toString)
      .filter(col("remove").isNotNull && col("remove.deletionVector").isNotNull)
      .select("remove.path", "remove.deletionVector.storageType",
        "remove.deletionVector.cardinality").collect()
    assert(rm.length == 1 && rm.head.getString(0) == file0 &&
      rm.head.getString(1) == "u" && rm.head.getLong(2) == bCard,
      s"strict (path, dvId) reconciliation needs the tombstoned descriptor: ${rm.toSeq}")
    // after expiry the checkpoint is the ONLY copy; a strict external
    // reader folds cp + tail and must see a coherent DV-aware state
    TxnTable.expireLog(root)
    val cpDf = spark.read.parquet(cp.toString)
    assert(cpDf.filter(col("remove.deletionVector").isNotNull).count() == 1,
      "tombstoned descriptor lost to expiry")
    assert(cpDf.filter(col("add.path") === file0).count() == 0,
      "purged file must not be live in the checkpoint")
    // the NEXT checkpoint generation seeds the tombstone forward
    (1 to 10).foreach(i => TxnTable.append(df(9000 + i to 9000 + i), root)) // v11..v20
    val cp20 = d.resolve(f"${20L}%020d.checkpoint.parquet")
    assert(Files.exists(cp20), "v20 checkpoint missing")
    val rm20 = spark.read.parquet(cp20.toString)
      .filter(col("remove.deletionVector").isNotNull)
      .select("remove.path", "remove.deletionVector.cardinality").collect()
    assert(rm20.length == 1 && rm20.head.getString(0) == file0 &&
      rm20.head.getLong(1) == bCard,
      s"seeded checkpoint dropped the tombstoned descriptor: ${rm20.toSeq}")
  }
}
