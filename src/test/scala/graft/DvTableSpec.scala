package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.TxnTable

/** Merge-on-read DELETE (deletion vectors) on the transaction-log table:
  * row semantics, DV union on repeated deletes, time travel through DV
  * commits, compaction materializing the deletes, the `_delta_log`
  * mirror's deletionVector descriptors + feature protocol, checkpoint
  * round-trip, vacuum of superseded DV files, and the CDF path. */
class DvTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tbl(): String = Files.createTempDirectory("dv_tbl").toString

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload")
  }

  private def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import spark.implicits._
    d.select("id").as[Long].collect().sorted.toSeq
  }

  test("deleteDv marks rows without rewriting data files") {
    val root = tbl()
    TxnTable.append(df(1 to 100).repartition(3), root) // v0
    val dataBefore = FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    TxnTable.deleteDv(spark, root, col("id") % 10 === 0L) // v1
    // no data file was rewritten or added — only the DV sidecar landed
    val dataAfter = FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    assert(dataAfter == dataBefore, "MoR delete must not touch data files")
    // tiny bitmaps INLINE into the add action itself (storageType "i" per
    // the spec) — no sidecar file, no extra open per scan
    val dvs = TxnTable.liveAddsForTest(root).flatMap(_.dv)
    assert(dvs.nonEmpty && dvs.forall(_.storageType == "i"), dvs)
    assert(!Files.isDirectory(Paths.get(root, "dv")),
      "tiny DVs must not cost a sidecar file")
    // row semantics: multiples of 10 are gone; time travel sees them
    assert(ids(TxnTable.read(spark, root)) ==
      (1L to 100L).filterNot(_ % 10 == 0))
    assert(ids(TxnTable.readVersion(spark, root, 0L)) == (1L to 100L))
    // readWhere composes with the DV filter
    assert(ids(TxnTable.readWhere(spark, root, col("id") <= 30L)) ==
      (1L to 30L).filterNot(_ % 10 == 0))
  }

  test("repeated deleteDv unions bitmaps; already-deleted rows never re-match") {
    val root = tbl()
    TxnTable.append(df(1 to 50), root)                    // v0
    TxnTable.deleteDv(spark, root, col("id") <= 10L)      // v1
    TxnTable.deleteDv(spark, root, col("id") <= 20L)      // v2 (5..20 re-covered)
    assert(ids(TxnTable.read(spark, root)) == (21L to 50L))
    assert(ids(TxnTable.readVersion(spark, root, 1L)) == (11L to 50L))
    // live add carries ONE descriptor with the union's cardinality
    val live = TxnTable.read(spark, root)
    assert(live.count() == 30)
    // a no-match deleteDv still audits a commit
    val v3 = TxnTable.deleteDv(spark, root, col("id") > 999L)
    assert(v3 == 3L && ids(TxnTable.read(spark, root)) == (21L to 50L))
  }

  test("optimize compacts through DVs and drops them; CoW delete composes") {
    val root = tbl()
    TxnTable.append(df(1 to 60).repartition(4), root)     // v0
    TxnTable.deleteDv(spark, root, col("id") % 2 === 0L)  // v1
    TxnTable.optimize(spark, root)                        // v2 — materializes
    val after = TxnTable.liveAddsForTest(root)
    assert(after.forall(_.dv.isEmpty), "compaction must drop DVs")
    assert(ids(TxnTable.read(spark, root)) == (1L to 59L by 2))
    // CoW delete on top of a fresh DV: carried rows must respect the DV
    TxnTable.deleteDv(spark, root, col("id") === 1L)      // v3
    TxnTable.delete(spark, root, col("id") >= 50L)        // v4 rewrites
    assert(ids(TxnTable.read(spark, root)) == (3L to 49L by 2))
  }

  test("mirror carries spec deletionVector descriptors and the feature protocol") {
    val root = tbl()
    // ONE file, and a bitmap BIG enough (2857 scattered marks, > the
    // inline threshold) to exercise the "u" sidecar + Z85-path encoding
    TxnTable.append(df(1 to 20000).coalesce(1), root)     // v0
    TxnTable.deleteDv(spark, root, col("id") % 7L === 0L) // v1
    val card1 = 20000 / 7 // 2857
    val v1 = Files.readAllLines(
      Paths.get(root, "_delta_log", f"${1L}%020d.json")).asScala
    val protoLine = v1.find(_.startsWith("""{"protocol":"""))
    assert(protoLine.exists(l => l.contains(""""minReaderVersion":3""") &&
      l.contains(""""minWriterVersion":7""") &&
      l.contains(""""readerFeatures":["deletionVectors"]""")), protoLine)
    val addLine = v1.find(l => l.startsWith("""{"add":""") )
    assert(addLine.exists(l => l.contains(""""deletionVector":{"storageType":"u"""") &&
      l.contains(s""""cardinality":$card1""") && l.contains(""""offset":1""")), addLine)
    // metaData records delta.enableDeletionVectors
    assert(v1.exists(l => l.contains("delta.enableDeletionVectors")), v1)
    // the descriptor round-trips through this module's own parser AND the
    // path encoding resolves to the real sidecar
    val add = TxnTable.liveAddsForTest(root).find(_.dv.isDefined).get
    val d = add.dv.get
    assert(Files.exists(d.resolveFile(root)))
    assert(graft.sources.DeletionVectors.readBitmap(root, d).cardinality == card1)
    // a SECOND deleteDv tombstones the first DV instance explicitly: the
    // remove action names the descriptor it replaces (strict readers
    // reconcile by (path, dvId), not path alone)
    TxnTable.deleteDv(spark, root, col("id") === 6L)      // v2 (6 % 7 != 0)
    val v2 = Files.readAllLines(
      Paths.get(root, "_delta_log", f"${2L}%020d.json")).asScala
    val rm = v2.find(_.startsWith("""{"remove":"""))
    assert(rm.exists(l => l.contains(""""deletionVector":{"storageType":"u"""") &&
      l.contains(s""""cardinality":$card1""")), rm)
    assert(v2.find(l => l.startsWith("""{"add":"""))
      .exists(_.contains(s""""cardinality":${card1 + 1}""")),
      "union descriptor on the re-add")
  }

  test("DV adds survive the checkpoint fold (internal and mirror) and expiry") {
    import org.apache.spark.sql.functions.col
    val root = tbl()
    (0 until 9).foreach(i => TxnTable.append(df(i * 10 + 1 to i * 10 + 10), root)) // v0..v8
    TxnTable.deleteDv(spark, root, col("id") % 7 === 0L)   // v9
    TxnTable.append(df(200 to 205), root)                  // v10 → checkpoints
    val expect = ((1L to 90L).filterNot(_ % 7 == 0) ++ (200L to 205L)).sorted
    assert(ids(TxnTable.read(spark, root)) == expect)
    // the checkpoint carries the descriptor
    val cp = Paths.get(root, "_delta_log", f"${10L}%020d.checkpoint.parquet")
    assert(Files.exists(cp))
    val cpDv = spark.read.parquet(cp.toString)
      .filter(col("add.deletionVector").isNotNull)
      .select("add.path", "add.deletionVector.cardinality",
        "add.deletionVector.storageType").collect()
    assert(cpDv.length > 0 && cpDv.map(_.getLong(1)).sum == 12 &&
      cpDv.forall(_.getString(2) == "i"), cpDv.toSeq) // tiny bitmaps inline
    // protocol features fold into the checkpoint
    assert(spark.read.parquet(cp.toString)
      .filter(col("protocol.readerFeatures").isNotNull)
      .selectExpr("protocol.readerFeatures[0]").collect()
      .map(_.getString(0)).toSeq == Seq("deletionVectors"))
    // expire below the checkpoint; reads still honor the DV
    TxnTable.expireLog(root)
    assert(ids(TxnTable.read(spark, root)) == expect)
    // and the NEXT checkpoint (seeded from cp10) keeps the DV state
    (0 until 10).foreach(i => TxnTable.append(df(300 + i to 300 + i), root)) // v11..v20
    val cp20 = Paths.get(root, "_delta_log", f"${20L}%020d.checkpoint.parquet")
    assert(Files.exists(cp20))
    assert(spark.read.parquet(cp20.toString)
      .filter(col("add.deletionVector").isNotNull).count() == cpDv.length,
      "DV descriptors lost across the seeded checkpoint")
    assert(ids(TxnTable.read(spark, root)) ==
      (expect ++ (300L to 309L)).sorted)
  }

  test("vacuum reclaims superseded DV files, keeps referenced ones") {
    val root = tbl()
    // bitmaps big enough to take the "u" sidecar path (inline DVs have no
    // file to reclaim — their bytes die with their log entry)
    TxnTable.append(df(1 to 3000).coalesce(1), root)      // v0
    TxnTable.deleteDv(spark, root, col("id") % 2L === 0L) // v1 → dv file A
    TxnTable.deleteDv(spark, root, col("id") % 3L === 0L) // v2 → dv file B (union)
    def dvFiles = FsTest.list(Paths.get(root, "dv")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".bin")).toSeq
    assert(dvFiles.size == 2)
    val swept = TxnTable.vacuum(root, retainAfter = 1L)
    assert(swept.exists(_.startsWith("dv/")), s"DV file A not swept: $swept")
    assert(dvFiles.size == 1, "exactly the superseded DV file goes")
    val keep = (1L to 3000L).filter(i => i % 2 != 0 && i % 3 != 0)
    assert(ids(TxnTable.read(spark, root)) == keep)
    // v1 is no longer readable (its DV vacuumed) — loud failure, like data
    intercept[Exception](
      TxnTable.readVersion(spark, root, 1L).collect())
  }

  test("deleteDv on a PARTITIONED table: prunes partitions, marks rows in place") {
    import spark.implicits._
    val root = tbl()
    def pdf(ids: Range, p: String) =
      ids.map(i => (i.toLong, s"v$i", p)).toDF("id", "payload", "p")
    TxnTable.appendPartitioned(pdf(1 to 20, "a").union(pdf(21 to 40, "b")),
      root, Seq("p"))
    val dataBefore = FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    // the partition-equality conjunct prunes partition a's files before
    // any footer opens; the id range marks rows inside partition b only
    TxnTable.deleteDv(spark, root,
      org.apache.spark.sql.functions.col("p") === "b" &&
        org.apache.spark.sql.functions.col("id") <= 25L)
    assert(FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap == dataBefore,
      "partitioned MoR delete must not rewrite data files")
    assert(ids(TxnTable.read(spark, root)) == ((1L to 20L) ++ (26L to 40L)).sorted)
    // only partition b's files carry a DV
    val dvAdds = TxnTable.liveAddsForTest(root).filter(_.dv.isDefined)
    assert(dvAdds.nonEmpty &&
      dvAdds.forall(_.partitionValues.get("p").contains("b")), dvAdds.map(_.file))
    // partition-pruned read composes with the DV filter
    assert(TxnTable.readWhere(spark, root,
      org.apache.spark.sql.functions.col("p") === "b").count() == 15)
  }

  test("fully-deleted files never scan; an all-deleted table reads empty") {
    val root = tbl()
    TxnTable.append(df(1 to 50).coalesce(1), root)    // file A: 1..50
    TxnTable.append(df(51 to 99).coalesce(1), root)   // file B: 51..99
    TxnTable.deleteDv(spark, root, col("id") <= 50L)  // A fully deleted
    // the plan reads ONE file: A is logically empty and must not appear
    val scanned = TxnTable.read(spark, root).inputFiles
    assert(scanned.length == 1, scanned.toSeq)
    assert(ids(TxnTable.read(spark, root)) == (51L to 99L))
    // delete everything: reads stay schema-correct and empty
    TxnTable.deleteDv(spark, root, col("id") >= 51L)
    val empty = TxnTable.read(spark, root)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "payload"))
    // purge then reclaims both
    TxnTable.purgeDeletes(spark, root, minDeletedFraction = 0.01)
    assert(TxnTable.read(spark, root).count() == 0)
  }

  test("shallow clone of a DV'd table: descriptors resolve into the source") {
    val src = tbl()
    val dst = tbl() + "/clone"
    // a sidecar-sized bitmap: the clone must re-point "u" references as
    // absolute "p" paths into the SOURCE root (inline "i" carries as-is)
    TxnTable.append(df(1 to 9000).coalesce(1), src)       // v0
    TxnTable.deleteDv(spark, src, col("id") % 3L === 0L)  // v1
    TxnTable.cloneShallow(src, dst)
    val keep = (1L to 9000L).filterNot(_ % 3 == 0)
    // clone reads the SOURCE's bitmap: marked rows stay gone, zero copy
    assert(ids(TxnTable.read(spark, dst)) == keep)
    val cloneDv = TxnTable.liveAddsForTest(dst).flatMap(_.dv)
    assert(cloneDv.nonEmpty && cloneDv.forall(_.storageType == "p"),
      s"clone must carry absolute DV references: $cloneDv")
    // the clone diverges with its OWN merge-on-read deletes; source intact
    TxnTable.deleteDv(spark, dst, col("id") === 20L)
    assert(ids(TxnTable.read(spark, dst)) == keep.filterNot(_ == 20L))
    assert(ids(TxnTable.read(spark, src)) == keep, "source must not move")
    // vacuum through the clone never reclaims the source's DV sidecar
    TxnTable.vacuum(dst, retainAfter = TxnTable.latestVersion(dst) - 1)
    assert(ids(TxnTable.read(spark, src)) == keep)
    assert(ids(TxnTable.read(spark, dst)) == keep.filterNot(_ == 20L))
  }

  test("concurrent deleteDv writers: the CAS loser rebases and unions") {
    import java.util.concurrent.{CountDownLatch, Executors}
    val root = tbl()
    TxnTable.append(df(1 to 100).coalesce(1), root) // ONE file: max contention
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val preds = Seq(col("id") <= 10L, col("id") >= 91L)
    val futures = preds.map { p =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await(); TxnTable.deleteDv(spark, root, p) }
      })
    }
    gate.countDown()
    val versions = futures.map(_.get())
    pool.shutdown()
    assert(versions.sorted == Seq(1L, 2L), versions)
    // BOTH deletes landed: the loser re-read the winner's DV and unioned
    assert(ids(TxnTable.read(spark, root)) == (11L to 90L))
    val dv = TxnTable.liveAddsForTest(root).flatMap(_.dv)
    assert(dv.map(_.cardinality).sum == 20, dv)
  }

  test("purgeDeletes rewrites only DV-heavy files; light DVs keep their bitmap") {
    val root = tbl()
    // two files with disjoint ranges: one gets 50% deleted, one gets 2%
    TxnTable.append(df(1 to 100).coalesce(1), root)    // v0
    TxnTable.append(df(101 to 200).coalesce(1), root)  // v1
    TxnTable.deleteDv(spark, root, col("id") <= 50L)          // v2: file A 50%
    TxnTable.deleteDv(spark, root, col("id") === 150L)        // v3: file B 1%
    val before = TxnTable.liveAddsForTest(root)
    assert(before.count(_.dv.isDefined) == 2)
    val v = TxnTable.purgeDeletes(spark, root, minDeletedFraction = 0.1) // v4
    assert(v == 4L)
    val after = TxnTable.liveAddsForTest(root)
    // file A rewrote clean; file B keeps its cheap bitmap
    assert(after.count(_.dv.isDefined) == 1, after.map(a => (a.file, a.dv.isDefined)))
    assert(after.filter(_.dv.isDefined).forall(_.dv.get.cardinality == 1))
    assert(ids(TxnTable.read(spark, root)) ==
      ((51L to 149L) ++ (151L to 200L)).sorted)
    // layout-only: history audits it, the incremental CDF stays silent —
    // the (3,4] range holds ONLY the purge, so the feed reports an empty
    // data-changing range instead of synthesizing phantom changes
    val e = intercept[IllegalArgumentException](
      TxnTable.changeFeedIncremental(spark, root, 3L, 4L))
    assert(e.getMessage.contains("no data-changing commits"))
    // nothing above threshold → no new commit
    assert(TxnTable.purgeDeletes(spark, root, minDeletedFraction = 0.1) == 4L)
    // time travel below the purge still reads through the old DV
    assert(ids(TxnTable.readVersion(spark, root, 2L)) ==
      ((51L to 200L)).sorted)
    // vacuum reclaims the purged file's sidecar generation
    TxnTable.vacuum(root, retainAfter = TxnTable.latestVersion(root) - 1)
    assert(ids(TxnTable.read(spark, root)) ==
      ((51L to 149L) ++ (151L to 200L)).sorted)
  }

  test("plan gates: DV probe runs inside codegen; DV-free tables pay nothing") {
    val root = tbl()
    TxnTable.append(df(1 to 100), root)
    val clean = TxnTable.read(spark, root).queryExecution.executedPlan.toString
    assert(!clean.contains("dv_row_deleted"),
      s"DV-free read must not carry the probe:\n$clean")
    TxnTable.deleteDv(spark, root, col("id") <= 5L)
    val probed = TxnTable.read(spark, root).queryExecution.executedPlan.toString
    assert(probed.contains("dv_row_deleted"), probed)
    // the probe filter carries the whole-stage-codegen star (`*(n)`) — it
    // compiles into the stage, not a UDF/interpreted island
    assert("""\*\(\d+\) Filter NOT dv_row_deleted""".r
      .findFirstIn(probed).isDefined, probed)
    assert(!probed.contains("BatchEvalPython") && !probed.contains("ScalaUDF"),
      probed)
    // other predicates still push into the parquet scan THROUGH the probe
    val pushed = TxnTable.readWhere(spark, root, col("id") >= 50L)
      .queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters: ") &&
      pushed.contains("GreaterThanOrEqual(id,50)"), pushed)
  }

  test("restore across deleteDv commits re-points the deletion-vector state") {
    val root = tbl()
    TxnTable.append(df(1 to 30), root)                   // v0
    TxnTable.deleteDv(spark, root, col("id") <= 5L)      // v1
    TxnTable.deleteDv(spark, root, col("id") <= 10L)     // v2
    // restore BELOW the DVs: the same files are live on both sides with
    // different descriptors — all 30 rows must come back
    TxnTable.restore(spark, root, 0L)                    // v3
    assert(ids(TxnTable.read(spark, root)) == (1L to 30L),
      "restore must drop the later deletion vectors")
    // restore FORWARD onto a DV state: the deletions must return
    TxnTable.restore(spark, root, 1L)                    // v4
    assert(ids(TxnTable.read(spark, root)) == (6L to 30L))
    // and history stays coherent throughout
    assert(ids(TxnTable.readVersion(spark, root, 2L)) == (11L to 30L))
    assert(ids(TxnTable.readVersion(spark, root, 3L)) == (1L to 30L))
  }

  test("MoR deletes feed the incremental CDF: stored change files OR bitmap delta") {
    val root = tbl()
    TxnTable.append(df(1 to 20), root)                          // v0
    TxnTable.deleteDv(spark, root, col("id") <= 3L, cdf = true) // v1
    def feed(fromV: Long, toV: Long) =
      TxnTable.changeFeedIncremental(spark, root, fromV, toV)
        .select("_change_type", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    assert(feed(0L, 1L) == (1L to 3L).map(i => ("delete", i)))
    // WITHOUT cdf: the feed synthesizes deletes from the bitmap delta
    TxnTable.deleteDv(spark, root, col("id") === 10L)           // v2
    assert(feed(1L, 2L) == Seq(("delete", 10L)))
    // overlapping second delete: the delta EXCLUDES already-marked rows,
    // so re-covered ids (1..3, 10) stay silent
    TxnTable.deleteDv(spark, root, col("id") <= 12L)            // v3
    assert(feed(2L, 3L) ==
      ((4L to 9L) ++ (11L to 12L)).map(i => ("delete", i)))
    // the whole range stitches cdf + dv_delta frames
    assert(feed(0L, 3L).map(_._2).sorted == (1L to 12L))
  }

  test("mergeDv: replaced rows DV-mark in place, delta lands in new files") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 100).repartition(3), root)    // v0
    val dataBefore = FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    // update ids 1..5 (new payloads), insert 101..103
    val delta = ((1 to 5).map(i => (i.toLong, s"upd$i")) ++
      (101 to 103).map(i => (i.toLong, s"v$i"))).toDF("id", "payload")
    TxnTable.mergeDv(spark, delta, root, Seq("id"))       // v1
    // every pre-merge file survives byte-identical; new files carry delta
    val dataAfter = FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    assert(dataBefore.subsetOf(dataAfter), "mergeDv must not rewrite touched files")
    assert(dataAfter.size > dataBefore.size, "delta rows need new files")
    // row semantics: updates replaced, inserts present, rest untouched
    val got = TxnTable.read(spark, root)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val want = ((1 to 5).map(i => (i.toLong, s"upd$i")) ++
      (6 to 100).map(i => (i.toLong, s"v$i")) ++
      (101 to 103).map(i => (i.toLong, s"v$i"))).sortBy(_._1)
    assert(got == want)
    // time travel below the merge sees the originals
    assert(TxnTable.readVersion(spark, root, 0L)
      .filter(col("id") <= 5L).as[(Long, String)].collect().sortBy(_._1).toSeq ==
      (1 to 5).map(i => (i.toLong, s"v$i")))
    // the marked files carry descriptors summing to the replaced count
    val dvs = TxnTable.liveAddsForTest(root).flatMap(_.dv)
    assert(dvs.map(_.cardinality).sum == 5, dvs)
  }

  test("mergeDv hybrid: files past rewriteFraction copy-on-write instead") {
    import spark.implicits._
    val root = tbl()
    // two files with disjoint ranges: A gets 60% of its rows replaced
    // (rewrites clean), B gets 2% (keeps its bytes + a bitmap)
    TxnTable.append(df(1 to 100).coalesce(1), root)       // v0: file A
    TxnTable.append(df(101 to 200).coalesce(1), root)     // v1: file B
    val before = TxnTable.liveAddsForTest(root).map(_.file).toSet
    val delta = ((1 to 60).map(i => (i.toLong, s"upd$i")) ++
      Seq((150L, "upd150"))).toDF("id", "payload")
    TxnTable.mergeDv(spark, delta, root, Seq("id"), rewriteFraction = 0.5) // v2
    val after = TxnTable.liveAddsForTest(root)
    val keptOld = after.map(_.file).toSet.intersect(before)
    assert(keptOld.size == 1, s"exactly file B survives in place: $after")
    val bDv = after.filter(a => keptOld(a.file)).flatMap(_.dv)
    assert(bDv.map(_.cardinality).sum == 1, "B carries the 1-row bitmap")
    assert(after.filterNot(a => keptOld(a.file)).forall(_.dv.isEmpty),
      "rewritten + delta files are clean")
    val got = TxnTable.read(spark, root)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val want = ((1 to 60).map(i => (i.toLong, s"upd$i")) ++
      (61 to 149).map(i => (i.toLong, s"v$i")) ++ Seq((150L, "upd150")) ++
      (151 to 200).map(i => (i.toLong, s"v$i"))).sortBy(_._1)
    assert(got == want)
    // a SECOND mergeDv on B counts the existing bitmap toward the
    // threshold: cumulative fraction (1 old + 54 new of 100) crosses 0.5
    // and B rewrites clean instead of stacking bitmaps
    val delta2 = (101 to 155).map(i => (i.toLong, s"up2$i")).toDF("id", "payload")
    TxnTable.mergeDv(spark, delta2, root, Seq("id"), rewriteFraction = 0.5) // v3
    assert(TxnTable.liveAddsForTest(root).map(_.file).toSet
      .intersect(keptOld).isEmpty, "cumulative-threshold must rewrite B clean")
    assert(TxnTable.read(spark, root).filter(col("id") === 150L)
      .as[(Long, String)].collect().toSeq == Seq((150L, "up2150")))
    assert(TxnTable.read(spark, root).count() == 200)
  }

  test("mergeDv with cdf feeds the incremental CDF; no-match delta is pure insert") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 20), root)                    // v0
    val delta = Seq((3L, "upd3"), (777L, "new")).toDF("id", "payload")
    TxnTable.mergeDv(spark, delta, root, Seq("id"), cdf = true) // v1
    val feed = TxnTable.changeFeedIncremental(spark, root, 0L, 1L)
      .select("_change_type", "id", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(t => (t._2, t._1))
    assert(feed.toSeq == Seq(
      ("update_preimage", 3L, "v3"), ("update_postimage", 3L, "upd3"),
      ("insert", 777L, "new")).sortBy(t => (t._2, t._1)), feed.toSeq)
    // delta hitting NOTHING (fresh keys only) commits as a plain insert
    val ins = Seq((900L, "i900")).toDF("id", "payload")
    TxnTable.mergeDv(spark, ins, root, Seq("id"), cdf = true) // v2
    assert(TxnTable.changeFeedIncremental(spark, root, 1L, 2L)
      .select("_change_type").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("insert"))
    assert(TxnTable.read(spark, root).count() == 22)
  }

  test("updateDv: matched rows DV-mark in place, updated images land in new files") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 100).repartition(3), root)    // v0
    val dataBefore = FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    TxnTable.updateDv(spark, root, col("id") % 20L === 0L,
      Map("payload" -> concat(col("payload"), lit("!"))))  // v1
    val dataAfter = FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    assert(dataBefore.subsetOf(dataAfter), "updateDv must not rewrite touched files")
    assert(dataAfter.size > dataBefore.size, "updated images need new files")
    val got = TxnTable.read(spark, root)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val want = (1 to 100).map(i =>
      (i.toLong, if (i % 20 == 0) s"v$i!" else s"v$i"))
    assert(got == want)
    // time travel below the update sees the originals
    assert(TxnTable.readVersion(spark, root, 0L)
      .filter(col("id") === 20L).as[(Long, String)].collect().toSeq ==
      Seq((20L, "v20")))
    // a SECOND update applies to the CURRENT state (v1's images included)
    // and unions into the existing bitmaps
    TxnTable.updateDv(spark, root, col("payload").endsWith("!"),
      Map("payload" -> concat(col("payload"), lit("?"))))  // v2
    assert(TxnTable.read(spark, root).filter(col("id") === 20L)
      .as[(Long, String)].collect().toSeq == Seq((20L, "v20!?")))
    // cdf: pre/post images of a third update feed the incremental CDF
    TxnTable.updateDv(spark, root, col("id") === 7L,
      Map("payload" -> lit("seven")), cdf = true)          // v3
    val feed = TxnTable.changeFeedIncremental(spark, root, 2L, 3L)
      .select("_change_type", "id", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(feed == Seq(("update_postimage", 7L, "seven"),
      ("update_preimage", 7L, "v7")), feed)
    // purge composes: contents bit-identical after materialization
    TxnTable.purgeDeletes(spark, root, minDeletedFraction = 0.01) // v4
    assert(TxnTable.read(spark, root).count() == 100)
    assert(TxnTable.liveAddsForTest(root).forall(_.dv.isEmpty))
  }

  test("update (CoW) + constraints: violating images refuse before committing") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 50).coalesce(1), root)
    TxnTable.setConstraint(spark, root, "short_payload", "length(payload) <= 10")
    // CoW update rewrites only the touched file, applies SET exactly
    val v = TxnTable.update(spark, root, col("id") <= 3L,
      Map("payload" -> upper(col("payload"))))
    assert(v == 2L)
    assert(TxnTable.read(spark, root).filter(col("id") <= 3L)
      .select("payload").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("V1", "V2", "V3"))
    // an update whose images VIOLATE a CHECK constraint refuses loudly,
    // on both write paths, and commits nothing
    val long = lit("waaaaaaaaay-too-long")
    intercept[IllegalArgumentException](
      TxnTable.update(spark, root, col("id") === 1L, Map("payload" -> long)))
    intercept[IllegalArgumentException](
      TxnTable.updateDv(spark, root, col("id") === 1L, Map("payload" -> long)))
    assert(TxnTable.latestVersion(root) == 2L)
    // unknown SET column and partition-column SET refuse
    intercept[IllegalArgumentException](
      TxnTable.update(spark, root, col("id") === 1L, Map("nope" -> lit(1))))
    def pdf(ids: Range, p: String) =
      ids.map(i => (i.toLong, s"v$i", p)).toDF("id", "payload", "p")
    val proot = tbl()
    TxnTable.appendPartitioned(pdf(1 to 10, "a"), proot, Seq("p"))
    intercept[IllegalArgumentException](
      TxnTable.update(spark, proot, col("id") === 1L, Map("p" -> lit("b"))))
    // but a data-column update INSIDE a partition works and stays put
    TxnTable.updateDv(spark, proot, col("id") === 1L,
      Map("payload" -> lit("one")))
    assert(TxnTable.read(spark, proot).filter(col("id") === 1L)
      .select("payload", "p").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("one", "a")))
  }

  test("mergeDv on a PARTITIONED table: partition keys prune, files stay put") {
    import spark.implicits._
    val root = tbl()
    def pdf(ids: Range, p: String) =
      ids.map(i => (i.toLong, s"v$i", p)).toDF("id", "payload", "p")
    TxnTable.appendPartitioned(pdf(1 to 500, "a").union(pdf(501 to 1000, "b")),
      root, Seq("p"))
    val dataBefore = FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    // partition columns ⊆ merge keys: partition a's files drop out of the
    // candidate scan by metadata alone; b's matched rows DV-mark in place
    val delta = Seq((501L, "upd", "b"), (1001L, "new", "b"))
      .toDF("id", "payload", "p")
    TxnTable.mergeDv(spark, delta, root, Seq("id", "p"))
    val dataAfter = FsTest.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    assert(dataBefore.subsetOf(dataAfter), "no touched file rewrites")
    val dvAdds = TxnTable.liveAddsForTest(root).filter(_.dv.isDefined)
    assert(dvAdds.nonEmpty &&
      dvAdds.forall(_.partitionValues.get("p").contains("b")),
      s"only partition b may carry bitmaps: ${dvAdds.map(_.file)}")
    assert(TxnTable.read(spark, root).count() == 1001)
    assert(TxnTable.read(spark, root)
      .filter(col("id") === 501L).select("payload").head().getString(0) == "upd")
  }

  test("deleteDv driver budget: a blob set past the budget fails loudly") {
    val root = tbl()
    TxnTable.append(df(1 to 5000).repartition(4), root)
    val e = intercept[IllegalArgumentException](
      TxnTable.deleteDv(spark, root, col("id") % 2L === 0L,
        driverDvBudgetBytes = 64L))
    assert(e.getMessage.contains("driver budget"), e.getMessage)
    // nothing committed, nothing marked — the table is untouched
    assert(TxnTable.latestVersion(root) == 0L)
    assert(TxnTable.read(spark, root).count() == 5000)
  }
}
