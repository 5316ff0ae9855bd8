package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.TxnTable

/** Log-structured table format: snapshot reads, time travel, atomic
  * overwrite, OPTIMIZE (layout changes, contents don't, history intact),
  * VACUUM (retention honored; too-old time travel fails loudly), and the
  * commit-audit history table. */
class TxnTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tbl(): String =
    Files.createTempDirectory("txn_spec").toString

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload")
  }

  private def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import spark.implicits._
    d.select("id").as[Long].collect().sorted.toSeq
  }

  test("appends accumulate; every version stays readable") {
    val root = tbl()
    assert(TxnTable.append(df(1 to 3), root) == 0L)
    assert(TxnTable.append(df(4 to 5), root) == 1L)
    assert(ids(TxnTable.read(spark, root)) == (1L to 5L))
    assert(ids(TxnTable.readVersion(spark, root, 0)) == (1L to 3L))
    intercept[IllegalArgumentException](TxnTable.readVersion(spark, root, 7))
  }

  test("overwrite flips atomically and the old version time-travels") {
    val root = tbl()
    TxnTable.append(df(1 to 3), root)
    TxnTable.overwrite(df(10 to 11), root)
    assert(ids(TxnTable.read(spark, root)) == Seq(10L, 11L))
    assert(ids(TxnTable.readVersion(spark, root, 0)) == (1L to 3L))
  }

  test("OPTIMIZE compacts files but never changes contents or history") {
    val root = tbl()
    TxnTable.append(df(1 to 100).repartition(8), root) // 8 small files
    TxnTable.append(df(101 to 120).repartition(4), root)
    val before = TxnTable.history(spark, root).count()
    TxnTable.optimize(spark, root, smallBytes = Long.MaxValue, targetPartitions = 1)
    val live = TxnTable.history(spark, root)
      .where("version = 2 and action = 'add'").count()
    assert(live == 1, "compaction must produce one file")
    assert(ids(TxnTable.read(spark, root)) == (1L to 120L))
    assert(ids(TxnTable.readVersion(spark, root, 0)) == (1L to 100L),
      "pre-optimize versions must stay readable")
    assert(TxnTable.history(spark, root).count() > before)
  }

  test("VACUUM honors retention, then too-old time travel fails loudly") {
    val root = tbl()
    TxnTable.append(df(1 to 50).repartition(4), root)  // v0
    TxnTable.append(df(51 to 60), root)                // v1
    TxnTable.optimize(spark, root, smallBytes = Long.MaxValue) // v2
    val deleted = TxnTable.vacuum(root, retainAfter = 1)
    assert(deleted.nonEmpty, "the compacted-away v0/v1 files must be deleted")
    assert(ids(TxnTable.read(spark, root)) == (1L to 60L), "latest unaffected")
    val e = intercept[IllegalArgumentException](
      TxnTable.readVersion(spark, root, 0))
    assert(e.getMessage.contains("vacuum"))
  }

  test("MERGE rewrites only the files containing matched keys (copy-on-write)") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 100).coalesce(1), root)   // v0: one file, keys 1-100
    TxnTable.append(df(101 to 200).coalesce(1), root) // v1: one file, keys 101-200
    val v0Files = TxnTable.history(spark, root)
      .where("version = 0 and action = 'add'")
      .select("file").as[String].collect().toSet
    // delta: update keys 101-110, insert 201-205 — touches only v1's file
    val delta = ((101 to 110).map(i => (i.toLong, s"UPD$i")) ++
      (201 to 205).map(i => (i.toLong, s"NEW$i"))).toDF("id", "payload")
    assert(TxnTable.merge(spark, delta, root, Seq("id")) == 2L)
    val removed = TxnTable.history(spark, root)
      .where("version = 2 and action = 'remove'")
      .select("file").as[String].collect().toSet
    assert(removed.nonEmpty && removed.intersect(v0Files).isEmpty,
      "the untouched v0 file must NOT be rewritten by the merge")
    val snap = TxnTable.read(spark, root)
    assert(ids(snap) == (1L to 205L))
    assert(snap.where("payload like 'UPD%'").count() == 10, "updates applied")
    assert(snap.where("payload like 'NEW%'").count() == 5, "inserts applied")
    assert(snap.where("id = 105 and payload = 'v105'").count() == 0,
      "an updated key must not keep its old row")
    assert(ids(TxnTable.readVersion(spark, root, 1)) == (1L to 200L),
      "the pre-merge version stays time-travelable")
    assert(TxnTable.readVersion(spark, root, 1)
      .where("payload like 'UPD%'").count() == 0)
  }

  test("MERGE into a table with no matching keys is a pure insert") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 10).coalesce(1), root)
    val delta = (11 to 12).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    TxnTable.merge(spark, delta, root, Seq("id"))
    assert(ids(TxnTable.read(spark, root)) == (1L to 12L))
    val removed = TxnTable.history(spark, root)
      .where("version = 1 and action = 'remove'").count()
    assert(removed == 0, "no file contained a matched key, none rewrites")
  }

  test("data skipping prunes by commit-log stats; readWhere never opens pruned files") {
    import org.apache.spark.sql.functions._
    val root = tbl()
    // three files with disjoint id ranges — the stats carry those ranges
    TxnTable.append(df(1 to 100).coalesce(1), root)
    TxnTable.append(df(101 to 200).coalesce(1), root)
    TxnTable.append(df(201 to 300).coalesce(1), root)
    val pred = col("id") >= 150L && col("id") < 180L
    assert(TxnTable.skippingReport(root, pred) == ((1, 2)),
      "only the middle file's [101,200] range intersects [150,180)")
    assert(ids(TxnTable.readWhere(spark, root, pred)) == (150L to 179L))
    // equality, IN-list, and string-range conjuncts prune too
    assert(TxnTable.skippingReport(root, col("id") === 250L) == ((1, 2)))
    assert(TxnTable.skippingReport(root,
      col("id").isin(5L, 260L)) == ((2, 1)))
    assert(TxnTable.skippingReport(root, col("payload") === "zzz") == ((0, 3)),
      "every payload is below 'zzz' in binary order")
    // IS NULL prunes on nullCount; an unparseable conjunct prunes nothing
    assert(TxnTable.skippingReport(root, col("payload").isNull) == ((0, 3)))
    assert(TxnTable.skippingReport(root, length(col("payload")) > 1) == ((3, 0)))
    // everything pruned still returns a schema-correct empty result
    val none = TxnTable.readWhere(spark, root, col("id") > 999L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "payload"))
  }

  test("DELETE WHERE rewrites only files containing matches; null predicate rows survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tbl()
    TxnTable.append(df(1 to 100).coalesce(1), root)  // v0
    // v1 carries a null payload row — pred on payload is NULL there → kept
    TxnTable.append(((101 to 200).map(i => (i.toLong, s"v$i")) :+
      (999L, null.asInstanceOf[String])).toDF("id", "payload").coalesce(1), root)
    val v0Files = TxnTable.history(spark, root)
      .where("version = 0 and action = 'add'")
      .select("file").as[String].collect().toSet
    assert(TxnTable.delete(spark, root, col("id") >= 150L && col("id") <= 160L) == 2L)
    val removed = TxnTable.history(spark, root)
      .where("version = 2 and action = 'remove'")
      .select("file").as[String].collect().toSet
    assert(removed.nonEmpty && removed.intersect(v0Files).isEmpty,
      "v0's file provably holds no match (stats pruning) and must not rewrite")
    val snap = TxnTable.read(spark, root)
    assert(ids(snap) == ((1L to 149L) ++ (161L to 200L) :+ 999L))
    assert(snap.where("id = 999").count() == 1, "NULL-predicate row kept")
    assert(ids(TxnTable.readVersion(spark, root, 1)).contains(155L),
      "pre-delete version stays time-travelable")
    // a no-match delete commits an audited no-op: no add, no remove
    TxnTable.delete(spark, root, col("id") === -1L)
    assert(TxnTable.history(spark, root).where("version = 3").count() == 0)
    assert(TxnTable.latestVersion(root) == 3L)
    assert(ids(TxnTable.read(spark, root)) == ids(snap))
  }

  test("changeFeed emits the keyed row diff between versions") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 5).coalesce(1), root)                   // v0
    val delta = ((3 to 4).map(i => (i.toLong, s"UPD$i")) :+
      (9L, "NEW9")).toDF("id", "payload")
    TxnTable.merge(spark, delta, root, Seq("id"))                   // v1
    TxnTable.delete(spark, root,
      org.apache.spark.sql.functions.col("id") === 1L)              // v2
    val cdf = TxnTable.changeFeed(spark, root, 0L, 2L, Seq("id"))
      .select("id", "payload", "_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(cdf == Set(
      (1L, "v1", "delete"),
      (3L, "v3", "update_preimage"), (3L, "UPD3", "update_postimage"),
      (4L, "v4", "update_preimage"), (4L, "UPD4", "update_postimage"),
      (9L, "NEW9", "insert")))
    // adjacent identical versions diff to nothing
    assert(TxnTable.changeFeed(spark, root, 2L, 2L, Seq("id")).count() == 0)
  }

  test("partitioned appends record partitionValues and prune before stats") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tbl()
    val d = (1 to 90).map(i => (i.toLong, s"v$i", (i % 3).toString))
      .toDF("id", "payload", "shard")
    assert(TxnTable.appendPartitioned(d, root, Seq("shard")) == 0L)
    TxnTable.appendPartitioned(
      Seq((91L, "v91", "3")).toDF("id", "payload", "shard"), root, Seq("shard"))
    // partition columns round-trip through the path encoding
    val snap = TxnTable.read(spark, root)
    assert(snap.columns.toSeq == Seq("id", "payload", "shard"))
    assert(snap.count() == 91)
    assert(snap.where("shard = '1'").count() == 30)
    assert(ids(TxnTable.readVersion(spark, root, 0)) == (1L to 90L))
    // partition pruning: a shard-equality predicate keeps only that
    // shard's files, without any footer involvement
    val (kept, skipped) = (TxnTable.skippingReport(root, col("shard") === "1"))
    assert(kept >= 1 && skipped >= 3,
      s"expected shard pruning, got kept=$kept skipped=$skipped")
    assert(TxnTable.readWhere(spark, root, col("shard") === "3")
      .select("id").as[Long].collect().toSeq == Seq(91L))
    // partition AND data-column conjuncts compose
    val both = TxnTable.readWhere(spark, root,
      col("shard") === "2" && col("id") <= 10L)
    assert(ids(both) == Seq(2L, 5L, 8L))
    // numeric literal against the string-encoded partition value is exact
    assert(TxnTable.skippingReport(root, col("shard") === 1)._2 >= 3)
    // the log's partition columns are fixed at version 0
    intercept[IllegalArgumentException](
      TxnTable.appendPartitioned(d, root, Seq("payload")))
    intercept[IllegalArgumentException](TxnTable.append(df(1 to 3), root))
    // DELETE on the partitioned table works (copy-on-write within the
    // touched partition) — partitioned-merge/delete get their own test
    TxnTable.delete(spark, root, col("id") === 91L)
    assert(TxnTable.read(spark, root).where("shard = '3'").count() == 0)
  }

  test("OPTIMIZE ZORDER tightens 2-D stats boxes so cross-column slices prune") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tbl()
    // 128x128 grid written x-sorted into 8 files: every file spans ALL of
    // y, so a y-only slice can skip nothing
    val grid = (for (x <- 0 until 128; y <- 0 until 128)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    TxnTable.append(grid.repartitionByRange(8, $"x").sortWithinPartitions($"x"), root)
    val ySlice = col("y") >= 0L && col("y") <= 31L
    assert(TxnTable.skippingReport(root, ySlice)._2 == 0,
      "x-sorted layout cannot prune a y-only slice")
    TxnTable.optimizeZorder(spark, root, "x", "y", targetPartitions = 8, bits = 7)
    val (kept, skipped) = TxnTable.skippingReport(root, ySlice)
    assert(skipped >= 4,
      s"z-ordered layout must prune most files for a y slice, got kept=$kept skipped=$skipped")
    // contents identical, history intact, pre-zorder version travelable
    val snap = TxnTable.read(spark, root)
    assert(snap.count() == 128L * 128 &&
      snap.agg(sum($"x" * 128L + $"y")).as[Long].head ==
        (0L until 128L * 128).sum)
    assert(TxnTable.readVersion(spark, root, 0).count() == 128L * 128)
    // y-sliced read through the pruned layout returns exactly the slice
    assert(TxnTable.readWhere(spark, root, ySlice).count() == 128L * 32)
  }

  test("N-column ZORDER: a third-dimension slice prunes after the rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tbl()
    // 32³ cube written x-sorted: a w-only slice can skip nothing
    val cube = (for (x <- 0 until 32; y <- 0 until 32; w <- 0 until 32)
      yield (x.toLong, y.toLong, w.toLong)).toDF("x", "y", "w")
    TxnTable.append(cube.repartitionByRange(8, $"x").sortWithinPartitions($"x"), root)
    val wSlice = col("w") >= 0L && col("w") <= 7L
    assert(TxnTable.skippingReport(root, wSlice)._2 == 0)
    TxnTable.optimizeZorderBy(spark, root, Seq("x", "y", "w"),
      targetPartitions = 8, bits = 5)
    val (kept, skipped) = TxnTable.skippingReport(root, wSlice)
    assert(skipped >= 4,
      s"3-D z-order must prune a w slice, got kept=$kept skipped=$skipped")
    assert(TxnTable.readWhere(spark, root, wSlice).count() == 32L * 32 * 8)
    assert(TxnTable.read(spark, root).count() == 32L * 32 * 32)
  }

  test("bloom indexes prune point lookups that min/max ranges cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tbl()
    // residue-interleaved keys: every file's [min,max] spans the whole
    // domain, so RANGE skipping is provably useless here
    val d = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "payload")
    TxnTable.appendBloom(d.repartition(4, $"id" % 4), root,
      bloomCols = Seq("id", "payload"), mBits = 8192)
    assert(TxnTable.skippingReport(root, col("id") >= 0L)._2 == 0)
    for (k <- Seq(17L, 98L, 255L, 396L)) {
      val (kept, skipped) = TxnTable.skippingReport(root, col("id") === k)
      assert(kept >= 1 && skipped >= 2,
        s"bloom must prune most files for id=$k, got kept=$kept skipped=$skipped")
      // and never a false negative: the row is always found (this also
      // pins the driver-side xxhash64 to Spark's SQL function — a
      // mismatch would mis-skip every lookup)
      assert(TxnTable.readWhere(spark, root, col("id") === k).count() == 1)
    }
    // string keys prune too
    val (ks, ss) = TxnTable.skippingReport(root, col("payload") === "v98")
    assert(ss >= 2 && TxnTable.readWhere(spark, root,
      col("payload") === "v98").count() == 1, s"kept=$ks skipped=$ss")
    // IN-lists skip a file only when EVERY element misses its bloom
    val (k2, s2) = TxnTable.skippingReport(root, col("id").isin(17L, 98L))
    assert(s2 >= 1 &&
      TxnTable.readWhere(spark, root, col("id").isin(17L, 98L)).count() == 2,
      s"kept=$k2 skipped=$s2")
    // unsupported key types are refused loudly
    intercept[IllegalArgumentException](TxnTable.appendBloom(
      (1 to 3).map(i => (i.toLong, i.toDouble)).toDF("id", "x"),
      tbl(), Seq("x")))
  }

  test("schema evolution: new columns widen the table; old versions keep their shape") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 3).coalesce(1), root)                     // v0: (id, payload)
    // a mismatched batch is refused without the evolve opt-in
    val wide = Seq((4L, "v4", "en"), (5L, "v5", "fr"))
      .toDF("id", "payload", "lang")
    intercept[IllegalArgumentException](TxnTable.append(wide, root))
    TxnTable.appendEvolve(wide.coalesce(1), root)                     // v1 evolves
    val snap = TxnTable.read(spark, root)
    assert(snap.columns.toSeq == Seq("id", "payload", "lang"))
    assert(snap.where("lang IS NULL").count() == 3, "pre-evolution rows read null")
    assert(snap.where("lang = 'fr'").count() == 1)
    // a batch OMITTING a column reads back null for it (no evolve needed
    // in the narrow direction either — the unified scan fills it)
    TxnTable.appendEvolve(df(6 to 6).coalesce(1), root)               // v2, narrow batch
    assert(TxnTable.read(spark, root).where("id = 6 and lang IS NULL").count() == 1)
    // time travel keeps each version's own schema
    assert(TxnTable.readVersion(spark, root, 0).columns.toSeq == Seq("id", "payload"))
    assert(TxnTable.readVersion(spark, root, 1).columns.toSeq ==
      Seq("id", "payload", "lang"))
    // type changes are refused loudly
    intercept[IllegalArgumentException](TxnTable.appendEvolve(
      Seq(("x", "p")).toDF("id", "payload"), root))
    // a narrower merge delta is refused (it would drop the new column)
    intercept[IllegalArgumentException](TxnTable.merge(
      spark, df(1 to 1), root, Seq("id")))
    // stats-based skipping still prunes on the evolved column
    import org.apache.spark.sql.functions.col
    assert(TxnTable.skippingReport(root, col("lang") === "zz")._2 >= 1)
  }

  test("concurrent appends all land on dense versions; no rows lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tbl()
    val versions = Await.result(Future.sequence((0 until 6).map { w =>
      Future(TxnTable.append(df(w * 100 + 1 to w * 100 + 10).coalesce(1), root))
    }), 120.seconds)
    assert(versions.sorted == (0L to 5L),
      s"six writers must claim six DENSE versions, got $versions")
    val snap = ids(TxnTable.read(spark, root))
    assert(snap.size == 60 &&
      snap == (0 until 6).flatMap(w => w * 100 + 1 to w * 100 + 10)
        .map(_.toLong).sorted,
      "every writer's rows present exactly once")
    // each intermediate version is a consistent prefix of some commit order
    assert((0L to 5L).map(v =>
      TxnTable.readVersion(spark, root, v).count()) == (1 to 6).map(_ * 10L))
  }

  test("concurrent appendOnce with one token commits exactly once; vacuum sweeps orphans") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tbl()
    TxnTable.append(df(1 to 5).coalesce(1), root)
    // a start latch maximizes the check-vs-claim overlap — this exact
    // race caught a live TOCTOU (ledger checked "at latest", version
    // claimed later → one token landed at v1 AND v2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val fs = (0 until 6).map { _ =>
      Future { gate.await(); TxnTable.appendOnce(df(6 to 8).coalesce(1), root, "batch-7") }
    }
    gate.countDown()
    val vs = Await.result(Future.sequence(fs), 120.seconds)
    assert(vs.toSet.size == 1, s"one token must mean one commit, got $vs")
    assert(ids(TxnTable.read(spark, root)) == (1L to 8L))
    // losers' written-but-never-committed files are orphans: invisible to
    // readers, absent from the log, reclaimed by vacuum — snapshot intact.
    // Under fast scheduling every loser may return off the token ledger
    // BEFORE writing anything, so plant one deterministic orphan too (the
    // same on-disk shape a crashed losing attempt leaves behind).
    val orphanDir = java.nio.file.Paths.get(root, "data", "v9-deadbeef")
    Files.createDirectories(orphanDir)
    Files.write(orphanDir.resolve("part-00000-dead.snappy.parquet"),
      Array[Byte](1, 2, 3))
    val swept = TxnTable.vacuum(root, retainAfter = -1L)
    assert(swept.contains("data/v9-deadbeef/part-00000-dead.snappy.parquet"),
      s"unreferenced files must be swept: $swept")
    import spark.implicits._
    val logged = TxnTable.history(spark, root)
      .where("action = 'add'").select("file").as[String].collect().toSet
    assert(swept.forall(f => !logged.contains(f)),
      "vacuum must only sweep files no log entry ever referenced")
    assert(ids(TxnTable.read(spark, root)) == (1L to 8L))
  }

  test("OPTIMIZE on a partitioned table compacts within each partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tbl()
    def part(ids: Range) = ids.map(i => (i.toLong, s"v$i", (i % 3).toString))
      .toDF("id", "payload", "shard")
    TxnTable.appendPartitioned(part(1 to 30), root, Seq("shard"))
    TxnTable.appendPartitioned(part(31 to 60), root, Seq("shard"))
    val before = TxnTable.files(spark, root).count()
    assert(before >= 6, s"two appends x three shards should leave >=6 files, got $before")
    TxnTable.optimize(spark, root, targetPartitions = 3)
    val files = TxnTable.files(spark, root).collect()
    assert(files.length == 3, s"one compacted file per shard, got ${files.length}")
    assert(files.forall(_.getAs[Map[String, String]]("partition_values").contains("shard")),
      "compacted files must stay under their shard directories")
    val snap = TxnTable.read(spark, root)
    assert(ids(snap) == (1L to 60L) && snap.where("shard = '1'").count() == 20)
    // pruning and time travel survive the layout change
    assert(TxnTable.skippingReport(root, col("shard") === "2")._2 >= 2)
    assert(ids(TxnTable.readVersion(spark, root, 1)) == (1L to 60L))
  }

  test("RESTORE rolls back to an old version as pure metadata") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tbl()
    TxnTable.append(df(1 to 10).coalesce(1), root)                    // v0
    TxnTable.append(df(11 to 20).coalesce(1), root)                   // v1
    TxnTable.delete(spark, root, col("id") >= 5L && col("id") <= 15L) // v2
    val filesAtV1 = TxnTable.files(spark, root, asOf = 1L)
      .select("file").as[String].collect().toSet
    assert(TxnTable.restore(spark, root, 1L) == 3L)                   // v3
    // contents are exactly v1's, through exactly v1's files — nothing new
    assert(ids(TxnTable.read(spark, root)) == (1L to 20L))
    val filesNow = TxnTable.files(spark, root)
      .select("file").as[String].collect().toSet
    assert(filesNow == filesAtV1, "restore must re-point, not rewrite")
    // the rolled-back state stays auditable
    assert(ids(TxnTable.readVersion(spark, root, 2)) ==
      ((1L to 4L) ++ (16L to 20L)))
    // a restored table keeps working: further ops, pruning, the lot
    TxnTable.append(df(21 to 22).coalesce(1), root)                   // v4
    assert(ids(TxnTable.read(spark, root)) == (1L to 22L))
    assert(TxnTable.skippingReport(root, col("id") === 21L)._2 >= 2)
    // vacuum keeping only recent versions must NOT sweep resurrected files
    TxnTable.vacuum(root, retainAfter = 2L)
    assert(ids(TxnTable.read(spark, root)) == (1L to 22L))
  }

  test("files() and detail() expose the metadata tables without data I/O") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 30).coalesce(2), root)
    TxnTable.append(df(31 to 40).coalesce(1), root)
    val f = TxnTable.files(spark, root)
    assert(f.count() == 3)
    assert(f.agg(org.apache.spark.sql.functions.sum($"num_records"))
      .as[Long].head == 40L, "stats-backed row counts")
    assert(TxnTable.files(spark, root, asOf = 0L).count() == 2)
    val d = TxnTable.detail(spark, root).collect().head
    assert(d.getLong(0) == 1L && d.getLong(1) == 3L && d.getLong(3) == 40L)
    assert(d.getString(5).contains("id"))
  }

  test("commits are atomic renames: a version cannot be committed twice") {
    val root = tbl()
    TxnTable.append(df(1 to 3), root)
    assert(TxnTable.latestVersion(root) == 0L)
    // the single-writer guard: re-creating version 0 is refused
    val log = java.nio.file.Paths.get(root, "_delta_log")
    assert(FsTest.list(log).count() == 1)
  }

  private def liveFileRows(root: String) = {
    import spark.implicits._
    TxnTable.files(spark, root)
      .select("file", "partition_values").as[(String, Map[String, String])]
      .collect().toSeq
  }

  test("partitioned MERGE rewrites only touched partitions; untouched files stay byte-identical") {
    import spark.implicits._
    val root = tbl()
    val d = (1 to 90).map(i => (i.toLong, s"v$i", (i % 3).toString))
      .toDF("id", "payload", "shard")
    TxnTable.appendPartitioned(d, root, Seq("shard"))                  // v0
    val before = liveFileRows(root)
    val untouched = before.filterNot(_._2.get("shard").contains("2"))
    assert(untouched.nonEmpty)
    val bytesBefore = untouched.map { case (f, _) =>
      f -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root, f)).toSeq
    }.toMap
    // upsert entirely within shard 2: update id=2 (payload flips), insert id=92
    val delta = Seq((2L, "UPDATED", "2"), (92L, "NEW", "2"))
      .toDF("id", "payload", "shard")
    TxnTable.merge(spark, delta, root, Seq("id", "shard"))             // v1
    val snap = TxnTable.read(spark, root)
    assert(snap.count() == 91)
    assert(snap.where("id = 2").select("payload").as[String].head() == "UPDATED")
    assert(snap.where("id = 92").select("payload").as[String].head() == "NEW")
    assert(ids(TxnTable.readVersion(spark, root, 0)) == (1L to 90L))
    // every untouched partition's file survived the commit at the SAME
    // path with the SAME bytes — copy-on-write touched shard 2 only
    val after = liveFileRows(root).toMap
    untouched.foreach { case (f, pv) =>
      assert(after.contains(f), s"untouched file $f was rewritten")
      assert(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, f)).toSeq == bytesBefore(f),
        s"untouched file $f changed bytes")
    }
    // the rewritten files carry their partitionValues; new rows stayed in
    // the delta's partition
    after.collect { case (f, pv) if !before.map(_._1).contains(f) =>
      assert(pv.get("shard").contains("2"), s"merge wrote outside shard 2: $f -> $pv") }
    // the open-format log's merge commit records partitionValues too
    val v1 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json"))
    assert(v1.asScala.exists(l =>
      l.contains("\"add\":") && l.contains(""""partitionValues":{"shard":"2"}""")), v1)
  }

  test("partitioned DELETE prunes sibling partitions and rewrites in place") {
    import spark.implicits._
    val root = tbl()
    val d = (1 to 90).map(i => (i.toLong, s"v$i", (i % 3).toString))
      .toDF("id", "payload", "shard")
    TxnTable.appendPartitioned(d, root, Seq("shard"))
    val before = liveFileRows(root)
    val untouched = before.filterNot(_._2.get("shard").contains("1"))
    TxnTable.delete(spark, root,
      org.apache.spark.sql.functions.col("shard") === "1" &&
        org.apache.spark.sql.functions.col("id") <= 50L)
    val snap = TxnTable.read(spark, root)
    assert(snap.where("shard = '1' and id <= 50").count() == 0)
    assert(snap.where("shard = '1'").count() ==
      (1 to 90).count(i => i % 3 == 1 && i > 50))
    assert(snap.where("shard <> '1'").count() == (1 to 90).count(_ % 3 != 1))
    val after = liveFileRows(root).toMap
    untouched.foreach { case (f, _) =>
      assert(after.contains(f), s"sibling-partition file $f was rewritten") }
  }

  test("VACUUM always retains the current snapshot, even past latest") {
    val root = tbl()
    TxnTable.append(df(1 to 10), root)  // v0
    TxnTable.overwrite(df(20 to 25), root) // v1
    // a careless retainAfter at/above latest must NOT brick the table
    TxnTable.vacuum(root, retainAfter = 99L)
    assert(ids(TxnTable.read(spark, root)) == (20L to 25L))
    intercept[IllegalArgumentException](TxnTable.readVersion(spark, root, 0))
  }

  test("log checkpoints bound the fold: reads parse one checkpoint + the tail") {
    import org.apache.spark.sql.functions.col
    val root = tbl()
    (0 until 9).foreach(i => TxnTable.append(df(i * 10 + 1 to i * 10 + 10), root)) // v0..v8
    TxnTable.appendOnce(df(91 to 95), root, "tok-9")     // v9
    TxnTable.delete(spark, root, col("id") <= 5L)        // v10 → checkpoint
    TxnTable.append(df(200 to 203), root)                // v11 (tail)
    // the fold for the latest snapshot uses the v10 checkpoint + 1 tail file
    assert(TxnTable.foldReport(root) == (Some(10L), 1),
      TxnTable.foldReport(root))
    // contents agree with a from-zero fold (time travel below the
    // checkpoint still folds raw commits — same rows, longer walk)
    assert(ids(TxnTable.read(spark, root)) ==
      ((6L to 95L) ++ (200L to 203L)).sorted)
    assert(TxnTable.foldReport(root, 4L) == (None, 5))
    assert(ids(TxnTable.readVersion(spark, root, 4)) == (1L to 50L))
    // the token ledger rides the checkpoint: replaying tok-9 after the
    // checkpoint still dedups without folding pre-checkpoint commits
    assert(TxnTable.appendOnce(df(91 to 95), root, "tok-9") == 9L)
    // stats survive the checkpoint round-trip: pruning still works
    val (kept, skipped) = TxnTable.skippingReport(root, col("id") >= 200L)
    assert(skipped > 0, s"checkpointed stats must still prune (kept=$kept)")
    // checkpoints are DERIVED state: deleting them changes nothing but cost
    FsTest.list(java.nio.file.Paths.get(root, "_delta_log"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith(".checkpoint.parquet"))
      .toSeq.foreach(java.nio.file.Files.delete(_))
    assert(TxnTable.foldReport(root) == (None, 12))
    assert(ids(TxnTable.read(spark, root)) ==
      ((6L to 95L) ++ (200L to 203L)).sorted)
  }

  test("CDF-enabled commits persist change files; the incremental feed reads O(delta)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tbl()
    TxnTable.append(df(1 to 50).repartition(4), root)                  // v0
    val delta = Seq((1L, "CHANGED"), (99L, "NEW")).toDF("id", "payload")
    TxnTable.merge(spark, delta, root, Seq("id"), cdf = true)          // v1
    TxnTable.delete(spark, root, col("id") >= 40L && col("id") <= 45L,
      cdf = true)                                                      // v2
    // per-commit ledger: v1 = one changed-row pre/post pair + one insert
    // (id 1's payload flips v1 -> CHANGED; unmatched carried rows silent)
    val feed = TxnTable.changeFeedIncremental(spark, root, 0L, 2L)
      .select("_commit_version", "_change_type", "id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._3, t._2)).toSeq
    assert(feed == Seq(
      (1L, "update_postimage", 1L, "CHANGED"),
      (1L, "update_preimage", 1L, "v1"),
      (1L, "insert", 99L, "NEW")) ++
      (40L to 45L).map(i => (2L, "delete", i, s"v$i")), feed)
    // appends synthesize inserts from their own add files — whole range
    val full = TxnTable.changeFeedIncremental(spark, root, -1L, 2L)
    assert(full.where("_commit_version = 0 and _change_type = 'insert'").count() == 50)
    // the open-format log carries the protocol's cdc action
    val v1 = Files.readAllLines(
      java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json")).asScala
    assert(v1.exists(_.startsWith("""{"cdc":""")), v1)
    // a rewriting commit WITHOUT change files refuses the incremental path
    TxnTable.overwrite(df(1 to 5), root)                               // v3
    val e = intercept[RuntimeException](
      TxnTable.changeFeedIncremental(spark, root, 0L, 3L))
    assert(e.getMessage.contains("without change files"))
    // vacuum ages change files out with their commits
    val cdcBefore = FsTest.walk(java.nio.file.Paths.get(root, "cdc"))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    assert(cdcBefore > 0)
    TxnTable.vacuum(root, retainAfter = 2L)
    val cdcAfter = FsTest.walk(java.nio.file.Paths.get(root, "cdc"))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    assert(cdcAfter == 0, s"cdc files not swept: $cdcAfter")
  }

  test("incremental feed with keys degrades to a snapshot diff across rewrites and evolutions") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 10), root)            // v0
    TxnTable.append(df(11 to 15), root)           // v1
    TxnTable.overwrite(df(1 to 12), root)         // v2 — rewrite, NO change files
    TxnTable.appendEvolve(                        // v3 — schema evolution
      Seq((100L, "wide", 1.5)).toDF("id", "payload", "score"), root)
    TxnTable.restore(spark, root, 1L)             // v4 — rewrite, NO change files
    // keyless call still fails loudly at the rewriting commit
    val e = intercept[RuntimeException](
      TxnTable.changeFeedIncremental(spark, root, -1L, 4L))
    assert(e.getMessage.contains("without change files"))
    // keyed call degrades the two rewrites to per-version snapshot diffs
    val feed = TxnTable.changeFeedIncremental(spark, root, -1L, 4L, keys = Seq("id"))
    assert(feed.columns.contains("_change_mode"))
    assert(feed.columns.contains("score"), "evolved column missing from the feed")
    val byV = feed.select("_commit_version", "_change_mode", "_change_type", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.toSeq.sortBy(t => (t._4, t._3))).toMap
    assert(byV(0L).forall(t => t._2 == "append" && t._3 == "insert") &&
      byV(0L).size == 10)
    assert(byV(1L).map(_._4) == (11L to 15L), byV(1L))
    // v2 overwrite 1..15 → 1..12: snapshot diff sees the three deletes only
    assert(byV(2L) == (13L to 15L).map(i => (2L, "snapshot_diff", "delete", i)), byV(2L))
    // v3 evolving append: one insert, null-backfilled nowhere (it HAS score)
    assert(byV(3L) == Seq((3L, "append", "insert", 100L)), byV(3L))
    assert(feed.where("_commit_version = 3").select("score")
      .as[Double].collect().toSeq == Seq(1.5))
    // v4 restore to v1 (1..15, no 100): re-inserts 13..15, deletes 100
    assert(byV(4L) == ((13L to 15L).map(i => (4L, "snapshot_diff", "insert", i)) :+
      (4L, "snapshot_diff", "delete", 100L)), byV(4L))
    // pre-evolution frames are null-backfilled on the evolved column
    assert(feed.where("_commit_version = 0 and score is not null").count() == 0)
  }

  test("expireLog bounds the metadata: reads seed from the checkpoint, history below fails loudly") {
    import org.apache.spark.sql.functions.col
    val root = tbl()
    (0 until 10).foreach(i => TxnTable.append(df(i * 10 + 1 to i * 10 + 10), root))
    TxnTable.appendOnce(df(101 to 103), root, "tok-x")   // v10 → checkpoint
    TxnTable.append(df(200 to 201), root)                // v11 (tail)
    val expired = TxnTable.expireLog(root)
    assert(expired.nonEmpty && expired.forall(_.startsWith("_delta_log/")), expired)
    // the snapshot and everything at/above the checkpoint still read
    assert(ids(TxnTable.read(spark, root)) == ((1L to 103L) ++ (200L to 201L)).sorted)
    assert(ids(TxnTable.readVersion(spark, root, 10)) == (1L to 103L))
    assert(TxnTable.foldReport(root) == (Some(10L), 1))
    // the checkpoint carries the token ledger and schema across the expiry
    assert(TxnTable.appendOnce(df(101 to 103), root, "tok-x") == 10L)
    intercept[IllegalArgumentException](TxnTable.append(
      { import spark.implicits._
        Seq((1L, 2.0)).toDF("id", "score") }, root))
    // time travel below the expired range fails loudly
    intercept[IllegalArgumentException](TxnTable.readVersion(spark, root, 3))
    // vacuum after expiry must NOT sweep live files the checkpoint references
    TxnTable.vacuum(root, retainAfter = 10L)
    assert(ids(TxnTable.read(spark, root)) == ((1L to 103L) ++ (200L to 201L)).sorted)
    // stats pruning still works off checkpointed adds
    assert(TxnTable.skippingReport(root, col("id") >= 200L)._2 > 0)
  }

  test("shallow clone: zero-copy branch, independent evolution, source untouchable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val src = tbl()
    TxnTable.append(df(1 to 50).repartition(4), src)   // v0
    TxnTable.append(df(51 to 60), src)                 // v1
    TxnTable.setConstraint(spark, src, "pos", "id > 0")
    val srcFiles = FsTest.walk(java.nio.file.Paths.get(src, "data"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val srcBytes = srcFiles.map(p => p -> Files.readAllBytes(p).toSeq).toMap
    val dst = tbl()
    TxnTable.cloneShallow(src, dst)
    // the clone reads the source's data without copying a byte
    assert(ids(TxnTable.read(spark, dst)) == (1L to 60L))
    assert(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dst, "data")),
      "a shallow clone must not copy data files")
    // carried stats prune; carried constraints enforce
    assert(TxnTable.skippingReport(dst, col("id") >= 51L)._2 > 0,
      "clone must prune off the carried stats")
    intercept[IllegalArgumentException](TxnTable.append(df(-2 to -1), dst))
    // the clone evolves independently of the source
    TxnTable.merge(spark, Seq((1L, "CHANGED"), (99L, "NEW")).toDF("id", "payload"),
      dst, Seq("id"))
    TxnTable.delete(spark, dst, col("id") >= 55L && col("id") <= 60L)
    assert(ids(TxnTable.read(spark, dst)) ==
      ((1L to 54L) ++ Seq(99L)).sorted)
    assert(TxnTable.read(spark, dst).where("id = 1").select("payload")
      .as[String].head() == "CHANGED")
    assert(ids(TxnTable.read(spark, src)) == (1L to 60L), "source must not change")
    // time travel on the clone reaches its v0 (the branch point)
    assert(ids(TxnTable.readVersion(spark, dst, 0)) == (1L to 60L))
    // vacuum through the clone reclaims only CLONE-local rewrites —
    // never the source's bytes, even though the clone's log removed them
    TxnTable.vacuum(dst, retainAfter = TxnTable.latestVersion(dst) - 1)
    srcBytes.foreach { case (p, bytes) =>
      assert(java.nio.file.Files.exists(p) &&
        Files.readAllBytes(p).toSeq == bytes,
        s"vacuum through the clone touched source file $p")
    }
    assert(ids(TxnTable.read(spark, src)) == (1L to 60L))
  }

  test("shallow clone of a PARTITIONED table: pruning and independent DML") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val src = tbl()
    val dst = tbl() + "/clone"
    def pdf(ids: Range, p: String) =
      ids.map(i => (i.toLong, s"v$i", p)).toDF("id", "payload", "p")
    TxnTable.appendPartitioned(pdf(1 to 20, "a").union(pdf(21 to 40, "b")),
      src, Seq("p"))                                       // v0
    TxnTable.appendPartitioned(pdf(41 to 50, "c"), src, Seq("p")) // v1
    TxnTable.cloneShallow(src, dst)
    // zero copy; full content equality including the path-encoded column
    assert(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dst, "data")))
    assert(ids(TxnTable.read(spark, dst)) == (1L to 50L))
    assert(TxnTable.read(spark, dst).where("p = 'b'").count() == 20)
    // partition pruning works ON THE CLONE before any footer is read
    val (kept, skipped) = TxnTable.skippingReport(dst, col("p") === "c")
    assert(skipped > 0 && kept > 0, s"clone must prune partitions ($kept/$skipped)")
    // the clone evolves independently: partitioned append + CoW delete
    TxnTable.appendPartitioned(pdf(100 to 104, "d"), dst, Seq("p"))
    TxnTable.delete(spark, dst, col("p") === "b")
    assert(ids(TxnTable.read(spark, dst)) ==
      ((1L to 20L) ++ (41L to 50L) ++ (100L to 104L)).sorted)
    assert(ids(TxnTable.read(spark, src)) == (1L to 50L), "source must not change")
    // vacuum through the clone leaves every source byte alone
    TxnTable.vacuum(dst, retainAfter = TxnTable.latestVersion(dst) - 1)
    assert(ids(TxnTable.read(spark, src)) == (1L to 50L))
    assert(ids(TxnTable.readVersion(spark, dst, 0L)) == (1L to 50L))
  }

  test("history lists every retained commit with its operation and counts") {
    import org.apache.spark.sql.functions.col
    val root = tbl()
    TxnTable.append(df(1 to 10).coalesce(1), root)                  // v0
    TxnTable.merge(spark, df(5 to 12).coalesce(1), root, Seq("id")) // v1
    TxnTable.delete(spark, root, col("id") === 1L, cdf = true)      // v2
    TxnTable.deleteDv(spark, root, col("id") === 2L)                // v3
    TxnTable.setConstraint(spark, root, "pos", "id > 0")            // v4 meta-only
    val h = TxnTable.historySummary(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3),
        r.getInt(4), r.getInt(5)))
    assert(h.map(_._1).toSeq == Seq(4L, 3L, 2L, 1L, 0L), "newest first")
    assert(h.map(_._2).toSeq ==
      Seq("set-constraint#pos", "delete-dv", "delete", "merge", "append"), h.toSeq)
    val byV = h.map(t => t._1 -> t).toMap
    assert(byV(0L)._3 == 1 && byV(0L)._4 == 0)           // one add, no removes
    assert(byV(1L)._4 > 0, "merge removes the touched file")
    assert(byV(2L)._5 > 0, "cdf delete records change files")
    assert(byV(3L)._3 == byV(3L)._4, "MoR delete re-adds what it removes")
    // timestamps are monotone non-decreasing in version order
    val ts = TxnTable.historySummary(spark, root).orderBy(col("version"))
      .collect().map(_.getTimestamp(1).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // history truncates with the log, like time travel
    (0 until 6).foreach(i => TxnTable.append(df(100 + i to 100 + i), root)) // →v10
    TxnTable.expireLog(root)
    assert(TxnTable.historySummary(spark, root).collect().map(_.getLong(0)).min == 10L)
  }

  test("timestampAsOf resolves to the last commit at or before the instant") {
    val root = tbl()
    TxnTable.append(df(1 to 3), root)          // v0
    Thread.sleep(15)
    val betwixt = System.currentTimeMillis()
    Thread.sleep(15)
    TxnTable.overwrite(df(10 to 12), root)     // v1
    assert(TxnTable.versionAsOf(root, betwixt) == 0L)
    assert(TxnTable.versionAsOf(root, System.currentTimeMillis()) == 1L)
    assert(ids(TxnTable.readTimestamp(spark, root, betwixt)) == (1L to 3L))
    // an instant before the first commit fails loudly
    val e = intercept[RuntimeException](TxnTable.versionAsOf(root, 1L))
    assert(e.getMessage.contains("no commit at or before"))
    // commit timestamps are STRICTLY increasing even within one clock
    // millisecond (the inCommitTimestamp guard: max(now, prev + 1)), so
    // newest-first timestamp resolution can never tie-break wrong
    val root2 = tbl()
    (0 until 8).foreach(i => TxnTable.append(df(i to i), root2)) // rapid-fire
    val ts2 = TxnTable.historySummary(spark, root2)
      .orderBy(org.apache.spark.sql.functions.col("version"))
      .collect().map(_.getTimestamp(1).getTime).distinct
    assert(ts2.length == 8 && ts2.zip(ts2.tail).forall { case (a, b) => a < b },
      s"timestamps must be strictly increasing: ${ts2.toSeq}")
  }

  test("CHECK constraints: bad batches refused before commit; existing violations block ADD") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tbl()
    TxnTable.append(df(1 to 10), root)                                   // v0
    // a constraint the current data violates is refused (Delta's rule)
    intercept[IllegalArgumentException](
      TxnTable.setConstraint(spark, root, "big_ids", "id > 5"))
    TxnTable.setConstraint(spark, root, "pos_id", "id > 0")              // v1
    assert(TxnTable.constraints(root) == Map("pos_id" -> "id > 0"))
    // a violating batch is refused and NOTHING commits — no new version,
    // no orphan files
    val before = TxnTable.latestVersion(root)
    val e = intercept[IllegalArgumentException](
      TxnTable.append(df(-3 to -1), root))
    assert(e.getMessage.contains("pos_id"))
    assert(TxnTable.latestVersion(root) == before)
    // valid batches pass; NULL evaluates as pass (SQL CHECK semantics)
    TxnTable.append(
      Seq((11L, "v11"), (12L, null)).toDF("id", "payload"), root)
    assert(ids(TxnTable.read(spark, root)) == (1L to 12L))
    // merge validates its delta too
    intercept[IllegalArgumentException](TxnTable.merge(spark,
      Seq((-9L, "bad")).toDF("id", "payload"), root, Seq("id")))
    // the log's protocol upgraded to writer 3 and carries the configuration
    val logs = FsTest.list(java.nio.file.Paths.get(root, "_delta_log"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(logs.exists(_.contains(""""minWriterVersion":3""")), "no protocol upgrade")
    assert(logs.exists(_.contains(""""delta.constraints.pos_id":"id > 0"""")), "config missing")
    // DROP lifts enforcement; the config survives unrelated re-emission
    TxnTable.dropConstraint(root, "pos_id")
    assert(TxnTable.constraints(root).isEmpty)
    TxnTable.append(df(-1 to -1).filter(col("id") === -1L), root)
    assert(TxnTable.read(spark, root).where("id = -1").count() == 1)
  }

  test("appendOnce refuses schema drift; quoted tokens round-trip the dedup ledger") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 3), root)
    // a batch with a different shape must not silently become the table
    // schema via the commit's metaData action
    intercept[IllegalArgumentException](TxnTable.appendOnce(
      Seq((9L, 1.5)).toDF("id", "score"), root, "batch-1"))
    // a token containing quotes/backslashes survives the log round-trip:
    // the dedup ledger still recognizes the replay
    val tok = """app"quote\back-7"""
    val v = TxnTable.appendOnce(df(4 to 5), root, tok)
    assert(TxnTable.appendOnce(df(4 to 5), root, tok) == v)
    assert(ids(TxnTable.read(spark, root)) == (1L to 5L))
    // control characters are refused at the door (they would split the line)
    intercept[IllegalArgumentException](
      TxnTable.appendOnce(df(6 to 7), root, "bad\ntoken"))
  }

  test("a writer dying right after the commit point leaves the whole commit") {
    import spark.implicits._
    val root = tbl()
    TxnTable.append(df(1 to 3), root)                                   // v0
    // publishes the version, then dies before anything after the claim runs
    graft.sources.CommitLock.overrideLock = Some(new graft.sources.CommitLock {
      override def claim(dst: java.nio.file.Path, tmp: java.nio.file.Path): Boolean = {
        graft.sources.HardLinkLock.claim(dst, tmp)
        throw new IllegalStateException("writer died after the commit point")
      }
    })
    try intercept[IllegalStateException](TxnTable.appendEvolve(
      Seq((4L, "v4", 1.5)).toDF("id", "payload", "x"), root))           // v1
    finally graft.sources.CommitLock.overrideLock = None
    assert(TxnTable.latestVersion(root) == 1L)
    // the evolved column is part of the committed snapshot
    val snap = TxnTable.read(spark, root)
    assert(snap.columns.toSeq == Seq("id", "payload", "x"), snap.columns.toSeq)
    assert(snap.where("id = 4").select("x").as[Double].collect().toSeq == Seq(1.5))
    // DESCRIBE HISTORY lists it with its operation and timestamp, and that
    // timestamp time-travels to it
    val h = TxnTable.historySummary(spark, root).where("version = 1").collect()
    assert(h.length == 1 && h.head.getString(2) == "append", h.toSeq)
    val ts = h.head.getTimestamp(1).getTime
    assert(TxnTable.versionAsOf(root, ts) == 1L)
    assert(ids(TxnTable.readTimestamp(spark, root, ts)) == (1L to 4L))
    // the next append in the committed schema lands on top of it
    assert(TxnTable.append(Seq((5L, "v5", 2.5)).toDF("id", "payload", "x"), root) == 2L)
    assert(ids(TxnTable.read(spark, root)) == (1L to 5L))
    // one log: nothing but `_delta_log` records the table
    assert(!Files.exists(java.nio.file.Paths.get(root, "_txn_log")))
  }

  test("reading a snapshot runs no Spark job, also when seeded from a checkpoint") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val root = tbl()
    // v0..v11, four files each: past the 32 paths at which a path-list
    // scan starts a distributed listing job
    (0 until 12).foreach(i =>
      TxnTable.append(df(i * 10 + 1 to i * 10 + 10).repartition(4), root))
    assert(TxnTable.foldReport(root) == (Some(10L), 1), "the read must seed from v10")
    val group = s"snapshot-read-${System.nanoTime()}"
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(group)).foreach(started.put)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "snapshot reads")
      val adds = TxnTable.liveAddsForTest(root)
      val below = TxnTable.liveAddsForTest(root, 4L)
      val ddl = TxnTable.showCreate(root, "t")            // schema + config
      val pruned = TxnTable.skippingReport(root, col("id") > 100L)
      val plan = TxnTable.read(spark, root).queryExecution.sparkPlan
      // a sentinel job in a sibling group: the bus delivers job starts in
      // order, so once it arrives every earlier start has been seen
      sc.setJobGroup(group + "-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val seen = Iterator.continually(started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(g => g != null && g != group + "-sentinel").toList
      assert(seen.isEmpty, s"snapshot reads ran ${seen.size} Spark job(s)")
      assert(adds.size >= 40 && below.nonEmpty && below.size < adds.size &&
        ddl.contains("payload") && pruned._2 > 0 && pruned._1 + pruned._2 == adds.size,
        (adds.size, below.size, pruned))
      assert(plan.toString.contains("TxnFileIndex"), plan)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a partitioned snapshot scans as one relation: pruning, temporal values, clone, DVs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    // 8 partition dirs (p × day; ts follows day) × 2 writer tasks × 3
    // versions: 48 files under 3 version directories
    def rows(v: Int): Seq[(Long, String, String, java.sql.Date, java.sql.Timestamp)] = (1 to 40).map { i =>
      val id = v * 100L + i
      val day = Seq("2024-01-01", "2024-02-29")((i / 4) % 2)
      (id, s"v$id", s"p${i % 4}", java.sql.Date.valueOf(day),
        java.sql.Timestamp.valueOf(s"$day 06:30:00"))
    }
    val root = tbl()
    (0 until 3).foreach(v => TxnTable.appendPartitioned(
      rows(v).toDF("id", "payload", "p", "day", "ts").repartition(2), root,
      Seq("p", "day", "ts")))
    val expected = (0 until 3).flatMap(rows)
    val adds = TxnTable.liveAddsForTest(root)
    assert(adds.size >= 40 &&
      adds.map(_.file.split('/').take(2).mkString("/")).distinct.size == 3, adds.size)
    def scans(d: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
      d.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    def read(r: String) = TxnTable.read(spark, r)
      .as[(Long, String, String, java.sql.Date, java.sql.Timestamp)]
      .collect().sortBy(_._1).toSeq

    // one relation over every version directory; date and timestamp
    // partition values decode off the log to the written values
    assert(scans(TxnTable.read(spark, root)).size == 1)
    assert(read(root) == expected)

    // a partition equality lists only the matching files and rows
    val p1 = TxnTable.read(spark, root).filter(col("p") === "p1")
    val scan = scans(p1).head
    val listed = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath.toString)
    assert(listed.size == adds.count(_.partitionValues("p") == "p1") &&
      listed.forall(_.contains("/p=p1/")), listed)
    assert(p1.count() == expected.count(_._3 == "p1"))
    val where = TxnTable.readWhere(spark, root, col("p") === "p1")
    assert(where.inputFiles.length == listed.size &&
      where.inputFiles.forall(_.contains("/p=p1/")) && where.count() == p1.count())

    // a shallow clone's absolute re-adds scan as one relation too
    val clone = tbl() + "/clone"
    TxnTable.cloneShallow(root, clone)
    assert(scans(TxnTable.read(spark, clone)).size == 1)
    assert(read(clone) == expected)

    // deletion vectors keep their marked rows hidden, also under pruning
    TxnTable.deleteDv(spark, root, col("id") % 3 === 0L)
    assert(TxnTable.liveAddsForTest(root).exists(_.dv.isDefined))
    assert(read(root) == expected.filter(_._1 % 3 != 0))
    assert(TxnTable.read(spark, root).filter(col("p") === "p1").count() ==
      expected.count(r => r._3 == "p1" && r._1 % 3 != 0))
    assert(read(clone) == expected)
    // the DV probe and the row-id bases key on file paths, not on the
    // part-file names every partition directory of one write shares
    TxnTable.enableRowTracking(spark, root)
    val rowIds = TxnTable.readWithRowIds(spark, root).select("_row_id").as[Long].collect()
    assert(rowIds.length == expected.count(_._1 % 3 != 0) &&
      rowIds.distinct.length == rowIds.length, rowIds.length)
  }
}
