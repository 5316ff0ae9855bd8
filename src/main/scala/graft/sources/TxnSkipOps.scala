package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction => UFn}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** [[TxnTable]] concern module — DATA SKIPPING: predicate-conjunct
  * pruning over per-file min/max/null statistics, partition values,
  * Bloom indexes, and generated-column derivation; plus the pruned read
  * front doors (readWhere/skippingReport) and the bloom-indexed append. */
private[sources] trait TxnSkipOps { self: TxnTable.type =>
  // ---- metadata data skipping ----------------------------------------------
  // The 100 TB read path: before any parquet footer is opened, fold the
  // commit log's per-file min/max/nullCount against the predicate's
  // conjuncts and drop every file that PROVABLY contains no matching row.
  // Pruning is advisory-safe: kept files still pass through the real
  // `.filter(pred)`, so a conjunct the pruner does not understand costs
  // I/O, never correctness.

  private[sources] def conjuncts(e: Expression): Seq[Expression] = normalize(e) match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** A Column built from the fluent API converts to
    * `UnresolvedFunction("and" | ">=" | "in" | …)` nodes (the Connect-era
    * node shape); a Column lifted off a resolved plan converts to the
    * binary catalyst operators directly. Fold the former into the latter so
    * one matcher serves both. */
  private[sources] def normalize(c: Expression): Expression = c match {
    case f: UFn =>
      val a = f.arguments
      (f.nameParts.last.toLowerCase, a.size) match {
        case ("and", 2)       => And(normalize(a(0)), normalize(a(1)))
        case ("=" | "==", 2)  => EqualTo(a(0), a(1))
        case (">", 2)         => GreaterThan(a(0), a(1))
        case (">=", 2)        => GreaterThanOrEqual(a(0), a(1))
        case ("<", 2)         => LessThan(a(0), a(1))
        case ("<=", 2)        => LessThanOrEqual(a(0), a(1))
        case ("in", n) if n >= 2 => In(a.head, a.tail)
        case ("isnull", 1)    => IsNull(a(0))
        case ("isnotnull", 1) => IsNotNull(a(0))
        case _ => c
      }
    case _ => c
  }

  private[sources] def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private[sources] def litNum(l: Literal): Option[BigDecimal] = l.value match {
    case i: java.lang.Integer => Some(BigDecimal(i.intValue))
    case j: java.lang.Long    => Some(BigDecimal(j.longValue))
    case s: java.lang.Short   => Some(BigDecimal(s.intValue))
    case b: java.lang.Byte    => Some(BigDecimal(b.intValue))
    case f: java.lang.Float   =>
      if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toString))
    case d: java.lang.Double  =>
      if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d.toString))
    case d: Decimal           => Some(BigDecimal(d.toJavaBigDecimal))
    case _ => None
  }

  /** Exact three-way compare of a decoded stat value against a predicate
    * literal; None = incomparable (never prune on it). Numerics compare in
    * BigDecimal (no double rounding can mis-skip a file), strings in
    * UTF8String binary order — the same order Spark's min/max used. */
  private[sources] def cmpStat(statV: Any, l: Literal): Option[Int] = (statV, l.value) match {
    case (null, _) | (_, null) => None
    case (b: BigDecimal, _)    => litNum(l).map(b.compare)
    case (s: String, u: UTF8String) => Some(UTF8String.fromString(s).compareTo(u))
    case (b: java.lang.Boolean, v: java.lang.Boolean) => Some(b.compareTo(v))
    case (PartVal(s), u: UTF8String) => Some(UTF8String.fromString(s).compareTo(u))
    case (PartVal(s), _) if litNum(l).isDefined =>
      // a path-encoded partition value probed by a numeric literal: a
      // PartVal is a POINT (min = max = the value), so parsing it
      // numerically is exact when it parses and harmless when it doesn't.
      // (Never do this for real string-column stats: their lexicographic
      // min/max need not bracket the numeric range.)
      try Some(BigDecimal(s.trim).compare(litNum(l).get))
      catch { case _: NumberFormatException => None }
    case _ => None
  }

  /** A partition value folded into FileStats — string-typed in the path,
    * point-ranged by construction. */
  private[sources] final case class PartVal(s: String)

  /** Skip when the [min,max] range of `name` proves the comparison can
    * never hold; `skipWhen(cmp(min,lit), cmp(max,lit))`. A column whose
    * stats are (null,null) is all-null in this file, and no comparison
    * matches a null — skip. A column ABSENT from the maps is unknown. */
  private[sources] def rangeSkip(st: FileStats, name: String, l: Literal)
                       (skipWhen: (Option[Int], Option[Int]) => Boolean): Boolean =
    (st.minV.get(name), st.maxV.get(name)) match {
      case (Some(null), Some(null)) => true
      case (Some(mn), Some(mx)) => skipWhen(cmpStat(mn, l), cmpStat(mx, l))
      case _ => false
    }

  private[sources] def eqSkips(st: FileStats, n: String, l: Literal): Boolean =
    rangeSkip(st, n, l)((cm, cx) => cm.exists(_ > 0) || cx.exists(_ < 0))

  /** True when this conjunct alone proves the file holds no matching row. */
  private[sources] def skipConjunct(c0: Expression, st: FileStats): Boolean = {
    if (st.numRecords == 0L) return true
    // range proof OR bloom proof — either suffices for = and IN
    def eqOrBloomSkips(n: String, l: Literal): Boolean =
      eqSkips(st, n, l) || bloomExcludes(st, n, l)
    normalize(c0) match {
      case EqualTo(a, l: Literal) => attrName(a).exists(eqOrBloomSkips(_, l))
      case EqualTo(l: Literal, a) => attrName(a).exists(eqOrBloomSkips(_, l))
      case GreaterThan(a, l: Literal) => // rows need max > lit
        attrName(a).exists(n => rangeSkip(st, n, l)((_, cx) => cx.exists(_ <= 0)))
      case GreaterThan(l: Literal, a) => // lit > attr ≡ attr < lit
        attrName(a).exists(n => rangeSkip(st, n, l)((cm, _) => cm.exists(_ >= 0)))
      case GreaterThanOrEqual(a, l: Literal) =>
        attrName(a).exists(n => rangeSkip(st, n, l)((_, cx) => cx.exists(_ < 0)))
      case GreaterThanOrEqual(l: Literal, a) =>
        attrName(a).exists(n => rangeSkip(st, n, l)((cm, _) => cm.exists(_ > 0)))
      case LessThan(a, l: Literal) =>
        attrName(a).exists(n => rangeSkip(st, n, l)((cm, _) => cm.exists(_ >= 0)))
      case LessThan(l: Literal, a) =>
        attrName(a).exists(n => rangeSkip(st, n, l)((_, cx) => cx.exists(_ <= 0)))
      case LessThanOrEqual(a, l: Literal) =>
        attrName(a).exists(n => rangeSkip(st, n, l)((cm, _) => cm.exists(_ > 0)))
      case LessThanOrEqual(l: Literal, a) =>
        attrName(a).exists(n => rangeSkip(st, n, l)((_, cx) => cx.exists(_ < 0)))
      case In(a, ls) if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
        attrName(a).exists(n =>
          ls.forall(l => eqOrBloomSkips(n, l.asInstanceOf[Literal])))
      case IsNull(a) =>
        attrName(a).exists(n => st.nullC.get(n).contains(0L))
      case IsNotNull(a) =>
        attrName(a).exists(n => st.nullC.get(n).contains(st.numRecords))
      case _ => false
    }
  }

  /** Fold an add's path-encoded partitionValues into its FileStats as
    * point ranges (min = max = value): every value in the file IS the
    * partition value, so the same conjunct machinery prunes partitions and
    * data columns alike. The Hive null marker becomes an all-null column. */
  private[sources] def withPartitionStats(st: FileStats,
                                 pvs: Map[String, String]): FileStats =
    if (pvs.isEmpty) st
    else pvs.foldLeft(st) { case (s, (k, v)) =>
      if (v == "__HIVE_DEFAULT_PARTITION__")
        s.copy(minV = s.minV + (k -> null), maxV = s.maxV + (k -> null),
          nullC = s.nullC + (k -> s.numRecords))
      else
        s.copy(minV = s.minV + (k -> PartVal(v)), maxV = s.maxV + (k -> PartVal(v)),
          nullC = s.nullC + (k -> 0L))
    }

  private[sources] def decodeBloom(json: String): Map[String, (Int, Array[Long])] = {
    val m = MiniJson.parse(json).asInstanceOf[Map[String, Any]]
    val mBits = m("mBits").asInstanceOf[BigDecimal].toIntExact
    m.getOrElse("cols", Map.empty).asInstanceOf[Map[String, Any]].map {
      case (c, b64) =>
        val bytes = java.util.Base64.getDecoder.decode(b64.asInstanceOf[String])
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val arr = Array.fill(bytes.length / 8)(bb.getLong)
        c -> (mBits, arr)
    }
  }

  // ---- generated columns (derived partition pruning) -------------------------
  // The day-partitioned-by-timestamp shape: `day` is DECLARED as
  // `date_format(ts, 'yyyy-MM-dd')` (field metadata, Delta's
  // generationExpression), writes must satisfy the generation rule, and —
  // the point at 100 TB — a predicate on `ts` alone prunes the `day`
  // DIRECTORIES: for the monotonic generation forms below, `ts >= lo`
  // implies `day >= F(lo)`, so the pruner derives the partition conjunct
  // the user never wrote. Derivation is advisory-safe like all pruning
  // (survivors still run the real filter); unsupported forms derive
  // nothing and cost only I/O.

  private[sources] val GenExprKey = "delta.generationExpression"

  /** genCol → generation SQL, from field metadata. */
  private[sources] def generationMap(schema: StructType): Map[String, String] =
    schema.fields.iterator.filter(_.metadata.contains(GenExprKey))
      .map(f => f.name -> f.metadata.getString(GenExprKey)).toMap

  /** A parsed monotonic generation form: maps a source-column literal to
    * the generated column's literal. */
  private[sources] sealed trait GenForm { def src: String; def apply(l: Literal): Option[Literal] }
  private[sources] final case class GenDiv(src: String, n: Long) extends GenForm {
    def apply(l: Literal): Option[Literal] =
      litNum(l).filter(_.isWhole).map(v =>
        Literal(v.toLongExact / n, LongType)) // trunc toward zero = Spark div
  }
  private[sources] final case class GenDateFmt(src: String, pat: String) extends GenForm {
    def apply(l: Literal): Option[Literal] = l.value match {
      case micros: java.lang.Long if l.dataType.isInstanceOf[TimestampType] =>
        val ldt = java.time.LocalDateTime.ofInstant(
          java.time.Instant.EPOCH.plus(micros.longValue,
            java.time.temporal.ChronoUnit.MICROS), java.time.ZoneOffset.UTC)
        Some(Literal(UTF8String.fromString(
          ldt.format(java.time.format.DateTimeFormatter.ofPattern(pat))), StringType))
      case days: java.lang.Integer if l.dataType == DateType =>
        Some(Literal(UTF8String.fromString(
          java.time.LocalDate.ofEpochDay(days.longValue)
            .format(java.time.format.DateTimeFormatter.ofPattern(pat))), StringType))
      case _ => None
    }
  }
  private[sources] final case class GenSubstr(src: String, n: Int) extends GenForm {
    def apply(l: Literal): Option[Literal] = l.value match {
      case u: UTF8String =>
        Some(Literal(UTF8String.fromString(u.toString.take(n)), StringType))
      case _ => None
    }
  }

  private[sources] val DivRe = """(?i)^\s*(\w+)\s+div\s+(\d+)\s*$""".r
  // only ISO prefixes are monotonic in string order; 'MM-dd' alone is not
  private[sources] val DateFmtRe =
    """(?i)^\s*date_format\(\s*(\w+)\s*,\s*'(yyyy(?:-MM(?:-dd)?)?)'\s*\)\s*$""".r
  private[sources] val SubstrRe =
    """(?i)^\s*substring\(\s*(\w+)\s*,\s*1\s*,\s*(\d+)\s*\)\s*$""".r

  private[sources] def parseGenForm(sql: String): Option[GenForm] = sql match {
    case DivRe(src, n) if n.toLong > 0 => Some(GenDiv(src, n.toLong))
    case DateFmtRe(src, pat)           => Some(GenDateFmt(src, pat))
    case SubstrRe(src, n)              => Some(GenSubstr(src, n.toInt))
    case _                             => None
  }

  /** Conjuncts on GENERATED columns derived from conjuncts on their
    * source columns. `F` is monotone non-decreasing for every supported
    * form, so `src ≥ lo ⇒ gen ≥ F(lo)` (strict compares relax to ≥/≤ —
    * F collapses distinct sources to one generated value). */
  private[sources] def deriveGenConjuncts(schema: StructType, cs: Seq[Expression],
                                 nameMap: Map[String, String]): Seq[Expression] = {
    val gens = generationMap(schema)
    if (gens.isEmpty) return Seq.empty
    val forms = gens.toSeq.flatMap { case (g, sql) =>
      parseGenForm(sql).map { f =>
        (nameMap.getOrElse(f.src, f.src),
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq(nameMap.getOrElse(g, g))), f)
      }
    }
    if (forms.isEmpty) return Seq.empty
    def derived(src: String, mk: GenForm => Option[Expression]): Seq[Expression] =
      forms.collect { case (s, _, f) if s == src => mk(f) }.flatten
    cs.flatMap { c =>
      def gAttr(f: GenForm) = forms.find(_._3 eq f).get._2
      normalize(c) match {
        case EqualTo(a, l: Literal) =>
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(EqualTo(gAttr(f), _))))
        case EqualTo(l: Literal, a) =>
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(EqualTo(gAttr(f), _))))
        case GreaterThan(a, l: Literal) =>
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(GreaterThanOrEqual(gAttr(f), _))))
        case GreaterThanOrEqual(a, l: Literal) =>
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(GreaterThanOrEqual(gAttr(f), _))))
        case LessThan(a, l: Literal) =>
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(LessThanOrEqual(gAttr(f), _))))
        case LessThanOrEqual(a, l: Literal) =>
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(LessThanOrEqual(gAttr(f), _))))
        case GreaterThan(l: Literal, a) => // lit > src ≡ src < lit
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(LessThanOrEqual(gAttr(f), _))))
        case GreaterThanOrEqual(l: Literal, a) =>
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(LessThanOrEqual(gAttr(f), _))))
        case LessThan(l: Literal, a) =>
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(GreaterThanOrEqual(gAttr(f), _))))
        case LessThanOrEqual(l: Literal, a) =>
          attrName(a).toSeq.flatMap(derived(_, f => f(l).map(GreaterThanOrEqual(gAttr(f), _))))
        case In(a, ls) if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
          attrName(a).toSeq.flatMap(derived(_, f => {
            val mapped = ls.map(l => f(l.asInstanceOf[Literal]))
            if (mapped.forall(_.isDefined)) Some(In(gAttr(f), mapped.map(_.get)))
            else None
          }))
        case _ => Seq.empty
      }
    }
  }

  /** (kept, skipped) partition of `adds` under `pred`'s provable conjuncts. */
  private[sources] def pruneAdds(adds: Seq[AddFile], pred: Column,
                        nameMap: Map[String, String] = Map.empty,
                        genSchema: Option[StructType] = None): (Seq[AddFile], Seq[AddFile]) = {
    val cs0 = conjuncts(mapPredNames(
      org.apache.spark.sql.GraftColumnExpr.expr(pred), nameMap))
    val cs = cs0 ++ genSchema.map(deriveGenConjuncts(_, cs0, nameMap))
      .getOrElse(Seq.empty)
    adds.partition { a =>
      a.stats.map { j =>
        withPartitionStats(decodeStats(j), a.partitionValues)
          .copy(blooms = a.bloom.map(decodeBloom).getOrElse(Map.empty))
      } match {
        case None => true
        case Some(st) => !cs.exists(skipConjunct(_, st))
      }
    }
  }

  /** Snapshot read with log-level data skipping: files whose stats prove
    * `pred` cannot match are never opened; the survivors still run through
    * the real filter, so pruning can only save I/O, never change rows. */
  def readWhere(spark: SparkSession, root: String, pred: Column,
                asOf: Long = -1L): DataFrame = {
    val last = latestVersion(root)
    require(last >= 0, s"$root is not a TxnTable (no _delta_log)")
    require(asOf <= last, s"version $asOf does not exist (latest $last)")
    val adds = liveAdds(root, asOf)
    val meta = readMeta(root, asOf)
    val nameMap = meta.map(m => colMapping(m._1)).getOrElse(Map.empty)
    val (kept, _) = pruneAdds(adds, pred, nameMap, genSchema = meta.map(_._1))
    val missing = kept.filterNot(a => Files.exists(filePath(root, a.file)))
    require(missing.isEmpty, s"readWhere references vacuumed files: " +
      missing.map(_.file).mkString(", "))
    readFiles(spark, root, kept, asOf).filter(pred)
  }

  /** (filesRead, filesSkipped) the pruner would choose for `pred` — the
    * observability hook the skipping specs and audits gate on. */
  def skippingReport(root: String, pred: Column, asOf: Long = -1L): (Int, Int) = {
    val meta = readMeta(root, asOf)
    val (kept, skipped) = pruneAdds(liveAdds(root, asOf), pred,
      meta.map(m => colMapping(m._1)).getOrElse(Map.empty),
      genSchema = meta.map(_._1))
    (kept.size, skipped.size)
  }

  // ---- per-file Bloom indexes ----------------------------------------------
  // Point lookups on high-cardinality UNSORTED keys are the pruning class
  // min/max cannot serve: every file's range spans everything, yet each
  // file holds almost none of the keys. A small per-file Bloom filter
  // (k=4 bit positions carved from one xxhash64) answers "can this file
  // contain v?" with no false negatives, so = and IN conjuncts skip the
  // files that provably lack the key — the open formats' bloom index,
  // folded into the same conjunct machinery.

  private[sources] val BloomK = 4

  /** The k bit positions for a 64-bit hash in an m-bit filter — 16-bit
    * slices of the hash, identical arithmetic on the build (SQL) and probe
    * (driver) sides. */
  private[sources] def bloomBits(h: Long, mBits: Int): Seq[Int] =
    (0 until BloomK).map { i =>
      val p = (h >>> (i * 16)) % mBits
      (if (p < 0) p + mBits else p).toInt
    }

  /** Driver-side xxhash64 matching Spark's `xxhash64(col)` (seed 42);
    * BloomSpec pins the equivalence against the SQL function. */
  private[sources] def sparkHash(l: Literal): Option[Long] = l.value match {
    case j: java.lang.Long => Some(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(j.longValue, 42L))
    case i: java.lang.Integer => Some(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i.intValue, 42L))
    case u: UTF8String => Some(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        u.getBaseObject, u.getBaseOffset, u.numBytes, 42L))
    case _ => None
  }

  /** True when the file's Bloom for `name` PROVES `l` is absent. */
  private[sources] def bloomExcludes(st: FileStats, name: String, l: Literal): Boolean =
    st.blooms.get(name).exists { case (m, words) =>
      sparkHash(l).exists { h =>
        bloomBits(h, m).exists(p => (words(p >>> 6) & (1L << (p & 63))) == 0L)
      }
    }

  /** Append with per-file Bloom indexes over `bloomCols` (LongType,
    * IntegerType or StringType key columns). The build is ONE distributed
    * pass over the just-written files — per row, k (word, bit) pairs;
    * per (file, word), a `bit_or` — so O(files × mBits/64) words reach
    * the driver, never rows. The filters ride each add action's `tags`
    * (`graft.bloom`), outside `stats` — the protocol's free-form slot,
    * which readers that know nothing of it ignore. */
  def appendBloom(df: DataFrame, root: String,
                  bloomCols: Seq[String], mBits: Int = 8192,
                  partCols: Seq[String] = Nil): Long = {
    require(mBits % 64 == 0 && mBits > 0, "mBits must be a positive multiple of 64")
    bloomCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt == LongType || dt == IntegerType || dt == StringType,
        s"bloom column $c: $dt is not a supported key type (long/int/string)")
    }
    // the table's layout wins: an existing partitioned table fixes the
    // partition columns; partCols only seeds a FIRST commit
    val pcs = readMeta(root).map(_._2).getOrElse(partCols)
    require(partCols.isEmpty || pcs == partCols,
      s"table is partitioned by ${pcs.mkString(",")}, got ${partCols.mkString(",")}")
    require(pcs.forall(c => !bloomCols.contains(c)),
      "partition columns already prune exactly; bloom-index data columns only")
    val base =
      if (pcs.isEmpty) writeDataFiles(df, root, latestVersion(root) + 1)
      else writePartitionedFiles(df, root, latestVersion(root) + 1, pcs)
    val spark = df.sparkSession
    val subDir = base.head.file.split('/').take(2).mkString("/")
    val written = spark.read.schema(df.schema)
      .option("basePath", Paths.get(root, subDir).toString)
      .parquet(Paths.get(root, subDir).toString)
    val words = mBits / 64
    val perFile: Map[String, Map[String, Array[Long]]] = bloomCols.map { c =>
      val entries = written
        .select(col("_metadata.file_path").as("__f"), xxhash64(col(c)).as("__h"))
        .select(col("__f"), explode(expr(
          s"""transform(sequence(0, ${BloomK - 1}), i ->
             |pmod(shiftrightunsigned(__h, i * 16), $mBits))""".stripMargin)).as("__p"))
        .groupBy(col("__f"), (col("__p") / 64).cast("int").as("__w"))
        .agg(expr("bit_or(shiftleft(1L, CAST(__p % 64 AS INT)))").as("__mask"))
        .collect()
      val byFile = entries.groupBy(_.getString(0)).map { case (uri, rows) =>
        val arr = new Array[Long](words)
        rows.foreach(r => arr(r.getInt(1)) |= r.getLong(2))
        uri.substring(uri.lastIndexOf('/') + 1) -> arr
      }
      c -> byFile
    }.foldLeft(Map.empty[String, Map[String, Array[Long]]]) { case (acc, (c, byFile)) =>
      byFile.foldLeft(acc) { case (a, (f, arr)) =>
        a + (f -> (a.getOrElse(f, Map.empty) + (c -> arr)))
      }
    }
    def b64(arr: Array[Long]): String = {
      val bb = java.nio.ByteBuffer.allocate(arr.length * 8)
      arr.foreach(bb.putLong)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
    val adds = base.map { a =>
      val name = a.file.substring(a.file.lastIndexOf('/') + 1)
      val bl = perFile.getOrElse(name, Map.empty)
      if (bl.isEmpty) a
      else a.copy(bloom = Some(
        s"""{"mBits":$mBits,"cols":{${bl.toSeq.sortBy(_._1).map { case (c, arr) =>
          s""""${MiniJson.escape(c)}":"${b64(arr)}"""" }.mkString(",")}}}"""))
    }
    casRetry("appendBloom") {
      // same rebase rule as appendImpl: refuse shape drift instead of
      // letting this commit's metaData silently replace the read schema
      val unified = unifiedSchema(root, df.schema, evolve = false, "appendBloom")
      val v = latestVersion(root) + 1
      commit(root, v, "append", adds, Seq.empty,
        schemaJson = Some(unified.json), partCols = pcs)
      v
    }
  }
}
