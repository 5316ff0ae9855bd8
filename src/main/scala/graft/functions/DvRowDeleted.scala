package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side deletion-vector probe: `deleted(file_path, row_index)`.
  *
  * The merge-on-read scan filters DV-marked rows with this expression over
  * `_metadata.file_path` + `_metadata.row_index` — an O(1) bitmap probe
  * per row, fully inside whole-stage codegen. The alternative (anti-join
  * against exploded deleted positions) shuffles O(deleted rows) and breaks
  * codegen; a DV can mark millions of rows, the probe never cares.
  *
  * The serialized bitmaps ride the plan as a small per-file map (file path
  * → DV blob bytes); each task deserializes lazily and memoizes the
  * last-hit file, so a scan partition (one file at a time) pays one map
  * lookup per FILE, not per row. */
case class DvRowDeleted(file: Expression, rowIndex: Expression,
                        lookup: DvLookup) extends BinaryExpression {

  override def left: Expression = file
  override def right: Expression = rowIndex

  override def checkInputDataTypes(): TypeCheckResult =
    if (file.dataType == StringType && rowIndex.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, bigint), got " +
        s"${file.dataType.simpleString} and ${rowIndex.dataType.simpleString}")
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dv_row_deleted"

  override def nullSafeEval(f: Any, i: Any): Any =
    lookup.deleted(f.asInstanceOf[UTF8String], i.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvLookup", lookup, classOf[DvLookup].getName)
    nullSafeCodeGen(ctx, ev, (f, i) => s"${ev.value} = $ref.deleted($f, $i);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvRowDeleted =
    copy(file = newLeft, rowIndex = newRight)
}

/** Lazily-deserializing file-path → deletion-bitmap table (see
  * [[DvRowDeleted]]). The blob map ships as a BROADCAST, not inside the
  * serialized expression — a plan is re-serialized per task, a broadcast
  * lands once per executor, and at 100 TB a DV map can be hundreds of MB.
  * Safe under concurrent tasks: the bitmap cache is a ConcurrentHashMap
  * and the last-file memo is one volatile immutable pair (a stale read
  * just re-does a map lookup). */
final class DvLookup(
    blobsBc: org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]])
  extends Serializable {
  import graft.sources.DeletionVectors.RoaringBitmapArray

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, RoaringBitmapArray]()
  @transient @volatile private var last: (UTF8String, RoaringBitmapArray) = _

  def deleted(file: UTF8String, idx: Long): Boolean = {
    val memo = last
    if (memo != null && memo._1.equals(file)) {
      val bm = memo._2
      bm != null && bm.contains(idx)
    } else {
      val name = file.toString
      val bm = blobsBc.value.get(name) match {
        case Some(raw) =>
          var b = cache.get(name)
          if (b == null) {
            b = RoaringBitmapArray.deserialize(raw)
            cache.putIfAbsent(name, b)
          }
          b
        case None => null // file has no DV: nothing deleted
      }
      last = (file.clone(), bm)
      bm != null && bm.contains(idx)
    }
  }
}
