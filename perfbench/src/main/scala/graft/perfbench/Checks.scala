package graft.perfbench

import Inputs.Bonus

/** Correctness checks on what the program committed, against values
  * computed apart from it. Each returns the problems it found; an empty
  * list passes. They take plain collections so the self-test can feed
  * them doctored outputs. */
object Checks {

  /** Committed activity ids must be exactly the generated inserts: none
    * missing, none extra (deletes, tombstones and malformed records carry
    * no insert), none committed twice. */
  def activityIds(committed: Seq[Int], inserted: Seq[Int]): Seq[String] = {
    val dups = committed.groupBy(identity).collect { case (id, xs) if xs.size > 1 => id }
    val (c, i) = (committed.toSet, inserted.toSet)
    Seq(
      Option.when(dups.nonEmpty)(s"ids committed more than once: ${dups.toSeq.sorted.take(5)}"),
      Option.when((i -- c).nonEmpty)(s"inserts missing: ${(i -- c).toSeq.sorted.take(5)}"),
      Option.when((c -- i).nonEmpty)(s"ids that were never inserted: ${(c -- i).toSeq.sorted.take(5)}"),
    ).flatten
  }

  /** The committed bonus table must equal the recomputation, field by
    * field, with one row per employee. */
  def bonus(committed: Seq[Bonus], expected: Map[Int, Bonus]): Seq[String] = {
    val byId = committed.groupBy(_.idEmployee)
    val rowCount = Option.when(committed.size != expected.size || byId.size != expected.size)(
      s"bonus rows ${committed.size} (${byId.size} employees), expected ${expected.size}")
    val fields = expected.toSeq.sortBy(_._1).flatMap { case (id, want) =>
      byId.get(id).map(_.head) match {
        case None => Some(s"employee $id missing from the bonus table")
        case Some(got) if got != want => Some(s"employee $id: got $got, expected $want")
        case _ => None
      }
    }
    (rowCount.toSeq ++ fields).take(5)
  }

  /** Time travel over the bonus table: version i counts exactly the
    * inserts of batches 0..i (the property freshness_ms relies on). */
  def bonusVersions(countsPerVersion: Seq[Long], insertsPerBatch: Seq[Int]): Seq[String] = {
    val want = insertsPerBatch.scanLeft(0L)(_ + _).tail
    if (countsPerVersion == want) Nil
    else Seq(s"bonus versions count ${countsPerVersion.take(8)}..., expected ${want.take(8)}...")
  }
}
