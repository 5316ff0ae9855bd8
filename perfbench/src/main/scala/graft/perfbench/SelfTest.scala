package graft.perfbench

/** Shows that each correctness check catches a doctored output and
  * passes the true one. Needs no Spark: the checks take plain values.
  * Run through `python3 perfbench/test_checks.py`. Exits non-zero on the
  * first check that misjudges. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val seed = 7L
    val batches = Inputs.batches(seed, 4, Main.BatchSize)
    val inserts = Cdc.inserts(batches)
    val ids = inserts.map(_.id)
    val expected = Inputs.expectedBonus(Inputs.employees(seed), Inputs.validations(seed), inserts)
    val bonus = expected.values.toSeq
    val perBatch = batches.map(_.inserts.size)
    val versions = perBatch.scanLeft(0L)(_ + _).tail

    // an employee with activities, so every doctored field changes something
    val row = bonus.filter(_.countActivity.isDefined).minBy(_.idEmployee)
    val victim = row.idEmployee
    val cases: Seq[(String, Seq[String], Boolean)] = Seq(
      ("true activity ids", Checks.activityIds(ids, ids), true),
      ("one event dropped", Checks.activityIds(ids.tail, ids), false),
      ("one id committed twice", Checks.activityIds(ids :+ ids(5), ids), false),
      ("a delete committed as a row", Checks.activityIds(ids :+ -1, ids), false),
      ("true bonus table", Checks.bonus(bonus, expected), true),
      ("one bonus cent off", Checks.bonus(
        bonus.filterNot(_.idEmployee == victim) :+ row.copy(totalSalary = row.totalSalary + BigDecimal("0.01")),
        expected), false),
      ("one activity counted twice", Checks.bonus(
        bonus.filterNot(_.idEmployee == victim) :+ row.copy(countActivity = row.countActivity.map(_ + 1)),
        expected), false),
      ("one employee missing", Checks.bonus(bonus.filterNot(_.idEmployee == victim), expected), false),
      ("true bonus versions", Checks.bonusVersions(versions, perBatch), true),
      ("a version one batch behind", Checks.bonusVersions(versions.updated(2, versions(1)), perBatch), false))

    require(inserts.size == 4 * 46 && batches.forall(_.records.size == Main.BatchSize),
      "each 50-record block must carry 46 inserts")
    val wrong = cases.filter { case (_, problems, ok) => problems.isEmpty != ok }
    cases.foreach { case (name, problems, ok) =>
      val verdict = if (problems.isEmpty) "passes" else s"fails: ${problems.head}"
      println(s"${if (problems.isEmpty == ok) "ok  " else "BAD "} $name $verdict")
    }
    if (wrong.nonEmpty) sys.exit(1)
  }
}
