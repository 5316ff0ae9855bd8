package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Everything the CDC workloads feed the program, generated from the seed
  * in plain Scala: employees, commute validations and Debezium envelopes.
  * The program sees only these rows. The expected bonus table is computed
  * here too, apart from the program, for the correctness checks. */
object Inputs {

  final case class Employee(id: Int, grossSalary: Int, businessUnity: String,
                            contractType: String)
  final case class Validation(idEmployee: Int, distance: BigDecimal, isValid: Boolean)
  /** One inserted activity, as the envelope carries it. */
  final case class Activity(id: Int, idEmployee: Int, startMicros: Long,
                            sport: String, distance: Option[Double],
                            duration: Int, comment: Option[String])
  /** One Kafka record: key and value bytes (a null value is a tombstone). */
  final case class Record(key: Array[Byte], value: Array[Byte])
  /** A batch as produced, with the inserts it carries. */
  final case class Batch(records: Vector[Record], inserts: Vector[Activity])

  /** Expected bonus row, computed apart from the program. */
  final case class Bonus(idEmployee: Int, countActivity: Option[Long],
                         meanDuration: Option[Double], commutePrime: BigDecimal,
                         totalSalary: BigDecimal, isValidActivities: Boolean)

  val Employees = 161 // the reference's HR workbook
  private val units = Vector("Marketing", "R&D", "Ventes", "Support", "Finance")
  private val sports = Vector("Course à pied", "Marche", "Vélo", "Natation",
    "Randonnée", "Escalade", "Tennis", "Yoga", "Musculation", "Badminton")
  private val comments = Vector("Super séance aujourd'hui !",
    "Nouveau record personnel !", "Reprise du sport :)")

  def employees(seed: Long): Vector[Employee] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    (1 to Employees).map { id =>
      Employee(id, 20000 + r.nextInt(60000), units(r.nextInt(units.size)),
        if (r.nextDouble() < 0.8) "CDI" else "CDD")
    }.toVector
  }

  def validations(seed: Long): Vector[Validation] = {
    val r = new SplittableRandom(seed ^ 0xc0ffeeL)
    (1 to Employees).map { id =>
      Validation(id, BigDecimal(1000 + r.nextInt(2900000)) / 100, r.nextDouble() < 0.6)
    }.toVector
  }

  private def activity(r: SplittableRandom, id: Int): Activity = {
    val hasDistance = r.nextDouble() < 0.6
    Activity(id, 1 + r.nextInt(Employees),
      1704067200000000L + r.nextLong(366L * 86400L) * 1000000L,
      sports(r.nextInt(sports.size)),
      if (hasDistance) Some((500 + r.nextInt(40000)).toDouble) else None,
      600 + r.nextInt(6600),
      if (r.nextDouble() < 0.3) Some(comments(r.nextInt(comments.size))) else None)
  }

  private def q(s: String): String = "\"" + s.replace("\"", "\\\"") + "\""

  def insertJson(a: Activity): String =
    s"""{"payload":{"op":"c","before":null,"after":{"id":${a.id},"id_employee":${a.idEmployee},""" +
      s""""first_name":"Prénom${a.idEmployee}","last_name":"Nom${a.idEmployee}",""" +
      s""""start_datetime":${a.startMicros},"sport_type":${q(a.sport)},""" +
      s""""distance":${a.distance.map(_.toString).getOrElse("null")},""" +
      s""""activity_duration":${a.duration},"comment":${a.comment.map(q).getOrElse("null")}}}}"""

  def deleteJson(id: Int): String =
    s"""{"payload":{"op":"d","before":{"id":$id},"after":null}}"""

  private def key(id: Int): Array[Byte] = s"""{"id":$id}""".getBytes(UTF_8)

  /** `n` records starting at activity id `firstId`: of each 50, 46 are
    * inserts, 2 deletes of ids inserted before, 1 tombstone, 1 malformed
    * record. No updates: see the README on `op = "u"`. */
  def batch(r: SplittableRandom, firstId: Int, n: Int): Batch = {
    require(n % 50 == 0, s"batch size $n is not a whole number of 50-record blocks")
    val recs = Vector.newBuilder[Record]
    val ins = Vector.newBuilder[Activity]
    var next = firstId
    (0 until n / 50).foreach { _ =>
      val block = (0 until 46).map { _ => val a = activity(r, next); next += 1; a }
      ins ++= block
      val extra = Vector(
        Record(key(block(3).id), deleteJson(block(3).id).getBytes(UTF_8)),
        Record(key(block(17).id), deleteJson(block(17).id).getBytes(UTF_8)),
        Record(key(block(17).id), null),
        Record(null, insertJson(block(30)).take(40).getBytes(UTF_8)))
      val mixed = block.map(a => Record(key(a.id), insertJson(a).getBytes(UTF_8))) ++ extra
      // the extras go after the inserts they refer to, at seeded positions
      recs ++= mixed.take(20) ++ r.shuffled(mixed.drop(20))
    }
    Batch(recs.result(), ins.result())
  }

  private implicit class Shuffle(r: SplittableRandom) {
    def shuffled[T](xs: Seq[T]): Seq[T] = {
      val a = xs.toArray[Any]
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq.asInstanceOf[Seq[T]]
    }
  }

  /** `count` batches of `size` records with consecutive ids from 1. */
  def batches(seed: Long, count: Int, size: Int): Vector[Batch] = {
    val r = new SplittableRandom(seed)
    var first = 1
    (0 until count).map { _ =>
      val b = batch(r, first, size); first += b.inserts.size; b
    }.toVector
  }

  /** The bonus table, recomputed from the inserts alone: the reference's
    * README query (per-employee count and mean duration; 5% commute prime
    * when the commute is valid; total = gross + prime; valid activities =
    * count >= 15). */
  def expectedBonus(emps: Seq[Employee], vals: Seq[Validation],
                    inserts: Seq[Activity]): Map[Int, Bonus] = {
    val byEmp = inserts.groupBy(_.idEmployee)
    val valid = vals.map(v => v.idEmployee -> v.isValid).toMap
    emps.map { e =>
      val acts = byEmp.getOrElse(e.id, Nil)
      val gross = BigDecimal(e.grossSalary).setScale(2)
      val prime =
        if (valid(e.id)) (gross * BigDecimal("0.05")).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        else BigDecimal(0).setScale(2)
      val n = acts.size.toLong
      e.id -> Bonus(e.id,
        if (n == 0) None else Some(n),
        if (n == 0) None else Some(acts.map(_.duration.toLong).sum.toDouble / n),
        prime, gross + prime, n >= 15)
    }.toMap
  }
}
