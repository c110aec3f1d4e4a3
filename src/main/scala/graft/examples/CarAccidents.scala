package graft.examples

import graft.api.{Stream, StreamContext}

/** The reference's car-accidents analytics workload (reference:
  * examples/car_accidents.rs) on the typed façade — three queries over an
  * accident table:
  *  1. lethal accidents per week (map → group_by_sum);
  *  2. per contributing factor: accident count + lethal count, factors
  *     deduped within a record (flat_map unique → group_by_fold);
  *  3. per (borough, week): accident count, lethal count, lethal %
  *     (map → keyed fold, shared source split).
  */
object CarAccidents {

  /** (date "MM/DD/YYYY", borough, killed, factors). */
  final case class Accident(date: String, borough: String, killed: Int,
      factors: Seq[String])

  private val daysBefore =
    Array(0, 0, 31, 59, 90, 120, 151, 181, 212, 243, 273, 304, 334)

  /** (year, week) as the reference computes it (day-of-year / 7,
    * reference: car_accidents.rs `Accident::week`). */
  def week(date: String): (Int, Int) = {
    val month = date.substring(0, 2).toInt
    var day = date.substring(3, 5).toInt
    val year = date.substring(6, 10).toInt
    day += daysBefore(month)
    if (year % 4 == 0 && (year % 100 != 0 || year % 400 == 0) && month >= 3)
      day += 1
    (year, day / 7)
  }

  /** Q1: lethal accidents per (year, week). Weeks with ONLY non-lethal
    * accidents emit nothing (the reference filters before grouping —
    * car_accidents.rs Q1), rather than a spurious 0-count row. */
  def lethalPerWeek(src: Stream[Accident]): Seq[((Int, Int), Long)] = {
    val s = src.spark
    import s.implicits._
    src.filter(_.killed > 0)
      .map(a => (week(a.date), 1L))
      .toKeyed[(Int, Int), Long]
      .sum(identity)
      .collectVec()
  }

  /** Q2: per contributing factor (deduped within a record): accident count
    * and lethal count. */
  def perFactor(src: Stream[Accident]): Seq[(String, Long, Long)] = {
    val s = src.spark
    import s.implicits._
    src.flatMap(a => a.factors.distinct.filter(_.nonEmpty)
        .map(f => (f, (1L, if (a.killed > 0) 1L else 0L))))
      .toKeyed[String, (Long, Long)]
      .groupByFold((0L, 0L))(
        (acc, v) => (acc._1 + v._1, acc._2 + v._2),
        (x, y) => (x._1 + y._1, x._2 + y._2))
      .collectVec()
      .map { case (f, (n, l)) => (f, n, l) }
  }

  /** Q3: per (borough, week): accidents, lethal count, lethal %. */
  def perBoroughWeek(src: Stream[Accident]): Seq[((String, Int, Int), (Long, Long, Double))] = {
    val s = src.spark
    import s.implicits._
    src.map { a =>
        val w = week(a.date)
        ((a.borough, w._1, w._2), (1L, if (a.killed > 0) 1L else 0L))
      }
      .toKeyed[(String, Int, Int), (Long, Long)]
      .groupByFold((0L, 0L))(
        (acc, v) => (acc._1 + v._1, acc._2 + v._2),
        (x, y) => (x._1 + y._1, x._2 + y._2))
      .collectVec()
      .map { case (k, (n, l)) => (k, (n, l, if (n > 0) l.toDouble / n * 100 else 0.0)) }
  }

  def main(args: Array[String]): Unit = {
    val spark = StreamContext.localSession(4)
    import spark.implicits._
    val ctx = new StreamContext(spark)
    val src = ctx.streamIter(sample)
    println(s"q1\t${lethalPerWeek(src).sortBy(_._1).mkString(", ")}")
    println(s"q3\t${perBoroughWeek(src).sortBy(_._1).mkString(", ")}")
    spark.stop()
  }

  /** Small deterministic dataset used by the main + spec. */
  def sample: Seq[Accident] = Seq(
    Accident("01/03/2024", "QUEENS", 0, Seq("Speeding", "")),
    Accident("01/05/2024", "QUEENS", 1, Seq("Speeding", "Alcohol", "Speeding")),
    Accident("01/10/2024", "BRONX", 0, Seq("Distraction", "")),
    Accident("01/12/2024", "BRONX", 2, Seq("Alcohol", "")),
    Accident("02/01/2024", "QUEENS", 1, Seq("Distraction", "Speeding")))
}
