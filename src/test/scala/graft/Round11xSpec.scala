package graft

import java.time.{DayOfWeek, LocalDate}
import org.scalatest.funsuite.AnyFunSuite

/** Wave-80 bounds: the closed-form business-day arithmetic equals an
  * independent day-walking implementation (latency count and the
  * +5-business-days deadline, including weekend starts counted from
  * the preceding Friday), and ORDER BY ALL produces exactly the
  * explicitly-sorted rows.
  */
class Round11xSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  private def isBiz(d: LocalDate): Boolean =
    d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY

  /** SIGNED business days in [a, b) by walking — the fixture's
    * synthetic ship dates can precede the order date, and the closed
    * form is a proper signed difference g(b) − g(a). */
  private def walkCount(a: LocalDate, b: LocalDate): Long =
    if (b.isBefore(a)) -walkCount(b, a)
    else Iterator.iterate(a)(_.plusDays(1)).takeWhile(_.isBefore(b))
      .count(isBiz).toLong

  /** 5 business days after d; a weekend start counts from the
    * preceding Friday (the declared convention). */
  private def walkDue(d: LocalDate): LocalDate = {
    var cur = d
    while (!isBiz(cur)) cur = cur.minusDays(1)
    var left = 5
    while (left > 0) {
      cur = cur.plusDays(1)
      if (isBiz(cur)) left -= 1
    }
    cur
  }

  test("scalar_business_days equals the day-walking implementation") {
    val rows = SparkEntry.queries("scalar_business_days")(spark, sf)
      .limit(3000).collect()
    assert(rows.nonEmpty)
    var weekendStarts = 0
    rows.foreach { r =>
      val ordered = r.getDate(2).toLocalDate
      val ship = r.getDate(3).toLocalDate
      val latency = r.getLong(4)
      val due = r.getDate(5).toLocalDate
      val met = r.getBoolean(6)
      assert(latency == walkCount(ordered, ship),
             s"latency for $ordered → $ship")
      assert(due == walkDue(ordered), s"deadline for $ordered")
      assert(met == !ship.isAfter(due))
      assert(isBiz(due), "a deadline always lands on a business day")
      if (!isBiz(ordered)) weekendStarts += 1
    }
    assert(weekendStarts > 0, "the sample must exercise weekend starts")
  }

  test("sql_order_by_all equals the explicit sort") {
    val got = SparkEntry.queries("sql_order_by_all")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    assert(got.sameElements(got.sortBy(t => (t._1, t._2, t._3, t._4))),
           "ORDER BY ALL must sort by every column left to right")
    // and the grouped content matches a direct recomputation
    Tables.views(spark, sf)
    val want = spark.sql(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.sameElements(want))
  }
}
