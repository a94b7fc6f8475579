package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-83 bounds: Croston's recursion matches an independently-written
  * event-driven formulation (smoothing only demand events, then
  * expanding to the day grid) and behaves sanely (forecast bounded by
  * observed demand range, zero before the first demand); MASE/sMAPE
  * match a driver recomputation and respect their metric ranges.
  */
class Round12aSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  private def demandSeries: Array[Long] = {
    val m = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase" &&
              pmod(col("user_id"), lit(997L)) === 3)
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(count(lit(1)).as("dd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 30).map(t => m.getOrElse(t.toLong, 0L)).toArray
  }

  test("ts_croston_intermittent matches an event-driven recomputation") {
    val rows = SparkEntry.queries("ts_croston_intermittent")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
                 r.getDouble(4)))
    assert(rows.length == 30)
    val dd = demandSeries
    assert(dd.count(_ > 0) >= 2, "the series must have at least two demands")
    assert(dd.count(_ == 0) >= 2, "the series must actually be intermittent")
    // event-driven: smooth over (demand, interval) events only
    val events = dd.zipWithIndex.collect { case (v, i) if v > 0 => (i + 1, v) }
    var z = events.head._2.toDouble
    var x = events.head._1.toDouble
    val states = scala.collection.mutable.Map(events.head._1 -> (z, x))
    events.sliding(2).foreach {
      case Array((t0, _), (t1, v1)) =>
        z = 0.2 * v1 + (1 - 0.2) * z
        x = 0.2 * (t1 - t0) + (1 - 0.2) * x
        states(t1) = (z, x)
      case _ =>
    }
    var cur: Option[(Double, Double)] = None
    rows.foreach { case (t, d, gz, gx, gf) =>
      assert(d == dd(t.toInt - 1), s"day $t demand")
      if (states.contains(t.toInt)) cur = Some(states(t.toInt))
      cur match {
        case None =>
          assert(gz == 0.0 && gx == 0.0 && gf == 0.0, s"day $t pre-demand")
        case Some((ez, ex)) =>
          assert(math.abs(gz - ez) < 1e-5, s"day $t size state")
          assert(math.abs(gx - ex) < 1e-5, s"day $t interval state")
          assert(math.abs(gf - ez / ex) < 1e-5, s"day $t forecast")
      }
    }
    val nonzero = dd.filter(_ > 0)
    val lastF = rows.last._5
    assert(lastF >= 0.0 && lastF <= nonzero.max.toDouble,
           "forecast within the demand envelope")
  }

  test("ts_forecast_mase_smape matches a driver recomputation") {
    val r = SparkEntry.queries("ts_forecast_mase_smape")(spark, sf).collect()(0)
    val m = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                 .cast("bigint").as("t"))
      .agg(count(lit(1)).as("y"))
      .collect().map(w => w.getLong(0) -> w.getLong(1)).toMap
    val y = (1 to 30).map(t => m.getOrElse(t.toLong, 0L))
    val fc = (8 to 30).map(t => (y(t - 1), y(t - 8)))
    val mae = fc.map { case (a, f) => math.abs(a - f) }.sum.toDouble / fc.size
    val naive = (2 to 30).map(t => math.abs(y(t - 1) - y(t - 2))).sum.toDouble / 29
    val smape = fc.map { case (a, f) =>
      if (a + f == 0) 0.0 else 2.0 * math.abs(a - f) / (a + f)
    }.sum / fc.size
    assert(r.getLong(0) == 23)
    assert(math.abs(r.getDouble(1) - mae) < 1e-6, "forecast MAE")
    assert(math.abs(r.getDouble(2) - mae / naive) < 1e-5, "MASE")
    assert(math.abs(r.getDouble(3) - smape) < 1e-5, "sMAPE")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 2.0, "sMAPE range")
  }
}
