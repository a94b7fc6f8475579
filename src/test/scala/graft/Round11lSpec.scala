package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-68 bounds: JL distortion concentrates around 1 (the lemma's
  * promise at k=16), and the bandit replay walk is internally
  * consistent — one pick per day, the exploration schedule hit exactly
  * every 5th day, and exploit picks equal the prior-mean argmax
  * recomputed independently from the raw events.
  */
class Round11lSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.01"

  test("vec_random_projection_jl distortion concentrates around 1") {
    val ratios = SparkEntry.queries("vec_random_projection_jl")(spark, sf)
      .collect().map(_.getDouble(3))
    assert(ratios.nonEmpty)
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.15, s"mean distortion $mean")
    val inBand = ratios.count(r => r >= 0.5 && r <= 1.5).toDouble / ratios.length
    assert(inBand >= 0.95, s"only $inBand of ratios within [0.5, 1.5]")
  }

  test("agg_bandit_replay walks the schedule and argmax correctly") {
    val rows = SparkEntry.queries("agg_bandit_replay")(spark, sf)
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getString(1), r.getString(2),
                 r.getLong(3), r.getDouble(4)))
    // one pick per distinct day, chronological
    val days = rows.map(_._1)
    assert(days.distinct.length == days.length && days.sorted.sameElements(days))

    // independent replay from the raw events
    val ev = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.to_date(
                org.apache.spark.sql.functions.col("ts")).as("day"),
              org.apache.spark.sql.functions.col("event_type"),
              org.apache.spark.sql.functions.round(
                org.apache.spark.sql.functions.col("value") * 100)
                .cast("bigint").as("cents"))
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getString(1), r.getLong(2)))
    val arms = ev.map(_._2).distinct.sorted
    val d0 = ev.map(_._1).min
    val byDayArm = ev.groupBy(e => (e._1, e._2))
      .view.mapValues(es => (es.length.toLong, es.map(_._3).sum)).toMap
    val cum = scala.collection.mutable.Map[String, (Long, Long)]()
      .withDefaultValue((0L, 0L))
    rows.foreach { case (day, method, arm, matchedN, est) =>
      val dayNum = java.time.temporal.ChronoUnit.DAYS.between(d0, day) + 1
      if (dayNum % 5 == 2) {
        assert(method == "explore", s"day $day should explore")
        assert(arm == arms(((dayNum * 7) % arms.length).toInt))
      } else {
        assert(method == "exploit", s"day $day should exploit")
        val best = arms.map { a =>
          val (n, c) = cum(a)
          (if (n > 0) -c.toDouble / n else 0.0, a)
        }.min
        assert(arm == best._2, s"day $day exploit pick $arm vs ${best._2}")
      }
      val (n, c) = byDayArm.getOrElse((day, arm), (0L, 0L))
      assert(matchedN == n)
      val want = if (n > 0) c.toDouble / n / 100.0 else 0.0
      assert(math.abs(est - want) < 1e-6)
      // advance cumulative state with ALL arms' logged pulls for the day
      arms.foreach { a =>
        val (dn, dc) = byDayArm.getOrElse((day, a), (0L, 0L))
        val (pn, pc) = cum(a)
        cum(a) = (pn + dn, pc + dc)
      }
    }
  }
}
