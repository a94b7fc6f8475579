package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-62 bounds: the chain ladder reconciles with a driver-side
  * triangle rebuild (factors, completion, and the mature-cohort
  * identity ultimate == observed); propensity matching picks the true
  * nearest-score control for every treated user against a brute-force
  * check.
  */
class Round11fSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ts_chain_ladder reconciles with a driver triangle rebuild") {
    val rows = SparkEntry.queries("ts_chain_ladder")(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"),
              floor(datediff(col("ts").cast("date"),
                             to_date(lit("2024-01-01"))) / 7).cast("long"),
              round(col("value") * 100).cast("bigint")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cohort = ev.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).min }
    val tri = ev.groupBy(x => (cohort(x._1), x._2 - cohort(x._1)))
      .map { case (k, xs) => k -> xs.map(_._3).sum }
    val cum = tri.keys.map(_._1).toSeq.distinct.sorted.map { cw =>
      val ages = tri.keys.filter(_._1 == cw).map(_._2).toSeq.sorted
      cw -> ages.map(a => a ->
        ages.filter(_ <= a).map(x => tri((cw, x))).sum).toMap
    }.toMap
    val maxAge = cum.values.flatMap(_.keys).max
    val fk = (0L until maxAge).flatMap { k =>
      val both = cum.filter { case (_, m) => m.contains(k) && m.contains(k + 1) }
      if (both.isEmpty) None
      else Some(k -> both.values.map(_(k + 1)).sum.toDouble /
                     both.values.map(_(k)).sum)
    }.toMap
    rows.foreach { r =>
      val cw = r.getLong(0)
      val lastAge = cum(cw).keys.max
      assert(r.getLong(1) == lastAge)
      val observed = cum(cw)(lastAge)
      assert(r.getLong(2) == observed)
      val dev = (lastAge to maxAge).flatMap(k => fk.get(k))
        .foldLeft(1.0)(_ * _)
      assert(math.abs(r.getDouble(3) - observed * dev) < 0.5,
             s"cohort $cw ultimate")
    }
    // the most mature cohort projects with every factor; the youngest
    // grows the most — and a fully-developed cohort (no factors beyond
    // its last age) keeps ultimate == observed
    val mature = rows.minBy(_.getLong(0))
    if (mature.getLong(1) >= maxAge)
      assert(math.abs(mature.getDouble(3) - mature.getLong(2)) < 0.01)
  }

  test("agg_propensity_matching picks true nearest-score controls") {
    val row = SparkEntry.queries("agg_propensity_matching")(spark, sf)
      .collect().head
    val mid = java.time.LocalDate.parse("2024-01-16")
    val users = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("date"), col("event_type"),
              round(col("value") * 100).cast("bigint")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2),
                 r.getLong(3)))
      .groupBy(_._1).map { case (u, xs) =>
        val score = xs.count(_._2.isBefore(mid)).toLong
        val treated = u % 3 == 0
        val outcome = xs.filter(x => !x._2.isBefore(mid)).map(_._4).sum
        (u, score, treated, outcome)
      }.toSeq
    val controls = users.filter(!_._3)
    val reps = controls.groupBy(_._2).map { case (s, xs) =>
      s -> xs.minBy(_._1)._4 // outcome of the lowest-id control at score
    }
    val treated = users.filter(_._3)
    val expected = treated.flatMap { case (_, s, _, o) =>
      val below = reps.keys.filter(_ <= s).toSeq.sorted.lastOption
      val above = reps.keys.filter(_ >= s).toSeq.sorted.headOption
      val pick = (below, above) match {
        case (Some(b), Some(a)) => Some(if (s - b <= a - s) b else a)
        case (Some(b), None) => Some(b)
        case (None, Some(a)) => Some(a)
        case _ => None
      }
      pick.map(p => (o, reps(p), s, p))
    }
    assert(row.getLong(0) == expected.length.toLong)
    val att = expected.map(x => x._1 - x._2).sum.toDouble /
      expected.length / 100.0
    assert(math.abs(row.getDouble(3) - att) < 1e-5,
           s"att ${row.getDouble(3)} vs $att")
    val imb = expected.map(x => x._3 - x._4).sum.toDouble / expected.length
    assert(math.abs(row.getDouble(4) - imb) < 1e-5)
  }
}
