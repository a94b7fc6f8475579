package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-47 bound: the survival/evaluation estimators agree with
  * independent from-scratch recomputations over the collected fixture
  * (small enough at sf0.001 to fold by hand in Scala).
  */
class Round10qqSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_kaplan_meier matches a driver-side KM fold and is monotone") {
    val rows = SparkEntry.queries("agg_kaplan_meier")(spark, sf).collect()
    assert(rows.length == 12)
    val surv = rows.map(_.getDouble(2))
    assert(surv.forall(s => s > 0.0 && s <= 1.0))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-9 },
           "survival curve must be nonincreasing")
    val deaths = rows.map(_.getLong(1))
    assert(deaths.zip(deaths.tail).forall { case (a, b) => b >= a })

    // independent recomputation from raw orders
    import java.time.LocalDate
    import java.time.temporal.ChronoUnit
    val cutoff = LocalDate.parse("1998-01-01")
    val horizon = LocalDate.parse("1998-08-02")
    val lives = Tables(spark, sf, "orders")
      .groupBy("o_custkey")
      .agg(min(col("o_orderdate").cast("date")).as("f"),
           max(col("o_orderdate").cast("date")).as("l"))
      .collect()
      .map { r =>
        val f = r.getDate(1).toLocalDate; val l = r.getDate(2).toLocalDate
        val died = l.isBefore(cutoff)
        val t = if (died) ChronoUnit.DAYS.between(f, l)
                else ChronoUnit.DAYS.between(f, horizon)
        (t, died)
      }
    val n = lives.length.toLong
    val byT = lives.groupBy(_._1).map { case (t, xs) =>
      (t, xs.count(_._2).toLong, xs.length.toLong)
    }.toSeq.sortBy(_._1)
    rows.foreach { r =>
      val probe = r.getLong(0)
      var atRiskPrior = n; var s = 1.0
      byT.foreach { case (t, d, e) =>
        if (t <= probe && d > 0) s *= 1.0 - d.toDouble / atRiskPrior
        if (t <= probe) atRiskPrior -= e
      }
      assert(math.abs(s - r.getDouble(2)) < 1e-5,
             s"KM at $probe: expected $s got ${r.getDouble(2)}")
    }
  }

  test("agg_gain_deciles: monotone gains closing at exactly 100%") {
    val rows = SparkEntry.queries("agg_gain_deciles")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val cumN = rows.map(_.getLong(1)); val cumR = rows.map(_.getLong(2))
    assert(cumN.zip(cumN.tail).forall { case (a, b) => b > a })
    assert(cumR.zip(cumR.tail).forall { case (a, b) => b >= a })
    // final decile covers every customer and every responder
    val total = Tables(spark, sf, "customer").count()
    assert(cumN.last == total)
    assert(rows.last.getLong(3) == 1000000L, "gain at decile 10 must be 1e6 ppm")
    // random-model baseline: lift at the final decile is exactly 1
    assert(rows.last.getLong(4) == 1000000L)
  }

  test("agg_cohen_kappa matches exact integer recomputation") {
    val row = SparkEntry.queries("agg_cohen_kappa")(spark, sf).collect().head
    val pred = SparkEntry.queries("text_langid")(spark, sf)
      .select("lang", "predicted").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = pred.length.toLong
    val agree = pred.count { case (a, b) => a == b }.toLong
    val rowM = pred.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val colM = pred.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val peNum = (rowM.keySet ++ colM.keySet).toSeq
      .map(l => rowM.getOrElse(l, 0L) * colM.getOrElse(l, 0L)).sum
    val kappa = (n * agree - peNum).toDouble / (n * n - peNum).toDouble
    assert(row.getLong(0) == n && row.getLong(1) == agree)
    assert(math.abs(row.getDouble(4) - kappa) < 1e-6)
  }
}
