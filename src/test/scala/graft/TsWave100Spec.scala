package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-100 invariants against in-memory recomputation at sf0.001:
  * Durbin-Levinson PACF from hand-computed lag-Pearson correlations;
  * Page-Hinkley peaks from a sequential scan per event type; SAX words
  * from a literal re-derivation of one day's 24 hourly counts.
  */
class TsWave100Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private lazy val events: Array[(String, Long)] =
    Tables.events(spark, sf).select(col("event_type"),
        expr("unix_micros(ts)")).collect()
      .map(r => (r.getString(0), r.getLong(1)))

  test("pacf via Durbin-Levinson matches in-memory recompute") {
    val hourly = events.filter(_._1 == "click")
      .groupBy(_._2 / 3600000000L).view.mapValues(_.length.toLong).toMap
    def pearson(lag: Int): Double = {
      val pairs = hourly.toSeq.flatMap { case (h, x) =>
        hourly.get(h + lag).map(y => (x, y)) }
      val n = pairs.length.toDouble
      val sx = pairs.map(_._1).sum.toDouble
      val sy = pairs.map(_._2).sum.toDouble
      val sxy = pairs.map(p => p._1 * p._2).sum.toDouble
      val sxx = pairs.map(p => p._1 * p._1).sum.toDouble
      val syy = pairs.map(p => p._2 * p._2).sum.toDouble
      (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    }
    val (r1, r2, r3) = (pearson(1), pearson(2), pearson(3))
    val p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    val p21 = r1 - p22 * r1
    val p33 = (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2)
    val row = SparkEntry.queries("ts_pacf_lag3")(spark, sf).collect().head
    assert(math.abs(row.getDouble(0) - r1) < 1e-5, "pacf1 = r1")
    assert(math.abs(row.getDouble(1) - p22) < 1e-5, "pacf2")
    assert(math.abs(row.getDouble(2) - p33) < 1e-5, "pacf3")
    // PACF is a correlation: all three land in [-1, 1] on real series
    Seq(row.getDouble(0), row.getDouble(1), row.getDouble(2))
      .foreach(p => assert(p >= -1.0 - 1e-9 && p <= 1.0 + 1e-9))
  }

  test("page-hinkley peak matches a sequential in-memory scan") {
    val byType = events.groupBy(_._1)
    val got = SparkEntry.queries("ts_page_hinkley")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(got.keySet == byType.keySet)
    byType.foreach { case (tpe, evs) =>
      val hourly = evs.groupBy(_._2 / 3600000000L).view
        .mapValues(_.length.toLong).toSeq.sortBy(_._1)
      var (cum, t, g, gMax) = (0L, 0, 0.0, Double.MinValue)
      var (phPeak, peakHr) = (Double.MinValue, Long.MaxValue)
      hourly.foreach { case (hr, x) =>
        cum += x; t += 1
        g += x.toDouble - cum.toDouble / t
        gMax = math.max(gMax, g)
        val ph = gMax - g
        if (ph > phPeak) { phPeak = ph; peakHr = hr }
      }
      val (th, peak, hr) = got(tpe)
      assert(th == hourly.length.toLong, s"t_hours at $tpe")
      assert(math.abs(peak - phPeak) < 1e-4, s"ph_peak at $tpe")
      assert(hr == peakHr, s"peak_hr at $tpe")
      assert(peak >= 0.0, "PH range is nonnegative by construction")
    }
  }

  test("sax words: alphabet, shape, and one literal day recompute") {
    val rows = SparkEntry.queries("ts_sax_symbols")(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getString(2))).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { w =>
      assert(w.length == 4 && w.forall("abcdm".contains(_)), s"word $w")
    }
    // literal recompute of every (type, day)
    val bp = 0.6744897501960817
    events.groupBy(e => (e._1, e._2 / 86400000000L)).foreach {
      case ((tpe, day), evs) =>
        val perHour = evs.groupBy(e => (e._2 / 3600000000L) % 24).view
          .mapValues(_.length.toLong).toMap
        val xs = (0L until 24L).map(h => perHour.getOrElse(h, 0L))
        val s1 = xs.sum
        val s2 = xs.map(x => x * x).sum
        val mu = s1.toDouble / 24
        val sigma = math.sqrt((s2.toDouble - s1.toDouble * s1 / 24) / 24)
        val word = (0 until 4).map { seg =>
          if (sigma == 0) 'm'
          else {
            val paa = xs.slice(seg * 6, seg * 6 + 6).sum.toDouble / 6
            val z = (paa - mu) / sigma
            if (z < -bp) 'a' else if (z < 0) 'b'
            else if (z < bp) 'c' else 'd'
          }
        }.mkString
        assert(rows((tpe, day)) == word, s"sax at ($tpe, $day)")
    }
  }
}
