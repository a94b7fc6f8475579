package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-71 bounds: RAKE phrases contain no stopword and score as the
  * sum of member degree/freq ratios (recomputed independently from raw
  * text); periodogram shares are a probability vector whose Parseval
  * total matches the series variance decomposition.
  */
class Round11oSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("text_keyphrase_rake matches an independent RAKE computation") {
    val got = SparkEntry.queries("text_keyphrase_rake")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.length <= 20)

    val texts = Tables(spark, sf, "documents")
      .select("text").collect().map(_.getString(0))
    val allToks = texts.flatMap(_.split(" ", -1))
    val stop = allToks.groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(15).map(_._1).toSet
    val phrases = texts.flatMap { t =>
      val buf = scala.collection.mutable.ArrayBuffer[List[String]]()
      var cur = List.empty[String]
      t.split(" ", -1).foreach { w =>
        if (stop(w)) { if (cur.nonEmpty) buf += cur.reverse; cur = Nil }
        else cur = w :: cur
      }
      if (cur.nonEmpty) buf += cur.reverse
      buf.filter(p => p.length >= 2 && p.length <= 4)
    }
    val freq = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val deg = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    phrases.foreach { p =>
      p.foreach { w => freq(w) += 1; deg(w) += p.length }
    }
    def score(p: List[String]): Double =
      p.map(w => deg(w).toDouble / freq(w)).sum
    val wantTop = phrases.map(p => p.mkString(" ") -> score(p)).toMap.toSeq
      .map { case (ph, sc) =>
        (ph, phrases.count(_.mkString(" ") == ph).toLong,
         BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (ph, _, sc) => (-sc, ph) } // sc already rounded: same
      .take(20)                                 // total order as the query
    assert(got.toSeq == wantTop,
           s"first diff: ${got.toSeq.zip(wantTop).find(x => x._1 != x._2)}")
  }

  test("ts_spectral_periodogram is a probability vector over frequencies") {
    val rows = SparkEntry.queries("ts_spectral_periodogram")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.map(_._1).toSeq == (1L to 14L))
    assert(rows.forall(_._2 >= 0))
    val total = rows.map(_._2).sum
    assert(math.abs(total - 1.0) < 0.002, s"shares sum to $total")
  }
}
