package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wave-63 bounds: the log-odds z-scores match a driver recompute and
  * behave (positive z ⟺ en-leaning usage); readability indices match
  * exact integer recomputes per document.
  */
class Round11gSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_log_odds_monroe matches a driver recompute") {
    val rows = SparkEntry.queries("agg_log_odds_monroe")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    val docs = Tables(spark, sf, "documents")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val counts = scala.collection.mutable.Map[String, (Long, Long)]()
      .withDefaultValue((0L, 0L))
    docs.foreach { case (lang, text) =>
      text.split(" ", -1).foreach { t =>
        val (e, o) = counts(t)
        counts(t) = if (lang == "en") (e + 1, o) else (e, o + 1)
      }
    }
    val vocab = counts.filter { case (_, (e, o)) => e + o >= 20 }
    val nEn = vocab.values.map(_._1).sum
    val nOt = vocab.values.map(_._2).sum
    val v = vocab.size.toLong
    rows.foreach { r =>
      val (e, o) = vocab(r.getString(0))
      assert(r.getLong(1) == e && r.getLong(2) == o)
      val delta = math.log((e + 1.0) / (nEn + v - e - 1.0)) -
        math.log((o + 1.0) / (nOt + v - o - 1.0))
      val z = delta / math.sqrt(1.0 / (e + 1.0) + 1.0 / (o + 1.0))
      assert(math.abs(r.getDouble(3) - delta) < 1e-5)
      assert(math.abs(r.getDouble(4) - z) < 1e-5)
      // sign sanity: en-heavier usage (per-token rate) gives positive z
      if (e.toDouble / nEn > 2 * o.toDouble / nOt) assert(r.getDouble(4) > 0)
    }
    // ranked by |z| descending
    val zs = rows.map(r => math.abs(r.getDouble(4)))
    assert(zs.zip(zs.tail).forall { case (a, b) => a >= b - 1e-9 })
  }

  test("text_readability_indices matches exact integer recomputes") {
    val rows = SparkEntry.queries("text_readability_indices")(spark, sf)
      .collect()
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val text = docs(r.getLong(0))
      val toks = text.split(" ", -1)
      val words = toks.length.toLong
      val longWords = toks.count(_.length >= 7).toLong
      val chars = text.count(_ != ' ').toLong
      val sentences = math.max(1L, text.count(_ == '.').toLong)
      assert(r.getLong(1) == words && r.getLong(2) == longWords)
      assert(r.getLong(3) == chars && r.getLong(4) == sentences)
      val lix = words.toDouble / sentences + 100.0 * longWords / words
      val ari = 4.71 * chars / words + 0.5 * words / sentences - 21.43
      assert(math.abs(r.getLong(5) / 1e6 - lix) < 1e-5)
      assert(math.abs(r.getLong(6) / 1e6 - ari) < 1e-5)
    }
  }
}
