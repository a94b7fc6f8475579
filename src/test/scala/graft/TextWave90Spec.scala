package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-90 invariants: novelty equals an in-memory first-occurrence
  * replay; the first document is 100% novel; per-doc novel counts sum
  * to the corpus's distinct-gram total.
  */
class TextWave90Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("ngram novelty equals in-memory first-occurrence replay") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .filter(_._2.length >= 3)
    val perDoc = docs.map { case (id, tk) =>
      id -> tk.sliding(3).map(_.mkString(" ")).toSet
    }.sortBy(_._1)
    val firstDoc = scala.collection.mutable.HashMap[String, Long]()
    perDoc.foreach { case (id, grams) =>
      grams.foreach(g => if (!firstDoc.contains(g)) firstDoc(g) = id)
    }
    val want = perDoc.map { case (id, grams) =>
      id -> (grams.size.toLong, grams.count(g => firstDoc(g) == id).toLong)
    }.toMap
    val rows = SparkEntry.queries("text_ngram_novelty_rate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3)))
    assert(rows.length == want.size)
    rows.foreach { case (id, ng, nn, rate) =>
      assert(want(id) == ((ng, nn)), s"doc $id: got ($ng,$nn) want ${want(id)}")
      assert(math.abs(rate - math.rint(nn.toDouble / ng * 1e6) / 1e6) < 1e-9)
    }
    // the earliest doc is fully novel; novel counts tile the gram space
    val firstId = rows.map(_._1).min
    assert(rows.find(_._1 == firstId).get._4 == 1.0)
    assert(rows.map(_._3).sum == firstDoc.size)
  }
}
