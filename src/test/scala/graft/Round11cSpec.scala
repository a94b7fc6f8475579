package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-59 bounds: the Bradley-Terry point is stationary under one more
  * MM sweep and its win/loss ledger reconciles with an independent match
  * rebuild; triplet mining matches a brute-force driver scan.
  */
class Round11cSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("agg_bradley_terry is a stationary MM point with exact ledgers") {
    val rows = SparkEntry.queries("agg_bradley_terry")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.length <= 25)
    // strengths form a distribution
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    assert(rows.forall(_._4 > 0))

    // independent match rebuild from raw tables
    val nationOf = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val monthly = Tables(spark, sf, "orders")
      .select(col("o_custkey"), trunc(col("o_orderdate").cast("date"), "month"),
              round(col("o_totalprice") * 100).cast("bigint"))
      .collect()
      .map(r => (nationOf(r.getLong(0)), r.getDate(1).toString, r.getLong(2)))
      .groupBy(x => (x._2, x._1)).view.mapValues(_.map(_._3).sum).toMap
    val matches = monthly.keys.map(_._1).toSeq.distinct.flatMap { m =>
      val ranked = monthly.collect { case ((`m`, nk), c) => (nk, c) }
        .toSeq.sortBy(x => (-x._2, x._1)).map(_._1)
      ranked.zip(ranked.tail)
    }
    val wins = matches.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val losses = matches.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach { case (nk, w, l, _) =>
      assert(w == wins.getOrElse(nk, 0L), s"nation $nk wins")
      assert(l == losses.getOrElse(nk, 0L), s"nation $nk losses")
    }

    // stationarity: one more MM sweep moves nothing (fixpoint reached)
    val teams = rows.map(_._1).toSeq
    val nPairs = matches.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val p = rows.map(r => r._1 -> r._4).toMap
    val next = operators.Stats.mmSweep(teams, wins, nPairs, p)
    teams.foreach { t =>
      assert(math.abs(next(t) - p(t)) < 1e-4, s"nation $t not stationary")
    }
  }

  test("vec_triplet_mining matches a brute-force driver scan") {
    val rows = SparkEntry.queries("vec_triplet_mining")(spark, sf).collect()
    val all = Tables(spark, sf, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val anchors = all.filter(_._1 < 16)
    assert(rows.length == anchors.length)
    rows.foreach { r =>
      val (aid, av, albl) = anchors.find(_._1 == r.getLong(0)).get
      val scored = all.filter(_._1 != aid)
        .map(x => (x._1, x._3, r6(cos(x._2, av))))
      val pos = scored.filter(_._2 == albl).sortBy(x => (-x._3, x._1)).head
      val neg = scored.filter(_._2 != albl).sortBy(x => (-x._3, x._1)).head
      assert(r.getLong(1) == pos._1 && math.abs(r.getDouble(2) - pos._3) < 2e-6)
      assert(r.getLong(3) == neg._1 && math.abs(r.getDouble(4) - neg._3) < 2e-6)
      assert(math.abs(r.getDouble(5) - (pos._3 - neg._3)) < 3e-6)
    }
    // positives generally dominate random negatives: at least one anchor
    // has a positive margin on this fixture
    assert(rows.exists(_.getDouble(5) > 0))
  }
}
