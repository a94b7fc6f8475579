package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-53 bounds: the skyline satisfies the dominance definition against
  * a brute-force driver check (both directions — nothing dominated kept,
  * nothing undominated dropped), the exclusive prefix-min matches a
  * sequential scan, and the Markov removal ladder is re-derived with an
  * independent Gaussian-elimination solve.
  */
class Round10wwSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("cumminLongExclusive matches a sequential exclusive scan") {
    import spark.implicits._
    val df = Seq((5L, 10L), (1L, 7L), (3L, 2L), (2L, 9L), (4L, 2L), (6L, 1L))
      .toDF("k", "v")
    val got = operators.PrefixSum
      .cumminLongExclusive(df, Seq(col("k").asc), col("v"), "m")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2)))
    val want = Seq((1L, Long.MaxValue), (2L, 7L), (3L, 7L),
                   (4L, 2L), (5L, 2L), (6L, 2L))
    assert(got.toSeq == want)
  }

  test("agg_skyline_pareto equals the brute-force dominance frontier") {
    val got = SparkEntry.queries("agg_skyline_pareto")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val all = Tables(spark, sf, "part")
      .select(col("p_partkey"),
              round(col("p_retailprice") * 100).cast("bigint").as("c"),
              col("p_size").cast("bigint").as("z")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominated(x: (Long, Long, Long)) = all.exists { o =>
      o._2 <= x._2 && o._3 <= x._3 && (o._2 < x._2 || o._3 < x._3)
    }
    val want = all.filterNot(dominated).map(x => (x._1, x._2, x._3)).toSet
    assert(got.toSet == want, s"got ${got.length}, want ${want.size}")
    assert(got.nonEmpty)
  }

  test("ts_markov_removal_attribution matches an exact linear solve") {
    val rows = SparkEntry.queries("ts_markov_removal_attribution")(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
           Seq("click", "error", "signup", "view"))
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    }
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 5e-6,
           "credit shares must normalize to 1")

    // independent rebuild: journeys from raw events, exact absorption by
    // Gaussian elimination on (I - Q) a = r
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
              unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val counts = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    ev.groupBy(_._1).foreach { case (_, xs) =>
      val ordered = xs.sortBy(x => (x._4, x._2))
      val pIdx = ordered.indexWhere(_._3 == "purchase")
      val journey = if (pIdx >= 0) ordered.take(pIdx + 1) else ordered
      val states = "start" +:
        journey.map(x => if (x._3 == "purchase") "conv" else x._3) :+
        (if (pIdx >= 0) "conv" else "null")
      // the purchase step is already 'conv'; drop the duplicated terminal
      val path = if (pIdx >= 0) states.init else states
      path.sliding(2).foreach { pair =>
        val a = pair(0); val b = pair(1)
        if (a != "conv") counts((a, b)) = counts((a, b)) + 1L
      }
    }
    val channels = Seq("click", "error", "signup", "view")
    val transient = "start" +: channels
    def solve(p: Map[(String, String), Double]): Double = {
      val n = transient.length
      val A = Array.tabulate(n, n)((i, j) =>
        (if (i == j) 1.0 else 0.0) -
          p.getOrElse((transient(i), transient(j)), 0.0))
      val b = Array.tabulate(n)(i =>
        p.getOrElse((transient(i), "conv"), 0.0))
      for (col <- 0 until n) {
        val piv = (col until n).maxBy(r => math.abs(A(r)(col)))
        val tmp = A(col); A(col) = A(piv); A(piv) = tmp
        val tb = b(col); b(col) = b(piv); b(piv) = tb
        for (r <- col + 1 until n) {
          val f = A(r)(col) / A(col)(col)
          for (c <- col until n) A(r)(c) -= f * A(col)(c)
          b(r) -= f * b(col)
        }
      }
      val x = new Array[Double](n)
      for (r <- (n - 1) to 0 by -1) {
        var s = b(r)
        for (c <- r + 1 until n) s -= A(r)(c) * x(c)
        x(r) = s / A(r)(r)
      }
      x(0) // a(start)
    }
    val outBy = counts.toMap.groupBy(_._1._1).view
      .mapValues(_.values.sum.toDouble).toMap
    val pFull = counts.toMap.map { case ((f, t), n) => (f, t) -> (n / outBy(f)) }
    val full = solve(pFull)
    assert(full > 0 && full <= 1)
    val effects = channels.map { c =>
      val pRm = pFull.toSeq.collect {
        case ((f, t), v) if f != c && t == c => (f, "null") -> v
        case ((f, t), v) if f != c && t != c => (f, t) -> v
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      math.max(0.0, 1.0 - solve(pRm) / full)
    }
    val tot = effects.sum
    rows.zip(effects).foreach { case (r, e) =>
      assert(math.abs(r.getDouble(1) - e) < 1e-5,
             s"${r.getString(0)}: ${r.getDouble(1)} vs $e")
      assert(math.abs(r.getDouble(2) - e / tot) < 1e-5)
    }
  }
}
