package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-39 invariants: DISTINCT ON rewriter unit cases + plan shape,
  * and the multiset arithmetic of INTERSECT/EXCEPT ALL recomputed from
  * per-side counts.
  */
class Round10iiSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("rewriteDistinctOn: passthrough, rewrite shape, LIMIT tail, ORDER BY required") {
    // no DISTINCT ON → untouched (plain DISTINCT, aggregate DISTINCT)
    assert(Sql.rewriteDistinctOn("SELECT DISTINCT a FROM t ORDER BY a") ==
      "SELECT DISTINCT a FROM t ORDER BY a")
    assert(Sql.rewriteDistinctOn("SELECT count(DISTINCT a) FROM t") ==
      "SELECT count(DISTINCT a) FROM t")
    val rw = Sql.rewriteDistinctOn(
      "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC LIMIT 5")
    assert(rw.contains("PARTITION BY k ORDER BY k, v DESC") &&
      rw.contains("WHERE __rn = 1") && rw.trim.endsWith("LIMIT 5"), rw)
    val e = intercept[IllegalArgumentException](
      Sql.rewriteDistinctOn("SELECT DISTINCT ON (k) k, v FROM t"))
    assert(e.getMessage.contains("ORDER BY"))
    // 'distinct on' inside a string literal must not trigger
    assert(Sql.rewriteDistinctOn("SELECT 'DISTINCT ON (x)' AS s FROM t") ==
      "SELECT 'DISTINCT ON (x)' AS s FROM t")
  }

  test("sql_distinct_on keeps exactly one latest order per customer") {
    val out = SparkEntry.queries("sql_distinct_on")(spark, sf).collect()
    val perCust = out.groupBy(_.getLong(0))
    assert(perCust.values.forall(_.length == 1))
    // independent recomputation via max_by on (date, key)
    val expect = Tables(spark, sf, "orders")
      .groupBy("o_custkey")
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
      .select(col("o_custkey"), col("m.o_orderkey"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(expect(r.getLong(0)) == r.getLong(1)))
    assert(out.length == expect.size)
    // the rn=1 filter plans bounded: WindowGroupLimit on a stock session,
    // or graft's native TopKPerKey when the session carries GraftExtensions
    // (suite order decides which session getOrCreate returns)
    val plan = SparkEntry.queries("sql_distinct_on")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") || plan.contains("TopKPerKey"),
      plan.linesIterator.take(12).mkString("\n"))
  }

  test("INTERSECT ALL and EXCEPT ALL obey min(m,n) / max(m-n,0) multiset arithmetic") {
    Tables.views(spark, sf)
    def side(y: Int) = spark.sql(
      s"""SELECT o_custkey, o_orderpriority, count(*) AS n FROM orders
         |WHERE o_orderdate >= TIMESTAMP '$y-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '${y + 1}-01-01 00:00:00'
         |GROUP BY 1, 2""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val a = side(1996); val b = side(1997)
    def hist(key: String) = SparkEntry.queries(key)(spark, sf).collect()
      .groupBy(r => (r.getLong(0), r.getString(1)))
      .view.mapValues(_.length.toLong).toMap
    val inter = hist("set_intersect_all")
    val except = hist("set_except_all")
    (a.keySet ++ b.keySet).foreach { k =>
      val m = a.getOrElse(k, 0L); val n = b.getOrElse(k, 0L)
      assert(inter.getOrElse(k, 0L) == math.min(m, n), s"intersect at $k")
      assert(except.getOrElse(k, 0L) == math.max(m - n, 0L), s"except at $k")
    }
  }

  test("percent_rank/cume_dist ppm endpoints and monotonicity within a nation") {
    // the key emits exact integer ppm (BIGINT pr_ppm/cd_ppm) plus a
    // fn_consistent flag asserting the doubles round-trip to the same ppm
    val rows = SparkEntry.queries("window_percent_rank_cume")(spark, sf)
      .collect().map(r => (r.getAs[Number](1).longValue,
        r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty && rows.forall(_._4), "fn_consistent must hold everywhere")
    val byNation = rows.groupBy(_._1)
    byNation.values.foreach { g =>
      val prs = g.map(_._2); val cds = g.map(_._3)
      assert(prs.min == 0L && (g.length == 1 || prs.max == 1000000L))
      assert(cds.max == 1000000L && cds.forall(_ > 0L))
    }
  }
}
