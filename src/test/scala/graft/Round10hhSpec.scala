package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-36 bounds: IVF-PQ residual recall, QUALIFY rewriter unit cases,
  * and Poisson-bootstrap weight sanity.
  */
class Round10hhSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  // The IVF-PQ key is oracle-N (approximate by design); its bound: mean
  // recall@10 against the EXACT milli-grid L2 top-10 (the key's own
  // metric) must sit far above chance. nprobe=2 of 4 cells + 4-code
  // subspace quantizers are deliberately coarse — the bar is "the
  // composition routes and ranks sanely", not "high recall".
  test("sim_ann_ivfpq_residual recall@10 beats chance vs exact integer L2") {
    val sp = spark
    val got = SparkEntry.queries("sim_ann_ivfpq_residual")(sp, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    assert(got.nonEmpty && got.values.forall(_.size == 10))
    val vecs = Tables(sp, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(e => math.round(e.toDouble * 1000)).toArray)
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L
      for (i <- a.indices) { val t = a(i) - b(i); s += t * t }
      s
    }
    val recalls = got.map { case (q, ids) =>
      val exact = vecs.keys.filter(_ != q).toSeq
        .sortBy(v => (d2(vecs(q), vecs(v)), v)).take(10).toSet
      (ids & exact).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.15, f"mean recall@10 $mean%.3f is not above chance")
  }

  // determinism: two independent runs produce identical rankings (the
  // integer-exact ADC claim — no fold-order noise anywhere)
  test("sim_ann_ivfpq_residual is run-to-run deterministic") {
    def run() = SparkEntry.queries("sim_ann_ivfpq_residual")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run() == run())
  }

  test("QUALIFY rewriter: passthrough, alias predicate, ORDER BY tail") {
    assert(Sql.rewriteQualify("SELECT a FROM t WHERE a > 1") ==
      "SELECT a FROM t WHERE a > 1")
    val rw = Sql.rewriteQualify(
      "SELECT a, row_number() OVER (ORDER BY a) AS rn FROM t QUALIFY rn = 1 ORDER BY a")
    assert(rw.contains("SELECT * EXCEPT (__qual)") && rw.contains("(rn = 1) AS __qual")
      && rw.trim.endsWith("WHERE __qual ORDER BY a"), rw)
    // a 'qualify' inside a string literal must NOT trigger the rewrite
    assert(Sql.rewriteQualify("SELECT 'qualify' AS s FROM t") ==
      "SELECT 'qualify' AS s FROM t")
    // end-to-end through the session SQL surface
    val sp = spark
    Tables.views(sp, sf)
    val out = Sql.runSql(sp,
      """SELECT o_custkey, o_orderkey FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_orderkey) = 1""".stripMargin)
    assert(out.columns.toSeq == Seq("o_custkey", "o_orderkey"))
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "QUALIFY rank=1 must keep exactly one row per customer")
  }

  // Poisson(1) weights from the hex thresholds: the empirical mean weight
  // over a large deterministic sample must sit near 1 (the bootstrap's
  // resample-size-preservation property).
  test("poisson bootstrap weights average ~1") {
    val sp = spark
    val w = sp.range(0, 20000)
      .selectExpr("substring(md5(CAST(id AS STRING)), 1, 6) AS h")
      .selectExpr(
        """CASE WHEN h < '5e2d58' THEN 0 WHEN h < 'bc5ab1' THEN 1
          |WHEN h < 'eb715e' THEN 2 WHEN h < 'fb2397' THEN 3
          |WHEN h < 'ff1025' THEN 4 WHEN h < 'ffd90f' THEN 5
          |WHEN h < 'fffa8b' THEN 6 ELSE 7 END AS w""".stripMargin)
      .agg(avg("w")).head.getDouble(0)
    assert(math.abs(w - 1.0) < 0.05, s"mean Poisson weight $w drifted from 1")
  }
}
