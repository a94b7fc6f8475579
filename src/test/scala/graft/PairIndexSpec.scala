package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PairIndex invariants: ONE build serves every consumer (the round-11
  * verdict counted the same capped pair exchange built twice), the
  * stored pairs are exactly the e⋈e self-join's (reference semantics,
  * computed independently here), ids keep their type, and ids past the
  * 32-bit range give the same aggregates.
  */
class PairIndexSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def builds = Artifacts.builds.count(_.key == ("stored", "pairidx", sf).toString)

  test("one build serves adamic-adar, jaccard, and direct probes") {
    val before = builds
    val aa = SparkEntry.queries("graph_adamic_adar")(spark, sf).collect()
    val jn = SparkEntry.queries("graph_jaccard_neighbors")(spark, sf).collect()
    val d = graft.operators.PairIndex.deg(spark, sf).count()
    assert(aa.nonEmpty && jn.nonEmpty && d > 0)
    val after = builds
    assert(after - before <= 1,
           s"the pair exchange must be built at most once, built ${after - before}")
    // and the second consumer never re-derived it: the index dir serves
    graft.operators.PairIndex.pairs(spark, sf) // must not rebuild
    assert(builds == after)
  }

  test("stored pair aggregates equal the reference self-join, ids keep their type") {
    val pairs = graft.operators.PairIndex.pairs(spark, sf)
    val edges = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    assert(pairs.schema("a").dataType == edges.schema("c").dataType,
           s"decoded id type ${pairs.schema("a").dataType} must round-trip " +
           s"${edges.schema("c").dataType}")
    val pdeg = edges.groupBy("p").agg(count(lit(1)).as("df"))
      .filter(col("df") <= graft.operators.PairIndex.MaxPartDf && col("df") >= 2)
    val e = edges.join(pdeg, "p")
    // reference per-pair aggregates, derived independently: common = Σ cnt
    // over the (df, cnt) cells, aa_raw = the df-ordered fold Σ cnt/ln(df)
    val want = e.as("x")
      .join(e.as("y"), col("x.p") === col("y.p") && col("x.c") < col("y.c"))
      .groupBy(col("x.c").as("a"), col("y.c").as("b"), col("x.df").as("df"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("a", "b")
      .agg(sum(col("cnt")).as("common"),
           array_sort(collect_list(struct(col("df"), col("cnt")))).as("cells"))
      .select(col("a"), col("b"), col("common"),
              expr("aggregate(cells, CAST(0.0 AS DOUBLE), " +
                "(acc, p) -> acc + p.cnt / ln(CAST(p.df AS DOUBLE)))")
                .as("aa_raw"))
    val stored = pairs.select(col("a"), col("b"), col("common"), col("aa_raw"))
    assert(stored.exceptAll(want).isEmpty && want.exceptAll(stored).isEmpty,
           "stored pair aggregates must equal the reference self-join exactly")
    // every pair respects a < b (unordered-once emission)
    assert(pairs.filter(col("a") >= col("b")).isEmpty)
  }

  test("buildPairs shifts (a, b) and keeps (common, aa_raw) for ids shifted by 2^31") {
    // Ids past the 32-bit range take the same build: shifting every id by
    // 2^31 shifts each pair's (a, b) by exactly that amount, and common and
    // the df-ordered aa_raw fold are id-independent, so they match
    // bit-identically.
    val shift = 1L << 31
    val e0 = spark.createDataFrame(Seq(
        (1L, 10L), (2L, 10L), (3L, 10L), (1L, 20L), (2L, 20L), (4L, 20L),
        (3L, 30L), (4L, 30L), (2L, 30L), (5L, 40L), (1L, 40L)))
      .toDF("c", "p")
    def built(edges: org.apache.spark.sql.DataFrame) =
      graft.operators.PairIndex
        .buildPairs(edges.join(edges.groupBy("p").agg(count(lit(1)).as("df")), "p"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val want = built(e0).map { case (a, b, common, aa) => (a + shift, b + shift, common, aa) }
    val got = built(e0.withColumn("c", col("c") + shift))
    assert(want.nonEmpty, "synthetic edge fixture produced no pairs — vacuous")
    assert(got == want,
           s"shifted ids diverged: ${(got -- want).take(3)} extra, " +
           s"${(want -- got).take(3)} missing")
  }
}
