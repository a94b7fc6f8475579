package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions entry point: a `LocalSpark.sqlSurface`
  * session can call graft's native expressions from plain SQL. Runs with
  * parallelExecution off (build.sbt) so replacing the live session is safe;
  * the session is released after the suite.
  */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  override def afterAll(): Unit = SharedSpark.release()

  test("vec_dot is callable from SQL via GraftExtensions") {
    val spark = SharedSpark.fresh(
      LocalSpark.sqlSurface(Tables.scratchDir("graft_wh").toString, 4))
    val d = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
      .collect()(0).getDouble(0)
    assert(d == 11.0)
    val err = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1), array(CAST(1.0 AS FLOAT)))").collect()
    }
    assert(err.getMessage.contains("vec_dot") || err.getMessage.contains("DATATYPE"))

    // --- TopKRewrite: row_number()<=k with rn dropped → native TopKPerKey
    Tables(spark, "/root/testdata/sf0.001", "orders").createOrReplaceTempView("orders")
    val rewritten = spark.sql(
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 2""".stripMargin)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected native TopKPerKey in:\n$plan")
    assert(!plan.contains("Window"), s"window should be eliminated:\n$plan")
    // keeping rn in the output blocks the rewrite (the window must run)
    val kept = spark.sql(
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 2""".stripMargin)
    assert(kept.queryExecution.executedPlan.toString.contains("Window"))
    // same rows either way
    assert(rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
           kept.select("o_custkey", "o_orderkey")
             .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // a GLOBAL (unpartitioned) top-k must NOT be rewritten — that is
    // TakeOrderedAndProject's job, and a keyless TopKPerKey cannot plan
    val global = spark.sql(
      """SELECT o_orderkey FROM (
        |  SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 5""".stripMargin)
    assert(!global.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    assert(global.collect().length == 5)

    // --- round-5 per-row sketch surface from plain SQL
    val sk = spark.sql(
      """SELECT size(shingle_hashes(split('a b c d', ' '), 2)) AS n_shingles,
        |       size(minhash_sig(shingle_hashes(split('a b c d', ' '), 2))) AS sig_len,
        |       simhash_sig(split('a b c', ' ')) AS sim,
        |       round(char_entropy('aabb'), 6) AS ent,
        |       size(token_counts(split('a b a', ' '))) AS n_terms""".stripMargin)
      .collect()(0)
    assert(sk.getInt(0) == 3 && sk.getInt(1) == 32)
    assert(sk.getDouble(3) == math.rint(-2 * 0.5 * math.log(0.5) * 1e6) / 1e6)
    assert(sk.getInt(4) == 2)

    // --- round-7 BPE token budget from plain SQL (golden: scan=1, the=3)
    val bpe = spark.sql("SELECT bpe_token_count('scan the') AS n").collect()(0)
    assert(bpe.getInt(0) == 4, s"bpe_token_count('scan the') = ${bpe.getInt(0)}")
  }
}
