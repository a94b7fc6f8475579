package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-48 checks: the Spark-4 SQL-surface keys agree with their
  * DataFrame-API twins on the fixture, and the SQL-defined functions
  * inline into the plan (no opaque function node survives analysis —
  * the property that makes them scale like hand-written expressions).
  */
class Round10rrSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("sql_variant_shred matches the get_json_object twin") {
    val got = SparkEntry.queries("sql_variant_shred")(spark, sf).collect()
    val want = Tables.events(spark, sf)
      .select(col("event_type"),
              get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("k").as("max_k"))
      .orderBy("event_type")
      .collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getLong(1) == w.getLong(1))
      assert(g.getLong(2) == w.getLong(2))
      assert(g.getLong(3) == w.getLong(3))
      // '$.absent' never exists → try_variant_get is NULL on every row
      assert(g.getLong(4) == g.getLong(1), "n_absent must equal n")
    }
  }

  test("sql_udf_scalar inlines: no ScalaUDF / UserDefinedFunction node") {
    val df = SparkEntry.queries("sql_udf_scalar")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"SQL UDF must inline, got:\n$plan")
    // values agree with the inline expression
    val want = Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
           sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
             .cast("bigint")).as("cents"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect()
    val got = df.collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(2) == w.getLong(2) && g.getLong(3) == w.getLong(3))
    }
  }

  test("sql_udf_table expands to the same rows as the direct aggregate") {
    val got = SparkEntry.queries("sql_udf_table")(spark, sf).collect()
    val want = Tables(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1997)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      .orderBy(col("cents").desc, col("o_custkey"))
      .limit(25)
      .collect()
    assert(got.length == want.length && got.length == 25)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1))
    }
  }

  test("sql_exec_immediate binds the positional parameter") {
    val got = SparkEntry.queries("sql_exec_immediate")(spark, sf).collect()
    val want = Tables(spark, sf, "documents")
      .filter(col("source") === "src7")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
      .orderBy("lang").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1) &&
             g.getLong(2) == w.getLong(2))
    }
  }

  test("sql_named_params pushes both bound filters to the scan") {
    val df = SparkEntry.queries("sql_named_params")(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
           physical.contains("IsNotNull(lang)"),
           s"expected pushed filters in:\n$physical")
    val rows = df.collect()
    assert(rows.forall(r => r.getString(1) == "en" && r.getLong(2) >= 300))
    val want = Tables(spark, sf, "documents")
      .filter(col("lang") === "en" && col("n_chars") >= 300).count()
    assert(rows.length.toLong == want)
  }

  test("sql_identifier_clause resolves the late-bound table") {
    val got = SparkEntry.queries("sql_identifier_clause")(spark, sf).collect()
    val want = Tables(spark, sf, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1))
    }
  }
}
