package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The typed Dataset layer and the engine's "typechecker": scalac checks
  * field access on `Dataset[T]`; Catalyst's analyzer rejects ill-typed
  * Column/SQL queries before execution — together covering the role the
  * reference's static typechecker plays (SURVEY §1.1: ill-typed queries
  * rejected before execution).
  */
class TypedApiSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("typed loaders round-trip the full schema and agree with the untyped path") {
    val typedCount = Tables.typed.lineitem(spark, sf)
      .filter(_.l_quantity > 30).count()
    val untypedCount = Tables(spark, sf, "lineitem")
      .filter(col("l_quantity") > 30).count()
    assert(typedCount == untypedCount && typedCount > 0)
    // typed map: compile-time field access
    val revenue = Tables.typed.lineitem(spark, sf)
      .map(l => l.l_extendedprice * (1 - l.l_discount))(org.apache.spark.sql.Encoders.scalaDouble)
      .reduce(_ + _)
    assert(revenue > 0)
  }

  test("analyzer rejects unknown columns before execution (typecheck analog)") {
    val e = intercept[AnalysisException] {
      Tables(spark, sf, "customer").select(col("no_such_column")).collect()
    }
    assert(e.getMessage.contains("no_such_column"))
  }

  test("analyzer rejects ill-typed expressions before execution") {
    intercept[AnalysisException] {
      // array + integer has no resolvable signature
      Tables(spark, sf, "embeddings").select(col("embedding") + 1).collect()
    }
  }

  test("events typed loader applies the ns→µs rule") {
    val ev = Tables.typed.events(spark, sf).head()
    assert(ev.ts.getTime > 1700000000000L) // 2024 epoch-millis range, not raw nanos
  }
}
