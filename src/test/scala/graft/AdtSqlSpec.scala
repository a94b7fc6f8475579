package graft

import graft.adt.Adt
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The ADT SQL grammar (CREATE TYPE / constructors / MATCH) end-to-end
  * through PLAIN `spark.sql` on a session built with `GraftExtensions` —
  * the reference's SQL-first user surface — plus the rewrite-time
  * typechecker's rejection behavior (the reference rejects ill-typed
  * queries before execution; so do we).
  */
class AdtSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SharedSpark.fresh(
    LocalSpark.sqlSurface(Tables.scratchDir("graft_wh").toString, 4))

  override def afterAll(): Unit = SharedSpark.release()

  private def declareOrderState(): Unit =
    spark.sql("CREATE TYPE OrderState = Open(priority TEXT) | Shipped(ship_date TIMESTAMP) | Returned")

  test("CREATE TYPE + constructors + MATCH through plain spark.sql") {
    Tables(spark, sf, "orders").createOrReplaceTempView("orders")
    declareOrderState()
    val got = spark.sql(
      """SELECT o_orderkey,
        |  MATCH (CASE WHEN o_orderstatus = 'O' THEN OrderState.Open(o_orderpriority)
        |              WHEN o_orderstatus = 'F' THEN OrderState.Shipped(o_orderdate)
        |              ELSE OrderState.Returned() END)
        |    WHEN Open(p)     THEN 'open:' || p
        |    WHEN Shipped(dt) THEN 'shipped:' || CAST(year(dt) AS STRING)
        |    WHEN Returned    THEN 'returned'
        |  END AS descr
        |FROM orders""".stripMargin)
    // must agree row-for-row with the combinator API's CASE lowering
    val expected = Tables(spark, sf, "orders").select(
      col("o_orderkey"),
      when(col("o_orderstatus") === "O", concat(lit("open:"), col("o_orderpriority")))
        .when(col("o_orderstatus") === "F",
              concat(lit("shipped:"), year(col("o_orderdate")).cast("string")))
        .otherwise(lit("returned")).as("descr"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    assert(got.count() == Tables(spark, sf, "orders").count())
  }

  test("SQL constructors produce the Adt combinator encoding (interop)") {
    declareOrderState()
    val df = spark.sql("SELECT OrderState.Open('HIGH') AS state")
    assert(df.select(Adt.tagOf(col("state"))).head.getString(0) == "Open")
    assert(df.select(Adt.payload(col("state"), "Open").getField("priority"))
      .head.getString(0) == "HIGH")
    assert(df.select(Adt.is(col("state"), "Returned")).head.getBoolean(0) == false)
    // and the combinator matchOn reads a SQL-constructed value
    val m = df.select(Adt.matchOn(col("state"))(
      "Open" -> (p => p.getField("priority")),
      "Shipped" -> (_ => lit("s")),
      "Returned" -> (_ => lit("r"))).as("x"))
    assert(m.head.getString(0) == "HIGH")
  }

  test("ill-typed ADT SQL is rejected at parse time") {
    declareOrderState()
    def bad(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](spark.sql(sql))
      assert(e.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"wrong error for [$sql]: ${e.getMessage}")
    }
    // unknown variant tag
    bad("SELECT MATCH (x) WHEN Bogus THEN 1 END FROM t", "no declared type")
    // binder arity vs payload arity (ill-typed match)
    bad("""SELECT MATCH (x) WHEN Open(a, b) THEN a
          |WHEN Shipped(d) THEN d WHEN Returned THEN 1 END FROM t""".stripMargin,
        "pattern binds 2")
    // payload binder on a payload-less variant
    bad("""SELECT MATCH (x) WHEN Open(p) THEN p
          |WHEN Shipped(d) THEN d WHEN Returned(z) THEN z END FROM t""".stripMargin,
        "pattern binds 1")
    // non-exhaustive without ELSE
    bad("SELECT MATCH (x) WHEN Open(p) THEN p END FROM t", "non-exhaustive")
    // constructor arity
    bad("SELECT OrderState.Open()", "takes 1 argument")
    bad("SELECT OrderState.Shipped(a, b) FROM t", "takes 1 argument")
    // unknown constructor variant
    bad("SELECT OrderState.Closed(1)", "no variant")
    // malformed type declarations
    bad("CREATE TYPE Bad = A(x TEXT) | A", "duplicate variant")
    bad("CREATE TYPE Bad = A(x NOSUCHTYPE) | B", "bad field type")
  }

  test("binder substitution skips qualified references and call heads") {
    declareOrderState()
    // `o.p` must stay the table column even though the binder is also `p`,
    // and `year(...)` must stay a function call when a binder is named year
    val df = spark.sql(
      """SELECT MATCH (OrderState.Open(o.p))
        |  WHEN Open(p) THEN p || '/' || o.p
        |  WHEN Shipped(d) THEN 'no' WHEN Returned THEN 'no'
        |END AS r
        |FROM (SELECT 'X' AS p) o""".stripMargin)
    assert(df.head.getString(0) == "X/X")
    val fn = spark.sql(
      """SELECT MATCH (OrderState.Shipped(TIMESTAMP '1999-06-01 00:00:00'))
        |  WHEN Open(p) THEN 'no'
        |  WHEN Shipped(year) THEN CAST(year(year) AS STRING)
        |  WHEN Returned THEN 'no'
        |END AS r""".stripMargin)
    assert(fn.head.getString(0) == "1999")
  }

  test("nested MATCH and string literals with escapes survive the rewrite") {
    declareOrderState()
    spark.sql("CREATE TYPE Wrap = Inner(v STRING) | Empty")
    val df = spark.sql(
      """SELECT MATCH (Wrap.Inner('a'))
        |  WHEN Inner(v) THEN
        |    MATCH (OrderState.Returned())
        |      WHEN Open(p) THEN p
        |      WHEN Shipped(d) THEN 'no'
        |      WHEN Returned THEN v || ' it''s; nested \' ok'
        |    END
        |  WHEN Empty THEN 'empty'
        |END AS r""".stripMargin)
    assert(df.head.getString(0) == "a it's; nested ' ok")
  }

  test("MATCH arms resolve against the right type; ambiguity is rejected") {
    declareOrderState()
    spark.sql("CREATE TYPE Payment = Card(num TEXT) | Cash")
    // disjoint tag sets resolve independently
    val r = spark.sql(
      "SELECT MATCH (Payment.Cash()) WHEN Card(n) THEN n WHEN Cash THEN 'cash' END AS m")
    assert(r.head.getString(0) == "cash")
    // a type whose variants overlap another makes one-arm matches ambiguous
    spark.sql("CREATE TYPE Refund = Card(num TEXT) | Wire")
    val e = intercept[IllegalArgumentException](
      spark.sql("SELECT MATCH (x) WHEN Card(n) THEN n ELSE 'other' END FROM t"))
    assert(e.getMessage.contains("ambiguous"))
  }

  test("parametric type: distinct instantiations coexist, MATCH needs none") {
    spark.sql("CREATE TYPE Opt<T> = Some(value T) | None")
    // BIGINT and STRING instantiations in one statement; exhaustive MATCH
    val r = spark.sql(
      """SELECT
        |  MATCH (Opt<BIGINT>.Some(41 + 1)) WHEN Some(v) THEN v + 1 WHEN None THEN 0 END AS a,
        |  MATCH (Opt<STRING>.None()) WHEN Some(v) THEN v WHEN None THEN 'nil' END AS b""".stripMargin)
      .head
    assert(r.getLong(0) == 43L && r.getString(1) == "nil")
    // nested/complex type arguments: ARRAY<BIGINT> flows through the DDL
    val arr = spark.sql(
      "SELECT MATCH (Opt<ARRAY<BIGINT>>.Some(array(1, 2, 3))) " +
      "WHEN Some(v) THEN size(v) WHEN None THEN -1 END AS n").head
    assert(arr.getInt(0) == 3)
  }

  test("parametric type errors: arity, uninstantiated use, bad argument, unused param") {
    spark.sql("CREATE TYPE Pair<A, B> = MkPair(fst A, snd B)")
    val arity = intercept[IllegalArgumentException](
      spark.sql("SELECT Pair<BIGINT>.MkPair(1, 2)"))
    assert(arity.getMessage.contains("takes 2 type argument"))
    val bare = intercept[IllegalArgumentException](
      spark.sql("SELECT Pair.MkPair(1, 2)"))
    assert(bare.getMessage.contains("instantiate"))
    val bad = intercept[IllegalArgumentException](
      spark.sql("SELECT Pair<BIGINT, NOT_A_TYPE>.MkPair(1, 2)"))
    assert(bad.getMessage.contains("bad instantiated type"))
    val unused = intercept[IllegalArgumentException](
      spark.sql("CREATE TYPE Phantom<T> = Tagged(label STRING)"))
    assert(unused.getMessage.contains("no field uses them"))
    // a '<' comparison against a column sharing a generic type's name
    // must NOT trigger instantiation
    val cmp = spark.sql("SELECT count(*) AS n FROM (SELECT 1 AS pair) WHERE pair < 2").head
    assert(cmp.getLong(0) == 1L)
  }

  test("parametric constructor encodes the instantiated struct schema") {
    spark.sql("CREATE TYPE Opt<T> = Some(value T) | None")
    val df = spark.sql("SELECT Opt<DECIMAL(10,2)>.Some(CAST(1.50 AS DECIMAL(10,2))) AS o")
    val someField = df.schema("o").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("some").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("value").dataType
    assert(someField == org.apache.spark.sql.types.DecimalType(10, 2))
    assert(df.head.getStruct(0).getString(0) == "Some")
  }
}
