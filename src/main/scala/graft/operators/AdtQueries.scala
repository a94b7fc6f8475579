package graft.operators

import graft.{Decl, Tables, declMap}
import graft.adt.Adt
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.10 — the ADT layer's declared queries.
  *
  * `OrderState = Open(priority) | Shipped(ship_date) | Returned`, built from
  * `orders` columns with `graft.adt.Adt`. Declared outputs are primitives
  * only (R5), so each DuckDB oracle is the algebraically-equal CASE
  * expression over the base columns — which is exactly what Catalyst
  * simplifies our tagged-struct accessors into.
  */
object AdtQueries {

  /** orders + an ADT `state` column. */
  private def withState(s: SparkSession, d: String): DataFrame = {
    val o = Tables(s, d, "orders")
    o.withColumn("state", Adt.construct(
      (col("o_orderstatus") === "O") -> Adt.variant("Open")("priority" -> col("o_orderpriority")),
      (col("o_orderstatus") === "F") -> Adt.variant("Shipped")("ship_date" -> col("o_orderdate")),
      (col("o_orderstatus") === "P") -> Adt.variant("Returned")()))
  }
  private def state: Column = col("state")

  val decls: Map[String, Decl] = declMap(
    // Construct, then deconstruct to primitives: tag + per-variant payloads.
    "adt_construct" -> Decl(
      (s, d) => Tables.canon(
        withState(s, d).select(
          col("o_orderkey"),
          Adt.tagOf(state).as("tag"),
          Adt.payload(state, "Open").getField("priority").as("open_priority"),
          Adt.payload(state, "Shipped").getField("ship_date").as("shipped_date"))),
      Some("""SELECT o_orderkey,
             |CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Shipped'
             |                   WHEN 'P' THEN 'Returned' END AS tag,
             |CASE WHEN o_orderstatus = 'O' THEN o_orderpriority END AS open_priority,
             |CASE WHEN o_orderstatus = 'F' THEN o_orderdate END AS shipped_date
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // `WHERE state matches Shipped(d) AND d < …`
    "adt_pattern_filter" -> Decl(
      (s, d) => Tables.canon(
        withState(s, d)
          .filter(Adt.is(state, "Shipped") &&
                  Adt.payload(state, "Shipped").getField("ship_date") <
                    lit("1997-01-01 00:00:00").cast("timestamp"))
          .select(col("o_orderkey"),
                  Adt.payload(state, "Shipped").getField("ship_date").as("shipped_date"))),
      Some("""SELECT o_orderkey, o_orderdate AS shipped_date FROM orders
             |WHERE o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    // A `match` expression with per-variant result expressions.
    "adt_pattern_project" -> Decl(
      (s, d) => Tables.canon(
        withState(s, d).select(
          col("o_orderkey"),
          Adt.matchOn(state)(
            "Open"     -> (p => concat(lit("open:"), p.getField("priority"))),
            "Shipped"  -> (p => concat(lit("shipped:"), year(p.getField("ship_date")).cast("string"))),
            "Returned" -> (_ => lit("returned"))).as("descr"))),
      Some("""SELECT o_orderkey,
             |CASE WHEN o_orderstatus = 'O' THEN 'open:' || o_orderpriority
             |     WHEN o_orderstatus = 'F' THEN 'shipped:' || CAST(year(o_orderdate) AS VARCHAR)
             |     WHEN o_orderstatus = 'P' THEN 'returned' END AS descr
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Aggregate grouped by variant tag — groupBy on a struct field is just a
    // groupBy on a derived column; partial aggregation applies as usual.
    "adt_groupby_variant" -> Decl(
      (s, d) => withState(s, d)
        .groupBy(Adt.tagOf(state).as("tag"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("tag"),
      Some("""SELECT CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Shipped'
             |                          WHEN 'P' THEN 'Returned' END AS tag,
             |count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY 1 ORDER BY tag""".stripMargin)),

    // The ADT SQL grammar end-to-end: CREATE TYPE registers OrderState in
    // the session catalog, then ONE SQL text uses constructors AND an
    // exhaustive MATCH (no ELSE — the rewriter typechecks coverage). Runs
    // through AdtSql.sql so it works on any session; a session built with
    // GraftExtensions accepts the same text through plain spark.sql via the
    // injected parser (AdtSqlSpec proves that path).
    "adt_sql_syntax" -> Decl(
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        graft.adt.AdtSql.sql(s,
          "CREATE TYPE OrderState = Open(priority TEXT) | Shipped(ship_date TIMESTAMP) | Returned")
        Tables.canon(graft.adt.AdtSql.sql(s,
          """SELECT o_orderkey,
            |  MATCH (CASE WHEN o_orderstatus = 'O' THEN OrderState.Open(o_orderpriority)
            |              WHEN o_orderstatus = 'F' THEN OrderState.Shipped(o_orderdate)
            |              ELSE OrderState.Returned() END)
            |    WHEN Open(p)     THEN 'open:' || p
            |    WHEN Shipped(dt) THEN 'shipped:' || CAST(year(dt) AS STRING)
            |    WHEN Returned    THEN 'returned'
            |  END AS descr
            |FROM orders""".stripMargin))
      },
      Some("""SELECT o_orderkey,
             |CASE WHEN o_orderstatus = 'O' THEN 'open:' || o_orderpriority
             |     WHEN o_orderstatus = 'F' THEN 'shipped:' || CAST(year(o_orderdate) AS VARCHAR)
             |     ELSE 'returned' END AS descr
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Spark 4 VariantType: schema-on-read over the JSON payload; declared
    // output is primitive (R5).
    "adt_variant_type" -> Decl(
      (s, d) => Tables.canon(
        Tables.events(s, d).select(
          col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k_num"),
          expr("CAST(variant_get(parse_json(props), '$.k', 'string') AS STRING)").as("k_str"))),
      Some("""SELECT event_id,
             |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
             |json_extract_string(props, '$.k') AS k_str
             |FROM events ORDER BY ALL NULLS FIRST""".stripMargin)),

    // PARAMETRIC sum types: `CREATE TYPE Maybe<T>` declares a generic
    // template; constructors instantiate it per call site
    // (`Maybe<BIGINT>.Just(x)` — the turbofish discipline, nothing
    // inferred) while MATCH needs no instantiation because pattern
    // lowering reads only tags and payload accessors. Output is
    // primitive (R5), so the oracle is the algebraically-equal CASE —
    // which is exactly what Catalyst folds the tagged struct into.
    "adt_parametric_option" -> Decl(
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        graft.adt.AdtSql.sql(s,
          "CREATE TYPE Maybe<T> = Just(value T) | Nothing")
        Tables.canon(graft.adt.AdtSql.sql(s,
          """SELECT o_orderkey,
            |  MATCH (CASE WHEN o_totalprice > 200000
            |              THEN Maybe<BIGINT>.Just(CAST(round(o_totalprice * 100) AS BIGINT))
            |              ELSE Maybe<BIGINT>.Nothing() END)
            |    WHEN Just(v) THEN v
            |    WHEN Nothing THEN CAST(-1 AS BIGINT)
            |  END AS big_price_c
            |FROM orders""".stripMargin))
      },
      Some("""SELECT o_orderkey,
             |CASE WHEN o_totalprice > 200000
             |     THEN CAST(round(o_totalprice * 100) AS BIGINT)
             |     ELSE CAST(-1 AS BIGINT) END AS big_price_c
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Two DIFFERENT instantiations of one two-parameter template in the
    // same query — Result<TIMESTAMP, STRING> and Result<BIGINT, STRING>
    // coexist because each constructor site emits its own concrete
    // struct DDL; both MATCHes resolve to the single Result template.
    "adt_parametric_result" -> Decl(
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        graft.adt.AdtSql.sql(s,
          "CREATE TYPE Result<O, E> = Ok(value O) | Err(error E)")
        Tables.canon(graft.adt.AdtSql.sql(s,
          """SELECT o_orderkey,
            |  MATCH (CASE WHEN o_orderstatus = 'F'
            |              THEN Result<TIMESTAMP, STRING>.Ok(o_orderdate)
            |              ELSE Result<TIMESTAMP, STRING>.Err(o_orderpriority) END)
            |    WHEN Ok(dt) THEN 'done:' || CAST(year(dt) AS STRING)
            |    WHEN Err(e) THEN 'pending:' || e
            |  END AS outcome,
            |  MATCH (CASE WHEN o_totalprice >= 100000
            |              THEN Result<BIGINT, STRING>.Ok(CAST(round(o_totalprice * 100) AS BIGINT))
            |              ELSE Result<BIGINT, STRING>.Err('small') END)
            |    WHEN Ok(v)  THEN CAST(v AS STRING)
            |    WHEN Err(e) THEN e
            |  END AS big_c
            |FROM orders""".stripMargin))
      },
      Some("""SELECT o_orderkey,
             |CASE WHEN o_orderstatus = 'F' THEN 'done:' || CAST(year(o_orderdate) AS VARCHAR)
             |     ELSE 'pending:' || o_orderpriority END AS outcome,
             |CASE WHEN o_totalprice >= 100000 THEN CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
             |     ELSE 'small' END AS big_c
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)))
}
