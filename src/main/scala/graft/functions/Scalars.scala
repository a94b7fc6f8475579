package graft.functions

import graft.{Decl, Tables, declMap}
import org.apache.spark.sql.functions._

/** SURVEY §2.8 scalar function families — one declared query per family,
  * each exercising every listed function, built-ins only (whole-stage
  * codegen keeps these inside the scan pipeline; no UDFs anywhere).
  *
  * Cross-engine type notes baked into the oracles: DuckDB returns BIGINT for
  * length/instr/year/datediff/floor-as-int and FLOAT for list elements, so
  * both sides cast to a common type; transcendentals round at 6 dp (libm vs
  * java.lang.Math can differ in the last ulp).
  */
object Scalars {

  val decls: Map[String, Decl] = declMap(
    "scalar_string" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "customer").select(
          col("c_custkey"),
          upper(col("c_name")).as("up"),
          lower(col("c_name")).as("lo"),
          substring(col("c_name"), 10, 5).as("sub"),
          length(col("c_name")).cast("int").as("len"),
          concat(lit("cust:"), col("c_name")).as("cc"),
          trim(concat(lit("  "), col("c_name"), lit(" "))).as("trimmed"),
          lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
          regexp_replace(col("c_name"), lit("Customer"), lit("Cust")).as("repl"),
          element_at(split(col("c_name"), "#"), 2).as("after_hash"),
          instr(col("c_name"), "#").cast("int").as("hash_pos"))),
      Some("""SELECT c_custkey,
             |upper(c_name) AS up, lower(c_name) AS lo,
             |substr(c_name, 10, 5) AS sub,
             |CAST(length(c_name) AS INT) AS len,
             |'cust:' || c_name AS cc,
             |trim('  ' || c_name || ' ') AS trimmed,
             |lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
             |replace(c_name, 'Customer', 'Cust') AS repl,
             |string_split(c_name, '#')[2] AS after_hash,
             |CAST(instr(c_name, '#') AS INT) AS hash_pos
             |FROM customer ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Patterns restricted to the Java∩RE2 subset (char classes, groups; no
    // backrefs/lookaround) per SURVEY §7.3 R7.
    "scalar_regex" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "customer").select(
          col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          regexp_extract(col("c_mktsegment"), "^([A-Z]+)$", 1).as("seg_word"))),
      Some("""SELECT c_custkey,
             |regexp_extract(c_name, '([0-9]+)', 1) AS digits,
             |regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
             |regexp_extract(c_mktsegment, '^([A-Z]+)$', 1) AS seg_word
             |FROM customer ORDER BY ALL NULLS FIRST""".stripMargin)),

    "scalar_date" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("y"),
          month(col("o_orderdate")).cast("int").as("m"),
          dayofmonth(col("o_orderdate")).cast("int").as("dom"),
          hour(col("o_orderdate")).cast("int").as("hr"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          datediff(lit(java.sql.Date.valueOf("2000-01-01")), col("o_orderdate")).cast("int").as("days_to_y2k"),
          // R4: Spark date_trunc returns TIMESTAMP, DuckDB DATE — cast both.
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          quarter(col("o_orderdate")).cast("int").as("q"))),
      Some("""SELECT o_orderkey,
             |CAST(year(o_orderdate) AS INT) AS y,
             |CAST(month(o_orderdate) AS INT) AS m,
             |CAST(day(o_orderdate) AS INT) AS dom,
             |CAST(hour(o_orderdate) AS INT) AS hr,
             |CAST(o_orderdate AS DATE) + 30 AS plus30,
             |CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_y2k,
             |CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             |CAST(quarter(o_orderdate) AS INT) AS q
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    "scalar_math" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          round(abs(col("l_discount") - 0.05), 6).as("absd"),
          round(col("l_quantity") / 7, 4).as("q7"),
          round(sqrt(col("l_quantity")), 6).as("sq"),
          round(exp(col("l_discount")), 6).as("ex"),
          round(log(col("l_extendedprice")), 6).as("lg"),
          round(pow(col("l_quantity"), 2), 2).as("pw"),
          floor(col("l_extendedprice")).cast("bigint").as("fl"),
          ceil(col("l_extendedprice")).cast("bigint").as("ce"),
          (col("l_orderkey") % 7).as("md"),
          signum(col("l_discount") - 0.05).cast("int").as("sg"))),
      Some("""SELECT l_orderkey, l_linenumber,
             |round(abs(l_discount - 0.05), 6) AS absd,
             |round(l_quantity / 7, 4) AS q7,
             |round(sqrt(l_quantity), 6) AS sq,
             |round(exp(l_discount), 6) AS ex,
             |round(ln(l_extendedprice), 6) AS lg,
             |round(pow(l_quantity, 2), 2) AS pw,
             |CAST(floor(l_extendedprice) AS BIGINT) AS fl,
             |CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
             |l_orderkey % 7 AS md,
             |CAST(sign(l_discount - 0.05) AS INT) AS sg
             |FROM lineitem ORDER BY ALL NULLS FIRST""".stripMargin)),

    "scalar_conditional" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "orders").select(
          col("o_orderkey"),
          when(col("o_totalprice") < 100000, "low")
            .when(col("o_totalprice") < 300000, "mid")
            .otherwise("high").as("band"),
          coalesce(expr("nullif(o_orderstatus, 'O')"), lit("OPEN")).as("status_or_open"),
          round(greatest(col("o_totalprice"), lit(250000.0)), 2).as("hi_clamp"),
          round(least(col("o_totalprice"), lit(250000.0)), 2).as("lo_clamp"))),
      Some("""SELECT o_orderkey,
             |CASE WHEN o_totalprice < 100000 THEN 'low'
             |     WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS band,
             |coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
             |round(greatest(o_totalprice, 250000.0), 2) AS hi_clamp,
             |round(least(o_totalprice, 250000.0), 2) AS lo_clamp
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // ANSI mode is on in Spark 4 — all casts stay in range by construction.
    // The DECIMAL(18,2) cast is re-emitted as STRING: round-1 proved the
    // values match DuckDB exactly but a raw DECIMAL output column hashes
    // differently between the engines' physical encodings (the suite's only
    // hash_match=false). Both engines render DECIMAL(18,2) → string with
    // exactly two fractional digits, so the cast stays exercised while the
    // output column is a hash-stable primitive.
    "scalar_cast" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "orders").select(
          col("o_orderkey"),
          col("o_orderkey").cast("int").as("as_int"),
          col("o_orderkey").cast("double").as("as_double"),
          col("o_orderkey").cast("string").as("as_str"),
          col("o_totalprice").cast("decimal(18,2)").cast("string").as("as_dec"),
          lit("2024-03-05 12:00:00").cast("timestamp").as("const_ts"),
          lit("123").cast("int").as("parsed_int"))),
      Some("""SELECT o_orderkey,
             |CAST(o_orderkey AS INT) AS as_int,
             |CAST(o_orderkey AS DOUBLE) AS as_double,
             |CAST(o_orderkey AS VARCHAR) AS as_str,
             |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS as_dec,
             |CAST('2024-03-05 12:00:00' AS TIMESTAMP) AS const_ts,
             |CAST('123' AS INT) AS parsed_int
             |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Higher-order functions over the embedding vector; every lambda casts
    // float→double before arithmetic so both engines compute in double.
    "scalar_array" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "embeddings").select(
          col("vec_id"),
          size(col("embedding")).cast("int").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
          round(element_at(sort_array(col("embedding")), 64).cast("double"), 6).as("max_val"),
          array_contains(array(lit(1), lit(2), lit(3)), col("label")).as("label_in_123"),
          expr("size(filter(embedding, x -> x > 0))").cast("int").as("n_pos"),
          round(expr("aggregate(slice(embedding, 1, 8), CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))"), 6).as("sum8"),
          round(expr("aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, p) -> a + p)"), 6).as("sumsq"),
          round(expr("CAST(transform(embedding, x -> CAST(x AS DOUBLE) * 2)[0] AS DOUBLE)"), 6).as("first_doubled"))),
      Some("""SELECT vec_id,
             |CAST(len(embedding) AS INT) AS dim,
             |round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
             |round(CAST(list_sort(embedding)[64] AS DOUBLE), 6) AS max_val,
             |list_contains([1, 2, 3], label) AS label_in_123,
             |CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
             |round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS sum8,
             |round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sumsq,
             |round(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2)[1], 6) AS first_doubled
             |FROM embeddings ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Maps are constructed in-query (no map fixture column); outputs are
    // primitives (R5), so the oracle states the algebraically-equal value.
    "scalar_map" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "customer").select(
          col("c_custkey"),
          round(element_at(
            map_from_arrays(array(lit("bal"), lit("dbl")),
                            array(col("c_acctbal"), col("c_acctbal") * 2)), "dbl"), 2).as("dbl_bal"),
          element_at(
            map_from_arrays(array(lit("bal")), array(col("c_acctbal"))), "zzz").as("missing"),
          concat_ws(",", map_keys(
            map_from_arrays(array(lit("bal"), lit("dbl")),
                            array(col("c_acctbal"), col("c_acctbal") * 2)))).as("keys"))),
      Some("""SELECT c_custkey,
             |round(c_acctbal * 2, 2) AS dbl_bal,
             |CAST(NULL AS DOUBLE) AS missing,
             |'bal,dbl' AS keys
             |FROM customer ORDER BY ALL NULLS FIRST""".stripMargin)),

    "scalar_json" -> Decl(
      (s, d) => Tables.canon(
        Tables.events(s, d).select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k_num"),
          get_json_object(col("props"), "$.nope").as("k_missing"))),
      Some("""SELECT event_id,
             |json_extract_string(props, '$.k') AS k_str,
             |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
             |json_extract_string(props, '$.nope') AS k_missing
             |FROM events ORDER BY ALL NULLS FIRST""".stripMargin)),

    // xxhash64 has no DuckDB twin, so the declared output sticks to md5 +
    // sha256 (xxhash64 is exercised by the minhash dedup path instead).
    "scalar_hash" -> Decl(
      (s, d) => Tables.canon(
        Tables(s, d, "documents").select(
          col("doc_id"),
          md5(lower(trim(col("text")))).as("md5_norm"),
          sha2(col("text"), 256).as("sha256_raw"))),
      Some("""SELECT doc_id,
             |md5(lower(trim(text))) AS md5_norm,
             |sha256(text) AS sha256_raw
             |FROM documents ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Bitwise family: AND/OR/XOR, shifts, popcount — the bit-packing
    // toolkit the engine's own sketches (SimHash bands, SRP buckets,
    // Morton z-values) are built from, exercised as a declared scalar
    // family. Spark `^`/shiftleft vs DuckDB `xor()`/`<<` spellings differ;
    // the semantics match on BIGINT exactly.
    "scalar_bitwise" -> Decl(
      (s, d) => Tables(s, d, "orders").select(
        col("o_orderkey"),
        expr("o_orderkey & 255").as("b_and"),
        expr("o_orderkey | 4096").as("b_or"),
        expr("o_orderkey ^ 123456").as("b_xor"),
        expr("shiftleft(o_orderkey, 2)").as("b_shl"),
        expr("shiftright(o_orderkey, 3)").as("b_shr"),
        expr("CAST(bit_count(o_orderkey) AS INT)").as("b_cnt"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |o_orderkey & 255 AS b_and,
             |o_orderkey | 4096 AS b_or,
             |xor(o_orderkey, 123456) AS b_xor,
             |o_orderkey << 2 AS b_shl,
             |o_orderkey >> 3 AS b_shr,
             |CAST(bit_count(o_orderkey) AS INT) AS b_cnt
             |FROM orders ORDER BY o_orderkey""".stripMargin)))
}
