package graft.operators

import graft.{Decl, Tables, declMap}

/** The TEN remaining TPC-H shapes, completing the
  * suite — every one of Q1–Q22 now has a declared key (Q1 is
  * `agg_groupby_pricing`, the original flagship). The fixture schema
  * has no partsupp and fewer columns than the spec, so each query is
  * adapted the same way as RelOps' six: the supply relation is
  * derived from lineitem (`GROUP BY l_partkey, l_suppkey` — the
  * observed supplier-part pairs), "late" means shipped >60 days after
  * the order date (no commit/receipt dates), and comment/phone filters
  * become filters on columns that exist. The SHAPES — correlated
  * min-cost subquery (Q2), two-nation market share (Q8), profit rollup
  * (Q9), HAVING-vs-scalar-subquery (Q11), late-bucket conditional
  * counts (Q12), outer-join count distribution (Q13), distinct-supplier
  * counting with NOT IN (Q16), correlated-average small-quantity filter
  * (Q17), nested-IN excess-stock (Q20), and EXISTS/NOT-EXISTS
  * multi-correlation (Q21) — are the spec's, unchanged.
  *
  * Determinism hardening per SURVEY §7.3: money flows as
  * `CAST(round(x·100) AS BIGINT)` integer cents, quantities cast to
  * BIGINT (integer-valued in the fixture), fraction comparisons are
  * integer cross-multiplies (Q11's ×200, Q20's ×2), and every ORDER BY
  * carries a unique tiebreaker. The one float comparison kept is Q17's
  * `l_quantity < 0.2·avg(...)`: integer sums are exact in double and
  * the division/multiply are single IEEE ops, identical in any engine
  * and independent of reduction order, so the predicate is
  * deterministic without a rewrite (and keeps the classic correlated
  * scalar-subquery plan Catalyst decorrelates into one aggregate
  * join).
  *
  * Scale notes (100 TB): Q2/Q11/Q16/Q20 derive `supply` from lineitem
  * with a partkey-keyed partial aggregate — one fact shuffle, grouped
  * key space |parts|×|suppliers|; the correlated subqueries decorrelate
  * to aggregate joins on that reduced table, never a per-row probe.
  * Q8/Q9 are star joins: dims (part, supplier, nation, region)
  * broadcast; the single fact shuffle is orders⋈lineitem on orderkey.
  * Q13 right-shuffles orders onto the customer key once, then
  * aggregates twice on shrinking key spaces. Q17's decorrelated
  * per-part average is a partkey aggregate joined back — two fact
  * scans Catalyst shares under AQE, no nested loop. Q21's EXISTS /
  * NOT EXISTS pair become one semi and one anti join against the same
  * orderkey-partitioned lineitem — co-partitioned with the driving
  * join, so the whole query is one shuffle family on orderkey.
  */
object TpchRest {

  private def q(spark: org.apache.spark.sql.SparkSession, d: String, sql: String) = {
    Tables.views(spark, d)
    spark.sql(sql)
  }

  /** Q2 adapted: supply = cheapest observed line (exact cents) per
    * (part, supplier) from lineitem; the correlated scalar subquery
    * picks each part's min-cost EUROPE supplier, exactly the spec's
    * shape. */
  private val Q2 =
    """WITH supply AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_cost_c
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_c,
      |       s_name, n_name, p_partkey, p_name, ps_cost_c
      |FROM part, supply, supplier, nation, region
      |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      |  AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND ps_cost_c = (SELECT min(ps_cost_c)
      |                   FROM supply, supplier, nation, region
      |                   WHERE ps_partkey = p_partkey
      |                     AND s_suppkey = ps_suppkey
      |                     AND s_nationkey = n_nationkey
      |                     AND n_regionkey = r_regionkey
      |                     AND r_name = 'EUROPE')
      |ORDER BY s_acctbal_c DESC, n_name, s_name, p_partkey""".stripMargin

  /** Q8: NATION_7's share of AMERICA-customer ECONOMY-part volume by
    * order year — numerator and denominator emitted as exact cents
    * (no float share). */
  private val Q8 =
    """WITH volumes AS (
      |  SELECT year(o_orderdate) AS o_year,
      |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS vol_c,
      |         n2.n_name AS supp_nation
      |  FROM part JOIN lineitem ON p_partkey = l_partkey
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |    JOIN region ON n1.n_regionkey = r_regionkey
      |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |SELECT o_year,
      |       CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol_c ELSE 0 END) AS BIGINT)
      |         AS nation_vol_c,
      |       CAST(sum(vol_c) AS BIGINT) AS total_vol_c
      |FROM volumes GROUP BY o_year ORDER BY o_year""".stripMargin

  /** Q9 adapted: supply cost proxied by p_retailprice per unit (no
    * partsupp), profit per supplier nation per order year over widget
    * parts. */
  private val Q9 =
    """SELECT n_name, year(o_orderdate) AS o_year,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
      |                - CAST(l_quantity AS BIGINT)
      |                  * CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS profit_c
      |FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY n_name, o_year
      |ORDER BY n_name, o_year DESC""".stripMargin

  /** Q11 adapted: per-part "stock value" = summed line cents shipped by
    * suppliers of two nations; keep parts above TWICE the average
    * per-part share. The spec's fraction is 0.0001/SF — it scales with
    * the data so the result set stays meaningful at any size; tying the
    * threshold to |parts| reproduces that invariance, and the exact
    * integer cross-multiply `sum·|parts| > 2·total` keeps both scalar
    * subqueries single-row broadcasts (the spec's plan). */
  private val Q11 =
    """WITH scoped AS (
      |  SELECT l_partkey AS ps_partkey,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS val_c
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name IN ('NATION_3', 'NATION_8'))
      |SELECT ps_partkey, CAST(sum(val_c) AS BIGINT) AS value_c
      |FROM scoped
      |GROUP BY ps_partkey
      |HAVING sum(val_c) * (SELECT count(DISTINCT ps_partkey) FROM scoped)
      |       > 2 * (SELECT sum(val_c) FROM scoped)
      |ORDER BY value_c DESC, ps_partkey""".stripMargin

  /** Q12 adapted: shipmode → on-time/late bucket (shipped >90 days
    * after order date); priority split as conditional counts. */
  private val Q12 =
    """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
      |            THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY ship_bucket ORDER BY ship_bucket""".stripMargin

  /** Q13 adapted: the comment anti-filter becomes a priority filter on
    * the OUTER JOIN condition (kept in the ON clause — moving it to
    * WHERE would change the outer-join semantics, the classic Q13
    * trap). */
  private val Q13 =
    """WITH c_orders AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '3-MEDIUM'
      |  GROUP BY c_custkey)
      |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM c_orders GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q16 adapted: supply pairs from lineitem; the complaint-supplier
    * exclusion becomes a NOT IN against low-balance suppliers. */
  private val Q16 =
    """WITH supply AS (
      |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |  FROM lineitem)
      |SELECT p_brand, p_type, p_size,
      |       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
      |FROM supply JOIN part ON p_partkey = ps_partkey
      |WHERE p_brand <> 'Brand#13' AND p_type NOT IN ('PROMO', 'ECONOMY')
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND ps_suppkey NOT IN
      |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1500.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q17: small-quantity revenue for one brand — the correlated
    * 0.2·avg subquery, decorrelated by Catalyst into a per-part
    * aggregate join (see object Scaladoc for why the float compare is
    * deterministic). Total emitted as exact cents + line count (the
    * spec's /7.0 "avg yearly" would just rescale a constant). */
  private val Q17 =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |         AS total_c,
      |       CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#13'
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
      |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** Q20 adapted: "excess stock" = more than half the supplier-part's
    * all-time shipped quantity went out in 1996; nested IN subqueries
    * (supplier ← supply pairs ← bolt parts) exactly as the spec
    * nests partsupp and part. */
  private val Q20 =
    """WITH shipped AS (
      |  SELECT l_suppkey, l_partkey,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
      |         CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |                        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |           AS qty_1996
      |  FROM lineitem GROUP BY l_suppkey, l_partkey)
      |SELECT s_name, s_suppkey
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name IN ('NATION_2', 'NATION_5', 'NATION_11', 'NATION_17')
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM shipped
      |    WHERE l_partkey IN (SELECT p_partkey FROM part
      |                        WHERE p_name LIKE '%bolt%')
      |      AND qty_1996 * 2 > total_qty)
      |ORDER BY s_suppkey""".stripMargin

  /** Q21 adapted: "kept waiting" = shipped >60 days after order date on
    * a finalized order, where ANOTHER supplier shared the order
    * (EXISTS) and NO other supplier was also late (NOT EXISTS) — both
    * correlations on l_orderkey, decorrelated to one semi + one anti
    * join co-partitioned with the driving orderkey join. */
  private val Q21 =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier
      |  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |  JOIN orders ON o_orderkey = l1.l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  val decls: Map[String, Decl] = declMap(
    "tpch_q2"  -> Decl((s, d) => q(s, d, Q2),  Some(Q2)),
    "tpch_q8"  -> Decl((s, d) => q(s, d, Q8),  Some(Q8)),
    "tpch_q9"  -> Decl((s, d) => q(s, d, Q9),  Some(Q9)),
    "tpch_q11" -> Decl((s, d) => q(s, d, Q11), Some(Q11)),
    "tpch_q12" -> Decl((s, d) => q(s, d, Q12), Some(Q12)),
    "tpch_q13" -> Decl((s, d) => q(s, d, Q13), Some(Q13)),
    "tpch_q16" -> Decl((s, d) => q(s, d, Q16), Some(Q16)),
    "tpch_q17" -> Decl((s, d) => q(s, d, Q17), Some(Q17)),
    "tpch_q20" -> Decl((s, d) => q(s, d, Q20), Some(Q20)),
    "tpch_q21" -> Decl((s, d) => q(s, d, Q21), Some(Q21))
  )
}
