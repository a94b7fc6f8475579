"""The benchmark's workloads and their seeded call streams.

A workload is a list of passes; pass 0 runs cold in a fresh JVM, passes 1..
run warm. The seed fixes the data (`gen.py`), the order of every warm pass and
the parameters of every SQL statement; the engine receives only these
generated inputs. The cold pass runs in the declared order: whichever call
goes first pays the JVM's first-use costs (JIT, codegen machinery), so a
seeded cold order would move seconds between calls and add spread to
`cold_pass_s` without changing what it measures.

- `sql_analytics`: an analyst's session on the `graft.Sql` surface
  (GraftExtensions, CBO, the ADT parser, the MV rewrite). Each pass calls four
  DuckDB-oracled keys (TPC-H, the star join, ADT SQL) and runs a SQL stream on
  a warehouse copy of `orders` with one materialized view: point, range and
  join reads, copy-on-write UPDATE/DELETE/MERGE, then a REFRESH and an
  MV-eligible read. Per-call fixed cost dominates here: planning, codegen,
  per-stage scheduling and the copy-on-write rewrite; there are almost no
  eager construction jobs and no build-once artifacts.
- `pipeline_build`: five LLM-data pipeline keys. DataFrame construction with
  eager jobs (closeness BFS, k-center, MinHash) and the build-once indexes
  (PairIndex for adamic-adar, ShingleIndex for containment) dominate; the
  cold pass pays the index builds and the warm passes reuse them. The keys
  carry the ROADMAP's defects 1 (`graph_closeness_exact`) and 2
  (`sample_kcenter_greedy`'s `EuclideanToConst`). No `sim_ann_*` key runs:
  on some seeds each of them fails, which a workload may not (README.md).

The plan holds more warm passes than a run needs; the harness runs them until
the warm calls have taken `--seconds`, whole passes only, at least one.
"""
import random

SQL_ANALYTICS = ["tpch_q2", "tpch_q5", "join_multiway_star", "adt_sql_syntax"]

PIPELINE_BUILD = ["graph_adamic_adar", "graph_closeness_exact",
                  "dedup_containment", "sample_kcenter_greedy",
                  "dedup_near_minhash"]

# scale factor of the generated tables (TESTDATA.md's sf)
SF = 0.01
# warm passes in the plan; the harness stops once `--seconds` are measured
MAX_WARM = 50


class Stmt:
    """One call: its kind (K key, R read, M MV-eligible read, W write,
    F refresh), the key or SQL text the engine runs and the DuckDB statements
    that replay it (DuckDB 1.0 has no MERGE, nor materialized views)."""

    def __init__(self, kind, spark, duck=None):
        self.kind = kind
        self.spark = spark
        self.duck = [spark] if duck is None else duck


ORDERS_PROJ = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, "
               "CAST(year(o_orderdate) AS INT) AS o_orderyear, "
               "CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalcents FROM orders")
COLS = "o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_orderyear, o_totalcents"

# engine set-up, run in every set-up; DuckDB replays DUCK_SETUP instead
DML_SETUP = [
    f"CREATE OR REPLACE TEMPORARY VIEW orders_src AS {ORDERS_PROJ}",
    "INSERT OVERWRITE DIRECTORY '${wh}/orders_w' USING parquet SELECT * FROM orders_src",
    "CREATE OR REPLACE TEMPORARY VIEW orders_w USING parquet OPTIONS (path '${wh}/orders_w')",
    "CREATE MATERIALIZED VIEW mv_orders AS SELECT o_orderstatus, o_orderpriority, "
    "count(*) AS n, sum(o_totalcents) AS sc FROM orders_w "
    "GROUP BY o_orderstatus, o_orderpriority",
]
DUCK_SETUP = [f"CREATE TABLE orders_src AS {ORDERS_PROJ}",
              "CREATE TABLE orders_w AS SELECT * FROM orders_src"]


def sql_pass(rng, n_orders, n_cust, shuffle):
    """One pass: the analyst keys and six reads and writes in seeded order,
    then a REFRESH and the MV-eligible reads. The MV serves its last refresh
    by design, so MV reads only ever follow a REFRESH that follows the pass's
    last write."""
    def k():
        return rng.randrange(n_orders)

    def point():
        a = k()
        return Stmt("R", f"SELECT {COLS} FROM orders_w WHERE o_orderkey BETWEEN {a} AND {a + 4} "
                         f"ORDER BY o_orderkey")

    def range_agg():
        a = k()
        b = a + n_orders // 20
        where = f"FROM orders_w WHERE o_orderkey BETWEEN {a} AND {b} GROUP BY o_orderpriority"
        return Stmt("R",
                    f"SELECT o_orderpriority, count(*) AS n, sum(o_totalcents) AS sc, "
                    f"min(o_orderyear) AS y0 {where} ORDER BY o_orderpriority",
                    [f"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, "
                     f"CAST(sum(o_totalcents) AS BIGINT) AS sc, min(o_orderyear) AS y0 "
                     f"{where} ORDER BY o_orderpriority"])

    def join():
        a = rng.randrange(n_cust)
        b = a + max(1, n_cust // 50)
        tail = ("FROM orders_w w JOIN lineitem l ON l.l_orderkey = w.o_orderkey "
                f"WHERE w.o_custkey BETWEEN {a} AND {b} GROUP BY w.o_orderstatus "
                "ORDER BY w.o_orderstatus")
        return Stmt("R", f"SELECT w.o_orderstatus, count(*) AS n, sum(l.l_quantity) AS q {tail}",
                    [f"SELECT w.o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
                     f"sum(l.l_quantity) AS q {tail}"])

    def update():
        return Stmt("W", f"UPDATE orders_w SET o_totalcents = o_totalcents + {rng.randrange(1, 999)}, "
                         f"o_orderstatus = 'U' WHERE o_custkey = {rng.randrange(n_cust)}")

    def delete():
        a = k()
        return Stmt("W", f"DELETE FROM orders_w WHERE o_orderkey BETWEEN {a} AND {a + n_orders // 300}")

    def merge():
        a = k()
        b = a + n_orders // 150
        src = f"SELECT {COLS} FROM orders_src WHERE o_orderkey BETWEEN {a} AND {b}"
        return Stmt(
            "W",
            f"MERGE INTO orders_w t USING ({src}) s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET o_totalcents = t.o_totalcents + 1, o_orderstatus = 'M' "
            f"WHEN NOT MATCHED THEN INSERT ({COLS}) VALUES (s.o_orderkey, s.o_custkey, 'N', "
            "s.o_orderpriority, s.o_orderyear, s.o_totalcents)",
            # every source key exists in orders_src, so "matched" is exactly
            # the target rows in the key range
            [f"UPDATE orders_w SET o_totalcents = o_totalcents + 1, o_orderstatus = 'M' "
             f"WHERE o_orderkey BETWEEN {a} AND {b}",
             f"INSERT INTO orders_w SELECT o_orderkey, o_custkey, 'N', o_orderpriority, "
             f"o_orderyear, o_totalcents FROM orders_src s WHERE o_orderkey BETWEEN {a} AND {b} "
             f"AND NOT EXISTS (SELECT 1 FROM orders_w t WHERE t.o_orderkey = s.o_orderkey)"])

    body = [Stmt("K", k) for k in SQL_ANALYTICS] + [
        point(), range_agg(), join(), update(), delete(), merge()]
    if shuffle:
        rng.shuffle(body)
    mv_status = ("FROM orders_w GROUP BY o_orderstatus ORDER BY o_orderstatus")
    mv_prio = ("FROM orders_w GROUP BY o_orderpriority ORDER BY o_orderpriority")
    return body + [
        Stmt("F", "REFRESH MATERIALIZED VIEW mv_orders", []),
        Stmt("M", f"SELECT o_orderstatus, count(*) AS n, sum(o_totalcents) AS sc {mv_status}",
             [f"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
              f"CAST(sum(o_totalcents) AS BIGINT) AS sc {mv_status}"]),
        Stmt("M", f"SELECT o_orderpriority, count(*) AS n {mv_prio}",
             [f"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n {mv_prio}"]),
    ]


def plan(workload, seed, sizes):
    """(setup statements, passes): the cold pass and MAX_WARM warm passes;
    each pass is a list of Stmt."""
    rng = random.Random(f"{workload}:{seed}")
    n = 1 + MAX_WARM
    if workload == "sql_analytics":
        return DML_SETUP, [sql_pass(rng, sizes["orders"], sizes["customer"], p > 0)
                           for p in range(n)]
    return [], [[Stmt("K", k) for k in
                 (rng.sample(PIPELINE_BUILD, len(PIPELINE_BUILD)) if p else PIPELINE_BUILD)]
                for p in range(n)]


def write_plan(path, setup, passes):
    with open(path, "w") as f:
        for s in setup:
            f.write(f"-1\tS\t{s}\n")
        for p, stmts in enumerate(passes):
            for s in stmts:
                f.write(f"{p}\t{s.kind}\t{s.spark}\n")
