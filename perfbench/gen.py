"""Seeded fixture generator.

Writes the ten tables `graft.Tables` loads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one parquet
file each, with the schemas and value ranges of the TPC-H-ish fixtures the
engine is developed against (`TESTDATA.md`, `FIXTURES.md`). Every value is a
function of (seed, row, column) through DuckDB's `hash`, so the same seed gives
byte-identical tables regardless of thread count, and a different seed gives
different rows of the same shape and size.
"""
import duckdb

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]


def sizes(sf):
    """Row counts per table at scale factor `sf` (TESTDATA.md's ratios)."""
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def generate(out_dir, seed, sf):
    n = sizes(sf)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    # u(i, tag): uniform double in [0, 1) fixed by (seed, row, column tag)
    con.execute(f"CREATE MACRO u(i, tag) AS "
                f"(hash(i, tag, {int(seed)}) % 1000000007)::DOUBLE / 1000000007")
    con.execute("CREATE MACRO pick(i, tag, xs) AS "
                "xs[1 + floor(u(i, tag) * len(xs))::BIGINT]")
    # two-decimal money value in [lo, hi)
    con.execute("CREATE MACRO money(i, tag, lo, hi) AS "
                "round(lo + u(i, tag) * (hi - lo), 2)")

    def write(name, sql):
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")

    write("region", """SELECT i::INTEGER AS r_regionkey, name AS r_name FROM
        (SELECT unnest(range(5)) AS i,
                unnest(['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST']) AS name)""")
    write("nation", """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
        (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""")
    write("customer", f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        floor(u(i, 'cn') * 25)::INTEGER AS c_nationkey,
        money(i, 'cb', -999.99, 9999.99) AS c_acctbal,
        pick(i, 'cs', ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']) AS c_mktsegment
        FROM range({n['customer']}) t(i)""")
    write("supplier", f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        floor(u(i, 'sn') * 25)::INTEGER AS s_nationkey,
        money(i, 'sb', -999.99, 9999.99) AS s_acctbal
        FROM range({n['supplier']}) t(i)""")
    write("part", f"""SELECT i AS p_partkey,
        pick(i, 'pa', {PART_ADJ}) || ' ' || pick(i, 'pn', {PART_NOUN}) AS p_name,
        'Brand#' || (1 + floor(u(i, 'pb') * 25)::INTEGER) AS p_brand,
        pick(i, 'pt', ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD']) AS p_type,
        (1 + floor(u(i, 'ps') * 50))::INTEGER AS p_size,
        round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
        FROM range({n['part']}) t(i)""")
    write("orders", f"""SELECT i AS o_orderkey,
        floor(u(i, 'oc') * {n['customer']})::BIGINT AS o_custkey,
        pick(i, 'os', ['F','O','P']) AS o_orderstatus,
        money(i, 'ot', 1000, 500000) AS o_totalprice,
        (TIMESTAMP '1995-01-01' + to_days(floor(u(i, 'od') * 2404)::INTEGER)) AS o_orderdate,
        pick(i, 'op', ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']) AS o_orderpriority
        FROM range({n['orders']}) t(i)""")
    write("lineitem", f"""SELECT
        floor(u(i, 'lo') * {n['orders']})::BIGINT AS l_orderkey,
        floor(u(i, 'lp') * {n['part']})::BIGINT AS l_partkey,
        floor(u(i, 'ls') * {n['supplier']})::BIGINT AS l_suppkey,
        (1 + floor(u(i, 'll') * 7))::INTEGER AS l_linenumber,
        (1 + floor(u(i, 'lq') * 50))::DOUBLE AS l_quantity,
        money(i, 'le', 900, 105000) AS l_extendedprice,
        floor(u(i, 'ld') * 11) / 100.0 AS l_discount,
        floor(u(i, 'lt') * 9) / 100.0 AS l_tax,
        pick(i, 'lr', ['A','N','R']) AS l_returnflag,
        pick(i, 'lx', ['F','O']) AS l_linestatus,
        (TIMESTAMP '1995-01-02' + to_days(floor(u(i, 'lsd') * 2498)::INTEGER)) AS l_shipdate
        FROM range({n['lineitem']}) t(i)""")
    ne = n["events"]
    write("events", f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds((i * 2592000000000 // {ne})
            + floor(u(i, 'et') * (2592000000000 // {ne}))::BIGINT) AS ts,
        floor(u(i, 'eu') * {max(10, n['customer'])})::BIGINT AS user_id,
        pick(i, 'ey', ['click','error','purchase','signup','view']) AS event_type,
        money(i, 'ev', 0.01, 490.0) AS value,
        '{{"k": ' || floor(u(i, 'ek') * 100)::INTEGER || '}}' AS props
        FROM range({ne}) t(i)""")
    write("documents", f"""SELECT doc_id, text,
        pick(doc_id, 'dl', ['en','en','en','en','de','es','fr','zh']) AS lang,
        'src' || floor(u(doc_id, 'dsrc') * 20)::INTEGER AS source,
        length(text)::BIGINT AS n_chars FROM (
          SELECT i AS doc_id, array_to_string(list_transform(
                  range(9 + floor(u(i, 'dn') * 92)::BIGINT),
                  w -> pick(i * 1000 + w, 'dw', {WORDS})), ' ') AS text
          FROM range({n['documents']}) t(i))""")
    # unit vectors with Gaussian coordinates (Box-Muller), the fixture's
    # shape: isotropic, labels independent of the vectors
    write("embeddings", f"""SELECT vec_id,
        list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
        floor(u(vec_id, 'lab') * 10)::INTEGER AS label FROM (
          SELECT i AS vec_id, list_transform(range(64), j ->
              sqrt(-2 * ln(1 - u(i * 64 + j, 'e1'))) * cos(2 * pi() * u(i * 64 + j, 'e2'))) AS v
          FROM range({n['embeddings']}) t(i))""")
    con.close()


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
