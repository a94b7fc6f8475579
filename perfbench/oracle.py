"""Correctness checks, run after the JVM exits (outside every timed region).

- Oracled keys: the cold-pass result must hash-match DuckDB running the key's
  oracle SQL, with the type-tagged canonical hash of `tools/check.py`. Every
  warm call of a key is compared with that oracle-checked cold result inside
  the JVM (result fingerprint), so each call is checked.
- The oracle-less key `dedup_near_minhash` must meet the recall floor its
  spec asserts, measured against the exact answer DuckDB computes on the
  same generated tables.
- The SQL stream of `sql_analytics`: DuckDB replays the executed statement stream; every SELECT
  and the final warehouse table must match.

Each check returns a list of (call index or key, message) failures.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import check as canon  # noqa: E402  tools/check.py: the oracle hash rules

TABLES = canon.TABLES


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def same_result(dcols, drows, scols, srows):
    """None when the two results hash-match under tools/check.py's rules,
    else why not."""
    if sorted(dcols) != sorted(scols):
        return f"columns duck={sorted(dcols)} engine={sorted(scols)}"
    risky = sorted(set(canon.decimal_cols(drows, dcols)) | set(canon.decimal_cols(srows, scols)))
    if risky:
        return f"DECIMAL output column(s) {risky}"
    if len(drows) != len(srows):
        return f"rows duck={len(drows)} engine={len(srows)}"
    dperm = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sperm = sorted(range(len(scols)), key=lambda i: scols[i])
    if canon.canon_hash(drows, dperm) != canon.canon_hash(srows, sperm):
        for i, (a, b) in enumerate(zip(drows, srows)):
            ta = [canon.tagged(a[j]) for j in dperm]
            tb = [canon.tagged(b[j]) for j in sperm]
            if ta != tb:
                return f"canonical hash differs, first at row {i}: duck={ta} engine={tb}"
    return None


def engine_rows(con, result_dir):
    files = sorted(glob.glob(f"{result_dir}/part-*.parquet"))
    if not files:
        return None, None
    cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
    return [c[0] for c in cur.description], cur.fetchall()


# ---------------------------------------------------------------- recall
def recall_dedup_near_minhash(con, cols, rows):
    # OperatorSpec: >= 98% of the planted near-duplicates (each document and
    # its copy without the last two tokens, id + 1000000) whose exact
    # 3-shingle Jaccard clears the 0.5 verification threshold
    truth = set()
    for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall():
        toks = text.lower().split()
        cut = toks[:max(len(toks) - 2, 1)]
        sa = {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}
        sb = {tuple(cut[i:i + 3]) for i in range(len(cut) - 2)}
        if sa and sb and len(sa & sb) / len(sa | sb) >= 0.5:
            truth.add((doc_id, doc_id + 1000000))
    got = {(r[0], r[1]) for r in rows}
    r = len(truth & got) / len(truth) if truth else 0.0
    low = sum(1 for x in rows if x[2] < 0.5)
    return (bool(truth) and r >= 0.98 and low == 0,
            f"planted recall {r:.3f} over {len(truth)} (floor 0.98), {low} pairs under 0.5")


RECALL = {"dedup_near_minhash": recall_dedup_near_minhash}


def check_keys(data_dir, out_dir):
    """Failures among the keys' cold-pass results, and the keys checked only
    for run-to-run stability (neither oracled nor recall-bounded)."""
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = connect(data_dir)
    fails, unchecked = [], []
    for d in sorted(glob.glob(f"{out_dir}/results/*")):
        key = os.path.basename(d)
        scols, srows = engine_rows(con, d)
        try:
            if key in RECALL:
                ok, msg = RECALL[key](con, scols, srows)
                print(f"[check] {key}: {msg}", file=sys.stderr)
                if not ok:
                    fails.append((key, msg))
            elif key in oracles:
                cur = con.execute(oracles[key])
                why = same_result([c[0] for c in cur.description], cur.fetchall(), scols, srows)
                if why:
                    fails.append((key, why))
            else:
                unchecked.append(key)
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append((key, f"check error: {e}"))
    return fails, unchecked


def check_dml(data_dir, out_dir, stream, n_calls, warm_from):
    """Replays the first `n_calls` statements of `stream` in DuckDB; returns
    (failures, rows changed by the writes from index `warm_from` on)."""
    from workloads import DUCK_SETUP
    con = connect(data_dir)
    for s in DUCK_SETUP:
        con.execute(s)
    reads = {}
    with open(f"{out_dir}/reads.jsonl") as f:
        for line in f:
            r = json.loads(line)
            reads[r["i"]] = r
    fails, changed = [], 0
    for i, st in enumerate(stream[:n_calls]):
        if st.kind == "K":
            continue
        if st.kind in "RM":
            cur = con.execute(st.duck[0])
            r = reads.get(i)
            if r is None or not r["ok"]:
                fails.append((i, f"read failed in the engine: {st.spark[:80]}"))
                continue
            why = same_result([c[0] for c in cur.description], cur.fetchall(),
                              r["cols"], [tuple(x) for x in r["rows"]])
            if why:
                fails.append((i, f"{why}; statement: {st.spark[:120]}"))
        else:
            for q in st.duck:
                n = con.execute(q).fetchall()
                if i >= warm_from:
                    changed += n[0][0] if n and n[0] else 0
    want = con.execute("SELECT * FROM orders_w ORDER BY ALL").fetchall()
    cur = con.execute(f"SELECT * FROM read_parquet('{out_dir}/warehouse/sql/orders_w/*.parquet') "
                      "ORDER BY ALL")
    why = same_result(["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
                       "o_orderyear", "o_totalcents"], want,
                      [c[0] for c in cur.description], cur.fetchall())
    if why:
        fails.append(("final table", why))
    return fails, changed
