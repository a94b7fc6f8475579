#!/usr/bin/env python3
"""Local pre-flight for the driver's t2 gate: run DuckDB on each oracle SQL
and compare with the parquet dumped by graft.Verify.

Round-1 lesson (scalar_cast): the driver hashes results, and value-equal is
NOT hash-equal — a DECIMAL output column whose values matched DuckDB exactly
still hash-mismatched because the two engines encode DECIMAL differently.
So beyond row-by-row value comparison this now:
  1. FAILs any query whose output (either side) contains a DECIMAL column —
     the one type class proven hash-unsafe; emit string/double instead.
  2. Compares a type-tagged canonical sha256 over the column-name-sorted
     rows, so a value that compares == in Python but differs in type or
     representation (1 vs 1.0, Decimal('2.50') vs Decimal('2.5')) fails
     here before it fails in the driver.

Each ok line carries the key's DuckDB oracle seconds; the run ends with
the five slowest oracles.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>"""
import sys, json, glob, math, hashlib, decimal, datetime, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def tagged(v):
    """Canonical type-tagged representation for hashing: two values hash
    equal iff they have the same Python type AND the same repr."""
    if v is None:
        return "null"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, str):
        return f"s:{v}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return f"t:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"bin:{v.hex()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(tagged(x) for x in v) + "]"
    if isinstance(v, dict):
        return "m:{" + ",".join(f"{k}={tagged(x)}" for k, x in sorted(v.items())) + "}"
    return f"{type(v).__name__}:{v!r}"

def canon_hash(rows, perm):
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(tagged(r[i]) for i in perm).encode())
        h.update(b"\x1e")
    return h.hexdigest()

def decimal_cols(rows, cols):
    """Column names whose first non-null value is a Decimal (hash-risky)."""
    bad = set()
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, decimal.Decimal):
                bad.add(cols[i])
        if len(bad) == len(cols):
            break
    return sorted(bad)

def list_cols(rows, cols):
    """Column names holding list/array values: the driver's compare sorts
    rows with pandas, which dies on numpy arrays (round 5,
    vec_quantize_int8: `unhashable type: numpy.ndarray`). Emit a scalar
    fingerprint (md5 of the joined elements) instead."""
    bad = set()
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                bad.add(cols[i])
        if len(bad) == len(cols):
            break
    return sorted(bad)

def main(sf, out):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracles = json.load(open(f"{out}/oracle_sql.json"))
    n_ok = n_bad = 0
    secs = {}
    for name in sorted(oracles):
        sql = oracles[name]
        t0 = time.perf_counter()
        try:
            # R12 lint, mechanized (rounds 8 + 10 both shipped HUGEINT
            # oracles): Python's fetchall renders HUGEINT as int so the
            # row compare below can't see the problem, but the DRIVER's
            # pandas bridge renders it float64 and hash-mismatches
            # Spark's int64. Reject at the TYPE level before fetching.
            rel = con.sql(sql)
            risky_t = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                       if any(x in str(t).upper()
                              for x in ("HUGEINT", "DECIMAL"))]
            if risky_t:
                print(f"FAIL {name}: oracle output column(s) {risky_t} are "
                      f"HUGEINT/DECIMAL (R12) — the driver's pandas bridge "
                      f"renders these as float64/object and hash-mismatches "
                      f"Spark; CAST to BIGINT/DOUBLE in the oracle SQL")
                n_bad += 1
                continue
            duck = con.execute(sql)
            dcols = [c[0] for c in duck.description]
            drows = duck.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        finally:
            secs[name] = time.perf_counter() - t0
        files = sorted(glob.glob(f"{out}/{name}/part-*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        sq = con.execute(f"SELECT * FROM read_parquet({files!r})")
        scols = [c[0] for c in sq.description]
        srows = sq.fetchall()
        if sorted(dcols) != sorted(scols):
            print(f"FAIL {name}: columns duck={sorted(dcols)} spark={sorted(scols)}")
            n_bad += 1
            continue
        risky = sorted(set(decimal_cols(drows, dcols)) | set(decimal_cols(srows, scols)))
        if risky:
            print(f"FAIL {name}: hash-risky DECIMAL output column(s) {risky} — "
                  f"values may match but the driver's hash encodes DECIMAL "
                  f"differently per engine; emit string/double instead")
            n_bad += 1
            continue
        listy = sorted(set(list_cols(drows, dcols)) | set(list_cols(srows, scols)))
        if listy:
            print(f"FAIL {name}: list/array output column(s) {listy} — the "
                  f"driver's pandas row sort crashes on array cells; emit a "
                  f"scalar fingerprint (md5 of joined elements) instead")
            n_bad += 1
            continue
        dperm = sorted(range(len(dcols)), key=lambda i: dcols[i])
        sperm = sorted(range(len(scols)), key=lambda i: scols[i])
        dnorm = [tuple(norm(r[i]) for i in dperm) for r in drows]
        snorm = [tuple(norm(r[i]) for i in sperm) for r in srows]
        if len(dnorm) != len(snorm):
            print(f"FAIL {name}: rows duck={len(dnorm)} spark={len(snorm)}")
            n_bad += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(dnorm, snorm)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(dnorm)} rows differ; first @{i}:\n  duck : {a}\n  spark: {b}")
            n_bad += 1
            continue
        dh, sh = canon_hash(drows, dperm), canon_hash(srows, sperm)
        if dh != sh:
            diff = next((i, tuple(tagged(a[j]) for j in dperm), tuple(tagged(b[j]) for j in sperm))
                        for i, (a, b) in enumerate(zip(drows, srows))
                        if [tagged(a[j]) for j in dperm] != [tagged(b[j]) for j in sperm])
            print(f"FAIL {name}: values == but canonical hash differs (type/repr "
                  f"divergence) first @{diff[0]}:\n  duck : {diff[1]}\n  spark: {diff[2]}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(dnorm)} rows, oracle {secs[name]:.2f}s)")
            n_ok += 1
    print("\nslowest oracles: " + ", ".join(
        f"{k} {v:.2f}s" for k, v in sorted(secs.items(), key=lambda kv: -kv[1])[:5]))
    print(f"{n_ok} ok, {n_bad} failed")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
