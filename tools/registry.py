#!/usr/bin/env python3
"""Generate REGISTRY.md — the navigable index of every declared query key:
domain -> key -> declaring file:line. Keys live in one `decls` per module
(ten core modules, TpchRest and nine domain modules); this index is the
navigation layer across them. Regenerate after adding or moving keys:

    python3 tools/registry.py
"""
import re, glob, collections, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "src/main/scala/graft")

DOMAINS = [
    ("scan/source/sink & layout", ("scan_", "source_", "sink_", "layout_")),
    ("projection / filter / predicates", ("project_", "filter_", "predicate_")),
    ("joins", ("join_",)),
    ("aggregation & statistics", ("agg_",)),
    ("windows", ("window_",)),
    ("sort / top-k / limit", ("sort_", "topk_", "limit_")),
    ("set ops", ("set_",)),
    ("scalar function families", ("scalar_",)),
    ("streaming", ("stream_",)),
    ("ADT layer", ("adt_",)),
    ("SQL surface", ("sql_", "recursive_")),
    ("TPC-H suite", ("tpch_",)),
    ("time series", ("ts_",)),
    ("graph", ("graph_",)),
    ("deduplication", ("dedup_", "decontaminate_")),
    ("similarity / ANN / vectors", ("sim_", "vec_")),
    ("text analysis", ("text_",)),
    ("sampling / packing / mixing", ("sample_", "split_", "mix_", "pack_")),
    ("multimodal", ("multimodal_",)),
    ("quality / governance / CDC", ("quality_", "cdc_", "scd_")),
    ("typed Dataset API", ("typed_",)),
    ("UDF / interop", ("udf_",)),
]

def domain_of(key):
    for name, prefixes in DOMAINS:
        if key.startswith(prefixes):
            return name
    return "other"

def main():
    decl_re = re.compile(r'"([a-z0-9_]+)"\s*->\s*Decl\(')
    entries = {}
    for path in sorted(glob.glob(f"{SRC}/**/*.scala", recursive=True)):
        rel = os.path.relpath(path, ROOT)
        for i, line in enumerate(open(path), 1):
            m = decl_re.search(line)
            if m:
                key = m.group(1)
                # first declaration wins; declMap rejects duplicates at runtime
                entries.setdefault(key, (rel, i))
    by_domain = collections.defaultdict(list)
    for key, (rel, line) in entries.items():
        by_domain[domain_of(key)].append((key, rel, line))
    out = [
        "# REGISTRY — declared query keys",
        "",
        f"{len(entries)} keys. Generated by `tools/registry.py`; regenerate",
        "after adding or moving keys. Each key is declared exactly once:",
        "every module's `decls` and `SparkEntry.registry` are built with",
        "`graft.declMap`, which fails on a repeated key.",
        "",
    ]
    ordered = [name for name, _ in DOMAINS] + ["other"]
    for dom in ordered:
        rows = sorted(by_domain.get(dom, []))
        if not rows:
            continue
        out.append(f"## {dom} ({len(rows)})")
        out.append("")
        for key, rel, line in rows:
            out.append(f"- `{key}` — {rel}:{line}")
        out.append("")
    with open(os.path.join(ROOT, "REGISTRY.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"REGISTRY.md: {len(entries)} keys across "
          f"{sum(1 for d in ordered if by_domain.get(d))} domains")

if __name__ == "__main__":
    main()
