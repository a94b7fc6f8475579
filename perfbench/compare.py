#!/usr/bin/env python3
"""Collect sets of benchmark runs and compare them (standard library only).

    # run a workload on several seeds, one JSON record per run
    python3 perfbench/compare.py collect --workload sql_analytics --seeds 1-10 --out a.jsonl

    # steadiness of one set: median, quartiles and spread against each bound
    python3 perfbench/compare.py spread a.jsonl

    # parent set vs change set: per workload and metric, the verdict of the
    # choosing-metrics guide (section 8): improved, no worse, worse or unresolved
    python3 perfbench/compare.py diff parent.jsonl change.jsonl

    # tracing overhead: end-to-end medians of a traced set against an untraced one
    python3 perfbench/compare.py collect --workload sql_analytics --seeds 1-10 --trace 1 --out t.jsonl
    python3 perfbench/compare.py overhead a.jsonl t.jsonl

Spread is the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median. Bounds and
directions come from BENCHMARK.json. Runs are paired by (workload, seed).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load_runs(path):
    """{(workload, seed): record} from a collect file."""
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["seed"])] = r
    return runs


def seeds_arg(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def collect(args):
    spec = load_spec()
    seconds = args.seconds or spec["run_seconds"]
    for seed in seeds_arg(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "exit": p.returncode, "wall_s": round(wall, 2), "result": result}
        if result is None or not result["correct"]:
            rec["stderr_tail"] = p.stderr[-3000:]
        if args.trace and result is not None:
            # a traced run prints its per-layer metrics; its end-to-end ones
            # are in the summary it keeps, for the tracing overhead
            kept = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{seed}")
            with open(os.path.join(kept, "summary.json")) as f:
                rec["end_to_end"] = json.load(f)["end_to_end"]
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        state = "ok" if result and result["correct"] else "FAILED"
        print(f"{args.workload} seed {seed}: {state} in {wall:.1f} s", file=sys.stderr)


def values(runs, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for (w, _), r in sorted(runs.items())
            if w == workload and r["result"] and metric in r["result"]["metrics"]]


def stats(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(q2) if q2 else float("inf")}


def metric_specs(spec):
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def spread(args):
    spec = load_spec()
    runs = load_runs(args.runs)
    ok = True
    for w in sorted({w for w, _ in runs}):
        bad = [r for (rw, _), r in runs.items() if rw == w and not (r["result"] and r["result"]["correct"])]
        print(f"== {w}: {sum(1 for rw, _ in runs if rw == w)} runs, {len(bad)} failed or incorrect")
        ok &= not bad
        for name, m in metric_specs(spec).items():
            vals = values(runs, w, name)
            if len(vals) < 2:
                continue
            s = stats(vals)
            bound = m.get("bound")
            verdict = ""
            if bound is not None:
                verdict = "ok" if s["spread"] <= bound else "TOO WIDE"
                if s["spread"] > bound:
                    ok = False
                elif s["spread"] > bound / 3:
                    verdict = "ok (above a third of the bound)"
            print(f"  {name:28s} median {s['median']:10.4f} q1 {s['q1']:10.4f} q3 {s['q3']:10.4f}"
                  f" spread {s['spread']:6.3f}" + (f" bound {bound:.2f} {verdict}" if bound else ""))
    sys.exit(0 if ok else 1)


def diff(args):
    spec = load_spec()
    parent, change = load_runs(args.parent), load_runs(args.change)
    for w in sorted({w for w, _ in parent} | {w for w, _ in change}):
        pf = sum(r["result"]["failed"] if r["result"] else 1 for (rw, _), r in parent.items() if rw == w)
        cf = sum(r["result"]["failed"] if r["result"] else 1 for (rw, _), r in change.items() if rw == w)
        print(f"== {w}: failed calls parent {pf}, change {cf}")
        for name, m in metric_specs(spec).items():
            pv, cv = values(parent, w, name), values(change, w, name)
            if len(pv) < 2 or len(cv) < 2:
                continue
            lower = m["better"] == "lower"
            better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
            ps, cs = stats(pv), stats(cv)
            pairs = [(parent[k]["result"]["metrics"][name]["value"],
                      change[k]["result"]["metrics"][name]["value"])
                     for k in parent if k[0] == w and k in change
                     and parent[k]["result"] and change[k]["result"]]
            wins = sum(1 for p, c in pairs if better(c, p))
            bound = m.get("bound")
            worse_by = ((cs["median"] - ps["median"]) if lower else (ps["median"] - cs["median"])) \
                / abs(ps["median"]) if ps["median"] else 0.0
            all_better = all(better(c, p) for c in cv for p in pv)
            if (pairs and wins >= 0.9 * len(pairs) and better(cs["median"], ps["median"])
                    and abs(cs["median"] - ps["median"]) > ps["q3"] - ps["q1"] and cf <= pf):
                verdict = "improved"
            elif bound is None:
                verdict = "no bound (per-layer)"
            elif max(ps["spread"], cs["spread"]) > bound and not all_better:
                verdict = "unresolved (spread wider than the bound)"
            elif worse_by > bound:
                verdict = f"WORSE by {worse_by:.1%} (bound {bound:.0%})"
            else:
                verdict = "no worse"
            print(f"  {name:28s} parent {ps['median']:10.4f} [{ps['q1']:.4f}, {ps['q3']:.4f}]"
                  f"  change {cs['median']:10.4f} [{cs['q1']:.4f}, {cs['q3']:.4f}]"
                  f"  wins {wins}/{len(pairs)}  {verdict}")


def overhead(args):
    spec = load_spec()
    plain, traced = load_runs(args.untraced), load_runs(args.traced)
    for w in sorted({w for w, _ in traced}):
        print(f"== {w}")
        for m in spec["end_to_end"]:
            pv = values(plain, w, m["name"])
            tv = [r["end_to_end"][m["name"]]["value"] for (rw, _), r in sorted(traced.items())
                  if rw == w and "end_to_end" in r]
            if pv and tv:
                p, t = statistics.median(pv), statistics.median(tv)
                print(f"  {m['name']:28s} untraced {p:10.4f}  traced {t:10.4f}"
                      f"  overhead {(t - p) / p:+.1%}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect", help="run one workload on several seeds")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    c.add_argument("--out", required=True)
    c.add_argument("--trace", type=int, default=0)
    c.add_argument("--seconds", type=int, help="default: BENCHMARK.json run_seconds")
    s = sub.add_parser("spread", help="steadiness of one set of runs")
    s.add_argument("runs")
    d = sub.add_parser("diff", help="verdict of a change set against a parent set")
    d.add_argument("parent")
    d.add_argument("change")
    o = sub.add_parser("overhead", help="end-to-end cost of tracing")
    o.add_argument("untraced")
    o.add_argument("traced")
    args = ap.parse_args()
    {"collect": collect, "spread": spread, "diff": diff, "overhead": overhead}[args.cmd](args)


if __name__ == "__main__":
    main()
