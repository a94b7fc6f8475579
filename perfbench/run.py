#!/usr/bin/env python3
"""The engine's benchmark: one seeded workload, run in a fresh JVM.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds the
engine and the JVM harness from source with sbt (offline) and records the
classpath under `.perfbench/`; later runs reuse it while no source changed.

Each run generates its tables from the seed (`gen.py`), writes the seeded
call stream (`workloads.py`), starts one JVM at `local[<cores>]` that sets up
its session once and then drives the workload's cold pass and `--seconds` of
warm passes as a closed loop from one client thread (`Harness.scala`), checks
every result against DuckDB (`oracle.py`), removes its temporary directory
and prints one JSON line:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. A traced run also keeps its spans and per-call records under
`.perfbench/traces/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in perfbench/ or tools/
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("sql_analytics", "pipeline_build")
RUN_LIMIT_S = 170  # the run must end within 180 s; the first one may build

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt sets the same)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """subprocess.run in its own process group, killed whole on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for base, dirs, files in os.walk(d):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(base, f) for f in sorted(files)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in paths:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """The harness classpath, compiling engine and harness when sources changed."""
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "build", "classpath")
    stamp_file = os.path.join(STATE, "build", "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
         "-Dsbt.offline=true", "-Xmx2g"] if os.path.exists(repos) else ["-Xmx2g"]))
    log("building the engine and the harness with sbt")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        deadline - time.time(), cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = out.splitlines()
    cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no engine sources (build.sbt, src/) next to perfbench/")
    import gen
    import oracle
    import workloads

    first = not os.path.exists(os.path.join(STATE, "build", "classpath"))
    classpath = build(t_start + (880 if first else RUN_LIMIT_S))
    os.makedirs(STATE, exist_ok=True)
    # The engine receives the table directory as a path relative to the JVM's
    # working directory, and its build-once caches key on that string, so the
    # string is an input too: the seed names it.
    # Runs in one checkout go one at a time (one fixed run directory).
    run_dir = os.path.join(STATE, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data_rel = f"data-seed{args.seed}"
        data, out, tmp = (os.path.join(run_dir, d) for d in (data_rel, "out", "tmp"))
        for d in (data, out, tmp):
            os.makedirs(d)
        t_gen = time.time()
        gen.generate(data, args.seed, workloads.SF)
        setup, passes = workloads.plan(args.workload, args.seed, gen.sizes(workloads.SF))
        plan_file = os.path.join(run_dir, "plan.tsv")
        workloads.write_plan(plan_file, setup, passes)
        cores = len(os.sched_getaffinity(0))
        jvm = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
               "-cp", classpath, "perfbench.Harness", data_rel, plan_file, out,
               str(args.trace), str(cores), str(args.seconds)]
        t_jvm = time.time()
        limit = (t_start + (880 if first else RUN_LIMIT_S)) - time.time() - 15
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            try:
                code, _ = run_bounded(jvm, limit, cwd=run_dir, stdout=jlog,
                                      stderr=subprocess.STDOUT)
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"harness JVM failed ({code})")
        t_check = time.time()
        summary = json.load(open(os.path.join(out, "summary.json")))
        calls = [json.loads(x) for x in open(os.path.join(out, "calls.jsonl"))]

        # ---- correctness, outside every timed region
        failed = {c["i"]: f"{c['name']}: {c['err']}" for c in calls if not c["ok"]}
        attempted = len(calls)
        per_layer = summary["per_layer"]
        fails, unchecked = oracle.check_keys(data, out)
        bad = dict(fails)
        for c in calls:  # a wrong cold result makes every call of the key wrong
            if c["name"] in bad:
                failed[c["i"]] = f"{c['name']}: {bad[c['name']]}"
        if unchecked:
            log(f"no oracle or recall floor, checked for stability only: {unchecked}")
        if setup:
            stream = [s for p in passes for s in p]
            fails, changed = oracle.check_dml(data, out, stream, len(calls), len(passes[0]))
            attempted += 1  # the final-table comparison
            for i, msg in fails:
                failed[i] = msg
            per_layer["sql.bytes_per_row_changed"] = {
                "value": summary["warm_write_bytes"] / changed if changed else 0.0,
                "unit": "B/row"}
        else:
            per_layer["sql.bytes_per_row_changed"] = {"value": 0.0, "unit": "B/row"}
        phases = ", ".join(f"{k} {v['value']:.2f}" for k, v in summary["setup_phases_s"].items())
        for i, msg in sorted(failed.items(), key=str):
            log(f"FAILED call {i}: {msg}")
        log(f"{attempted} calls, {len(failed)} failed; warm passes {summary['warm_passes']}; "
            f"{summary['read_samples']} warm reads, {summary['write_samples']} warm writes; "
            f"setup {summary['end_to_end']['setup_s']['value']:.2f} s ({phases}); "
            f"wall: build+start {t_gen - t_start:.1f} s, inputs {t_jvm - t_gen:.1f} s, JVM {t_check - t_jvm:.1f} s, "
            f"checks {time.time() - t_check:.1f} s")
        if args.trace:
            keep = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in ("trace.json", "calls.jsonl", "summary.json"):
                shutil.copy(os.path.join(out, f), keep)
            log(f"trace kept in {keep}")
        metrics = per_layer if args.trace else summary["end_to_end"]
        print(json.dumps({"correct": not failed, "attempted": attempted,
                          "failed": len(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
