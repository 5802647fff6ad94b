#!/usr/bin/env python3
"""pixiespark benchmark: one command, three workloads, closed loop, one client.

    python3 perfbench/run.py --workload pxl_scripts --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the program
and the JVM harness with sbt into .bench_build/ (later runs reuse the build
while the sources are unchanged). The seed draws the op list; the JVM harness
(perfbench.Main) runs it and records raw timings; this script checks every
op's output against its DuckDB oracle and reduces the record to metrics. The
last stdout line is one JSON object: `correct`, `attempted`, `failed` and the
metrics BENCHMARK.json names (end-to-end with --trace 0, per-layer with
--trace 1). The line before it carries every metric, including those that do
not apply to all workloads. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")  # a copy of the program's test tables
REF_STUB = os.path.join(HERE, "refstub")
BUILD = os.path.join(ROOT, ".bench_build")
PROCESS_LIMIT_S = 165  # the JVM is killed after this, so a run ends within 180 s

DASHBOARDS = ["service_stats", "service_let", "namespaces", "mysql_let",
              "pods", "redis_let"]
GATE_DAYS = 45  # the gate queries q66-q72 run every dashboard over -45d
WINDOWS = [GATE_DAYS, 28, 21, 14, 7, 3]  # days; a pass deals one to each dashboard
BATCH = ([f"q{n:02d}" for n in range(1, 64) if n != 55]
         + ["q240", "q253", "q352"])

# workload -> (warm-up ops, op time limit in s, nominal seconds of one pass)
WORKLOADS = {
    "pxl_scripts": ([("pxl", n, str(GATE_DAYS)) for n in DASHBOARDS], 60, 7.5),
    "operator_batch": ([("query", "q01", "")], 60, 50),
    "lifecycle_calendar": ([], 150, 60),
}
HARD_STOP_S = 90  # no op starts later than this after the first measured one

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- op lists ----------------------------------------------------------

def plan(workload, seed, seconds):
    """The op list for `workload` as (pass, kind, name, arg) tuples. The
    fixed warm-up ops come first, as pass -1. `seconds` buys whole passes at
    the workload's nominal pass time, so the work in a run does not depend
    on how fast the host is. Only the dashboard windows and the query order
    depend on the seed."""
    rng = random.Random(seed)
    passes = max(1, round(seconds / WORKLOADS[workload][2]))
    out = [(-1, k, n, a) for k, n, a in WORKLOADS[workload][0]]
    for p in range(passes):
        if workload == "pxl_scripts":
            # fixed order, so each dashboard's first-use cost lands on the
            # same op in every run; the seed deals the windows
            days = WINDOWS[:]
            rng.shuffle(days)
            out += [(p, "pxl", n, str(d)) for n, d in zip(DASHBOARDS, days)]
        elif workload == "operator_batch":
            names = BATCH[:]
            rng.shuffle(names)
            out += [(p, "query", n, "") for n in names]
        else:
            out.append((p, "calendar", "full_calendar", ""))
    return out


# ---- build -------------------------------------------------------------

def source_stamp():
    """Hash of every file the build reads: all files under the program's
    and the harness's src/main, and both builds' definitions. sbt's own
    output (target/, project/project/) is left out."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else []
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and d.endswith("project")))
            paths += sorted(os.path.join(d, f) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt; return the runtime classpath
    and the source stamp it was built from."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("program sources not found: run from a repository checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as fh:
        lines = [l.strip() for l in fh if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1])
    return lines[-1], stamp


# ---- one run -----------------------------------------------------------

def run_jvm(cp, ops, args, work):
    limit = WORKLOADS[args.workload][1]
    plan_file = os.path.join(work, "plan.tsv")
    with open(plan_file, "w") as fh:
        fh.writelines("\t".join(map(str, o)) + "\n" for o in ops)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--plan", plan_file, "--data", DATA,
              "--work", work, "--out", out,
              "--trace", str(args.trace), "--timeout", str(limit),
              "--hard-stop", str(HARD_STOP_S)])
    env = dict(os.environ, SPARK_GRAFT_REF_DIR=REF_STUB)
    # the ops run in the program's default px.quantiles mode
    env.pop("SPARK_GRAFT_SKETCH_QUANTILES", None)
    launch_us = int(time.time() * 1e6)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd + ["--launch-us", str(launch_us)], cwd=work,
                             env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=PROCESS_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {PROCESS_LIMIT_S} s; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited {rc}; see {work}/jvm.log")
    with open(out) as fh:
        return json.load(fh)


def check_outputs(raw):
    """Fold the oracle check into each measured op's `ok`; note output row
    counts. Warm-up ops are neither checked nor counted."""
    from oracle import Oracle
    o = Oracle(DATA)
    for op in raw["ops"]:
        if op["warm"]:
            continue
        if op["ok"] and op["check_dir"]:
            err, rows = o.check(op["check_dir"], op["oracle_sql"])
            op["output_rows"] = rows
            bad = [k for k, v in op["flags"].items() if not v]
            if err is None and bad:
                err = "calendar flags false: " + ",".join(bad)
            if err is not None:
                op["ok"], op["error"] = False, "wrong output: " + err
    return raw["ops"]


def fmt(m):
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the op outputs under .bench_build/runs")
    args = ap.parse_args()

    t_start = time.time()
    cp, stamp = build()
    t_built = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ops = plan(args.workload, args.seed, args.seconds)
    work = os.path.join(BUILD, "runs",
                        f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, ops, args, work)
        t_jvm = time.time()
        done = check_outputs(raw)
    finally:
        for d in ("checks", "tmp", "spark-local", "artifacts"):
            if not (args.keep and d == "checks"):
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    e2e = metrics.end_to_end(raw, done)
    failed_ops = [{"op": o["index"], "name": o["name"], "arg": o["arg"],
                   "reason": o["error"]}
                  for o in done if not o["ok"] and not o["warm"]]
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": raw["cores"],
        "ops_measured": sum(1 for o in done if not o["warm"]),
        "data": os.path.relpath(DATA, ROOT),
        "warmup_ops": [f"{o['kind']}:{o['name']}:{o['arg']} {o['wall_s']:.3f}s"
                       + ("" if o["ok"] else " failed: " + o["error"])
                       for o in done if o["warm"]],
        "measured_s": raw["measured_s"],
        "failed_ops": failed_ops, "end_to_end": fmt(e2e),
        "run_wall_s": {"build": t_built - t_start, "harness": t_jvm - t_built,
                       "check": time.time() - t_jvm},
    }
    # untraced end-to-end values, by the sources they were measured on
    result_dir = os.path.join(BUILD, "results", stamp)
    untraced_file = os.path.join(result_dir, f"{args.workload}-{args.seed}.json")
    os.makedirs(result_dir, exist_ok=True)
    if args.trace:
        layers = metrics.per_layer(done)
        report["per_layer"] = fmt(layers)
        report["trace_file"] = os.path.relpath(
            os.path.join(work, "result.json.trace.json"), ROOT)
        if os.path.exists(untraced_file):
            with open(untraced_file) as fh:
                untraced = json.load(fh)
            report["trace_overhead"] = {
                k: {"value": v - untraced[k]["value"], "unit": u}
                for k, (v, u) in e2e.items() if k in untraced}
        wanted = [m["name"] for m in spec["per_layer"]]
        chosen = layers
    else:
        with open(untraced_file, "w") as fh:
            json.dump(fmt(e2e), fh)
        wanted = [m["name"] for m in spec["end_to_end"]]
        chosen = e2e
    missing = [w for w in wanted if w not in chosen]
    if missing:
        fail(f"metrics not measured on {args.workload}: {missing}")
    failed = len(failed_ops)
    attempted = report["ops_measured"]
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {w: {"value": chosen[w][0], "unit": chosen[w][1]}
                    for w in wanted}}))


if __name__ == "__main__":
    main()
