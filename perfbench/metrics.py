"""Metric math for the benchmark: percentiles, job-interval unions, error
rate, and the reduction of one run's raw record to named metrics."""
import math
import statistics

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def percentile(values, q):
    """Nearest-rank percentile `q` (0 < q < 100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(values, q, min_beyond=MIN_BEYOND):
    """Percentile `q`, or None unless at least `min_beyond` samples lie
    strictly above it."""
    if not values:
        return None
    p = percentile(values, q)
    beyond = sum(1 for v in values if v > p)
    return p if beyond >= min_beyond else None


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(op_start, op_end, job_intervals):
    """Op wall time not covered by any Spark job: the driver-side share.
    Job intervals are clipped to the op."""
    clipped = [(max(s, op_start), min(e, op_end)) for s, e in job_intervals]
    return (op_end - op_start) - union_length(clipped)


def error_rate(ops):
    """Failed ops over attempted ops. An op fails when it raised, timed out
    or produced a wrong output."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def pass_walls(ops, passes):
    """Wall time of each complete measured pass: the sum of its ops' wall
    times, so the output checks between ops are not charged."""
    full = {p["pass"] for p in passes if not p["warm"] and p["complete"]}
    walls = {}
    for o in ops:
        if o["pass"] in full:
            walls[o["pass"]] = walls.get(o["pass"], 0.0) + o["wall_s"]
    return [walls[p] for p in sorted(walls)]


def end_to_end(raw, ops):
    """End-to-end metrics of one run. `ops` carries the final `ok` of every
    op after the output check; warm-up ops count for nothing. Returns
    {name: (value, unit)}; a metric that does not apply is left out."""
    measured = [o for o in ops if not o["warm"]]
    lat = [o["wall_s"] for o in measured if o["ok"]]
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "error_rate": (error_rate(measured), "ratio"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MiB"),
    }
    if lat:
        m["op_p50_s"] = (statistics.median(lat), "s")
        p90 = tail_percentile(lat, 90)
        if p90 is not None:
            m["op_p90_s"] = (p90, "s")
    passes = pass_walls(measured, raw["passes"])
    if passes:
        m["pass_s"] = (statistics.median(passes), "s")
    art = [o["artifact_bytes"] for o in measured if o["artifact_bytes"] >= 0]
    if art:
        m["artifact_mb"] = (statistics.median(art) / 2**20, "MiB")
    return m


PHASES = {  # per-layer name -> harness phase whose self time it is
    "pxl.parse_s": "parse", "pxl.env_s": "env", "pxl.eval_s": "eval",
    "queries.synth_s": "synth", "meta.resolve_s": "meta",
    "plans.optimize_s": "optimize", "plans.physical_s": "physical",
    "ops.build_s": "build", "streaming.calendar_s": "calendar",
    "exec.action_s": "action",
}

COUNTS = {  # per-layer name -> (counter, unit)
    "pxl.eval_jobs": ("eval_jobs", "count"),
    "meta.resolve_calls": ("resolve_calls", "count"),
    "plans.exchanges": ("exchanges", "count"),
    "ops.build_jobs": ("build_jobs", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.task_run_s": ("task_run_s", "s"),
    "exec.task_cpu_s": ("task_cpu_s", "s"),
    "exec.gc_s": ("gc_s", "s"),
    "exec.task_wait_s": ("task_wait_s", "s"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
    "shuffle.spill_bytes": ("spill_bytes", "bytes"),
    "core.scan_bytes": ("scan_bytes", "bytes"),
    "core.scan_rows": ("scan_rows", "count"),
    "streaming.batches": ("batches", "count"),
    "streaming.batch_s": ("batch_s", "s"),
    "streaming.planning_s": ("planning_s", "s"),
    "streaming.commit_s": ("commit_s", "s"),
    "io.files_written": ("files_written", "count"),
    "io.bytes_written": ("bytes_written", "bytes"),
}


def per_layer(ops):
    """Per-layer metrics of a traced run: each is the mean per measured,
    successful op (a layer that does no work on the workload reads 0)."""
    done = [o for o in ops if not o["warm"] and o["ok"] and o["counts"]]
    m = {}
    for name, ph in PHASES.items():
        m[name] = (_mean([o["phase_self_s"].get(ph, 0.0) for o in done]), "s")
    for name, (key, unit) in COUNTS.items():
        m[name] = (_mean([o["counts"][key] for o in done]), unit)
    jobs = [o["counts"]["jobs"] for o in done]
    m["exec.jobs"] = (_mean(jobs), "count")
    m["exec.tasks_per_job"] = (
        sum(o["counts"]["tasks"] for o in done) / max(1, sum(jobs)), "ratio")
    m["exec.busy_cores"] = (
        sum(o["counts"]["task_run_s"] for o in done)
        / max(1e-9, sum(o["wall_s"] for o in done)), "cores")
    gaps = []
    for o in done:
        iv = [(s / 1e3, e / 1e3) for s, e in o["counts"]["job_ms"] if e >= s]
        gaps.append(driver_gap(o["start_us"] / 1e6, o["end_us"] / 1e6, iv))
    m["exec.driver_gap_s"] = (_mean(gaps), "s")
    # over the checked ops, the ones whose output rows were counted
    checked = [o for o in done if o.get("output_rows")]
    m["core.rows_per_output_row"] = (
        sum(o["counts"]["scan_rows"] for o in checked)
        / max(1, sum(o["output_rows"] for o in checked)), "ratio")
    return m
