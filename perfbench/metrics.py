"""Metric arithmetic for the benchmark: end-to-end figures from the
harness's op samples and per-layer figures from its trace.

Pure functions over the harness's `result.json` (see Harness.scala), so
the self-tests can drive them with hand-made inputs.
"""
import math
import re
import statistics

MB = 1e6
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(values, beyond=10):
    """The highest ladder percentile with at least `beyond` samples above
    it, as (percentile, value). With fewer than 2 * `beyond` samples no
    percentile above the median can be estimated, so it is the median."""
    xs = sorted(values)
    n = len(xs)
    p = next((p for p in TAIL_LADDER if round(n * (100 - p) / 100, 6) >= beyond), 50.0)
    rank = p / 100.0 * (n - 1)                  # linear interpolation
    lo = int(math.floor(rank))
    hi = min(lo + 1, n - 1)
    return p, xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    direct children cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length([(max(a, s["start"]), min(b, s["end"]))
                          for a, b in children.get(s["id"], []) if b > a])
            for s in spans}


# -- end to end --------------------------------------------------------------

def timed_samples(result):
    """Samples of the timed, untraced passes (the traced-only op excluded)."""
    return [s for s in result["samples"]
            if s["pass"] >= 0 and not s["traced"] and not s["traced_only"]]


def pass_walls(samples):
    """Wall seconds per pass whose ops all succeeded."""
    by_pass = {}
    for s in samples:
        by_pass.setdefault(s["pass"], []).append(s)
    return [(max(s["t1"] for s in ss) - min(s["t0"] for s in ss)) / 1e9
            for ss in by_pass.values() if all(s["ok"] for s in ss)]


def end_to_end(result, input_bytes, failures=frozenset()):
    """The end-to-end metrics plus a note on how the tail was chosen.

    `failures` holds (pass, op) pairs whose output check failed; pass None
    means every pass of that op. A failed sample never records a time."""
    samples = []
    for s in timed_samples(result):
        ok = (s["error"] is None and (s["pass"], s["op"]) not in failures
              and (None, s["op"]) not in failures)
        samples.append(dict(s, ok=ok))
    attempted = len(samples)
    failed = sum(not s["ok"] for s in samples)
    times = [(s["t1"] - s["t0"]) / 1e9 for s in samples if s["ok"]]
    per_op = {}
    for s in samples:
        if s["ok"]:
            per_op.setdefault(s["op"], []).append((s["t1"] - s["t0"]) / 1e9)
    walls = pass_walls(samples)
    metrics = {"setup_s": result["setup_s"],
               "heap_retained_mb": result["heap_retained_mb"],
               "ok_frac": (attempted - failed) / attempted if attempted else 0.0}
    note = {"attempted": attempted, "failed": failed,
            "failed_frac": failed / attempted if attempted else 1.0,
            "passes": len(walls)}
    if walls and times:
        pass_s = statistics.median(walls)
        pct, tail = tail_percentile(times)
        metrics.update({
            "pass_s": pass_s,
            "op_s.p50": statistics.median(times),
            "op_s.tail": tail,
            "op_s.geomean": geomean([statistics.median(v) for v in per_op.values()]),
            "input_mb_per_s": input_bytes / MB / pass_s})
        note.update({"tail_percentile": pct, "tail_samples": len(times)})
    note["op_medians"] = {op: statistics.median(v) for op, v in per_op.items()}
    return metrics, note


# -- per layer ---------------------------------------------------------------

LAYER_UNITS = {
    "GraftSession.build_s": "s", "sources.load_s": "s", "sources.load_jobs": "count",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.store_write_s": "s", "sources.store_write_mb": "MB",
    "sources.store_write_amp": "ratio", "sources.store_read_s": "s",
    "registry.bind_s": "s", "registry.bind_jobs": "count",
    "operators.ingest_s": "s", "operators.retract_s": "s",
    "operators.cached_mb_peak": "MB", "plans.analysis_s": "s",
    "plans.optimizer_s": "s", "plans.planning_s": "s",
    "plans.sql_executions": "count", "functions.tokenize_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.jobs_unattributed": "count", "spark.driver_gap_s": "s",
    "spark.task_overhead_s": "s", "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
    "spark.busy_frac": "ratio", "spark.cpu_s_per_input_mb": "s/MB",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.result_mb": "MB", "spark.gc_s": "s",
    "spark.failed_tasks": "count", "trace.overhead_frac": "ratio"}

LOAD_SITE = re.compile(r" at (Tables|TextCorpus)\.scala")


def per_layer(result, delta_bytes=0):
    """Per-layer metrics: the median over traced passes of each pass's
    total, plus the trace's own overhead against the untraced passes."""
    tr = result["trace"]
    spans = [dict(zip(("id", "name", "parent", "op", "pass", "start", "end"), s))
             for s in tr["spans"]]
    jobs = [dict(zip(("id", "pass", "op", "span", "attributed", "site", "start",
                      "end"), j)) for j in tr["jobs"]]
    by_id = {s["id"]: s for s in spans}
    traced_only = {s["op"] for s in result["samples"] if s["traced_only"]}
    cpus = result["cpus"]

    def within(span_id, name):
        while span_id >= 0:
            if by_id[span_id]["name"] == name:
                return True
            span_id = by_id[span_id]["parent"]
        return False

    def span_sum(ss, name):
        return sum(s["end"] - s["start"] for s in ss if s["name"] == name) / 1e9

    samples = [s for s in result["samples"] if s["pass"] >= 0]
    traced = sorted({s["pass"] for s in samples if s["traced"]})
    untraced = [dict(s, ok=s["error"] is None) for s in samples if not s["traced"]]
    rows = []
    for p in traced:
        ops = [s for s in samples if s["pass"] == p and s["op"] not in traced_only]
        wall_ms = sum(s["w1"] - s["w0"] for s in ops)
        wall = sum(s["t1"] - s["t0"] for s in ops) / 1e9
        ss = [s for s in spans if s["pass"] == p]
        js = [j for j in jobs if j["pass"] == p and j["op"] not in traced_only]
        b = {}
        for bk in tr["buckets"]:
            if bk["pass"] == p and bk["op"] not in traced_only:
                for k, v in bk.items():
                    if k not in ("pass", "op"):
                        b[k] = max(b.get(k, 0), v) if k == "cached_peak" else b.get(k, 0) + v
        load_jobs = [j for j in js if (j["span"] >= 0 and within(j["span"], "sources.load"))
                     or LOAD_SITE.search(j["site"] or "")]
        outside_load = [j for j in load_jobs
                        if not (j["span"] >= 0 and within(j["span"], "sources.load"))]
        covered = union_length(
            [(max(j["start"], s["w0"]), min(j["end"], s["w1"]))
             for j in js for s in ops if min(j["end"], s["w1"]) > max(j["start"], s["w0"])])
        written = sum(w["bytes"] for w in tr["store_writes"] if w["pass"] == p) / MB
        input_mb = b.get("input_bytes", 0) / MB
        cpu_s = b.get("cpu_ns", 0) / 1e9
        run_s = b.get("run_ms", 0) / 1e3
        rows.append({
            "sources.load_s": span_sum(ss, "sources.load") +
            sum(j["end"] - j["start"] for j in outside_load) / 1e3,
            "sources.load_jobs": len(load_jobs),
            "sources.input_mb": input_mb,
            "sources.input_rows": b.get("input_rows", 0),
            "sources.store_write_s": span_sum(ss, "sources.store_write"),
            "sources.store_write_mb": written,
            "sources.store_write_amp": written / (delta_bytes / MB) if delta_bytes else 0.0,
            "sources.store_read_s": span_sum(ss, "sources.store_read"),
            "registry.bind_s": span_sum(ss, "registry.bind"),
            "registry.bind_jobs": sum(1 for j in js if j["span"] >= 0 and
                                      within(j["span"], "registry.bind")),
            "operators.ingest_s": span_sum(ss, "operators.ingest"),
            "operators.retract_s": span_sum(ss, "operators.retract"),
            "operators.cached_mb_peak": b.get("cached_peak", 0) / MB,
            "plans.analysis_s": b.get("analysis_ms", 0) / 1e3,
            "plans.optimizer_s": b.get("optimizer_ms", 0) / 1e3,
            "plans.planning_s": b.get("planning_ms", 0) / 1e3,
            "plans.sql_executions": b.get("sql_executions", 0),
            "functions.tokenize_s": span_sum(ss, "functions.tokenize"),
            "spark.jobs": b.get("jobs", 0),
            "spark.stages": b.get("stages", 0),
            "spark.tasks": b.get("tasks", 0),
            "spark.jobs_unattributed": sum(1 for j in js if not j["attributed"]),
            "spark.driver_gap_s": max(0.0, wall_ms - covered) / 1e3,
            "spark.task_overhead_s": (b.get("task_ms", 0) - b.get("run_ms", 0)) / 1e3,
            "spark.exec_run_s": run_s,
            "spark.exec_cpu_s": cpu_s,
            "spark.busy_frac": run_s / (wall * cpus) if wall else 0.0,
            "spark.cpu_s_per_input_mb": cpu_s / input_mb if input_mb else 0.0,
            "spark.shuffle_write_mb": b.get("shuffle_write", 0) / MB,
            "spark.shuffle_read_mb": b.get("shuffle_read", 0) / MB,
            "spark.spill_mb": b.get("spill", 0) / MB,
            "spark.result_mb": b.get("result_bytes", 0) / MB,
            "spark.gc_s": b.get("gc_ms", 0) / 1e3,
            "spark.failed_tasks": b.get("failed_tasks", 0),
            "_wall_s": wall,
        })
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
    untraced_walls = pass_walls(untraced)
    traced_wall = out.pop("_wall_s", 0.0)
    out["trace.overhead_frac"] = (traced_wall / statistics.median(untraced_walls) - 1
                                  if untraced_walls and traced_wall else 0.0)
    out["GraftSession.build_s"] = span_sum(
        [s for s in spans if s["pass"] < 0], "GraftSession.build")
    return out


def layer_self_times(result):
    """Median per traced pass of each layer's self time, in seconds."""
    tr = result["trace"]
    spans = [dict(zip(("id", "name", "parent", "op", "pass", "start", "end"), s))
             for s in tr["spans"]]
    selfs = self_times(spans)
    per_pass = {}
    for s in spans:
        if s["pass"] >= 0:
            d = per_pass.setdefault(s["pass"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + selfs[s["id"]] / 1e9
    names = sorted({n for d in per_pass.values() for n in d})
    return {n: statistics.median(d.get(n, 0.0) for d in per_pass.values())
            for n in names}
