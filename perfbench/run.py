#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload wc_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the harness (once
per source tree, cached under .perfbench/), generates the workload's
inputs from the seed, runs the harness on a local session with
SPARK_GRAFT_CPUS equal to the usable core count, checks every output, and
prints the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value", "unit"}}}

See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170          # every run must end well within 180 s
BUILD_TIMEOUT_S = 850     # the first run in a checkout builds

sys.path.insert(0, HERE)
import gen      # noqa: E402
import metrics  # noqa: E402

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-Xss16m", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

# Input size per workload as a share of the generator's full size; sized so
# a run (set-up, the passes, checks) ends in about a minute.
SCALE = {"wc_bulk": 0.08, "dedup_churn": 0.2}

UNITS = {"setup_s": "s", "pass_s": "s", "op_s.p50": "s", "op_s.tail": "s",
         "op_s.geomean": "s", "input_mb_per_s": "MB/s", "ok_frac": "ratio",
         "heap_retained_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt")]
    for pattern in ("src/main/**/*.scala", "project/*.properties", "project/*.sbt",
                    "perfbench/build.sbt", "perfbench/project/*.properties",
                    "perfbench/src/**/*.scala"):
        files += sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """The harness classpath; compiles the engine and harness on a miss."""
    cp_file = os.path.join(WORK, "build", source_hash() + ".classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def seeded_inputs(workload, seed, scale):
    """The inputs of (workload, seed), generated into .perfbench/data once;
    other seeds' inputs are removed."""
    for old in glob.glob(os.path.join(WORK, "data", f"{workload}-*")):
        if not os.path.basename(old).startswith(f"{workload}-{seed}-"):
            shutil.rmtree(old, ignore_errors=True)
    scale *= SCALE[workload]
    data = os.path.join(WORK, "data", f"{workload}-{seed}-v{gen.VERSION}-x{scale:g}")
    manifest = os.path.join(data, "manifest.json")
    if not os.path.exists(manifest):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp, scale)
        os.rename(tmp, data)
    with open(manifest) as fh:
        return data, json.load(fh)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(classpath, args, data, deadline):
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    out, tmp = os.path.join(run, "out"), os.path.join(run, "tmp")
    for d in (out, tmp, os.path.join(run, "spark-local")):
        os.makedirs(d)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"))
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                                   "perfbench.Harness",
           "--workload", args.workload,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--out", out, "--work", run])
    log = os.path.join(run, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness timed out")
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"harness exited with {code}")
    with open(result) as fh:
        return out, json.load(fh)


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor on top of SCALE (the self-tests use small inputs)")
    args = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft", "scripts/preflight.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from a checkout of the engine: {need} is missing")

    tb = time.time()
    classpath = build()
    deadline = time.time() + DEADLINE_S - (tb - t0)   # building has its own budget
    data, manifest = seeded_inputs(args.workload, args.seed, args.scale)
    out, result = run_harness(classpath, args, data, deadline)

    import checks
    fails = checks.check(args.workload, data, out, result,
                         os.path.join(WORK, "cache"))
    for (p, op), msg in sorted(fails.items(), key=str):
        print(f"# check failed: {op} (pass {'all' if p is None else p}): {msg}")
    for s in result["samples"]:
        if s["error"]:
            print(f"# error: {s['op']} (pass {s['pass']}): {s['error'][:300]}")
    e2e, note = metrics.end_to_end(result, manifest["input_bytes"], set(fails))
    print("# op seconds: " + ", ".join(f"{op}={t:.3f}" for op, t in note["op_medians"].items()))
    print(f"# {args.workload} seed {args.seed}: {note['passes']} passes, "
          f"{note['attempted']} ops, failed_frac {note['failed_frac']:.4f}, "
          f"op_s.tail = p{note.get('tail_percentile')} of {note.get('tail_samples')} samples")
    if args.trace:
        layer = metrics.per_layer(result, manifest.get("delta_bytes", 0))
        report = {"per_layer": layer, "self_s": metrics.layer_self_times(result),
                  "end_to_end": e2e, "note": note, "manifest": manifest}
        with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as fh:
            json.dump({"report": report, "trace": result["trace"]}, fh)
        print("# layer self time per pass (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in report["self_s"].items()))
        values = {k: (v, metrics.LAYER_UNITS[k]) for k, v in layer.items()}
    else:
        print("# " + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
        values = {k: (e2e[k], UNITS[k]) for k in UNITS if k in e2e}
    correct = not fails and note["failed"] == 0 and len(values) > 0
    print(json.dumps({"correct": correct, "attempted": note["attempted"],
                      "failed": note["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()
