#!/usr/bin/env python3
"""Compare two sets of benchmark runs: the parent commit's and a change's.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds one file per run, named `<workload>.<seed>.json`,
whose last line is the run's result line, e.g.

    python3 perfbench/run.py --workload wc_bulk --seed 3 --seconds 5 \\
        | tail -n 1 > parent/wc_bulk.3.json

Runs pair up by (workload, seed). Per workload and metric the tool prints
each side's median and quartiles and the share of pairs the change wins
(ties count for neither side), then a verdict:

  gain        the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's interquartile range
  regression  the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  either side's interquartile range, as a share of its median,
              is wider than the bound, unless every change run beats every
              parent run
  unchanged   none of the above
  (no bound)  per-layer metrics get only the gain test
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(directory):
    """{(workload, seed): {metric: value}} from a directory of run files."""
    runs = {}
    for name in sorted(os.listdir(directory)):
        parts = name.split(".")
        if len(parts) != 3 or parts[2] != "json":
            continue
        with open(os.path.join(directory, name)) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
        res = json.loads(lines[-1])
        runs[(parts[0], parts[1])] = {k: m["value"] for k, m in res["metrics"].items()}
    return runs


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent, change, lower_is_better, bound):
    """The verdict and the share of pairs the change wins; `parent` and
    `change` are values of the same seeds in the same order."""
    better = (lambda c, p: c < p) if lower_is_better else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change)) / len(parent)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    if wins >= 0.9 and better(cm, pm) and abs(cm - pm) > p3 - p1:
        return "gain", wins
    if bound is None:
        return "(no bound)", wins
    worse = (cm - pm) if lower_is_better else (pm - cm)
    if worse > bound * abs(pm):
        return "regression", wins
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    if spread > bound and not all(better(c, p) for c in change for p in parent):
        return "unresolved", wins
    return "unchanged", wins


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load_runs(argv[1]), load_runs(argv[2])
    keys = sorted(set(parent) & set(change))
    if not keys:
        sys.exit("no (workload, seed) pairs in common")
    print(f"{'workload':<12} {'metric':<26} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>5}  verdict")
    for wl in sorted({w for w, _ in keys}):
        seeds = [s for w, s in keys if w == wl]
        metrics = sorted(set.intersection(*(set(parent[(wl, s)]) & set(change[(wl, s)])
                                            for s in seeds)))
        for m in metrics:
            p = [parent[(wl, s)][m] for s in seeds]
            c = [change[(wl, s)][m] for s in seeds]
            sp = spec.get(m, {})
            v, wins = verdict(p, c, sp.get("better", "lower") == "lower", sp.get("bound"))
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{wl:<12} {m:<26} {fmt(quartiles(p)):>30} {fmt(quartiles(c)):>30} "
                  f"{wins:>5.2f}  {v}")
        print(f"{wl:<12} ({len(seeds)} pairs)")


if __name__ == "__main__":
    main(sys.argv)
