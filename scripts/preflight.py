#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs graft.Verify at the given SF dir (unless --no-run), then for every
entry in oracle_sql.json: executes the SQL in DuckDB over the same
parquet tables, loads the Spark parquet result, normalizes both
(columns sorted by name, rows sorted by all columns), and compares
values EXACTLY. Exit 0 iff every query matches.

Usage: scripts/preflight.py [sfdir] [--no-run] [--only q1,q2]
"""
import glob
import json
import os
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
OUT = "/tmp/graft_verify"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(name, sdf, ddf):
    sdf, ddf = normalize(sdf), normalize(ddf)
    if list(sdf.columns) != list(ddf.columns):
        return f"columns spark={list(sdf.columns)} duck={list(ddf.columns)}"
    if sdf.shape != ddf.shape:
        return f"shape spark={sdf.shape} duck={ddf.shape}"
    for c in sdf.columns:
        a, b = sdf[c].to_numpy(), ddf[c].to_numpy()
        # The driver's hash is dtype-sensitive: int64 1 vs float64 1.0
        # mismatch there even when values are equal. Compare FULL
        # dtypes; the only whitelisted drift is integer WIDTH (e.g.
        # Spark row_number int32 vs DuckDB BIGINT int64 — driver-green
        # in rounds 2-3, so its hash normalizes integral widths).
        if a.dtype != b.dtype:
            int_kinds = {"i", "u"}
            if not (a.dtype.kind in int_kinds and b.dtype.kind in int_kinds):
                return (f"col {c}: dtype mismatch spark={a.dtype} "
                        f"duck={b.dtype} (driver hash is type-sensitive; "
                        f"CAST the oracle or the Spark column)")
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            af = a.astype(np.float64)
            bf = b.astype(np.float64)
            same = (af == bf) | (np.isnan(af) & np.isnan(bf))
            if not same.all():
                i = int(np.argmin(same))
                d = np.nanmax(np.abs(af - bf))
                return (f"col {c}: {int((~same).sum())} diffs, maxabs={d!r}, "
                        f"first@{i}: spark={af[i]!r} duck={bf[i]!r}")
        else:
            av = sdf[c].astype(str).to_numpy()
            bv = ddf[c].astype(str).to_numpy()
            if not (av == bv).all():
                i = int(np.argmin(av == bv))
                return (f"col {c} ({a.dtype} vs {b.dtype}): "
                        f"first@{i}: spark={av[i]!r} duck={bv[i]!r}")
    return None


def main():
    args = [a for a in sys.argv[1:]]
    sfdir = next((a for a in args if not a.startswith("--")), "/root/testdata/sf0.01")
    only = None
    for a in args:
        if a.startswith("--only"):
            only = set(a.split("=", 1)[1].split(","))
    if "--no-run" not in args:
        r = subprocess.run(
            ["sbt", "--batch", f'runMain graft.Verify {sfdir} {OUT}'],
            cwd="/root/repo", capture_output=True, text=True, timeout=1800)
        sys.stdout.write("".join(l for l in r.stdout.splitlines(True)
                                 if "[verify]" in l or "error" in l.lower()))
        if r.returncode != 0:
            print(r.stdout[-4000:]); print(r.stderr[-2000:])
            print("PREFLIGHT: verify run failed"); sys.exit(2)

    # fresh connection per oracle: a 169-query run through ONE
    # connection accumulated enough allocator state that a late heavy
    # XxSql replay died OOM at sf0.1 (dd_simhash_delta — passes alone);
    # views are cheap to recreate and isolation beats residency here
    def fresh():
        c = duckdb.connect()
        for t in TABLES:
            p = f"{sfdir}/{t}.parquet"
            if os.path.exists(p):
                c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return c
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    # Verify's per-query status: the first error line of a query that
    # wrote no output
    sp = f"{OUT}/verify_status.json"
    status = json.load(open(sp)) if os.path.exists(sp) else {}

    def why(name):
        err = status.get(name, {}).get("error")
        return f" ({err})" if err else ""
    declared = sorted(d for d in os.listdir(OUT)
                      if os.path.isdir(os.path.join(OUT, d)))
    fails = 0
    for name in declared:
        if only and name not in only:
            continue
        files = glob.glob(f"{OUT}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output{why(name)}"); fails += 1; continue
        sdf = pd.read_parquet(files[0] if len(files) == 1 else f"{OUT}/{name}")
        if name not in oracle:
            print(f"rows {name}: {len(sdf)} rows (no oracle — spec-checked)")
            continue
        try:
            # close on the exception path too (r13 advice): a failing
            # oracle must not leak its connection's allocator state —
            # the residency fresh-per-oracle exists to eliminate
            con = fresh()
            try:
                ddf = con.sql(oracle[name]).df()
            finally:
                con.close()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); fails += 1; continue
        err = compare(name, sdf, ddf)
        if err:
            print(f"FAIL {name}: {err}"); fails += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows")
    missing = [q for q in oracle if q not in declared]
    for q in missing:
        print(f"FAIL {q}: oracle declared but no spark output{why(q)}"); fails += 1
    print(f"PREFLIGHT: {'OK' if fails == 0 else f'{fails} FAILURES'}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
