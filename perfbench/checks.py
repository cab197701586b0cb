"""Output checks, run after the harness exits (outside every timed window).

  registry rows  the DuckDB SQL registered beside each row
                 (`SparkEntry.oracleSql`, dumped by the harness) over the
                 same parquet, compared by scripts/preflight.py's `compare`
  wc_bulk        the generator's own word and bigram counts
  store cycle    each pass's lookups: after ingest, against the engine's full
                 rebuild over base ∪ delta (made after the timed passes);
                 after retract, and at the end of the run, against the full
                 build over base made in setup

Oracle results are cached per (input set, SQL) under the cache dir.
`check` returns the failures as {(pass or None, op): message}; pass None
means the op's output is wrong in every pass.
"""
import hashlib
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import preflight  # noqa: E402  (reused unmodified for its comparison)


def duck(dir_, sql):
    con = duckdb.connect()
    try:
        for t in preflight.TABLES:
            p = os.path.join(dir_, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return con.sql(sql).df()
    finally:
        con.close()


def cached(cache_dir, key, make):
    """`make()`'s DataFrame, cached as parquet under a hash of `key`."""
    path = os.path.join(cache_dir, hashlib.sha1(key.encode()).hexdigest() + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = make()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_parquet(path + ".tmp", index=False)
    os.replace(path + ".tmp", path)
    return df


# -- wc_bulk -------------------------------------------------------------------

def wc_expected(data):
    words = pd.read_parquet(os.path.join(data, "expected", "wordcount.parquet"))
    bi = pd.read_parquet(os.path.join(data, "expected", "bigrams.parquet"))
    top = words.sort_values(["cnt", "word"], ascending=[False, True]).head(20)
    spectrum = (words.groupby("cnt").size().rename("n_words").astype("int64")
                .reset_index())
    c1 = bi.groupby("w1")["c12"].sum().rename("c1")
    lm = (bi.join(c1, on="w1")
          .sort_values(["c12", "w1", "w2"], ascending=[False, True, True]).head(50))
    lm = lm.assign(prob=lm["c12"].astype("float64") / lm["c1"])
    return {"wordCount": words,
            "distinctWords": pd.DataFrame({"n_words": [len(words)]}, dtype="int64"),
            "topK": top,
            "bigramLm": lm[["w1", "w2", "c12", "c1", "prob"]],
            "freqSpectrum": spectrum}


# -- registry rows -------------------------------------------------------------

def oracle_expected(tables, op, sql, cache_dir):
    """The oracle's result over the parquet tables in `tables`, cached by
    the input set's directory names (which carry its generator version and
    scale) and the SQL text."""
    key = "/".join(os.path.abspath(tables).split(os.sep)[-2:])
    return cached(cache_dir, f"{key}|{op}|{sql}", lambda: duck(tables, sql))


# -- store cycle ---------------------------------------------------------------

# lookup op -> (build it must match, op that produced the state it reads)
LOOKUPS = {"store_lookup.ingested": ("full", "semantic_ingest"),
           "store_lookup.base": ("base", "semantic_retract")}


def as_map(df):
    return dict(zip(df["vec_id"].astype(int), df["keep_id"].astype(int)))


def diff_rows(what, got, want):
    got, want = sorted(map(tuple, got)), sorted(want.items())
    if got == want:
        return None
    extra = sorted(set(got) - set(want))[:3]
    missing = sorted(set(want) - set(got))[:3]
    return (f"{what}: {len(got)} rows vs {len(want)} expected; "
            f"unexpected {extra}, missing {missing}")


def check_store(final, result):
    """Lookups after ingest must match the engine's rebuild over base ∪
    delta; those after retract, and the store the run ends with, the full
    build over base made in setup."""
    fails = {}
    expect = {b: as_map(pd.read_parquet(os.path.join(final, b))) for b in ("base", "full")}
    for lk in result["lookups"]:
        build, producer = LOOKUPS[lk["op"]]
        want = {i: expect[build][i] for i in result["probes"] if i in expect[build]}
        err = diff_rows("lookup", lk["rows"], want)
        if err:
            for op in (lk["op"], producer):
                fails[(lk["pass"], op)] = err
    last = pd.read_parquet(os.path.join(final, "last"))
    err = diff_rows("final store", zip(last["vec_id"], last["keep_id"]), expect["base"])
    if err:
        fails[(None, "semantic_retract")] = err
    return fails


# -- entry -----------------------------------------------------------------------

def check(workload, data, out, result, cache_dir):
    fails = {}
    checked = os.path.join(out, "check")
    expected = {}
    if workload == "wc_bulk":
        expected = {op: (lambda w=want: w.reset_index(drop=True))
                    for op, want in wc_expected(data).items()}
    else:
        tables = os.path.join(data, "full")
        expected = {op: (lambda op=op, sql=sql: oracle_expected(tables, op, sql, cache_dir))
                    for op, sql in result["oracle_sql"].items()}
    for op, want in expected.items():
        try:
            err = preflight.compare(op, pd.read_parquet(os.path.join(checked, op)), want())
        except Exception as e:  # a missing output or an oracle error
            err = f"{type(e).__name__}: {e}"
        if err:
            fails[(None, op)] = err
    if workload == "dedup_churn":
        try:
            fails.update(check_store(os.path.join(out, "final"), result))
        except Exception as e:
            fails[(None, "store_lookup.base")] = f"{type(e).__name__}: {e}"
    return fails
