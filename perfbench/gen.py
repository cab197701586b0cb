#!/usr/bin/env python3
"""Seeded input generator for the benchmark's workloads.

    python3 perfbench/gen.py --workload wc_bulk --seed 7 --out DIR

Writes the workload's input files under DIR plus `manifest.json`, which
records the input sizes and, for dedup_churn, the planted duplicate
rates. The same (workload, seed) gives byte-identical files: every
random draw comes from one numpy Generator seeded with the seed, and the
parquet writer options are fixed.

  wc_bulk      text corpus (Zipf vocabulary, mixed case, non-ASCII letters,
               punctuation and digits as separators, one oversized file)
               plus the exact word and bigram counts the engine must find
  dedup_churn  64-dim `embeddings`, split into a base slice and a delta
               slice that duplicates base rows, each also written as the
               union (`full/`)
"""
import argparse
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 3          # bump when any generator output changes

# Letters whose upper/lower mapping is one-to-one in both Java and Python,
# so a mixed-case token lowercases back to exactly its vocabulary word.
LETTERS = list("abcdefghijklmnopqrstuvwxyz") + list("éèüöäñçøå")
SEPARATORS = [" "] * 12 + [", ", ". ", " - ", "; ", "'", " 7 ", "42",
                           " (", ") ", " 2024 ", "/", "!"]


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    table = table.replace_schema_metadata(None)
    pq.write_table(table, path, compression="snappy")


def size_of(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# -- wc_bulk -----------------------------------------------------------------

def vocabulary(rng, n: int) -> list:
    """n distinct words; the i-th is 3 + i % 8 letters long, so a corpus's
    byte size does not depend on the seed."""
    words, seen = [], set()
    alphabet = np.array(LETTERS)
    weights = np.array([8.0] * 26 + [0.6] * (len(LETTERS) - 26))
    weights /= weights.sum()
    while len(words) < n:
        w = "".join(rng.choice(alphabet, size=3 + len(words) % 8, p=weights))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def gen_wc(rng, out: str, scale: float) -> dict:
    vocab_n = max(200, int(40_000 * scale))
    n_tokens = max(5_000, int(3_600_000 * scale))
    n_files = max(4, int(240 * min(1.0, scale * 4)))
    words = vocabulary(rng, vocab_n)
    ranks = np.arange(1, vocab_n + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    idx = rng.choice(vocab_n, size=n_tokens, p=p)
    # case: 80% lower, 15% Capitalized, 5% UPPER
    case = rng.choice(3, size=n_tokens, p=[0.80, 0.15, 0.05])
    forms = np.array([f(w) for w in words
                      for f in (str, str.capitalize, str.upper)], dtype=object)
    toks = forms[idx * 3 + case]
    # lines of 4..24 tokens; a line's last token is followed by "\n"
    line_len = rng.integers(4, 25, size=n_tokens // 4 + 2)
    ends = np.cumsum(line_len)
    ends = ends[ends < n_tokens]
    is_end = np.zeros(n_tokens, dtype=bool)
    is_end[ends - 1] = True
    is_end[-1] = True
    seps = np.array(SEPARATORS, dtype=object)[
        rng.integers(0, len(SEPARATORS), size=n_tokens)]
    seps[is_end] = "\n"
    line_of = np.concatenate([[0], np.cumsum(is_end)[:-1]])
    n_lines = int(is_end.sum())
    # files: one oversized file holds a quarter of the lines (several
    # times an average file, so one task carries it), the rest are spread
    # over the remaining files
    big = n_lines // 4
    cuts = np.sort(rng.choice(np.arange(big + 1, n_lines), size=n_files - 2,
                              replace=False))
    bounds = np.concatenate([[0, big], cuts, [n_lines]])
    os.makedirs(os.path.join(out, "corpus"), exist_ok=True)
    tok_bounds = np.searchsorted(line_of, bounds)
    pieces = np.empty(2 * n_tokens, dtype=object)
    pieces[0::2] = toks
    pieces[1::2] = seps
    total = 0
    for f in range(len(bounds) - 1):
        a, b = tok_bounds[f], tok_bounds[f + 1]
        data = "".join(pieces[2 * a:2 * b]).encode("utf-8")
        path = os.path.join(out, "corpus", f"part-{f:04d}.txt")
        with open(path, "wb") as fh:
            fh.write(data)
        total += len(data)
    # expected counts: words, and bigrams within a line
    counts = np.bincount(idx, minlength=vocab_n)
    present = np.nonzero(counts)[0]
    exp = os.path.join(out, "expected")
    os.makedirs(exp, exist_ok=True)
    words_arr = np.array(words, dtype=object)
    write_parquet(pd.DataFrame({"word": words_arr[present],
                                "cnt": counts[present].astype(np.int64)}),
                  os.path.join(exp, "wordcount.parquet"),
                  pa.schema([("word", pa.string()), ("cnt", pa.int64())]))
    same_line = ~is_end[:-1]
    a, b = idx[:-1][same_line], idx[1:][same_line]
    keys, c12 = np.unique(a.astype(np.int64) * vocab_n + b, return_counts=True)
    write_parquet(pd.DataFrame({"w1": words_arr[keys // vocab_n],
                                "w2": words_arr[keys % vocab_n],
                                "c12": c12.astype(np.int64)}),
                  os.path.join(exp, "bigrams.parquet"),
                  pa.schema([("w1", pa.string()), ("w2", pa.string()),
                             ("c12", pa.int64())]))
    sizes = sorted(size_of(os.path.join(out, "corpus", f))
                   for f in os.listdir(os.path.join(out, "corpus")))
    return {"input_bytes": total, "files": len(sizes), "tokens": n_tokens,
            "lines": n_lines, "vocabulary": vocab_n, "zipf_s": 1.1,
            "largest_file_bytes": sizes[-1],
            "median_file_bytes": sizes[len(sizes) // 2]}


# -- dedup_churn -------------------------------------------------------------

EXACT_RATE, NEAR_RATE = 0.05, 0.05               # inside the base slice
DELTA_EXACT_RATE, DELTA_NEAR_RATE = 0.30, 0.20   # delta rows copying base rows


def perturb(rng, v: np.ndarray) -> np.ndarray:
    w = v + rng.normal(0.0, 0.04, size=v.shape)
    return w / np.linalg.norm(w)


def plant(rng, n: int, pool: list, grow: bool, exact: float, near: float,
          fresh, near_copy):
    """n rows: `exact` of them copy a pool row, `near` are near copies of
    one, the rest are fresh. With `grow`, every new row joins the pool."""
    kinds = rng.choice(3, size=n, p=[exact, near, 1 - exact - near])
    rows = []
    for k in kinds:
        if k == 2 or not pool:
            row = fresh()
        else:
            src = pool[int(rng.integers(0, len(pool)))]
            row = src if k == 0 else near_copy(src)
        rows.append(row)
        if grow:
            pool.append(row)
    return rows, {"exact": int((kinds == 0).sum()), "near": int((kinds == 1).sum()),
                  "fresh": int((kinds == 2).sum())}


def gen_dedup(rng, out: str, scale: float) -> dict:
    n_vecs = max(20, int(2_000 * scale))
    n_base = n_vecs * 4 // 5

    def fresh_vec():
        v = rng.normal(0.0, 1.0, 64)
        return v / np.linalg.norm(v)

    base, base_plant = plant(rng, n_base, [], True, EXACT_RATE, NEAR_RATE,
                             fresh_vec, lambda v: perturb(rng, v))
    delta, delta_plant = plant(rng, n_vecs - n_base, base, False, DELTA_EXACT_RATE,
                               DELTA_NEAR_RATE, fresh_vec, lambda v: perturb(rng, v))
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": [np.asarray(v, dtype=np.float32) for v in base + delta],
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    slices = {"base": emb.vec_id < n_base, "delta": emb.vec_id >= n_base,
              "full": emb.vec_id >= 0}
    for name, rows in slices.items():
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        write_parquet(emb[rows], os.path.join(d, "embeddings.parquet"), schema)
    return {"input_bytes": size_of(os.path.join(out, "full")),
            "delta_bytes": size_of(os.path.join(out, "delta")),
            "vectors": {"base": n_base, "delta": n_vecs - n_base},
            "planted": {
                "rates": {"base_exact": EXACT_RATE, "base_near": NEAR_RATE,
                          "delta_exact": DELTA_EXACT_RATE, "delta_near": DELTA_NEAR_RATE},
                "base": base_plant, "delta": delta_plant}}


GENERATORS = {"wc_bulk": gen_wc, "dedup_churn": gen_dedup}


def generate(workload: str, seed: int, out: str, scale: float = 1.0) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](rng, out, scale)
    manifest.update({"workload": workload, "seed": seed, "scale": scale,
                     "version": VERSION})
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    json.dump(generate(a.workload, a.seed, a.out, a.scale), sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
