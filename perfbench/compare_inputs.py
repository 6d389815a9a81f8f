#!/usr/bin/env python3
"""Compare the generated inputs with a directory of the repository's test
data at the same scale factor.

    python3 perfbench/compare_inputs.py TESTDATA_DIR SF [--seed N]

TESTDATA_DIR holds the ten tables as `<name>.parquet`. For every table
the script prints the row count; for every column whose summary differs
it prints both summaries (type, distinct values, range, mean). Then it
prints the document-level figures the dedup and text steps depend on
(exact and near duplicates, words per document, vocabulary) and the
embedding figures the similarity steps depend on (norm, cosine within
and across labels). When `perfbench/.work/oracle.json` is there (every
query run leaves it), it also runs each step's oracle SQL in DuckDB over
both inputs and prints the result's row count and distinct values per
column.
"""
import argparse
import collections
import json
import os
import sys
import tempfile

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def column(tab, c):
    s = tab.column(c).to_pandas()
    typ = str(tab.schema.field(c).type)
    if typ.startswith("list"):
        v = np.stack(s.to_numpy())
        return f"{typ} dim={v.shape[1]} norm={np.linalg.norm(v, axis=1).mean():.3f}"
    nd = s.nunique()
    if s.dtype == object:
        n = s.str.len()
        return f"{typ} distinct={nd} len={n.min()}..{n.max()}"
    mean = "" if "timestamp" in typ else f" mean={s.mean():.4g}"
    return f"{typ} distinct={nd} range={s.min()}..{s.max()}{mean}"


def documents(d):
    t = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pandas()
    words = t.str.split()
    vocab = collections.Counter(w for ws in words for w in ws)
    n = words.str.len()
    return (f"exact dups {int(t.duplicated().sum())}, ending ' dup' "
            f"{int(t.str.endswith(' dup').sum())}, words/doc {n.min()}..{n.max()} "
            f"median {n.median():.0f}, vocabulary {len(vocab)}")


def embeddings(d):
    e = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
    v = np.stack(e.embedding.to_numpy())[:1000]
    lab = e.label.to_numpy()[:1000]
    same = lab[:, None] == lab[None, :]
    cos = v @ v.T
    return (f"norm {np.linalg.norm(v, axis=1).mean():.3f}, cosine same label "
            f"{cos[same].mean():.3f}, other label {cos[~same].mean():.3f}")


def steps(d, oracle):
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(d, t + '.parquet')}')")
    out = {}
    for name in sorted(oracle):
        df = con.execute(oracle[name]).fetchdf()
        out[name] = f"rows {len(df)}, distinct " + ", ".join(
            f"{c}={df[c].nunique()}" for c in df.columns
            if df[c].dtype != object or isinstance(df[c].iloc[0], str))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("testdata")
    ap.add_argument("sf", type=float)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as g:
        gen.write(a.sf, a.seed, g)
        for t in gen.TABLES:
            real = pq.read_table(os.path.join(a.testdata, f"{t}.parquet"))
            mine = pq.read_table(os.path.join(g, f"{t}.parquet"))
            print(f"{t}: rows {real.num_rows} test data, {mine.num_rows} generated")
            for c in real.column_names:
                r = column(real, c)
                m = column(mine, c) if c in mine.column_names else "missing"
                if r != m:
                    print(f"  {c}\n    test data {r}\n    generated {m}")
        for label, d in (("test data", a.testdata), ("generated", g)):
            print(f"documents, {label}: {documents(d)}")
            print(f"embeddings, {label}: {embeddings(d)}")
        oracle_file = os.path.join(HERE, ".work", "oracle.json")
        if os.path.exists(oracle_file):
            with open(oracle_file) as f:
                oracle = json.load(f)
            real, mine = steps(a.testdata, oracle), steps(g, oracle)
            for name in real:
                print(f"{name}\n  test data {real[name]}\n  generated {mine[name]}")


if __name__ == "__main__":
    main()
