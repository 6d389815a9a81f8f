"""Output checks of the benchmark, made without graft.

Query workloads: each step's dumped result against its DuckDB oracle
(`Registry.oracleSql`) over the same generated tables: sorted column
names, dtypes, row count and bit-exact cell values.

table_mix: a pandas replay of the executed op sequence; every read's
row count and the final table must match it.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen


def _equal(g, e):
    """Element-wise exact equality of two columns; NaN equals NaN."""
    if g.dtype != object:
        return (g.to_numpy() == e.to_numpy()) | (g.isna().to_numpy()
                                                 & e.isna().to_numpy())
    # object columns may hold arrays, which have no element-wise ==
    return np.array([bool(np.all(x == y)) or (x != x and y != y)
                     if not hasattr(x, "__len__") or isinstance(x, str)
                     else (len(x) == len(y) and bool(np.all(np.asarray(x) == np.asarray(y))))
                     for x, y in zip(g, e)], dtype=bool)


def compare(got, exp):
    """Mismatch descriptions of two frames; empty when they agree."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return [f"columns {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"rows {len(got)} != {len(exp)}"]
    errs = []
    for c in got.columns:
        g, e = got[c], exp[c]
        if str(g.dtype) != str(e.dtype):
            errs.append(f"dtype[{c}] {g.dtype} != {e.dtype}")
            continue
        bad = np.flatnonzero(~_equal(g, e))
        if len(bad):
            errs.append(f"value[{c}] {len(bad)} differ, first at row {bad[0]}: "
                        f"{g.iloc[bad[0]]!r} != {e.iloc[bad[0]]!r}")
    return errs


def queries(data, out):
    """(checks made, mismatches, notes) for the dumped step results."""
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    bad, notes = 0, []
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(out, "results", name, "*.parquet")))
        try:
            if not files:
                raise ValueError("no result")
            errs = compare(pq.read_table(files).to_pandas(),
                           con.execute(oracle[name]).fetchdf())
        except Exception as e:  # an unreadable result or oracle is a mismatch
            errs = [str(e)[:200]]
        if errs:
            bad += 1
            notes.append(f"{name} mismatch: {'; '.join(errs[:3])}")
    return len(oracle), bad, notes


class Replay:
    """The table_mix table as a pandas frame, op by op."""

    def __init__(self, base):
        self.base = base
        self.t = base.copy()

    def rows(self, src, n, first):
        r = self.base[(self.base.rid >= src) & (self.base.rid < src + n)].copy()
        r["rid"] = r["rid"] - src + first
        return r

    def apply(self, o):
        """Apply op `o`; return the row count a read must see, else None."""
        t = self.t
        k = o["op"]
        if k == "read_eq":
            return int((t.rid == o["rid"]).sum())
        if k == "read_range":
            return int(((t.rid >= o["lo"]) & (t.rid <= o["hi"])).sum())
        if k == "append":
            self.t = pd.concat([t, self.rows(o["src"], o["n"], o["first"])])
        elif k == "delete":
            self.t = t[t.rid != o["rid"]]
        elif k == "merge":
            u = self.rows(o["src"], o["n"], o["lo"])
            u["l_extendedprice"] = u["l_extendedprice"] + o["bump"]
            self.t = pd.concat([t[~t.rid.isin(u.rid)], u])
        return None


def table_mix(log, ops, data, out):
    """(checks made, mismatches, notes): each timed read, the final table."""
    base = pq.read_table(os.path.join(data, "mix_base.parquet")).to_pandas()
    replay = Replay(base)
    bad, notes, checks = 0, [], 0
    for i, (o, got) in enumerate(zip(ops, log["rows"])):
        want = replay.apply(o)
        if want is not None:
            checks += 1
            if got != want:
                bad += 1
                notes.append(f"op {i} {o['op']}: {got} rows != {want}")
    got = pq.read_table(glob.glob(os.path.join(out, "mix_final", "*.parquet"))).to_pandas()
    errs = compare(got.sort_values("rid").reset_index(drop=True),
                   replay.t.sort_values("rid").reset_index(drop=True))
    checks += 1
    if errs:
        bad += 1
        notes.append(f"final table mismatch: {'; '.join(errs[:3])}")
    return checks, bad, notes


def storage_amp(table_bytes, plain_dir):
    """Bytes of the table directory ÷ bytes of its live rows as plain parquet."""
    plain = sum(os.path.getsize(os.path.join(p, f))
                for p, _, fs in os.walk(plain_dir) for f in fs
                if f.endswith(".parquet"))
    return table_bytes / plain
