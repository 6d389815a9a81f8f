"""Tests of the benchmark's output checks: a wrong result must be counted.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def scratch():
    """A temporary directory inside the benchmark's own work area."""
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work"))


class CompareTest(unittest.TestCase):
    def test_equal_frames_agree(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")], "s": ["x", "y"]})
        self.assertEqual(check.compare(a, a.copy()), [])

    def test_one_wrong_cell_is_a_mismatch(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        b = a.copy()
        b.loc[1, "v"] = 1.5000000000000002
        self.assertEqual(len(check.compare(a, b)), 1)

    def test_schema_and_row_count(self):
        a = pd.DataFrame({"k": [1, 2]})
        self.assertTrue(check.compare(a, pd.DataFrame({"j": [1, 2]})))
        self.assertTrue(check.compare(a, pd.DataFrame({"k": [1]})))
        self.assertTrue(check.compare(a, pd.DataFrame({"k": [1.0, 2.0]})))

    def test_array_cells(self):
        a = pd.DataFrame({"e": [[1.0, 2.0], [3.0]]})
        b = pd.DataFrame({"e": [[1.0, 2.0], [3.5]]})
        self.assertEqual(check.compare(a, a.copy()), [])
        self.assertEqual(len(check.compare(a, b)), 1)


class QueriesTest(unittest.TestCase):
    def test_wrong_expected_result_is_counted(self):
        with scratch() as d:
            data, out = os.path.join(d, "data"), os.path.join(d, "out")
            os.makedirs(data)
            for t in gen.TABLES:
                pq.write_table(pa.table({"x": [1, 2, 3]}),
                               os.path.join(data, f"{t}.parquet"))
            sql = {"right": "SELECT CAST(SUM(x) AS BIGINT) AS s FROM region",
                   "wrong": "SELECT CAST(SUM(x) + 1 AS BIGINT) AS s FROM region"}
            for name in sql:
                os.makedirs(os.path.join(out, "results", name))
                pq.write_table(pa.table({"s": pa.array([6], pa.int64())}),
                               os.path.join(out, "results", name, "part.parquet"))
            with open(os.path.join(out, "oracle.json"), "w") as f:
                json.dump(sql, f)
            checks, bad, notes = check.queries(data, out)
            self.assertEqual((checks, bad), (2, 1))
            self.assertIn("wrong", notes[0])


class TableMixTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch()
        d = self.dir.name
        self.base = pd.DataFrame({"rid": pd.array(range(1000), "int64"),
                                  "l_extendedprice": [float(i) for i in range(1000)]})
        pq.write_table(pa.Table.from_pandas(self.base, preserve_index=False),
                       os.path.join(d, "mix_base.parquet"))
        self.ops = gen.ops_for(3, 2, 1000)

    def tearDown(self):
        self.dir.cleanup()

    def run_log(self, corrupt_read=False, corrupt_final=False):
        """A log and final table as a correct engine would leave them."""
        d = self.dir.name
        rp = check.Replay(self.base)
        rows = []
        for o in self.ops:
            want = rp.apply(o)
            rows.append(-1 if want is None else want)
        if corrupt_read:
            i = next(i for i, o in enumerate(self.ops) if o["op"] == "read_range")
            rows[i] += 1
        final = rp.t.copy()
        if corrupt_final:
            final = final.iloc[1:]
        os.makedirs(os.path.join(d, "mix_final"), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(final, preserve_index=False),
                       os.path.join(d, "mix_final", "part.parquet"))
        return check.table_mix({"rows": rows}, self.ops, d, d)

    def test_correct_sequence_passes(self):
        checks, bad, _ = self.run_log()
        self.assertEqual(bad, 0)
        self.assertEqual(checks, 1 + sum(o["op"].startswith("read") for o in self.ops))

    def test_wrong_read_is_counted(self):
        self.assertEqual(self.run_log(corrupt_read=True)[1], 1)

    def test_wrong_final_table_is_counted(self):
        self.assertEqual(self.run_log(corrupt_final=True)[1], 1)

    def test_ops_repeat_for_a_seed(self):
        self.assertEqual(gen.ops_for(5, 3, 1000), gen.ops_for(5, 3, 1000))
        self.assertNotEqual(gen.ops_for(5, 3, 1000), gen.ops_for(6, 3, 1000))


class BenchmarkJsonTest(unittest.TestCase):
    def test_metrics_match_what_run_prints(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.per_layer_units())
        self.assertEqual({w["name"] for w in b["workloads"]},
                         {"batch_sf0.1", "table_mix_sf0.01"})


if __name__ == "__main__":
    unittest.main()
