"""Tests of the benchmark itself: its declared metrics, its input
generator, and that both outside correctness checks catch a planted
mismatch, so neither can pass vacuously.

Run from the repository root: python3 perfbench/test_perfbench.py
"""
import datetime
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402

BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))


class MetricsDeclared(unittest.TestCase):
    def test_names_and_units(self):
        metrics = BENCH["end_to_end"] + BENCH["per_layer"]
        names = [m["name"] for m in metrics]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(m["better"], ("lower", "higher"))
        for m in BENCH["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", names)

    def test_workloads_say_why(self):
        for w in BENCH["workloads"]:
            self.assertIn(w["name"], SPEC["workloads"])
            self.assertTrue(w["why"].strip())
            self.assertTrue(SPEC["workloads"][w["name"]]["why"].strip())

    def test_every_per_layer_metric_is_mapped(self):
        for m in BENCH["per_layer"]:
            layer = SPEC["layers"].get(m["name"])
            self.assertIsNotNone(layer, m["name"])
            self.assertTrue(layer["what"] and layer["moves"])

    def test_samples_come_from_the_frozen_lists(self):
        w = SPEC["workloads"]
        full = set(w["catalog_iterative_full"]["queries"]) | set(
            w["catalog_single_pass_full"]["queries"])
        self.assertEqual(len(full), 173)
        self.assertTrue(set(w["catalog"]["queries"]) <= full)


class Generator(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_bytes(self):
        a, b, c = (os.path.join(self.tmp, d) for d in "abc")
        rows = datagen.generate(a, 7, 0.001)
        datagen.generate(b, 7, 0.001)
        datagen.generate(c, 8, 0.001)
        self.assertEqual(len(rows), 10)
        for f in os.listdir(a):
            self.assertEqual(open(os.path.join(a, f), "rb").read(),
                             open(os.path.join(b, f), "rb").read(), f)
        self.assertNotEqual(open(os.path.join(a, "lineitem.parquet"), "rb").read(),
                            open(os.path.join(c, "lineitem.parquet"), "rb").read())


class RoundTripCheck(unittest.TestCase):
    """The restored-table check: row count plus order-independent hash."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.src = pa.table({
            "id": pa.array([1, 2, 3], pa.int64()),
            "price": [1.5, 2.25, -3.0],
            "name": ["a", "b", None],
            "ts": pa.array([datetime.datetime(2001, 1, 1, 0, 0, 1)] * 3, pa.timestamp("us"))})
        os.makedirs(os.path.join(self.tmp, "data"))
        pq.write_table(self.src, os.path.join(self.tmp, "data", "t.parquet"))
        self.con = checks.connect(os.path.join(self.tmp, "data"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def restored(self, table):
        d = os.path.join(self.tmp, "restored")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        return d

    def test_identical_content_in_other_order_and_case_passes(self):
        t = self.src.take([2, 0, 1]).rename_columns(["ID", "PRICE", "NAME", "TS"])
        t = t.cast(pa.schema([("ID", pa.int32()), ("PRICE", pa.float64()),
                              ("NAME", pa.string()), ("TS", pa.timestamp("us", tz="UTC"))]))
        self.assertIsNone(checks.check_table(self.con, "t", self.restored(t)))

    def test_mutated_row_fails(self):
        t = self.src.set_column(1, "price", pa.array([1.5, 2.25, -3.0000001]))
        self.assertEqual(checks.check_table(self.con, "t", self.restored(t)),
                         "content hash differs from source")

    def test_lost_row_fails(self):
        self.assertIn("rows != source",
                      checks.check_table(self.con, "t", self.restored(self.src.slice(0, 2))))

    def test_unreadable_cell_fails(self):
        t = self.src.set_column(3, "ts", pa.array(["x", "y", "z"]))
        self.assertIsNotNone(checks.check_table(self.con, "t", self.restored(t)))


class OracleCheck(unittest.TestCase):
    """The catalog check: canonical row hash against the oracle's rows."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        os.makedirs(os.path.join(self.tmp, "data"))
        pq.write_table(pa.table({"k": [1, 2, 2], "v": [10.0, 20.0, 30.0]}),
                       os.path.join(self.tmp, "data", "t.parquet"))
        self.con = checks.connect(os.path.join(self.tmp, "data"))
        self.result = os.path.join(self.tmp, "q.parquet")
        os.makedirs(self.result)
        pq.write_table(pa.table({"v": [50.0, 10.0], "k": [2, 1]}),
                       os.path.join(self.result, "part-0.parquet"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_matching_oracle_passes(self):
        self.assertIsNone(checks.check_query(
            self.con, self.result, "SELECT k, sum(v) AS v FROM t GROUP BY k"))

    def test_wrong_value_fails(self):
        self.assertEqual(checks.check_query(
            self.con, self.result, "SELECT k, sum(v) + 1 AS v FROM t GROUP BY k"),
            "row hash differs from oracle")

    def test_wrong_shape_fails(self):
        self.assertIn("rows != oracle", checks.check_query(
            self.con, self.result, "SELECT k, v FROM t"))
        self.assertIn("columns", checks.check_query(
            self.con, self.result, "SELECT k, sum(v) AS w FROM t GROUP BY k"))

    def test_broken_oracle_fails(self):
        self.assertIn("oracle SQL error", checks.check_query(
            self.con, self.result, "SELECT nope FROM t"))

    def test_canonical_digest_is_order_free(self):
        self.assertEqual(checks.rows_digest(["b", "a"], [(1, 2), (3, 4)]),
                         checks.rows_digest(["a", "b"], [(4, 3), (2, 1)]))
        self.assertTrue(re.fullmatch(r"[0-9a-f]{64}", checks.rows_digest(["a"], [(1,)])[2]))


if __name__ == "__main__":
    unittest.main()
