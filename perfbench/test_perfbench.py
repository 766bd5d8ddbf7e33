"""Tests of the benchmark's own logic.

  python3 perfbench/test_perfbench.py
"""
import os
import sys
import tempfile
import unittest
from datetime import datetime, timedelta

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import stats  # noqa: E402


def write_source(d, n_orders=400):
    """A small source directory with the ten tables and the columns the
    generator touches."""
    day0 = datetime(1995, 1, 1)
    orders = pa.table({
        "o_orderkey": pa.array(range(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array([i % 50 for i in range(n_orders)], pa.int64()),
        "o_orderdate": pa.array([day0 + timedelta(days=i % 700) for i in range(n_orders)],
                                pa.timestamp("us")),
    })
    lines = [(o, ln) for o in range(1, n_orders + 1) for ln in range(1, 1 + o % 4)]
    lineitem = pa.table({
        "l_orderkey": pa.array([o for o, _ in lines], pa.int64()),
        "l_linenumber": pa.array([ln for _, ln in lines], pa.int32()),
        "l_partkey": pa.array([(o * 7 + ln) % 60 for o, ln in lines], pa.int64()),
        "l_shipdate": pa.array([day0 + timedelta(days=o % 700 + 3) for o, _ in lines],
                               pa.timestamp("us")),
    })
    tables = {
        "orders": orders, "lineitem": lineitem,
        "part": pa.table({"p_partkey": pa.array(range(60), pa.int64()),
                          "p_retailprice": [900.0 + i for i in range(60)]}),
        "customer": pa.table({"c_custkey": pa.array(range(50), pa.int64()),
                              "c_name": [f"Customer#{i}" for i in range(50)],
                              "c_mktsegment": [("AUTO", "BUILDING")[i % 2] for i in range(50)]}),
    }
    for t in ("region", "nation", "supplier", "events", "documents", "embeddings"):
        tables[t] = pa.table({"id": pa.array(range(200), pa.int64())})
    for t, tab in tables.items():
        pq.write_table(tab, os.path.join(d, f"{t}.parquet"))


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.src = os.path.join(cls.tmp.name, "src")
        os.makedirs(cls.src)
        write_source(cls.src)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def gen(self, name, seed):
        return gen.generate(self.src, os.path.join(self.tmp.name, name), seed)

    def test_same_seed_same_digest(self):
        self.assertEqual(self.gen("a", 7), self.gen("b", 7))

    def test_different_seed_different_digest(self):
        self.assertNotEqual(self.gen("c", 7), self.gen("d", 8))

    def test_delta_is_past_the_watermark(self):
        out = os.path.join(self.tmp.name, "e")
        gen.generate(self.src, out, 3)
        base = pq.read_table(os.path.join(out, "base", "orders.parquet"))
        delta = pq.read_table(os.path.join(out, "delta", "orders.parquet"))
        self.assertGreater(min(delta["o_orderdate"].to_pylist()),
                           max(base["o_orderdate"].to_pylist()))
        self.assertGreater(min(delta["o_orderkey"].to_pylist()),
                           max(base["o_orderkey"].to_pylist()))


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(20), 50)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.beyond(100, 90), sum(1 for x in xs if x > 90))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, layer, start, end):
        return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}

    def test_sequential_tree(self):
        spans = [
            self.span(0, -1, "op", 0, 100),
            self.span(1, 0, "entry", 0, 40),
            self.span(2, 1, "spark", 10, 20),
            self.span(3, 0, "engine", 50, 100),
            self.span(4, 3, "spark", 55, 95),
        ]
        self.assertEqual(stats.self_times(spans),
                         {"op": 10, "entry": 30, "engine": 10, "spark": 50})

    def test_concurrent_children_count_once(self):
        # two overlapping jobs under one ETL step: the step's self time is
        # what no job covers, and the jobs' layer time is their union
        spans = [
            self.span(0, -1, "plans", 0, 100),
            self.span(1, 0, "spark", 10, 60),
            self.span(2, 0, "spark", 40, 80),
        ]
        self.assertEqual(stats.self_times(spans), {"plans": 30, "spark": 70})

    def test_attach_by_time_to_innermost(self):
        spans = [self.span(0, -1, "op", 0, 100), self.span(1, 0, "entry", 0, 40)]
        self.assertEqual(stats.attach(spans, [(5, 6), (50, 60)]), {1: [0], 0: [1]})


if __name__ == "__main__":
    unittest.main()
