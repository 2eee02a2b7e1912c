"""Tests for the benchmark's own arithmetic and inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name,
            "start_ms": start, "end_ms": end}


class UnionLength(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(stats.union_length([(0, 3), (2, 5), (4, 6)]), 6)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([(0, 2), (2, 4)]), 4)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.union_length([(11, 12)], 0, 10), 0)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0)


class SelfTimes(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 0, 7)]), {1: 7})

    def test_nested_children_subtract_once(self):
        # parent 0..10, child 2..6 holding a grandchild 3..5: the parent
        # loses only the child's interval, the child loses the grandchild's
        st = stats.self_times([span(1, 0, 0, 10), span(2, 1, 2, 6),
                               span(3, 2, 3, 5)])
        self.assertEqual(st, {1: 6, 2: 2, 3: 2})

    def test_overlapping_children_count_their_union(self):
        # two children overlapping on 4..5 (e.g. from two threads)
        st = stats.self_times([span(1, 0, 0, 10), span(2, 1, 1, 5),
                               span(3, 1, 4, 8)])
        self.assertEqual(st[1], 10 - 7)

    def test_child_outliving_parent_is_clipped(self):
        st = stats.self_times([span(1, 0, 0, 10), span(2, 1, 8, 14)])
        self.assertEqual(st[1], 8)


def raw_of(walls):
    """A run's raw record with passes of the given wall times (ms)."""
    t, passes = 1000.0, []
    for w in walls:
        passes.append({"start_ms": t, "end_ms": t + w, "rows": 1000})
        t += w
    return {"passes": passes, "setup_end_ms": 5000.0,
            "jvm_start_ms": 2000.0, "vm_hwm_kb": 2048}


class EndToEnd(unittest.TestCase):
    def test_rows_per_s_is_all_rows_over_all_pass_time(self):
        m = run.end_to_end(raw_of([1000.0, 4000.0, 3000.0]))
        self.assertEqual(m["rows_per_s"], (375.0, "rows/s"))
        self.assertEqual(m["setup_s"], (3.0, "s"))
        self.assertEqual(m["peak_rss_mb"], (2.0, "MB"))


class MetricNames(unittest.TestCase):
    """The run prints exactly the metrics BENCHMARK.json declares."""

    def declared(self, kind):
        import json
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            return {m["name"]: m["unit"] for m in json.load(f)[kind]}

    def test_end_to_end(self):
        m = run.end_to_end(raw_of([1000.0]))
        self.assertEqual({k: u for k, (_, u) in m.items()},
                         self.declared("end_to_end"))

    def test_per_layer(self):
        zero = dict(jobs=0, stages=0, tasks=0, cpu_ns=0, gc_ms=0,
                    shuffle_read=0, shuffle_write=0, spill=0,
                    input_bytes=0, output_bytes=0)
        raw = {"passes": [{"start_ms": 0.0, "end_ms": 10.0, "rows": 1}],
               "spans": [dict(span(1, 0, 0.0, 10.0, "pass"), **zero)],
               "unattributed": zero, "task_intervals": [(1, 4)],
               "plan_ms": 3, "cache_mem_bytes": 0, "cache_disk_bytes": 0,
               "store_bytes": 0, "input_bytes": 1, "microbatches": 0,
               "empty_microbatches": 0,
               "kernels": {k: {"ns_row": 1.0, "bytes_row": 8.0}
                           for k in ("topk", "dot", "vecsum", "fingerprint")}}
        m, _ = run.per_layer(raw, "")
        self.assertEqual({k: u for k, (_, u) in m.items()},
                         self.declared("per_layer"))
        self.assertEqual(m["driver.idle_ms"][0], 7.0)


class Generator(unittest.TestCase):
    SPEC = dict(lineitem=500, parts=50, suppliers=10, events=200,
                docs=60, vecs=40)

    def tables(self, seed):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.write_corpus(d, seed, self.SPEC)
            return {t: pq.read_table(os.path.join(d, t))
                    for t in sorted(os.listdir(d))}

    def test_same_seed_same_inputs(self):
        a, b = self.tables(3), self.tables(3)
        self.assertEqual(sorted(a), sorted(b))
        for t in a:
            self.assertTrue(a[t].equals(b[t]), t)

    def test_other_seed_other_inputs(self):
        self.assertFalse(self.tables(3)["documents.parquet"].equals(
            self.tables(4)["documents.parquet"]))

    def test_snapshot_keys_unique_and_fan_in_near_three(self):
        li = self.tables(5)["lineitem.parquet"].to_pandas()
        self.assertFalse(li.duplicated(["l_orderkey", "l_linenumber"]).any())
        fan = li.groupby(["l_partkey", "l_shipdate"]).size()
        self.assertTrue(2.0 <= fan.mean() <= 4.0, fan.mean())


if __name__ == "__main__":
    unittest.main()
