"""Self-tests of the benchmark.  Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

The row-hash test builds the harness and starts a small local Spark.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(gen.velib_ticks(11, 60, 6), gen.velib_ticks(11, 60, 6))

    def test_other_seed_other_bytes(self):
        a = gen.velib_ticks(11, 60, 6)
        b = gen.velib_ticks(12, 60, 6)
        self.assertEqual(len(a), len(b))
        self.assertTrue(all(x != y for x, y in zip(a, b)))

    def test_feed_shape(self):
        ticks = gen.velib_ticks(3, 40, 30, stale_share=0.2, drain_share=0.25)
        rows = [[json.loads(line) for line in t.decode().splitlines()]
                for t in ticks]
        self.assertTrue(all(len(r) == 40 for r in rows))
        # stale stations re-send the previous tick's record verbatim
        stale = sum(a == b for prev, cur in zip(rows, rows[1:])
                    for a, b in zip(prev, cur))
        self.assertGreater(stale, 0)
        # draining stations reach zero bikes, so alerts fire
        self.assertTrue(any(r["numbikesavailable"] == 0 for r in rows[-1]))


class PercentileTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        v, pct, n = run.tail(xs)
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_tail_at_21_samples_is_just_above_the_median(self):
        v, pct, n = run.tail(range(21))
        self.assertEqual(v, 10)
        self.assertEqual(sum(x > v for x in range(21)), 10)

    def test_tail_below_21_samples_is_the_maximum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(run.tail(range(20))[0], 19)

    def test_median(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([4, 1, 2, 3]), 2.5)


class NamesTest(unittest.TestCase):
    def test_metric_and_workload_names(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
            b = json.load(fh)
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(NAME.fullmatch(n), n)
        for w in b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
        self.assertEqual([m["name"] for m in b["end_to_end"]],
                         list(run.END_TO_END))


class RowHashTest(unittest.TestCase):
    def test_row_hash_ignores_order_and_partitioning(self):
        cp = build.classpath()
        r = subprocess.run(
            [build.java(), "-Xmx1g", *run.ADD_OPENS, "-cp", cp,
             "graft.perfbench.SelfTest"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        self.assertIn("rowhash ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
