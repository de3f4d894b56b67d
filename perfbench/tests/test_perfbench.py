"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The first two classes are pure Python; the last two start the harness JVM
(and build it on first use), so they take a few minutes.
"""
import importlib.util
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_PY = os.path.join(os.path.dirname(HERE), "run.py")
spec = importlib.util.spec_from_file_location("perfbench_run", RUN_PY)
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)


def span(i, name, parent, start, end, it=1):
    return {"id": i, "name": name, "parent": parent, "iter": it, "start_ms": start, "end_ms": end}


class SelfTime(unittest.TestCase):
    def setUp(self):
        # iteration [0, 100): a [10, 50) holding a1 [15, 25) and a2 [20, 40)
        # (overlapping children count once), b [60, 90) holding b1 [60, 90)
        self.spans = [
            span(0, "iteration", -1, 0, 100),
            span(1, "a", 0, 10, 50),
            span(2, "a1", 1, 15, 25),
            span(3, "a2", 1, 20, 40),
            span(4, "b", 0, 60, 90),
            span(5, "b1", 4, 60, 90),
        ]

    def test_self_time_subtracts_child_coverage(self):
        st = run.self_times(self.spans)
        self.assertEqual(st[0], 100 - 40 - 30)   # the driver gap
        self.assertEqual(st[1], 40 - 25)         # children cover [15, 40)
        self.assertEqual(st[2], 10)
        self.assertEqual(st[4], 0)
        self.assertEqual(st[5], 30)

    def test_self_times_account_for_the_wall(self):
        st = run.self_times(self.spans)
        top = [s for s in self.spans if s["parent"] == 0]
        self.assertEqual(st[0] + sum(s["end_ms"] - s["start_ms"] for s in top), 100)

    def test_innermost_span(self):
        self.assertEqual(run.innermost(self.spans, 22)["name"], "a2")
        self.assertEqual(run.innermost(self.spans, 45)["name"], "a")
        self.assertEqual(run.innermost(self.spans, 55)["name"], "iteration")
        self.assertIsNone(run.innermost(self.spans, 100))


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(run.tail(list(range(1, 20))), (None, None))  # p50 has 9 beyond
        p, v = run.tail(list(range(1, 21)))                            # p50 has 10 beyond
        self.assertEqual((p, v), (50.0, 10))

    def test_picks_the_highest_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(run.tail(xs), (90.0, 90))                     # p95 has 5 beyond
        xs = list(range(1, 1001))
        self.assertEqual(run.tail(xs), (99.0, 990))

    def test_nearest_rank(self):
        self.assertEqual(run.percentile([5, 1, 3], 50), 3)
        self.assertEqual(run.percentile([1, 2, 3, 4], 75), 3)


def bench(*args):
    root = os.path.dirname(os.path.dirname(HERE))
    return subprocess.run([sys.executable, RUN_PY] + list(args), cwd=root,
                          capture_output=True, text=True, timeout=900)


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = bench("--workload", "fuzzy_backlog", "--seed", "7", "--seconds", "1", "--generate-only")
        b = bench("--workload", "fuzzy_backlog", "--seed", "7", "--seconds", "1", "--generate-only")
        c = bench("--workload", "fuzzy_backlog", "--seed", "8", "--seconds", "1", "--generate-only")
        for r in (a, b, c):
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertTrue(a.stdout.startswith("DIGEST "))
        self.assertEqual(a.stdout, b.stdout)
        self.assertNotEqual(a.stdout, c.stdout)


class Gate(unittest.TestCase):
    def test_corrupted_truth_fails_the_command(self):
        r = bench("--workload", "fuzzy_backlog", "--seed", "3", "--seconds", "1", "--corrupt-truth")
        self.assertNotEqual(r.returncode, 0)
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreater(last["failed"], 0)


if __name__ == "__main__":
    unittest.main()
