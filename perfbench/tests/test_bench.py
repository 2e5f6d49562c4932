"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The generator tests need numpy and pyarrow; the Scala tests (attribution
rules, output digest) build the benchmark and start a small local Spark
session.
"""
import filecmp
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    """True when both trees hold the same file names with the same bytes."""
    fa = sorted(os.path.relpath(os.path.join(d, f), a) for d, _, fs in os.walk(a) for f in fs)
    fb = sorted(os.path.relpath(os.path.join(d, f), b) for d, _, fs in os.walk(b) for f in fs)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


class GeneratorTest(unittest.TestCase):
    def check(self, make):
        with tempfile.TemporaryDirectory() as t:
            make(os.path.join(t, "a"), 7)
            make(os.path.join(t, "b"), 7)
            make(os.path.join(t, "c"), 8)
            self.assertTrue(same_tree(os.path.join(t, "a"), os.path.join(t, "b")),
                            "one seed must give byte-identical files")
            self.assertFalse(same_tree(os.path.join(t, "a"), os.path.join(t, "c")),
                             "another seed must give other files")

    def test_feeds(self):
        self.check(lambda d, s: gen.feeds(d, s, 2000, 3))

    def test_messages(self):
        self.check(lambda d, s: gen.messages(d, s, 5, 100, 300))

    def test_tables(self):
        self.check(lambda d, s: gen.tables(d, 0.001, s))

    def test_feed_contents(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.feeds(t, 3, 1000, 3)
            self.assertEqual(m["run_dates"], ["2024-01-30", "2024-01-31", "2024-02-01"])
            day0 = open(os.path.join(t, "daily", "0", "timeframe.csv")).read().splitlines()[1:]
            self.assertEqual(len({r.split(",")[0] for r in day0}), 1000)
            self.assertGreater(len(day0), 1000)  # duplicate rows ride along
            leave = "".join(open(os.path.join(t, "daily", str(n), "leave.csv")).read()
                            for n in range(3))
            self.assertIn("CANCELLED", leave)

    def test_messages_rise_in_event_time(self):
        with tempfile.TemporaryDirectory() as t:
            gen.messages(t, 3, 4, 50, 100)
            last = ""
            for i in range(4):
                rows = open(os.path.join(t, f"msg-{i:05d}.csv")).read().splitlines()[1:]
                ts = [r.rsplit(",", 1)[1] for r in rows]
                self.assertEqual(ts, sorted(ts))
                self.assertGreater(ts[0], last)
                last = ts[-1]


class TailTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        v, pct, n = run.tail(list(range(100)))
        self.assertEqual((v, n), (89, 100))
        self.assertEqual(sum(1 for x in range(100) if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_of_few_samples_is_the_maximum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0])[0], 3.0)

    def test_nearest_rank(self):
        self.assertEqual(run.at(range(1, 101), 90.0), 90)
        self.assertEqual(run.at([5, 1, 3], 100.0), 5)
        self.assertEqual(run.at([5, 1, 3], 1.0), 1)


class GroupTest(unittest.TestCase):
    def test_a_pass_is_a_group(self):
        passes = [{"ops": [{"latency_s": 1.0}, {"latency_s": 2.0}]},
                  {"ops": [{"latency_s": 3.0}]}]
        self.assertEqual(run.latency_groups("catalog", passes), [[1.0, 2.0], [3.0]])

    def test_a_stream_splits_into_windows_in_drop_order(self):
        passes = [{"ops": [{"latency_s": float(i)} for i in range(7)]}]
        groups = run.latency_groups("strike", passes)
        self.assertEqual(len(groups), run.WINDOWS)
        self.assertEqual([x for g in groups for x in g], [float(i) for i in range(7)])
        self.assertLessEqual(max(map(len, groups)) - min(map(len, groups)), 1)


class ScalaSelfTest(unittest.TestCase):
    def test_attribution_rules_and_digest(self):
        classes = build.classes_dir()
        with tempfile.TemporaryDirectory() as t:
            cmd = run.jvm_cmd(classes, t, {})
            cmd[cmd.index("graft.perfbench.Main")] = "graft.perfbench.SelfTest"
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        print(p.stdout)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
