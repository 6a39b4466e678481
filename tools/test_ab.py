"""Tests for tools/ab.py's arithmetic.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import ab


def run(pair, side, correct=True, **metrics):
    return {"pair": pair, "side": side, "seed": pair, "loadavg": 0.5,
            "correct": correct, "metrics": metrics}


class QuantileTest(unittest.TestCase):

    def test_linear_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(ab.quantile(xs, 0.5), 2.5)
        self.assertEqual(ab.quantile(xs, 0.25), 1.75)
        self.assertEqual(ab.quantile(xs, 0.75), 3.25)
        self.assertEqual(ab.quantile(xs, 0.0), 1.0)
        self.assertEqual(ab.quantile(xs, 1.0), 4.0)
        self.assertEqual(ab.spread(xs), 1.5)

    def test_single_value_has_no_spread(self):
        self.assertEqual(ab.quantile([7.0], 0.5), 7.0)
        self.assertEqual(ab.spread([7.0]), 0.0)


class OrderTest(unittest.TestCase):

    def test_sides_alternate(self):
        self.assertEqual([ab.order(p)[0] for p in range(4)],
                         ["parent", "change", "parent", "change"])
        self.assertEqual(set(ab.order(1)), {"parent", "change"})


STAT = """cpu  {} 0 {} {} {} 0 {} {} 50 0
cpu0 1 2 3 4 5 6 7 8 9 10
intr 12345 0 0
"""


class PostureTest(unittest.TestCase):

    def test_cpu_times_reads_the_aggregate_line(self):
        # user nice system idle iowait irq softirq steal guest guest_nice
        text = STAT.format(100, 20, 600, 30, 5, 45)
        self.assertEqual(ab.cpu_times(text), (100 + 20 + 5 + 45, 800))

    def test_busy_share_is_the_non_idle_part_of_the_delta(self):
        before = STAT.format(100, 20, 600, 30, 5, 0)
        after = STAT.format(250, 70, 900, 30, 5, 0)  # +150 user, +50 sys, +300 idle
        self.assertEqual(ab.busy_share(before, after), 0.4)
        self.assertEqual(ab.busy_share(after, after), 0.0)

    def test_a_text_without_the_aggregate_line_is_rejected(self):
        with self.assertRaises(ValueError):
            ab.cpu_times("cpu0 1 2 3 4 5 6 7 8 9 10\n")

    def test_report_shows_the_busy_range_when_recorded(self):
        runs = [dict(run(0, "parent", x=1.0), cpu_busy=0.1),
                dict(run(0, "change", x=1.0), cpu_busy=0.35)]
        self.assertEqual(ab.report(runs).splitlines()[0],
                         "2 runs, launch loadavg 0.50-0.50, cpu busy 0.10-0.35")


class SummarizeTest(unittest.TestCase):

    def test_medians_spread_and_pairs_won(self):
        parent = [10.0, 12.0, 11.0, 13.0]
        change = [8.0, 11.5, 9.0, 9.5]
        runs = [run(i, "parent", run_s=p) for i, p in enumerate(parent)] + \
               [run(i, "change", run_s=c) for i, c in enumerate(change)]
        s = ab.summarize(runs)["run_s"]
        self.assertEqual((s["parent"], s["change"]), (11.5, 9.25))
        self.assertEqual(s["parent_spread"], 1.5)
        self.assertEqual(s["change_spread"], 1.25)
        self.assertEqual(s["gain"], 2.25)
        self.assertEqual((s["won"], s["pairs"]), (4, 4))
        self.assertTrue(s["clears"])

    def test_a_gain_won_on_fewer_than_nine_tenths_of_the_pairs_does_not_clear(self):
        parent = [10.0] * 9 + [5.0]
        change = [6.0] * 10
        runs = [run(i, "parent", x=p) for i, p in enumerate(parent)] + \
               [run(i, "change", x=c) for i, c in enumerate(change)]
        s = ab.summarize(runs)["x"]
        self.assertEqual((s["won"], s["pairs"], s["gain"]), (9, 10, 4.0))
        self.assertTrue(s["clears"])
        runs[0]["metrics"]["x"] = 5.0  # parent pair 0 now beats the change
        s = ab.summarize(runs)["x"]
        self.assertEqual((s["won"], s["gain"]), (8, 4.0))
        self.assertFalse(s["clears"])

    def test_a_gain_inside_the_parent_spread_does_not_clear(self):
        runs = [run(0, "parent", x=10.0), run(0, "change", x=9.5),
                run(1, "parent", x=12.0), run(1, "change", x=11.5)]
        s = ab.summarize(runs)["x"]
        self.assertEqual((s["gain"], s["parent_spread"], s["won"]), (0.5, 1.0, 2))
        self.assertFalse(s["clears"])

    def test_incorrect_runs_and_half_pairs_are_left_out(self):
        runs = [run(0, "parent", x=1.0), run(0, "change", x=2.0),
                run(1, "parent", x=5.0), run(1, "change", correct=False, x=0.0),
                run(2, "parent", x=3.0)]
        s = ab.summarize(runs)["x"]
        self.assertEqual((s["pairs"], s["won"], s["parent"], s["change"]),
                         (1, 0, 1.0, 2.0))
        self.assertFalse(s["clears"])

    def test_summarize_flag_reads_a_run_log(self):
        runs = [run(0, "parent", run_s=2.0), run(0, "change", run_s=1.0)]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "ab_runs.jsonl")
            with open(path, "w") as f:
                f.write("".join(json.dumps(r) + "\n" for r in runs))
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                self.assertEqual(ab.main(["--summarize", path]), 0)
        lines = out.getvalue().splitlines()
        self.assertEqual(lines[0], "2 runs, launch loadavg 0.50-0.50")
        self.assertEqual(lines[2].split(),
                         ["run_s", "2.000", "0.000", "1.000", "0.000", "1.000", "1/1", "yes"])


if __name__ == "__main__":
    unittest.main()
