"""Tests of tools/ab_pairs.py's summary arithmetic, on canned log lines.

    python3 -m unittest discover tools
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_pairs  # noqa: E402

DIRS = {"ops_per_s_vs_control": "higher", "op_p50_vs_control": "lower"}


def line(pair, side, ops, p50, kinds=None, correct=True):
    row = {"pair": pair, "seed": 100 + pair, "side": side, "workload": "w", "trace": 0,
           "result": {"correct": correct, "attempted": 10, "failed": 0, "metrics": {
               "ops_per_s_vs_control": {"value": ops, "unit": "ratio"},
               "op_p50_vs_control": {"value": p50, "unit": "ratio"}}}}
    if kinds is not None:
        row["kinds"] = kinds
    return json.dumps(row)


# ten pairs: the change is faster in nine, tied in one (pair 9)
CANNED = [line(i, "parent", 1.0 + i / 100, 2.0 + i / 100, {"commit": 10.0 + i})
          for i in range(10)] + \
         [line(i, "change", 1.5 + i / 100, 1.5 + i / 100, {"commit": 8.0 + i})
          for i in range(9)] + \
         [line(9, "change", 1.09, 2.09, {"commit": 19.0})]


def by_metric(rows, dirs=DIRS):
    return {s["metric"]: s for s in ab_pairs.summarize(rows, dirs)}


class SummaryTest(unittest.TestCase):

    def setUp(self):
        self.rows = [json.loads(x) for x in CANNED]

    def test_median_and_quartiles(self):
        s = by_metric(self.rows)["ops_per_s_vs_control"]
        # parent 1.00 .. 1.09: inclusive quartiles at 1/4 and 3/4 of the range
        self.assertAlmostEqual(s["parent"][0], 1.045)
        self.assertAlmostEqual(s["parent"][1], 1.0225)
        self.assertAlmostEqual(s["parent"][2], 1.0675)
        self.assertEqual(s["n"], 10)

    def test_wins_follow_the_declared_direction_and_ties_count_for_neither(self):
        m = by_metric(self.rows)
        self.assertEqual(m["ops_per_s_vs_control"]["wins"], 9)  # higher is better
        self.assertEqual(m["op_p50_vs_control"]["wins"], 9)     # lower is better
        self.assertEqual(m["kind.commit.p50_ms"]["wins"], 9)    # undeclared: lower

    def test_percent_change_of_the_medians(self):
        s = by_metric(self.rows)["ops_per_s_vs_control"]
        change_median = sorted([1.5 + i / 100 for i in range(9)] + [1.09])
        expected = (change_median[4] + change_median[5]) / 2
        self.assertAlmostEqual(s["change"][0], expected)
        self.assertAlmostEqual(s["pct"], 100 * (expected - 1.045) / 1.045)

    def test_gain_needs_nine_tenths_of_the_pairs_and_a_gap_beyond_the_spread(self):
        self.assertTrue(by_metric(self.rows)["ops_per_s_vs_control"]["gain"])
        # eight wins of ten: no gain, however large the gap
        worse = [r for r in self.rows if not (r["side"] == "change" and r["pair"] == 8)]
        worse.append(json.loads(line(8, "change", 1.0, 2.5)))
        self.assertFalse(by_metric(worse)["ops_per_s_vs_control"]["gain"])
        # ten wins by a hair, inside the parent's quartile distance: no gain
        hair = [json.loads(line(i, s, 1.0 + i / 100 + (0.001 if s == "change" else 0), 2.0))
                for i in range(10) for s in ab_pairs.SIDES]
        s = by_metric(hair)["ops_per_s_vs_control"]
        self.assertEqual(s["wins"], 10)
        self.assertFalse(s["gain"])

    def test_a_pair_missing_a_side_is_left_out(self):
        rows = self.rows + [json.loads(line(10, "parent", 9.0, 9.0))]
        rows.append({"pair": 11, "seed": 111, "side": "change", "error": "exit 1"})
        rows.append(json.loads(line(11, "parent", 9.0, 9.0)))
        self.assertEqual(by_metric(rows)["ops_per_s_vs_control"]["n"], 10)

    def test_report_from_a_log_file(self):
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            f.write("\n".join(CANNED) + "\n")
        try:
            text = ab_pairs.report(ab_pairs.load(f.name), DIRS)
        finally:
            os.unlink(f.name)
        row = next(x for x in text.splitlines() if x.startswith("ops_per_s_vs_control"))
        self.assertIn("9/10", row)
        self.assertTrue(row.endswith("yes"))
        self.assertIn("parent: 10 runs, 0/100 failed ops, 0 incorrect runs", text)

    def test_seed_ranges_and_declared_directions(self):
        self.assertEqual(ab_pairs.seeds_of("61-63,70"), [61, 62, 63, 70])
        dirs = ab_pairs.directions()
        self.assertEqual(dirs["ops_per_s_vs_control"], "higher")
        self.assertEqual(dirs["core.meta.commit_ms"], "lower")


if __name__ == "__main__":
    unittest.main()
