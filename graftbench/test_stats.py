"""Tests of the benchmark's own arithmetic: python3 -m unittest discover graftbench"""

import unittest

import stats


def op(i, kind="q", side="graft", t0=0.0, ms=10.0, error=None,
       expected="x", actual="x", warmup=False, traced=False):
    return {"id": i, "kind": kind, "side": side, "warmup": warmup,
            "traced": traced, "t0": t0, "t1": t0 + ms, "error": error,
            "expected": expected, "actual": actual}


def span(i, parent, op_id, layer, name, t0, t1, **attrs):
    return {"id": i, "parent": parent, "op": op_id, "layer": layer,
            "name": name, "t0": t0, "t1": t1, "attrs": attrs}


def raw(ops, spans=(), setup=(9.0, 8.0, 3.0, 5.0, 4.0)):
    return {"workload": "w", "seed": 1, "ops": list(ops), "spans": list(spans),
            "setup_s": list(setup), "storage_amp": 1.1,
            "rounds": 1, "loop_s": 1.0, "phases_s": {}}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        v, pct, n = stats.tail(range(1, 101))
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        xs = sorted(range(1, 101))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_uneven_count(self):
        v, pct, n = stats.tail([float(x) for x in range(37)])
        self.assertEqual(v, 26.0)  # 27th of 37: ten samples above it
        self.assertAlmostEqual(pct, 100.0 * 27 / 37)

    def test_too_few_samples_give_the_median(self):
        self.assertEqual(stats.tail([5, 1, 3, 2, 4]), (3, 50.0, 5))
        # an even count gives the mean of the two middle values, as the median does
        self.assertEqual(stats.tail([4, 1, 3, 2]), (2.5, 50.0, 4))
        self.assertEqual(stats.tail([float(x) for x in range(20)]), (9.5, 50.0, 20))
        self.assertEqual(stats.tail([1.0] * 22)[1], 100.0 * 12 / 22)
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class AccountingTest(unittest.TestCase):
    def test_errors_and_mismatches_fail(self):
        ops = [op(0), op(1, error="boom"), op(2, expected="a", actual="b"),
               op(3, warmup=True, expected="a", actual="c"), op(4, side="control")]
        attempted, failed, bad = stats.accounting(ops)
        self.assertEqual((attempted, failed), (5, 3))
        self.assertEqual([o["id"] for o in bad], [1, 2, 3])

    def test_a_wrong_expected_result_fails_the_run(self):
        good = [op(i, expected="[F,10,500]", actual="[F,10,500]") for i in range(3)]
        result, _ = stats.summarize(raw(good), 0)
        self.assertEqual((result["correct"], result["failed"]), (True, 0))
        # the same run, with one expected result deliberately wrong
        wrong = good[:2] + [op(2, expected="[F,10,501]", actual="[F,10,500]")]
        result, record = stats.summarize(raw(wrong), 0)
        self.assertEqual((result["correct"], result["attempted"], result["failed"]),
                         (False, 3, 1))
        self.assertEqual(record["details"]["error_rate"], 1 / 3)

    def test_a_failed_native_twin_fails_its_graft_op(self):
        ops = [op(0, expected="native twin failed: x", actual="rows"),
               op(1, side="control", error="x", expected="", actual="")]
        self.assertEqual([o["id"] for o in stats.accounting(ops)[2]], [0, 1])


class SelfTimeTest(unittest.TestCase):
    def test_children_are_unioned_and_clipped(self):
        spans = [span(0, -1, 0, "op", "q", 0, 100),
                 span(1, 0, 0, "spark", "execute", 10, 30),
                 span(2, 0, 0, "spark", "plan", 20, 50),   # overlaps span 1
                 span(3, 0, 0, "exec", "job", 90, 120),    # runs past its parent
                 span(4, 1, 0, "exec", "job", 12, 18)]
        s = stats.self_times(spans)
        self.assertEqual(s[0], 100 - 40 - 10)
        self.assertEqual(s[1], 20 - 6)
        self.assertEqual((s[2], s[3], s[4]), (30, 30, 6))


class MetricsTest(unittest.TestCase):
    def test_end_to_end_uses_untraced_measured_ops(self):
        ops = [op(0, "a", ms=10), op(1, "a", ms=30), op(2, "b", ms=40),
               op(3, "b", ms=1000, warmup=True), op(4, "a", ms=500, traced=True),
               op(5, "a", side="control", ms=80), op(6, "a", side="control", ms=2000,
                                                      traced=True)]
        ops_per_s, p50, _, control = stats.latencies(raw(ops))
        self.assertAlmostEqual(p50, (20 * 40) ** 0.5)
        self.assertAlmostEqual(control, 80)
        # the warm-up round has one "b" and no "a": the mix is b alone
        self.assertAlmostEqual(ops_per_s, 1 / 0.04)
        e = stats.end_to_end(raw(ops))
        self.assertEqual(e["setup_s"], (4.0, "s"))  # the first two setups are left out
        self.assertAlmostEqual(e["op_p50_vs_control"][0], (20 * 40) ** 0.5 / 80)
        self.assertAlmostEqual(e["ops_per_s_vs_control"][0], 80 / 40)

    def test_throughput_weighs_kinds_by_the_round_mix(self):
        warm = [op(0, "commit", warmup=True), op(1, "commit", warmup=True),
                op(2, "commit", warmup=True), op(3, "plan", warmup=True)]
        # the run stopped after one extra plan: the mix stays 3:1
        ops = warm + [op(4, "commit", ms=10), op(5, "plan", ms=50),
                      op(6, "plan", ms=50)]
        self.assertAlmostEqual(stats.latencies(raw(ops))[0], 4 / 0.08)

    def test_tail_is_taken_per_kind(self):
        ops = [op(i, "fast", t0=i, ms=1.0 + i) for i in range(30)] + \
              [op(100 + i, "slow", t0=i, ms=100.0) for i in range(5)]
        # fast: 30 samples, the 20th value (ten above it) is 20 ms
        self.assertAlmostEqual(stats.latencies(raw(ops))[2], (20.0 * 100.0) ** 0.5)

    def test_per_layer_from_spans(self):
        ops = [op(0, "plan", traced=True, ms=100), op(1, "commit", traced=True, ms=50),
               op(2, "plan", ms=80)]
        spans = [span(0, -1, 0, "op", "graft.plan", 0, 100),
                 span(1, 0, 0, "core.meta", "plan", 10, 90, manifests_total=60,
                      manifests_scanned=3, live_files=400, tasks=20, delete_files=40),
                 span(2, -1, 1, "op", "graft.commit", 0, 50, metadata_bytes=3000),
                 span(3, 2, 1, "core.meta", "commit", 5, 45, attempts=1, manifests=61)]
        m = stats.per_layer(raw(ops, spans))
        self.assertEqual(m["core.meta.plan_ms"], 80)
        self.assertEqual(m["core.meta.manifests_read_per_plan"], 3)
        self.assertAlmostEqual(m["core.meta.manifest_skip_ratio"], 0.95)
        self.assertEqual(m["core.expr.file_keep_ratio"], 0.05)
        self.assertEqual(m["core.meta.commit_ms"], 40)
        self.assertEqual(m["core.meta.manifests_per_snapshot"], 61)
        self.assertEqual(m["core.meta.metadata_bytes_per_commit"], 3000)
        # a plan outside any Spark scan is not a Spark delete-file figure
        self.assertEqual(m["spark.delete_files_per_task"], 0)
        self.assertEqual(m["core.meta.self_ms"], (80 + 40) / 2)
        self.assertEqual(m["client.self_ms"], (20 + 10) / 2)
        self.assertAlmostEqual(m["trace.overhead_pct"], 25.0)


class DeclarationTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics a run reports, with their units."""

    def test_end_to_end(self):
        reported = stats.end_to_end(raw([op(0)]))
        self.assertEqual(dict(stats.declared("end_to_end")),
                         {k: u for k, (_, u) in reported.items()})
        result, _ = stats.summarize(raw([op(0)]), 0)
        self.assertEqual(set(result["metrics"]), {n for n, _ in stats.declared("end_to_end")})

    def test_per_layer(self):
        names = [n for n, _ in stats.declared("per_layer")]
        ops = [op(0, traced=True)]
        spans = [span(0, -1, 0, "op", "q", 0, 10)]
        self.assertEqual(set(stats.per_layer(raw(ops, spans))), set(names))
        result, _ = stats.summarize(raw(ops, spans), 1)
        self.assertEqual(list(result["metrics"]), names)


if __name__ == "__main__":
    unittest.main()
