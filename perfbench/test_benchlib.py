"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import unittest
from pathlib import Path

import benchlib as b

SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def op(i, t0, t1, kind="search", items=64, traced=True, ok=True, **extra):
    d = {"id": i, "kind": kind, "items": items, "traced": traced, "ok": ok,
         "t0": t0, "t1": t1, "iter": 0}
    d.update(extra)
    return d


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        q, v = b.tail(list(range(1, 101)))  # 1..100
        self.assertEqual((q, v), (0.9, 90))  # 10 samples (91..100) beyond it
        self.assertLess(b.tail(list(range(1, 100)))[0], 0.9)

    def test_tail_ignores_order(self):
        self.assertEqual(b.tail(list(range(1, 201))[::-1]), (0.95, 190))

    def test_tail_is_highest_percentile_with_ten_beyond(self):
        q, v = b.tail(list(range(1, 51)))
        self.assertAlmostEqual(q, 0.8)
        self.assertEqual(v, 40)
        self.assertEqual(sum(1 for x in range(1, 51) if x > v), 10)

    def test_tail_needs_it_to_reach_the_median(self):
        self.assertIsNone(b.tail(list(range(19))))
        self.assertEqual(b.tail(list(range(1, 21))), (0.5, 10))

    def test_median(self):
        self.assertEqual(b.median([3, 1, 2]), 2)
        self.assertEqual(b.median([]), 0.0)


class Recall(unittest.TestCase):
    def test_counts_overlap_over_exact(self):
        exact = {1: [10, 11, 12, 13], 2: [20, 21, 22, 23]}
        served = {1: [10, 11, 99, 98], 2: [23, 22, 21, 20]}
        self.assertAlmostEqual(b.recall(served, exact), 6 / 8)

    def test_missing_query_counts_as_misses(self):
        self.assertEqual(b.recall({}, {1: [1, 2]}), 0.0)

    def test_empty_oracle_is_perfect(self):
        self.assertEqual(b.recall({1: [1]}, {}), 1.0)


class SelfTime(unittest.TestCase):
    def test_subtracts_union_of_children(self):
        span = {"t0": 0, "t1": 100}
        kids = [{"t0": 10, "t1": 30}, {"t0": 20, "t1": 40}, {"t0": 90, "t1": 120}]
        # children cover [10, 40] and [90, 100] inside the span: 40
        self.assertEqual(b.self_time(span, kids), 60)

    def test_no_children_is_whole_span(self):
        self.assertEqual(b.self_time({"t0": 5, "t1": 9}, []), 4)

    def test_layer_self_times_over_a_tree(self):
        spans = [
            {"id": 0, "parent": -1, "op": 0, "name": "search", "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "op": 0, "name": "api.search.build", "t0": 0, "t1": 20},
            {"id": 2, "parent": 0, "op": 0, "name": "api.search.exec", "t0": 20, "t1": 100},
            {"id": 3, "parent": 2, "op": 0, "name": "spark_job.1", "t0": 30, "t1": 90},
            {"id": 4, "parent": 3, "op": 0, "name": "spark_stage.1", "t0": 40, "t1": 80},
        ]
        got = b.layer_self_times(spans)
        self.assertEqual(got, {"client": 0, "api": 20 + 20, "spark_job": 20, "spark_stage": 40})

    def test_layer_of(self):
        self.assertEqual(b.layer_of("pipeline.curate.exec"), "pipeline")
        self.assertEqual(b.layer_of("pq_flood"), "client")


class IdleCoreShare(unittest.TestCase):
    def test_share_of_cores_left_idle(self):
        # 4 cores x 100 ms of wall, 100 ms busy: 3/4 idle
        self.assertAlmostEqual(b.idle_core_share(100, 100, 4), 0.75)
        self.assertAlmostEqual(b.idle_core_share(400, 100, 4), 0.0)

    def test_zero_wall(self):
        self.assertEqual(b.idle_core_share(5, 0, 4), 0.0)


class Attribution(unittest.TestCase):
    def test_job_group_names_the_op(self):
        self.assertEqual(b.op_of_group("op-0"), 0)
        self.assertEqual(b.op_of_group("op-17"), 17)

    def test_other_groups_are_not_ops(self):
        self.assertIsNone(b.op_of_group("u-3"))  # an untraced op
        self.assertIsNone(b.op_of_group(""))
        self.assertIsNone(b.op_of_group(None))
        self.assertIsNone(b.op_of_group("op-x"))

    def test_per_layer_counts_jobs_by_group(self):
        r = Reduction().record(spark={
            "jobs": [{"id": 1, "group": "op-0", "start": 3, "end": 4},
                     {"id": 2, "group": "op-0", "start": 4, "end": 5},
                     {"id": 3, "group": "u-1", "start": 5, "end": 6},
                     {"id": 4, "group": "", "start": 5, "end": 6}],
            "stages": []})
        m = b.per_layer(r)
        # ops 0 and 1 are the traced searches; only op 0's two jobs count
        self.assertEqual(m["scheduling.search.jobs"][0], 1.0)

    def test_spark_spans_parent_jobs_and_stages(self):
        record = {
            "ops": [op(0, 0, 10_000_000)],
            "spans": [
                {"id": 0, "parent": -1, "op": 0, "name": "search", "t0": 0, "t1": 10_000_000},
                {"id": 1, "parent": 0, "op": 0, "name": "api.search.exec",
                 "t0": 2_000_000, "t1": 10_000_000},
            ],
            "spark": {
                "jobs": [{"id": 7, "group": "op-0", "start": 3, "end": 8}],
                "stages": [{"id": 4, "attempt": 0, "job": 7, "group": "op-0",
                            "start": 4, "end": 7}],
            },
        }
        job, stage = b.spark_spans(record)
        self.assertEqual((job["parent"], job["t0"], job["t1"]), (1, 3_000_000, 8_000_000))
        self.assertEqual(stage["parent"], job["id"])
        self.assertEqual(stage["op"], 0)


class Reduction(unittest.TestCase):
    def record(self, **over):
        r = {
            "workload": "serve_ingest", "k": 10, "cores": 4, "jvm_start": 1,
            "first_op": 3_000_000,
            "ops": [op(0, 3_000_000, 5_000_000), op(1, 5_000_000, 6_000_000),
                    op(2, 6_000_000, 6_500_000, kind="check", items=1, traced=False)],
            "checks": [{"name": "k rows", "ok": True, "op": 0, "detail": ""},
                       {"name": "recall", "ok": True, "op": -1, "detail": ""}],
            "gauges": {"epoch_bytes": 110, "raw_bytes": 100},
            "recall": {"ivf": {"served": {"1": [1, 2]}, "exact": {"1": [1, 2]}}},
            "layer": {}, "spans": [], "spark": None, "peak_rss_mb": 512.0,
        }
        r.update(over)
        return r

    def test_end_to_end(self):
        m = b.end_to_end(self.record())
        self.assertAlmostEqual(m["setup_s"][0], 0.002)
        self.assertAlmostEqual(m["p50_ms"][0], 1.5)
        self.assertAlmostEqual(m["items_per_s"][0], 128 / 0.003)
        self.assertAlmostEqual(m["space_amp"][0], 1.1)
        self.assertEqual(m["recall_at_10"][0], 1.0)
        self.assertEqual(m["success_rate"][0], 1.0)

    def test_low_recall_is_a_wrong_answer(self):
        r = self.record(recall={"ivf": {"served": {"1": [1, 9]}, "exact": {"1": [1, 2]}}})
        out = b.reduce(r, trace=False)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertEqual(out["metrics"]["recall_at_10"]["value"], 0.5)

    def test_failed_check_fails_the_run(self):
        r = self.record()
        r["checks"].append({"name": "count", "ok": False, "op": -1, "detail": "off by one"})
        out = b.reduce(r, trace=False)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (6, 1))
        self.assertAlmostEqual(out["metrics"]["success_rate"]["value"], 5 / 6)

    def test_per_layer_names_are_stable(self):
        m = b.per_layer(self.record())
        self.assertLessEqual(len(m), 128)
        self.assertIn("scheduling.search.idle_core_share", m)
        self.assertIn("trace.overhead_ms", m)

    def test_directions(self):
        self.assertEqual(b.better("op.flood.qps"), "higher")
        self.assertEqual(b.better("index.search.useful_ratio"), "higher")
        self.assertEqual(b.better("scheduling.search.idle_core_share"), "lower")
        self.assertEqual(b.better("api.search.exec_ms"), "lower")


@unittest.skipUnless(SPEC.is_file(), "BENCHMARK.json not beside perfbench/")
class Spec(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the reduction prints."""

    def test_names_units_directions(self):
        spec = json.loads(SPEC.read_text())
        r = Reduction().record()
        e2e = {k: u for k, (v, u) in b.end_to_end(r).items()}
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, e2e)
        layer = {k: u for k, (v, u) in b.per_layer(r).items()}
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layer)
        for m in spec["per_layer"]:
            self.assertEqual(m["better"], b.better(m["name"]), m["name"])
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


if __name__ == "__main__":
    unittest.main()
