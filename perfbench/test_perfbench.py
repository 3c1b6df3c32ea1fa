"""Tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import gen
import metrics
import oracle


class TailPercentile(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(99), 89)

    def test_highest_percentile_with_ten_beyond(self):
        for n in range(20, 200):
            p = metrics.tail_percentile(n)
            rank = -(-p * n // 100)
            self.assertGreaterEqual(n - rank, 10, n)
            if p < 90:
                next_rank = -(-(p + 1) * n // 100)
                self.assertLess(n - next_rank, 10, n)

    def test_falls_back_to_median_below_twenty_samples(self):
        self.assertEqual(metrics.tail_percentile(19), 50)
        self.assertEqual(metrics.tail_percentile(5), 50)

    def test_percentile_values(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50.5)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 100), []), 100)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 40), (30, 60)]), 50)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 100), [(-20, 10), (90, 130)]), 80)
        self.assertEqual(metrics.self_time((0, 100), [(200, 300)]), 100)

    def test_self_times_by_layer(self):
        ops = [{"id": "op0", "startUs": 0, "endUs": 100_000, "ms": 100.0}]
        spans = [
            {"id": 1, "parent": -1, "op": "op0", "name": "op", "startUs": 0, "endUs": 100_000},
            {"id": 2, "parent": 1, "op": "op0", "name": "build", "startUs": 0, "endUs": 20_000},
            {"id": 3, "parent": 1, "op": "op0", "name": "collect",
             "startUs": 20_000, "endUs": 100_000}]
        jobs = [{"id": 0, "op": "op0", "site": "", "startMs": 30, "endMs": 90, "stageIds": [0]}]
        stages = {0: {"id": 0, "startMs": 40, "endMs": 80}}
        phases = [{"func": "collect", "phase": "planning", "startMs": 22, "endMs": 27}]
        got = metrics.self_times(ops, spans, jobs, stages, phases)
        self.assertEqual(got["op"], 0)
        self.assertEqual(got["build"], 20)
        self.assertEqual(got["collect"], 80 - 60 - 5)
        self.assertEqual(got["job"], 20)
        self.assertEqual(got["stage"], 40)
        self.assertEqual(got["catalyst"], 5)


class Attribution(unittest.TestCase):
    def test_jobs_grouped_by_their_op_property(self):
        jobs = [{"id": 1, "op": "op3"}, {"id": 2, "op": "op4"},
                {"id": 3, "op": "op3"}, {"id": 4, "op": ""}]
        got = metrics.jobs_by_op(jobs)
        self.assertEqual(sorted(j["id"] for j in got["op3"]), [1, 3])
        self.assertEqual([j["id"] for j in got["op4"]], [2])
        self.assertNotIn("", got)

    def test_per_layer_counts_only_the_ops_own_jobs(self):
        ops = [{"id": "op1", "kind": "q", "startUs": 0, "endUs": 50_000, "ms": 50.0,
                "firstMs": 50.0, "gcMs": 0}]
        events = [
            {"type": "job", "id": 0, "op": "op1", "site": "collect at Foo.scala:1",
             "startMs": 10, "endMs": 40, "stageIds": [0]},
            {"type": "job", "id": 1, "op": "op0", "site": "", "startMs": 10,
             "endMs": 40, "stageIds": [1]},
            {"type": "stage", "id": 0, "tasks": 4, "startMs": 10, "endMs": 40, "runMs": 80,
             "cpuMs": 60, "inputRows": 1000, "inputBytes": 0, "shuffleReadBytes": 0,
             "shuffleWriteBytes": 0, "spillBytes": 0},
            {"type": "stage", "id": 1, "tasks": 9, "startMs": 10, "endMs": 40, "runMs": 1,
             "cpuMs": 1, "inputRows": 5, "inputBytes": 0, "shuffleReadBytes": 0,
             "shuffleWriteBytes": 0, "spillBytes": 0}]
        meta = {"memo": {}, "artifact_builds_in_timed_run": 0}
        m = metrics.per_layer("pipeline_tail", ops, [], events, meta, 4, ops)
        self.assertEqual(m["spark.jobs_per_op"], 1)
        self.assertEqual(m["spark.tasks_per_op"], 4)
        self.assertEqual(m["spark.input_rows"], 1000)
        self.assertEqual(m["spark.driver_collect_ms"], 10)

    def test_phase_attributed_by_time(self):
        ops = [{"id": "a", "startUs": 0, "endUs": 10_000},
               {"id": "b", "startUs": 20_000, "endUs": 30_000}]
        self.assertEqual(metrics.op_for_time(ops, 25_000), "b")
        self.assertIsNone(metrics.op_for_time(ops, 15_000))


class Failures(unittest.TestCase):
    def test_throw_and_wrong_result_both_fail(self):
        ops = [{"id": "1", "ok": True}, {"id": "2", "ok": False},
               {"id": "3", "ok": True}, {"id": "4", "ok": True}]
        verdicts = {"1": True, "3": False, "4": None}
        self.assertEqual(metrics.count_failures(ops, verdicts), (4, 2))

    def test_failed_ops_leave_the_latencies(self):
        ok = [{"id": str(i), "kind": "k", "ms": 10.0, "firstMs": None} for i in range(3)]
        e2e, _ = metrics.end_to_end(ok, {}, 1.0, 1.0)
        self.assertEqual(e2e["op_p50_ms"][0], 10.0)
        self.assertEqual(e2e["ops_per_s"][0], 100.0)


class FirstPartial(unittest.TestCase):
    def test_median_over_ops_that_stream_partials(self):
        ops = [{"id": str(i), "ms": ms, "firstMs": first} for i, (ms, first) in
               enumerate([(100.0, None), (200.0, 20.0), (300.0, 30.0), (50.0, None)])]
        e2e, _ = metrics.end_to_end(ops, {}, 1.0, 1.0)
        self.assertEqual(e2e["first_partial_p50_ms"][0], 25.0)

    def test_final_latency_without_partials(self):
        ops = [{"ms": 100.0, "firstMs": None}, {"ms": 300.0, "firstMs": None}]
        self.assertEqual(metrics.first_results(ops), [100.0, 300.0])


class Contract(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the benchmark prints."""

    def test_metric_names_and_units(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        op = {"id": "op0", "kind": "k", "startUs": 0, "endUs": 1, "ms": 1.0,
              "firstMs": 1.0, "gcMs": 0}
        e2e, _ = metrics.end_to_end([op], {}, 1.0, 1.0)
        self.assertEqual({(m["name"], m["unit"]) for m in spec["end_to_end"]},
                         {(k, u) for k, (_, u) in e2e.items()})
        meta = {"memo": {}, "artifact_builds_in_timed_run": 0}
        meta.update({f"functions.{k}.{s}": 0 for k in KERNELS
                     for s in ("ns_per_row", "ns_per_row_no_wsc", "in_wholestage")})
        layer = metrics.per_layer("gesture_session", [op], [], [], meta, 4, [op])
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [(k, metrics.unit_of(k)) for k in layer])


KERNELS = ("SimHash60", "Md5Long60", "MinHashSig", "MisraGries", "HllBuildAgg",
           "KllBuildAgg", "Cos2ThresholdGe")


class Oracle(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dir = os.path.join(cls.tmp.name, "a")
        gen.generate(cls.dir, 3)
        cls.orc = oracle.Oracle(cls.dir, {})

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        other = os.path.join(self.tmp.name, "b")
        gen.generate(other, 3)
        for t in ("lineitem", "documents", "embeddings"):
            with open(os.path.join(self.dir, f"{t}.parquet"), "rb") as a, \
                    open(os.path.join(other, f"{t}.parquet"), "rb") as b:
                self.assertEqual(a.read(), b.read(), t)

    def test_summary_checked_against_duckdb(self):
        pred = "l_quantity <= 10"
        n = self.orc.q(f"SELECT count(*) FROM lineitem WHERE {pred}")[0][0]
        op = {"kind": "summary", "key": "s", "params": {"pred": pred}}
        self.assertTrue(self.orc.check(dict(op, rows=[[n]])))
        self.assertFalse(self.orc.check(dict(op, key="s2", rows=[[n + 1]])))

    def test_histogram_bucket_replays_numeric_bucket(self):
        # least(floor((x - lo) / step), n - 1): the top edge clamps into the last bucket
        got = self.orc.q(f"SELECT {oracle.bucket_sql('x', 0.0, 10.0, 4)} "
                         f"FROM (VALUES (0.0), (2.5), (9.99), (10.0)) t(x)")
        self.assertEqual([r[0] for r in got], [0, 1, 3, 3])

    def test_named_query_rows_match_by_column_name_in_any_order(self):
        want = oracle.Oracle(self.dir, {"oracle_sql": {"q": "SELECT * FROM (VALUES "
                                                      "(1, 'a', 0.5), (2, 'b', 1.25)) t(k, s, x)"}})
        op = {"kind": "q", "key": "q|collect", "params": {}}
        self.assertTrue(want.check(dict(op, rows=[["x", "k", "s"], [1.25, 2, "b"], [0.5, 1, "a"]])))
        self.assertFalse(want.check(dict(op, key="q2|collect", kind="q",
                                         rows=[["x", "k", "s"], [1.25, 2, "b"], [0.5, 1, "c"]])))
        self.assertFalse(want.check(dict(op, key="q3|collect", kind="q",
                                         rows=[["x", "k", "t"], [1.25, 2, "b"], [0.5, 1, "a"]])))
        self.assertTrue(want.check(dict(op, key="q", rows=[[2]])))
        self.assertFalse(want.check(dict(op, key="q", rows=[[3]])))

    def test_map_gestures_carry_no_result(self):
        self.assertIsNone(self.orc.check({"kind": "filter", "key": "f", "params": {},
                                          "rows": []}))


if __name__ == "__main__":
    unittest.main()
