"""Tests of the benchmark's own logic. Run: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402
import report  # noqa: E402


class TailRule(unittest.TestCase):
    def test_fewer_than_twenty_ops_report_the_median(self):
        v, p, n = benchlib.tail([float(i) for i in range(1, 20)])
        self.assertEqual((p, n), (50, 19))
        self.assertEqual(v, 10.0)

    def test_twenty_ops_leave_ten_beyond_the_median(self):
        _, p, _ = benchlib.tail([1.0] * 20)
        self.assertEqual(p, 50)

    def test_highest_percentile_with_ten_beyond(self):
        # n = 40: p75 leaves exactly 10 beyond, p76 only 9.6
        self.assertEqual(benchlib.tail([1.0] * 40)[1], 75)
        # n = 100: p90; n = 1000: capped at p99
        self.assertEqual(benchlib.tail([1.0] * 100)[1], 90)
        self.assertEqual(benchlib.tail([1.0] * 1000)[1], 99)

    def test_interpolated_value(self):
        v, p, _ = benchlib.tail(list(range(40)))
        self.assertEqual(p, 75)
        self.assertAlmostEqual(v, 29.25)


class Attribution(unittest.TestCase):
    def test_short_call_site_names_the_module(self):
        self.assertEqual(benchlib.module_of("collect at DedupSink.scala:139"), "dedupsink")
        self.assertEqual(benchlib.module_of("parquet at Watermarks.scala:22"), "watermarks")

    def test_innermost_known_frame_wins(self):
        long = ("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)\n"
                "graft.ingest.DedupSink$.existingKeys(DedupSink.scala:80)\n"
                "graft.ingest.IngestJob$.run(IngestJob.scala:107)\n")
        self.assertEqual(benchlib.module_of("collect at Dataset.scala:1504", long), "dedupsink")

    def test_query_tiers_and_unknown(self):
        self.assertEqual(benchlib.module_of("count at GraphQueries.scala:90"), "analytics")
        self.assertEqual(benchlib.module_of("run at CompletableFuture.java:1768"), "other")

    def test_aqe_stage_jobs_inherit_their_execution(self):
        jobs = [
            {"id": 1, "start": 5, "callsite": "x at CompletableFuture.java:1768", "exec_id": "7"},
            {"id": 2, "start": 1, "callsite": "localCheckpoint at DedupSink.scala:150", "exec_id": "7"},
            {"id": 3, "start": 6, "callsite": "x at CompletableFuture.java:1768", "exec_id": "8"},
            {"id": 4, "start": 7, "callsite": "parquet at Watermarks.scala:22", "exec_id": "9"},
            {"id": 5, "start": 8, "callsite": "x at CompletableFuture.java:1768", "exec_id": "10"},
        ]
        self.assertEqual(benchlib.attribute_jobs(jobs),
                         {1: "dedupsink", 2: "dedupsink", 3: "watermarks", 4: "watermarks", 5: "other"})

    def test_family(self):
        self.assertEqual(benchlib.family_of("s1_f1_new_keys_anti"), "s")
        self.assertEqual(benchlib.family_of("tpch_q1_pricing_summary"), "tpch")
        self.assertEqual(benchlib.family_of("k10_merge_upsert"), "k")


class Spans(unittest.TestCase):
    def test_union(self):
        self.assertEqual(benchlib.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(benchlib.union_ms([]), 0)

    def test_self_time_is_span_minus_children(self):
        ops = [{"name": "a", "start": 100, "end": 200}, {"name": "b", "start": 200, "end": 260}]
        jobs = [
            {"id": 0, "start": 110, "end": 150},
            {"id": 1, "start": 140, "end": 170},  # overlaps job 0: counted once
            {"id": 2, "start": 210, "end": 300},  # runs past its op: clipped
            {"id": 3, "start": 50, "end": 60},    # before any op: the run's child
        ]
        spans = {s["id"]: s for s in benchlib.build_spans(0, 400, ops, jobs)}
        self.assertEqual(spans["op0"]["self_ms"], 100 - 60)
        self.assertEqual(spans["op1"]["self_ms"], 60 - 50)
        self.assertEqual(spans["job0"]["parent"], "op0")
        self.assertEqual(spans["job1"]["op"], "op0")
        self.assertEqual(spans["job3"]["parent"], "run")
        self.assertEqual(spans["run"]["self_ms"], 400 - (100 + 60 + 10))
        self.assertEqual(spans["job2"]["self_ms"], 90)


def _op(tick, platform, inserted, per_tenant):
    return {"name": f"t{tick}/{platform}", "tick": tick, "platform": platform,
            "inserted": inserted, "per_tenant": per_tenant}


class Ledger(unittest.TestCase):
    ledger = [
        {"tick": 0, "platform": "twitter", "new": 3, "per_tenant": {"a": 2, "b": 1}},
        {"tick": 1, "platform": "twitter", "new": 0, "per_tenant": {}},
    ]

    def test_agreement(self):
        ops = [_op(0, "twitter", 3, {"a": 2, "b": 1}), _op(1, "twitter", 0, {})]
        states = [{"tick": 0, "after": {"a|twitter": 5, "b|twitter": 5},
                   "expected": {"a|twitter": 5, "b|twitter": 5}}]
        self.assertEqual(benchlib.ledger_failures(ops, self.ledger, states), {})

    def test_count_and_tenant_mismatches(self):
        ops = [_op(0, "twitter", 3, {"a": 3}), _op(1, "twitter", 1, {"a": 1})]
        bad = benchlib.ledger_failures(ops, self.ledger, [])
        self.assertIn("per-tenant", bad["t0/twitter"])
        self.assertIn("inserted 1 != ledger 0", bad["t1/twitter"])

    def test_watermark_mismatch_fails_that_tick_and_platform(self):
        states = [{"tick": 1, "after": {"a|twitter": 5}, "expected": {"a|twitter": 9}}]
        ops = [_op(0, "twitter", 3, {"a": 2, "b": 1}), _op(1, "twitter", 0, {})]
        self.assertEqual(list(benchlib.ledger_failures(ops, self.ledger, states)), ["t1/twitter"])

    def test_sink_checks(self):
        sink_of = {"twitter": "tw", "twitter2": "tw", "reddit": "rd"}
        ops = [_op(0, "twitter", 3, {}), _op(0, "twitter2", 2, {}), _op(0, "reddit", 4, {})]
        ok = {"sinks": {"tw": {"rows": 5, "dup_keys": 0}, "rd": {"rows": 4, "dup_keys": 0}},
              "retick": {"inserted": 0, "failures": []}}
        self.assertEqual(benchlib.sink_failures(ok, ops, sink_of), {})
        dup = dict(ok, sinks={"tw": {"rows": 5, "dup_keys": 1}, "rd": {"rows": 3, "dup_keys": 0}})
        self.assertEqual(sorted(benchlib.sink_failures(dup, ops, sink_of)),
                         ["t0/reddit", "t0/twitter", "t0/twitter2"])
        retick = dict(ok, retick={"inserted": 2, "failures": []})
        self.assertEqual(len(benchlib.sink_failures(retick, ops, sink_of)), 3)


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_exactly_the_reported_metrics(self):
        path = os.path.join(os.path.dirname(report.HERE), "BENCHMARK.json")
        with open(path) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], report.PER_LAYER)


class Summary(unittest.TestCase):
    def record(self, fingerprint):
        ops = [{"pass": 0, "name": f"q{i}", "phase": "query", "start": 1000 * i,
                "end": 1000 * i + 500 + i, "error": None, "rows": 10,
                "fingerprint": fingerprint if i == 0 else "ok"} for i in range(3)]
        return {"workload": "catalog", "seed": 1, "cores": 4, "heap_mb": 4096,
                "launched_ms": 0, "first_op_ms": 2500, "ops": ops, "checks": [],
                "setup": {"sparkentry.prestage_s": 1.5},
                "passes": [{"pass": 0, "wall_s": 3.0, "delivered": 30}],
                "jvm": {"rss_peak_mb": 900.0}}

    def test_end_to_end_metrics_and_verdicts(self):
        expected = {"q0": "ok", "q1": "ok", "q2": "ok"}
        r = report.summarize(self.record("ok"), "catalog_x", False, expected, report.SINK_OF)
        self.assertTrue(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (3, 0))
        self.assertEqual(set(r["metrics"]), {n for n, _ in report.END_TO_END})
        self.assertEqual(r["metrics"]["setup_s"]["value"], 2.5)
        self.assertEqual(r["metrics"]["op_p50_s"]["value"], 0.501)
        self.assertEqual(r["metrics"]["rows_per_s"]["value"], 10.0)

    def test_a_failed_prestage_fails_its_query(self):
        rec = self.record("ok")
        rec["checks"] = [{"op": "q1", "check": "prestage", "ok": False, "detail": "boom"}]
        r = report.summarize(rec, "catalog_x", False, {"q0": "ok", "q1": "ok", "q2": "ok"},
                             report.SINK_OF)
        self.assertEqual((r["correct"], r["failed"]), (False, 1))

    def test_a_wrong_fingerprint_fails_its_op(self):
        expected = {"q0": "ok", "q1": "ok", "q2": "ok"}
        r = report.summarize(self.record("bad"), "catalog_x", False, expected, report.SINK_OF)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()
