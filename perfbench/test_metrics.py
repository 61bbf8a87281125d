"""Tests of the benchmark's own arithmetic, on synthetic records.

    python3 perfbench/test_metrics.py
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402


def span(id, parent, name, start_s, end_s, **attrs):
    return {"id": id, "parent": parent, "name": name,
            "start_us": int(start_s * 1e6), "end_us": int(end_s * 1e6), "attrs": attrs}


def job(span_id, start_s, end_s):
    return {"id": 0, "span": span_id, "start_ms": int(start_s * 1e3), "end_ms": int(end_s * 1e3)}


def stage(span_id, tasks_ms, sr_records=0, sw_records=0, sr_bytes=0, run_ms=None):
    return {"id": 0, "attempt": 0, "span": span_id, "tasks_ms": tasks_ms,
            "run_ms": sum(tasks_ms) if run_ms is None else run_ms, "gc_ms": 0,
            "sr_bytes": sr_bytes, "sr_records": sr_records, "sw_bytes": 0,
            "sw_records": sw_records, "spill_disk": 0, "spill_mem": 0}


def record(passes, traced=False, trace=None, probes=(), inputs=None, workload="skew_hot"):
    return {"workload": workload, "seed": 1, "cores": 4, "traced": traced,
            "inputs": inputs or {"left_rows": 60, "right_rows": 40},
            "setup_s": 3.0, "warm_up_s": 1.5, "warm_ups": 2, "passes": passes,
            "probes": list(probes),
            "trace": trace or {"spans": [], "jobs": [], "stages": [], "catalyst": []}}


def untraced(wall, ok=True, written=2_000_000):
    return {"traced": False, "ok": ok, "wall_s": wall, "shuffle_write_bytes": written}


class Arithmetic(unittest.TestCase):
    def test_median_and_sample_counts(self):
        r = metrics.report(record([untraced(3.0), untraced(1.0), untraced(2.0),
                                   {"traced": False, "ok": False}]))
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual(m["pass_s"], 2.0)          # the failed pass is not timed
        self.assertEqual(m["setup_s"], 3.0 + 1.5)   # set-up plus warm-up
        self.assertEqual(m["shuffle_write_mb"], 2.0)
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (4, 1, False))
        self.assertEqual(m["ok_frac"], 0.75)
        self.assertEqual(metrics.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_failed_probe_counts_as_failure(self):
        r = metrics.report(record([untraced(1.0)], probes=[True, False]))
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (3, 1, False))

    def test_self_time_is_span_minus_children_coverage(self):
        # children overlap ([1,3] and [2,5]) and one sticks out of the span
        self.assertAlmostEqual(metrics.self_time(0, 10, [(1, 3), (2, 5), (7, 8), (9, 12)]), 4.0)
        self.assertAlmostEqual(metrics.self_time(0, 10, []), 10.0)

    def test_gap_over_overlapping_job_intervals(self):
        # pass [0, 10]; jobs cover [1, 6] (overlapping) and [8, 10] (clipped)
        jobs = [(1, 4), (3, 6), (8, 12), (4.5, 5)]
        self.assertAlmostEqual(10 - metrics.covered(jobs, 0, 10), 3.0)
        self.assertAlmostEqual(metrics.covered([(2, 2), (5, 4)], 0, 10), 0.0)

    def test_replication_ratio_counts_join_input_stages_only(self):
        stages = [stage(1, [1], sr_records=0, sw_records=70),    # left, salted
                  stage(1, [1], sr_records=0, sw_records=130),   # right, replicated
                  stage(1, [1], sr_records=200, sw_records=900),  # window exchange
                  stage(1, [1], sr_records=900, sw_records=4)]   # final aggregate
        self.assertAlmostEqual(metrics.replication_ratio(stages, 100), 2.0)

    def test_straggler_ratio(self):
        self.assertAlmostEqual(metrics.max_over_p50([100, 100, 100, 900]), 9.0)
        self.assertAlmostEqual(metrics.max_over_p50([0, 0, 5]), 5.0)  # median floored at 1 ms


class TracedRun(unittest.TestCase):
    """One traced skewJoin pass [0, 10] s: call [0, 2] with one job [0.5, 1.5],
    action [2, 9] with jobs [2, 6] and [5, 8.5], then 1 s outside any layer;
    and one plain-join probe."""

    def setUp(self):
        spans = [span(1, 0, "pass", 0, 10), span(2, 1, "skew.call", 0, 2, op="inner"),
                 span(3, 1, "skew.action", 2, 9, op="inner"),
                 span(4, 0, "probe.plain", 20, 23), span(5, 4, "join.plain", 20, 23, op="inner")]
        jobs = [job(2, 0.5, 1.5), job(3, 2, 6), job(3, 5, 8.5), job(5, 20, 23)]
        stages = [stage(2, [100, 100]),
                  stage(3, [400, 400], sw_records=60), stage(3, [300, 300], sw_records=50),
                  stage(3, [100, 100, 100, 1000], sr_records=110, sr_bytes=5000),
                  stage(3, [10], sr_records=4, sr_bytes=10),
                  stage(5, [100, 100, 100, 600], sr_records=100, sr_bytes=4000)]
        trace = {"spans": spans, "jobs": jobs, "stages": stages,
                 "catalyst": [{"root": 1, "ms": 300}, {"root": 1, "ms": 200}, {"root": 4, "ms": 50}]}
        passes = [untraced(9.0), {"traced": True, "ok": True, "wall_s": 10.0, "cpu_s": 25.0,
                                  "shuffle_write_bytes": 0}, untraced(8.0)]
        r = metrics.report(record(passes, traced=True, trace=trace, probes=[True]))
        self.m = {k: v["value"] for k, v in r["metrics"].items()}

    def test_layers_account_for_the_pass(self):
        m = self.m
        self.assertAlmostEqual(m["trace.pass_s"], 10.0)
        self.assertAlmostEqual(m["driver.gap_s"], 10 - 1 - 6.5)
        self.assertAlmostEqual(m["skew.call_s"], 2.0)
        self.assertAlmostEqual(m["skew.call_self_s"], 1.0)
        self.assertEqual(m["skew.call_jobs"], 1)
        self.assertAlmostEqual(m["skew.action_s"], 7.0)
        self.assertAlmostEqual(m["trace.residual_s"], 1.0)
        self.assertEqual((m["driver.jobs"], m["driver.stages"], m["driver.tasks"]), (3, 5, 11))
        self.assertAlmostEqual(m["driver.catalyst_s"], 0.5)

    def test_skew_and_plain_join_figures(self):
        m = self.m
        self.assertAlmostEqual(m["skew.replication_ratio"], 110 / 100)
        self.assertAlmostEqual(m["skew.join_task_max_over_p50"], 10.0)
        self.assertAlmostEqual(m["join.plain_s"], 3.0)
        self.assertAlmostEqual(m["join.plain_task_max_over_p50"], 6.0)
        self.assertAlmostEqual(m["skew.overhead_s"], 2 + 7 - 3.0)

    def test_executor_figures_and_overhead(self):
        m = self.m
        task_s = (200 + 800 + 600 + 1300 + 10) / 1e3
        self.assertAlmostEqual(m["exec.task_s"], task_s)
        self.assertAlmostEqual(m["exec.busy_frac"], task_s / (10 * 4))
        self.assertAlmostEqual(m["trace.overhead_s"], 10.0 - 8.5)
        self.assertEqual(m["trace.passes"], 1)
        self.assertEqual(m["proc.cpu_s"], 25.0)
        self.assertEqual(m["lsh.pairs_s"], 0)  # the layer does not run here

    def test_guards(self):
        metrics_out = {k: {"value": v} for k, v in self.m.items()}
        self.assertEqual(metrics.guards(record([], workload="skew_hot"), metrics_out), [])
        metrics_out["join.plain_task_max_over_p50"] = {"value": 2.9}
        metrics_out["skew.replication_ratio"] = {"value": 1.019}
        self.assertEqual(len(metrics.guards(record([], workload="skew_hot"), metrics_out)), 2)
        self.assertEqual(len(metrics.guards(record([], workload="skew_inert"), metrics_out)), 1)
        metrics_out["skew.replication_ratio"] = {"value": 1.0}
        self.assertEqual(len(metrics.guards(record([], workload="skew_inert"), metrics_out)), 0)
        trivial = record([], workload="dedup_lsh", inputs={"clusters": 5, "max_cluster": 2})
        self.assertEqual(len(metrics.guards(trivial, {"lsh.pairs": {"value": 10}})), 1)


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_the_code(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, metrics.PER_LAYER)
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
