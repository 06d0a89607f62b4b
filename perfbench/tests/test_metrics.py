"""Checks of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The last test compiles and runs FingerprintCheck.scala against the
harness, so it needs the same Spark and Java as the benchmark.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402
import run  # noqa: E402


def op(pass_, start, build_end, end, rows=10, batches=(), error=None, name="q"):
    return {"op": name, "pass": pass_, "start_ms": start, "build_end_ms": build_end,
            "end_ms": end, "rows": rows, "attempts": max(1, len(batches)),
            "result_rows": 1, "fingerprint": None, "error": error, "cached_mb": 0.0,
            "batches": list(batches)}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.tail_percentile(list(range(1, 100)), 0.9))
        self.assertEqual(metrics.tail_percentile(list(range(1, 101)), 0.9), 90)

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        self.assertIsNone(metrics.tail_percentile([1.0] * 95 + [2.0] * 9, 0.9))

    def test_nearest_rank(self):
        self.assertEqual(metrics.nearest_rank([5, 1, 3], 0.5), 3)
        self.assertEqual(metrics.nearest_rank([4, 1, 3, 2], 0.5), 2)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_ms([(10, 30), (20, 40), (50, 60)]), 40)
        self.assertEqual(metrics.union_ms([(0, 100)], 20, 50), 30)
        self.assertEqual(metrics.union_ms([(0, 10)], 20, 50), 0)

    def test_gap_is_action_time_with_no_job_running(self):
        jobs = [(10, 30), (20, 40), (90, 120)]
        self.assertEqual(metrics.gap_ms(0, 100, jobs), 100 - 30 - 10)
        self.assertEqual(metrics.gap_ms(0, 100, []), 100)
        self.assertEqual(metrics.gap_ms(0, 100, [(-5, 105)]), 0)

    def test_self_time_subtracts_covered_children(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 20), (15, 30), (90, 150)]), 70)


class Throughput(unittest.TestCase):
    def test_rows_per_s_divides_declared_rows_by_median_pass(self):
        self.assertAlmostEqual(metrics.rows_per_s(1000, [2.0, 4.0, 3.0]), 1000 / 3.0)

    def test_end_to_end_from_a_record(self):
        record = {
            "setups": [{"setup_ms": s, "session_ms": 1, "stage_ms": 1, "first_op_ms": 1}
                       for s in (9000, 2000, 3000)],
            "passes": [{"pass": 0}, {"pass": 1}],
            "ops": [op(-1, 0, 0, 500),
                    op(0, 0, 100, 1000, rows=30), op(0, 1000, 1100, 3000, rows=70),
                    op(1, 3000, 3100, 4000, rows=30), op(1, 4000, 4100, 6000, rows=70)],
            "timed": {"cpu_s": 8.0, "gc_ms": 0},
            "heap_retained_mb": 42.0,
        }
        e2e = metrics.end_to_end(record)
        self.assertEqual(e2e["setup_s"], 3.0)
        self.assertEqual(e2e["rows_per_s"], 100 / 3.0)
        self.assertEqual(e2e["op_p50_s"], 1.5)
        self.assertEqual(e2e["cpu_s"], 4.0)
        self.assertEqual(metrics.counts(record), (5, 0))

    def test_streaming_ops_give_one_sample_per_batch(self):
        record = {"ops": [op(0, 0, 10, 900, batches=[
            {"start_ms": 10, "ms": 400.0, "rows": 5},
            {"start_ms": 420, "ms": 480.0, "rows": 5}], error="boom")]}
        self.assertEqual(metrics.op_samples(record), [0.4, 0.48])
        self.assertEqual(metrics.counts(record), (2, 2))


class Streaming(unittest.TestCase):
    def test_late_early_ratio_compares_the_outer_thirds(self):
        def batch(start, ms):
            return {"start_ms": start, "rows": 5, "durations": {"triggerExecution": ms}}
        record = {"ops": [op(0, 0, 10, 1000, batches=[{"start_ms": 10, "ms": 1, "rows": 5}])],
                  "passes": [{"pass": 0}], "cores": 4, "setups": [
                      {"setup_ms": 1, "session_ms": 1, "stage_ms": 1, "first_op_ms": 1}],
                  "storage": {"rdds_left": 0, "tmp_mb_left": 0.0}, "timed": {"gc_ms": 0},
                  "listeners": {"jobs": [], "stages": [], "queries": [],
                                "batches": [batch(100, 400), batch(500, 300)]}}
        self.assertEqual(metrics.per_layer(record)["streaming.late_early_ratio"], 0.75)
        record["listeners"]["batches"] += [batch(800, 100), batch(900, 800),
                                           batch(950, 200), batch(990, 500)]
        self.assertEqual(metrics.per_layer(record)["streaming.late_early_ratio"], 1.0)


class Reconcile(unittest.TestCase):
    def test_jobs_inside_the_action_reconcile_exactly(self):
        o = op(0, 0, 100, 1000)
        jobs = [{"id": 1, "start_ms": 50, "end_ms": 90},
                {"id": 2, "start_ms": 200, "end_ms": 400},
                {"id": 3, "start_ms": 300, "end_ms": 700}]
        self.assertEqual(metrics.reconcile([(o, jobs, [], [])]), 0.0)

    def test_a_job_running_past_the_op_shows(self):
        o = op(0, 0, 100, 1000)
        jobs = [{"id": 1, "start_ms": 500, "end_ms": 1500}]
        self.assertAlmostEqual(metrics.reconcile([(o, jobs, [], [])]), 0.5)


class FingerprintOrderIndependence(unittest.TestCase):
    def test_scala_fingerprint_check(self):
        jars = run.spark_jars()
        cp = run.build(jars)
        out = os.path.join(run.BUILD, "check-classes")
        run.compile_into(out, [os.path.join(HERE, "FingerprintCheck.scala")],
                         os.pathsep.join(cp), jars)
        work = os.path.join(run.BUILD, "runs", "fingerprint-check")
        cmd, env = run.jvm([out] + cp, "FingerprintCheck", [], work, "1g")
        r = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertEqual(r.stdout.strip().splitlines()[-1], "OK")


if __name__ == "__main__":
    unittest.main()
