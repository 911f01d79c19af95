"""Self-tests of the benchmark's summary rules (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def op(latency, ok=True, traced=False, written=100, decoded=1000):
    return {"latency_s": latency, "ok": ok, "traced": traced, "bytes_written": written,
            "decoded_bytes": decoded, "error": None if ok else "mismatch: final"}


class PercentileRule(unittest.TestCase):

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)

    def test_nearest_rank_ignores_input_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 40
        self.assertEqual(stats.percentile(xs, 0.9), 5.0)
        self.assertEqual(stats.percentile(xs, 0.5), 3.0)

    def test_median_is_always_reported(self):
        self.assertEqual(stats.percentile([7.0], 0.5, min_beyond=0), 7.0)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_short_runs_report_no_p90(self):
        report = {"ops": [op(1.0)] * 20, "fixed_ops": 5}
        self.assertNotIn("op_p90_s", stats.unbounded(report))
        report = {"ops": [op(float(i)) for i in range(1, 101)], "fixed_ops": 5}
        self.assertEqual(stats.unbounded(report)["op_p90_s"], (90.0, "s", 100))


class FailureCounting(unittest.TestCase):

    def test_every_operation_counts_as_attempted(self):
        ops = [op(1.0), op(2.0, ok=False), op(3.0), op(4.0, ok=False)]
        self.assertEqual(stats.failures(ops), (4, 2))

    def test_clean_run(self):
        self.assertEqual(stats.failures([op(1.0)] * 3), (3, 0))


class EndToEnd(unittest.TestCase):

    def test_metrics_of_a_report(self):
        report = {"ops": [op(9.0, written=900), op(2.0), op(3.0), op(1.0)], "fixed_ops": 2,
                  "setup_s": [6.0, 5.0, 7.0], "rss_peak_mb": 900.0}
        m = stats.end_to_end(report)
        self.assertEqual(m["setup_s"], (6.0, "s", 3))
        self.assertEqual(stats.unbounded(report)["wall_s"], (11.0, "s", 2))
        self.assertEqual(stats.unbounded(report)["first_op_s"], (9.0, "s", 1))
        self.assertEqual(m["op_p50_s"], (2.0, "s", 3))
        self.assertEqual(m["write_amp"], (0.1, "ratio", 3))
        self.assertEqual(m["rss_peak_mb"], (900.0, "MB", 1))


class PerLayer(unittest.TestCase):

    def test_overhead_compares_each_traced_op_with_its_neighbours(self):
        ops = [op(20.0), op(5.0), op(4.5, traced=True), op(3.0), op(3.5, traced=True), op(3.0)]
        self.assertEqual(stats.tracing_overhead(ops), [0.5, 0.5])

    def test_layer_medians_and_units(self):
        report = {"ops": [op(20.0), op(5.0), op(4.5, traced=True), op(3.0)],
                  "layers": [{"land.wall_s": 1.0, "fs.bytes_written": 10.0, "ingest.jobs": 17.0}]}
        m = stats.per_layer(report)
        self.assertEqual(m["land.wall_s"], (1.0, "s", 1))
        self.assertEqual(m["fs.bytes_written"], (10.0, "B", 1))
        self.assertEqual(m["ingest.jobs"], (17.0, "count", 1))
        self.assertEqual(m["trace.overhead_s"], (0.5, "s", 1))


if __name__ == "__main__":
    unittest.main()
