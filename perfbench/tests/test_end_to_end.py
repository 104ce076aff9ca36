"""Harness tests: the end-to-end metrics of a run's op records.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402


def op(name, latency_s, steal_ticks=0, cpu_s=1.0):
    return {"name": name, "latency_s": latency_s, "steal_ticks": steal_ticks,
            "cpu_s": cpu_s}


def metrics(ops, ok=None):
    e2e = run.end_to_end({"ops": ops}, ops if ok is None else ok, 30.0)
    return {k: v for k, (v, _) in e2e.items()}


class EndToEnd(unittest.TestCase):
    def test_steal_per_cpu_is_taken_off(self):
        ticks = os.sysconf("SC_CLK_TCK") * os.cpu_count()  # one second per CPU
        self.assertAlmostEqual(run.net_latency(op("a", 3.0, ticks)), 2.0)
        self.assertAlmostEqual(run.net_latency(op("a", 3.0)), 3.0)

    def test_each_kind_counts_once(self):
        # a run that ended mid-pass: `a` has two samples, `b` one
        m = metrics([op("a", 1.0), op("b", 3.0), op("a", 1.2)])
        self.assertAlmostEqual(m["ops_per_s"], 2 / (1.1 + 3.0))
        self.assertAlmostEqual(m["latency_p50_s"], stats.harrell_davis_median([1.1, 3.0]))
        self.assertAlmostEqual(m["cpu_s_per_op"], 1.0)
        self.assertEqual(m["setup_s"], 30.0)

    def test_failed_ops_lower_throughput(self):
        ops = [op("a", 1.0), op("b", 1.0)]
        self.assertAlmostEqual(metrics(ops, ok=ops[:1])["ops_per_s"], 0.5)

    def test_setup_is_net_of_steal(self):
        ticks = os.sysconf("SC_CLK_TCK") * os.cpu_count()
        result = {"jvm_start_ms": 1_000, "first_op_ms": 21_000,
                  "first_op_steal": 500 + 2 * ticks}
        self.assertAlmostEqual(run.setup_seconds(result, 1.5, 500), 19.5)


if __name__ == "__main__":
    unittest.main()
