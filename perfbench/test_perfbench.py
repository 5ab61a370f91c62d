#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            # from the repo root

Reporter tests need nothing but Python. The generator test builds the
harness (perfbench/build.py) and runs its JVM self-test.
"""
import json
import os
import random
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import report  # noqa: E402


def span(kind, start, end, **attrs):
    return {"kind": kind, "start": start, "end": end, "attrs": attrs, "name": "build", "op": 0}


def random_tree(rnd, lo, hi, depth=1):
    """Properly nested spans under [lo, hi), siblings possibly overlapping."""
    out = []
    if depth >= len(report.LAYERS):
        return out
    for _ in range(rnd.randint(0, 3)):
        a = rnd.uniform(lo, hi)
        b = rnd.uniform(a, hi)
        kind = report.LAYERS[depth]
        out.append(span(kind, a, b))
        out += random_tree(rnd, a, b, depth + 1)
    return out


class SelfTimeTest(unittest.TestCase):
    def test_nested_layers(self):
        spans = [span("call", 10, 20), span("action", 12, 30), span("job", 13, 18),
                 span("stage", 14, 16), span("stage", 15, 17)]
        st = report.self_times(0, 40, spans)
        self.assertAlmostEqual(st["stage"], 3)       # 14..17
        self.assertAlmostEqual(st["job"], 2)         # 13..14, 17..18
        self.assertAlmostEqual(st["action"], 13)     # 12..13, 18..30
        self.assertAlmostEqual(st["call"], 2)        # 10..12
        self.assertAlmostEqual(st["op"], 20)         # 0..10, 30..40

    def test_spans_are_clipped_to_the_op(self):
        st = report.self_times(100, 10, [span("job", 95, 104), span("stage", 108, 130)])
        self.assertAlmostEqual(st["job"], 4)
        self.assertAlmostEqual(st["stage"], 2)
        self.assertAlmostEqual(st["op"], 4)

    def test_open_span_runs_to_op_end(self):
        st = report.self_times(0, 10, [span("action", 4, None)])
        self.assertAlmostEqual(st["action"], 6)

    def test_self_times_sum_to_wall(self):
        rnd = random.Random(7)
        for _ in range(200):
            wall = rnd.uniform(1, 1000)
            spans = random_tree(rnd, 0, wall)
            st = report.self_times(0, wall, spans)
            self.assertLessEqual(abs(sum(st.values()) - wall), report.SELF_SUM_TOLERANCE_MS)
            self.assertTrue(all(v >= -1e-9 for v in st.values()))

    def test_union(self):
        self.assertAlmostEqual(report.union_ms([(0, 5), (3, 8), (10, 12)], 0, 100), 10)
        self.assertAlmostEqual(report.union_ms([(0, 5), (3, 8)], 4, 6), 2)
        self.assertAlmostEqual(report.union_ms([], 0, 10), 0)

    def test_layer_metrics_from_a_dump(self):
        ops = [{"id": i, "phase": "measure", "key": "k", "module": "analytics", "start_ms": 1000.0 * i,
                "wall_ms": 100.0, "rows": 10, "gc_ms": 1.0, "traced": i % 2 == 1, "error": None}
               for i in range(4)]
        spans = []
        for i in (1, 3):
            t = 1000.0 * i
            spans += [dict(span("call", t, t + 20), op=i),
                      dict(span("action", t + 30, t + 90, **{"catalyst.planning_ms": 5.0}), op=i),
                      dict(span("job", t + 40, t + 80), op=i),
                      dict(span("stage", t + 45, t + 75, tasks=4, task_run_ms=100.0), op=i)]
        res = {"ops": ops, "spans": spans, "live_heap_mb": [50.0, 40.0], "report": {}}
        m = report.layer_metrics(res)
        self.assertAlmostEqual(m["plan.build_ms"], 20)
        self.assertAlmostEqual(m["catalyst.planning_ms"], 5)
        self.assertAlmostEqual(m["spark.driver_gap_ms"], 60)
        self.assertAlmostEqual(m["spark.tasks_per_op"], 4)
        self.assertAlmostEqual(m["self.stage_ms"], 30)
        self.assertAlmostEqual(m["self.job_ms"], 10)
        self.assertAlmostEqual(m["self.action_ms"], 20)
        self.assertAlmostEqual(m["self.call_ms"], 20)
        self.assertAlmostEqual(m["self.op_ms"], 20)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.0)


class QuantileTest(unittest.TestCase):
    def test_betainc(self):
        self.assertAlmostEqual(report.betainc(1, 1, 0.3), 0.3)        # uniform
        self.assertAlmostEqual(report.betainc(2, 2, 0.5), 0.5)        # symmetric
        self.assertAlmostEqual(report.betainc(2, 3, 0.4), 0.5248)     # 1 - (1-x)^4 - 4x(1-x)^3

    def test_harrell_davis(self):
        self.assertAlmostEqual(report.quantile(list(range(1, 22)), 0.5), 11)  # symmetric sample
        self.assertEqual(report.quantile([5.0], 0.9), 5.0)
        xs = [1.0] * 10 + [2.0] * 11
        q90 = report.quantile(xs, 0.9)
        self.assertTrue(1.9 < q90 <= 2.0)
        # a swap of two nearly equal values barely moves the estimate
        a = [1, 2, 3, 10, 10.1, 20, 30]
        b = [1, 2, 3, 10.1, 10, 20, 30]
        self.assertAlmostEqual(report.quantile(a, 0.5), report.quantile(b, 0.5))


class GeneratorTest(unittest.TestCase):
    def test_seeded_inputs(self):
        root = os.path.dirname(HERE)
        classes, jars = build.build(root)
        with tempfile.TemporaryDirectory(dir=os.path.join(root, ".perfbench")) as tmp:
            out = os.path.join(tmp, "selftest.json")
            subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                            "perfbench.Main", "selftest", out], check=True, cwd=tmp)
            r = json.load(open(out))
        for k in ("same_seed_rows_equal", "same_seed_csv_equal", "same_seed_totals_equal",
                  "other_seed_rows_differ", "other_seed_csv_differ", "other_seed_totals_differ"):
            self.assertTrue(r[k], k)
        self.assertAlmostEqual(r["dirty_frac"], 0.03, delta=0.003)
        self.assertGreater(r["top1_product_share"], 0.05)  # Zipf skew


if __name__ == "__main__":
    unittest.main()
