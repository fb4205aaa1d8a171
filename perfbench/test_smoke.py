"""The benchmark's own tests, taking seconds:

    python3 perfbench/run.py --smoke

One JVM runs every workload at toy size with tracing on. A bad line is
injected into the stream output and a query that throws joins
cdc_batch. Each failure must land in `failed`, stay out of every timing,
and every metric BENCHMARK.json names must be present in the output.
"""
import argparse
import json
import os
import shutil
import unittest

import run

SEED = 5


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(run.WORK, ignore_errors=True)
        run.batch_inputs(SEED, smoke=True)
        args = argparse.Namespace(seed=SEED, seconds=1, trace=1)
        run.run_jvm(run.WORKLOADS, args, extra=["--smoke"])
        cls.out = {w: {t: run.collect(w, t) for t in (0, 1)} for w in run.WORKLOADS}

    def test_failures_counted(self):
        for w in run.WORKLOADS:
            out = self.out[w][0][0]
            self.assertEqual(out["failed"], 1, w)
            self.assertFalse(out["correct"], w)
            self.assertGreater(out["attempted"], out["failed"], w)

    def test_bad_stream_line_not_timed(self):
        live = self.out["live_tail"][0][2]["detail"]
        self.assertGreater(live["measured_events"], 1)
        # the corrupted event is the first measured one: it is the one
        # event of the measured window without a latency sample
        self.assertEqual(live["latency_samples"], live["measured_events"] - 1)

    def test_throwing_query_not_timed(self):
        result = self.out["cdc_batch"][0][2]
        queries = {q["name"]: q for q in result["detail"]["queries"]}
        bad = queries.pop("smoke_throws")
        self.assertIn("injected failure", bad["error"])
        self.assertEqual(bad["build_s"] + bad["execute_s"], [])
        self.assertEqual(result["detail"]["oracle_failures"], {})
        ok = [q for q in queries.values() if q["error"] is None]
        self.assertEqual(len(ok), 2)
        # throughput counts the two good queries and only their time
        medians = [run.pct([b + e for b, e in zip(q["build_s"], q["execute_s"])], 50)
                   for q in ok]
        units = self.out["cdc_batch"][0][0]["metrics"]["units_per_s"]["value"]
        self.assertAlmostEqual(units, 2 / sum(medians))

    def test_every_metric_present(self):
        spec_path = os.path.join(run.ROOT, "BENCHMARK.json")
        spec = json.load(open(spec_path)) if os.path.exists(spec_path) else None
        if spec:
            self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.E2E)
            self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.LAYERS)
            self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)
        for w in run.WORKLOADS:
            for trace, names in ((0, run.E2E), (1, run.LAYERS)):
                metrics = self.out[w][trace][0]["metrics"]
                self.assertEqual(set(metrics), set(names), (w, trace))
                for k, m in metrics.items():
                    self.assertIsInstance(m["value"], float, (w, k))
            for k in run.E2E:
                self.assertGreater(self.out[w][0][0]["metrics"][k]["value"], 0, (w, k))
        # the graph query checkpoints eagerly while it is built
        self.assertGreater(self.out["cdc_batch"][1][0]["metrics"]
                           ["query.jobs_in_build"]["value"], 0)
        # writeBatch scans each batch twice (the injected line adds one
        # emitted line, hence not exactly 2)
        self.assertAlmostEqual(self.out["live_tail"][1][0]["metrics"]
                               ["source.read_amplification"]["value"], 2.0, places=2)

    def test_spans_written(self):
        for w in run.WORKLOADS:
            spans = json.load(open(os.path.join(run.WORK, w, "spans.json")))
            self.assertTrue(spans, w)
            names = {s["name"] for s in spans}
            expect = {"build", "execute"} if w == "cdc_batch" else {"trigger", "writeBatch"}
            self.assertEqual(names, expect, w)


def main():
    suite = unittest.defaultTestLoader.loadTestsFromTestCase(Smoke)
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    return 0 if ok else 1
