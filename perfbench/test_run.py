"""Tests of the benchmark's own logic, with a stand-in for the harness JVM.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import run

COUNTERS = ["jobs", "stages", "tasks", "task_busy_ms", "task_wait_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_bytes", "output_bytes", "analysis_us", "optimization_us",
            "planning_us"]
SPEC = {"sf": "sf0.01", "pass_s": 1.0, "cover": "streaming",
        "ops": [("a", "kpis"), ("b", "kpis"), ("c", "gold"), ("d", "graph")]}


class FakeHarness:
    """Answers the requests run.measure and run.cover make, as the harness
    does. Ops named in `throws` fail in the timed passes and in the
    coverage (and, with throws_in_setup, in the set-up pass); an op takes
    0.1 s of construction and 0.2 s of action, and one that throws is
    timed up to its exception, 0.1 s into construction."""

    def __init__(self, throws=(), throws_in_setup=False):
        self.throws = set(throws)
        self.throws_in_setup = throws_in_setup
        self.calls = []
        self.total = dict.fromkeys(COUNTERS, 0)
        self.timed = False

    def check(self, ops, dest):
        self.calls.append(("check", tuple(sorted(ops))))
        return {"errors": {op: "boom" for op in ops
                           if self.throws_in_setup and op in self.throws},
                "names": {op: f"{op}_full" for op in ops}}

    def set_trace(self, on):
        self.calls.append(("trace", on))

    def pass_begin(self, name):
        self.timed = True
        self.calls.append(("pass", name))
        return {"counters": dict(self.total)}

    def run(self, op, data_dir=None, dest=None):
        self.calls.append(("run", op))
        c = dict.fromkeys(COUNTERS, 1)
        self.total = {k: v + 2 for k, v in self.total.items()}
        if op in self.throws and self.timed:
            return {"ok": False, "error": "boom", "name": f"{op}_full",
                    "construct_s": 0.1, "action_s": 0.0, "gc_ms": 5,
                    "construct": c, "action": {}}
        return {"ok": True, "error": "", "name": f"{op}_full",
                "construct_s": 0.1, "action_s": 0.2, "gc_ms": 5,
                "construct": c, "action": c}

    def tables(self):
        return {"s": 0.5, "counters": {"jobs": 10}}

    def pass_end(self):
        self.calls.append(("pass_end",))
        return {"heap_mb": 100.0, "counters": dict(self.total)}

    def index_store(self):
        return (0, 0)

    def pipeline(self, data_dir, out):
        stage = {"s": 1.0, "counters": dict.fromkeys(COUNTERS, 3), "error": ""}
        return {"bronze": stage, "silver": stage, "gold": stage}

    def gold_answers(self, out, dest):
        return {"errors": {}}

    def prewarm(self, data_dir):
        return {"build": {"s": 4.0, "counters": dict.fromkeys(COUNTERS, 7), "error": ""}}


class FakeCheck:
    """A twin check that finds the answers of the `wrong` ops differ (and
    every gold table the pipeline wrote right)."""

    def __init__(self, wrong):
        self.wrong = wrong

    def __call__(self, data_dir, answers):
        return FakeCheck(() if os.path.basename(answers) == "gold" else self.wrong)

    def wait(self):
        return {f"{op}_full": "differs" for op in self.wrong}

    def kill(self):
        pass


def measure(ex, seed=1, seconds=2.0, trace=False, wrong=()):
    return run.measure(ex, SPEC, seed, seconds, trace, FakeCheck(wrong), "/nonexistent",
                       "/nonexistent", 4, 0.0, 1000)


class FailuresTest(unittest.TestCase):
    def test_throwing_and_wrong_ops_count_as_failed(self):
        res = measure(FakeHarness(throws=["b"]), trace=True, wrong=["c"])
        passes = 2
        self.assertEqual(res["attempted"], 4 * passes)
        self.assertEqual(res["failed"], 2 * passes)
        self.assertFalse(res["correct"])
        self.assertAlmostEqual(res["layers"]["bench.failed_ratio"], 0.5)
        # only a and d give latency samples; every attempt costs its time,
        # b's up to its exception
        self.assertAlmostEqual(res["e2e"]["ops_per_s"], 2 * passes / (passes * 1.0))
        self.assertAlmostEqual(res["e2e"]["op_p50_s"], 0.3)

    def test_clean_run_is_correct(self):
        res = measure(FakeHarness(), trace=True)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(res["layers"]["bench.failed_ratio"], 0.0)

    def test_failure_in_set_up_aborts(self):
        with self.assertRaises(run.Abort):
            measure(FakeHarness(throws=["b"], throws_in_setup=True))

    def test_coverage_failures_count_as_failed(self):
        for cover, extra, wrong in (("streaming", len(run.STREAM_OPS), "q180"),
                                    ("pipeline", run.GOLD_TWINS, "q43")):
            ex = FakeHarness(throws=["q220"])
            res = measure(ex, trace=True)
            run.cover(ex, SPEC | {"cover": cover}, FakeCheck([wrong]), "/nonexistent",
                      "/nonexistent", res)
            covered = len(run.MODULES) - 3 + extra
            self.assertEqual(res["attempted"], 8 + covered)
            self.assertEqual(res["failed"], 2)
            self.assertFalse(res["correct"])
            self.assertAlmostEqual(res["layers"]["bench.failed_ratio"], 2 / (8 + covered))
            # modules the workload runs keep their timed-pass numbers
            self.assertAlmostEqual(res["layers"]["kpis.construct_s"], 0.2)
            self.assertAlmostEqual(res["layers"]["sim.construct_s"], 0.1)
        self.assertAlmostEqual(res["layers"]["pipeline.gold_s"], 1.0)
        self.assertEqual(res["layers"]["streaming.serve_s"], 0.0)

    def test_wrong_answer_is_caught_by_the_twin_check(self):
        with tempfile.TemporaryDirectory() as d:
            for name in ("t_region", "t_nation"):
                os.makedirs(os.path.join(d, name))
                pq.write_table(pa.table({"n": pa.array([5], pa.int64())}),
                               os.path.join(d, name, "part-0.parquet"))
            with open(os.path.join(d, "oracle_sql.json"), "w") as f:
                json.dump({"t_region": "SELECT count(*) AS n FROM region",
                           "t_nation": "SELECT count(*) AS n FROM nation"}, f)
            check = run.SelfCheck(os.path.join(run.DATA, "sf0.01"), d)
            fails = check.wait()
            self.assertEqual(set(fails), {"t_nation"})
            self.assertIn("duck=25", fails["t_nation"])


class SeedTest(unittest.TestCase):
    def test_seed_permutes_the_op_order_and_nothing_else(self):
        a, b = FakeHarness(), FakeHarness()
        ra, rb = measure(a, seed=1), measure(b, seed=2)
        self.assertNotEqual(a.calls, b.calls)
        self.assertEqual(sorted(map(str, a.calls)), sorted(map(str, b.calls)))

        def passes(calls):
            """The ops each pass ran (the warm-up pass first), as sets."""
            out = [[]]
            for c in calls:
                if c[0] == "pass":
                    out.append([])
                elif c[0] == "run":
                    out[-1].append(c[1])
            return [sorted(p) for p in out]
        self.assertEqual(passes(a.calls), passes(b.calls))
        self.assertEqual(ra["e2e"], rb["e2e"] | {"setup_s": ra["e2e"]["setup_s"]})
        # the same seed gives the same order
        c = FakeHarness()
        measure(c, seed=1)
        self.assertEqual(a.calls, c.calls)

    def test_inputs_are_the_checked_in_tables(self):
        with open(os.path.join(run.DATA, "SHA256SUMS")) as f:
            sums = [line.split() for line in f]
        self.assertEqual(len(sums), 2 * len(run.TABLES))
        for digest, path in sums:
            with open(os.path.join(run.DATA, path), "rb") as f:
                self.assertEqual(hashlib.sha256(f.read()).hexdigest(), digest, path)


class ReportTest(unittest.TestCase):
    def test_report_names_every_metric_with_its_unit(self):
        ex = FakeHarness()
        res = measure(ex, trace=True)
        run.cover(ex, SPEC, FakeCheck(()), "/nonexistent", "/nonexistent", res)
        res["layers"]["bench.scratch_left_mb"] = 0.0
        with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            line = json.loads(run.report(res, trace))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(line["correct"])
            want = {m["name"]: m["unit"] for m in bench[key]}
            self.assertEqual({n: m["unit"] for n, m in line["metrics"].items()}, want)
            for m in line["metrics"].values():
                self.assertIsInstance(m["value"], (int, float))
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))

    def test_tail_is_the_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(run.tail(list(range(1, 41))), (30, 75.0, 40))
        self.assertEqual(run.tail(list(range(1, 51))), (40, 80.0, 50))
        self.assertEqual(run.tail([3.0, 1.0, 2.0, 4.0]), (3.75, 75.0, 4))


if __name__ == "__main__":
    unittest.main()
