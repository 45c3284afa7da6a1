"""Self-tests of the benchmark harness.

  python3 -m unittest discover -s perfbench/tests

The end-to-end failure-accounting test builds the program and runs a JVM;
it only runs when PERFBENCH_E2E=1.
"""
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import run  # noqa: E402


def scratch():
    os.makedirs(run.WORK, exist_ok=True)
    return tempfile.mkdtemp(dir=run.WORK, prefix="test-")


class GeneratedInput(unittest.TestCase):
    def test_corpus_same_seed_same_bytes(self):
        d = scratch()
        try:
            gen_tables.write(os.path.join(d, "a"), 0.001, 1)
            gen_tables.write(os.path.join(d, "b"), 0.001, 1)
            gen_tables.write(os.path.join(d, "c"), 0.001, 2)
            for t in os.listdir(os.path.join(d, "a")):
                a = open(os.path.join(d, "a", t), "rb").read()
                self.assertEqual(a, open(os.path.join(d, "b", t), "rb").read(), t)
            self.assertNotEqual(open(os.path.join(d, "a", "lineitem.parquet"), "rb").read(),
                                open(os.path.join(d, "c", "lineitem.parquet"), "rb").read())
        finally:
            shutil.rmtree(d)


class RegistrySample(unittest.TestCase):
    def setUp(self):
        self.spec = run.full_pass_times()

    def half(self, workload):
        return {n for n, e in self.spec.items()
                if (e["module"] == "StreamingOps") == (workload == "registry_streams")}

    def test_fixed_and_disjoint(self):
        s = run.registry_sample("registry_streams", self.spec)
        b = run.registry_sample("registry_batch", self.spec)
        self.assertEqual(s, run.registry_sample("registry_streams", self.spec))
        self.assertEqual(b, run.registry_sample("registry_batch", self.spec))
        self.assertFalse(set(s) & set(b))

    def test_streams_sample_is_streams_and_runs_the_ais_chain(self):
        s = run.registry_sample("registry_streams", self.spec)
        self.assertEqual({self.spec[n]["module"] for n in s}, {"StreamingOps"})
        self.assertTrue(set(run.STREAM_PINNED) <= set(s))
        self.assertEqual(len(s), run.STREAM_PICKS + len(run.STREAM_PINNED))

    def test_batch_sample_covers_every_other_module(self):
        b = run.registry_sample("registry_batch", self.spec)
        self.assertEqual({self.spec[n]["module"] for n in b},
                         set(run.MODULES) - {"StreamingOps"})

    def test_weights_count_the_entries_each_sample_stands_for(self):
        for w in run.WORKLOADS:
            self.assertAlmostEqual(sum(run.registry_sample(w, self.spec).values()),
                                   len(self.half(w)))

    def test_layer_shares_follow_the_full_registry(self):
        for w in run.WORKLOADS:
            got = run.sample_shares(run.registry_sample(w, self.spec), self.spec)
            exp = run.sample_shares(dict.fromkeys(self.half(w), 1.0), self.spec)
            for k in ("build", "plan", "exec"):
                self.assertAlmostEqual(got[k], exp[k], delta=0.08, msg=(w, k))
            self.assertAlmostEqual(got["seconds"] / exp["seconds"], 1.0, delta=0.15, msg=w)

    def test_quantile_pick(self):
        t = {str(i): float(i) for i in range(10)}
        self.assertEqual(run.quantile_pick(list(t), t, 2), ["2", "7"])
        self.assertEqual(run.quantile_pick(list(t), t, 1), ["5"])


class Percentile(unittest.TestCase):
    def test_known_values(self):
        self.assertEqual(run.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(run.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(run.percentile([4, 1, 3, 2], 100), 4)
        self.assertEqual(run.percentile([7], 95), 7)
        self.assertAlmostEqual(run.percentile(range(101), 95), 95.0)
        self.assertAlmostEqual(run.percentile([10, 20], 25), 12.5)

    def test_matches_numpy(self):
        import numpy as np
        rng = random.Random(1)
        for n in (2, 3, 10, 101, 1000):
            xs = [rng.random() for _ in range(n)]
            for q in (1, 25, 50, 75, 95, 99):
                self.assertAlmostEqual(run.percentile(xs, q), float(np.percentile(xs, q)))

    def test_median_agrees_with_statistics(self):
        xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
        self.assertAlmostEqual(run.percentile(xs, 50), statistics.median(xs))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)


def registry_result(statuses, check_statuses=None, timed_passes=1):
    """A JVM registry result: pass 0 (check) and timed-pass calls."""
    entries = []
    for i, st in enumerate(check_statuses or ["ok"] * len(statuses)):
        entries.append({"name": f"e{i}", "module": "RelationalOps", "status": st, "pass": 0})
    for p in range(1, timed_passes + 1):
        for i, st in enumerate(statuses):
            e = {"name": f"e{i}", "module": "RelationalOps", "status": st, "pass": p}
            if st == "ok":
                e.update(build_s=0.1 * (i + 1) * p, plan_s=0.01, exec_s=0.2)
            entries.append(e)
    return {"entries": entries, "timed_passes": timed_passes, "peak_rss_mb": 100.0,
            "cores": 4, "layers": {},
            "interference": {"steal_s": 0, "other_s": 0, "gc_s": 0},
            "timed_wall_s": 1.0, "trace_overhead_ns": 0}


class FailureAccounting(unittest.TestCase):
    def args(self, trace=0):
        return type("A", (), {"trace": trace})()

    def test_throwing_entry_counts_and_is_not_timed(self):
        r = registry_result(["ok", "err:IllegalStateException: deliberate failure", "ok"])
        res = run.summarize_registry(self.args(), r, 1.0, ["e0", "e1", "e2"], {})
        self.assertEqual((res["attempted"], res["failed"]), (6, 1))
        self.assertIn("e1 (pass 1)", res["failures"])
        self.assertFalse(res["correct"])
        ok = [e for e in r["entries"] if e["status"] == "ok" and e["pass"] == 1]
        self.assertAlmostEqual(res["e2e"]["wall_s"],
                               sum(e["build_s"] + e["plan_s"] + e["exec_s"] for e in ok))

    def test_failure_in_the_check_pass_counts(self):
        r = registry_result(["ok", "ok"], check_statuses=["ok", "err:X: boom"])
        res = run.summarize_registry(self.args(), r, 1.0, ["e0", "e1"], {})
        self.assertEqual((res["attempted"], res["failed"]), (4, 1))
        self.assertIn("e1 (pass 0)", res["failures"])

    def test_missing_and_timed_out_entries_count(self):
        r = registry_result(["ok", "timeout"])
        res = run.summarize_registry(self.args(), r, 1.0, ["e0", "e1", "e9"], {})
        self.assertEqual(res["failed"], 3)
        self.assertEqual(res["failures"]["e9"], "missing")

    def test_entry_time_is_the_median_over_timed_passes(self):
        r = registry_result(["ok", "ok"], timed_passes=3)
        res = run.summarize_registry(self.args(), r, 1.0, ["e0", "e1"], {})
        self.assertEqual((res["attempted"], res["failed"]), (8, 0))
        # e_i takes 0.1 * (i + 1) * pass + 0.21 s; the median pass is 2
        self.assertAlmostEqual(res["e2e"]["wall_s"], (0.2 + 0.21) + (0.4 + 0.21))

    def test_entry_failing_in_one_pass_leaves_every_timing(self):
        r = registry_result(["ok", "ok"], timed_passes=2)
        r["entries"][-1] = dict(r["entries"][-1], status="timeout")
        del r["entries"][-1]["build_s"]
        res = run.summarize_registry(self.args(), r, 1.0, ["e0", "e1"], {})
        self.assertEqual(res["failed"], 1)
        self.assertAlmostEqual(res["e2e"]["wall_s"], 0.15 + 0.21)

    def test_weights_scale_wall_and_geomean(self):
        r = registry_result(["ok", "ok"])
        res = run.summarize_registry(self.args(), r, 1.0, ["e0", "e1"], {},
                                     {"e0": 3.0, "e1": 1.0})
        self.assertAlmostEqual(res["e2e"]["wall_s"], 3 * 0.31 + 0.41)
        self.assertAlmostEqual(res["e2e"]["query_geomean_ms"],
                               (310.0 ** 3 * 410.0) ** 0.25)

    def test_failed_check_is_not_correct(self):
        r = registry_result(["ok"])
        res = run.summarize_registry(self.args(), r, 1.0, ["e0"], {"e0": "DIFF x"})
        self.assertEqual(res["failed"], 0)
        self.assertFalse(res["correct"])

    @unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "builds and runs a JVM")
    def test_end_to_end_throwing_entry(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "registry_batch",
             "--seed", "1", "--seconds", "1", "--trace", "0", "--inject-throw"],
            capture_output=True, text=True, timeout=900, cwd=os.path.dirname(HERE))
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        line = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(line["failed"], 2)
        self.assertFalse(line["correct"])
        self.assertIn("perfbench_throw_selftest", p.stdout)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def printed(self, trace):
        e2e = {n: 1.0 for n, _ in run.END_TO_END}
        res = {"e2e": e2e, "layers": {}, "correct": True, "attempted": 1, "failed": 0,
               "interference": {"steal_s": 0.0, "other_s": 0.0, "gc_s": 0.0},
               "raw": {"trace_overhead_ns": 0}, "timed_wall_s": 1.0}
        line = run.metrics_line(self.args(trace), res)
        return {n: m["unit"] for n, m in line["metrics"].items()}

    def args(self, trace):
        return type("A", (), {"trace": trace})()

    def test_end_to_end_names_and_units(self):
        self.assertEqual(self.printed(0),
                         {m["name"]: m["unit"] for m in self.spec["end_to_end"]})

    def test_per_layer_names_and_units(self):
        self.assertEqual(self.printed(1),
                         {m["name"]: m["unit"] for m in self.spec["per_layer"]})

    def test_workloads(self):
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
