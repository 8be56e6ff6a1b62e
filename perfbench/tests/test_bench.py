"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests            # fast, no JVM
    PERFBENCH_INTEGRATION=1 python3 -m unittest discover -s perfbench/tests

The integration tests build the benchmark (first time only) and run short
workloads through the runner, with failures injected by the runner.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402
import select_registry  # noqa: E402

INTEGRATION = os.environ.get("PERFBENCH_INTEGRATION") == "1"


def fake_result(ops, checks=(), passes=None, setup_s=9.5):
    return {"ops": list(ops), "checks": list(checks), "setup_s": setup_s,
            "passes": passes or [{"pass": 0, "traced": False, "wall": 4.0,
                                  "ops": len(ops), "completed": sum(not o["error"] for o in ops)}],
            "peak_rss_mb": 900.0, "timed_wall": 4.0, "layers": {}}


def op(name, latency, error=None, traced=False):
    return {"name": name, "latency": latency, "error": error, "traced": traced,
            "build": 0.0, "execute": latency}


class InputTest(unittest.TestCase):
    def test_seed_fixes_query_order(self):
        for w, spec in run.WORKLOADS.items():
            if spec["kind"] != "queries":
                continue
            a, b = run.op_order(w, 7), run.op_order(w, 7)
            self.assertEqual(a, b)
            self.assertEqual(sorted(a), sorted(spec["queries"]))
            self.assertTrue(any(run.op_order(w, s) != a for s in range(8, 12)))

    def test_registry_list_follows_the_selection_rule(self):
        rows = select_registry.read_table()
        self.assertEqual(sorted(r["name"] for r in rows), sorted(select_registry.registry()))
        self.assertEqual(select_registry.select(rows),
                         sorted(run.WORKLOADS["registry_sf01"]["queries"]))


class MetricTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.percentile(list(range(99)), 0.9))
        self.assertEqual(run.percentile(list(range(100)), 0.9), 90)

    def test_end_to_end_from_untraced_completed_ops(self):
        res = fake_result([op("a", 1.0), op("b", 3.0), op("c", 2.0, error="boom")])
        m, lat = run.end_to_end(res)
        self.assertEqual(m["setup_s"], 9.5)
        self.assertEqual(m["ops_per_s"], 2 / 4.0)
        self.assertAlmostEqual(m["op_p50_geomean_s"], 3.0 ** 0.5)
        self.assertEqual(lat, [1.0, 3.0])

    def test_p50_is_per_operation_median_then_geometric_mean(self):
        ops = [op("a", 1.0), op("a", 9.0), op("a", 2.0), op("b", 8.0), op("b", 8.0)]
        self.assertAlmostEqual(run.op_p50_geomean(ops), 4.0)

    def test_tracing_overhead_compares_traced_and_untraced_passes(self):
        passes = [{"pass": 0, "traced": False, "wall": 2.0, "ops": 2, "completed": 2},
                  {"pass": 1, "traced": True, "wall": 2.5, "ops": 2, "completed": 2}]
        res = fake_result([op("a", 1.0), op("b", 1.0), op("a", 1.2, traced=True),
                           op("b", 1.3, traced=True)], passes=passes)
        m = run.per_layer(res)
        self.assertAlmostEqual(m["trace.ops_per_s"], 0.8)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.2)


class FailureTest(unittest.TestCase):
    def test_thrown_and_wrong_outputs_are_failures(self):
        checks = [{"name": "ok", "call": "first", "error": None, "sql": "s1", "path": "p1"},
                  {"name": "threw", "call": "first", "error": "boom", "sql": "s3", "path": "p3"},
                  {"name": "ok", "call": "last", "error": None, "sql": "s1", "path": "p4"},
                  {"name": "stale", "call": "last", "error": None, "sql": "s2", "path": "p5"}]
        res = fake_result([op("ok", 1.0), op("threw", 0.1, error="boom")], checks)
        # a wrong answer on a repeated call in the session counts like any other
        fails = run.query_failures(res, lambda sql, path: "rows 1 != 2" if path == "p5" else None)
        self.assertEqual(sorted(n for n, _ in fails),
                         ["stale (last call)", "threw", "threw (first call)"])

    def test_curate_summary_must_repeat_for_a_seed(self):
        with tempfile.TemporaryDirectory() as d:
            state, run.STATE = run.STATE, d
            try:
                s1 = {"n_input": 5, "n_written": 3}
                s2 = {"n_input": 5, "n_written": 4}
                clean = {"summary": 0}
                checks = [{"name": "check", "summary": s1, "violations": clean},
                          {"name": "run-1", "summary": s1, "violations": clean},
                          {"name": "run-2", "summary": s2, "violations": {"tape_gaps": 3}}]
                fails = run.curate_failures({"checks": checks}, seed=3)
                self.assertEqual([n for n, _ in fails], ["run-2", "run-2"])
                # a later process with the same seed is held to the first summary
                fails = run.curate_failures({"checks": checks[2:]}, seed=3)
                self.assertEqual(len(fails), 2)
            finally:
                run.STATE = state


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), *args],
                       cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1]) if p.returncode == 0 else None


@unittest.skipUnless(INTEGRATION, "set PERFBENCH_INTEGRATION=1")
class IntegrationTest(unittest.TestCase):
    def test_runner_counts_thrown_and_wrong_queries(self):
        rc, lines, out = bench("--workload", "registry_sf01", "--seed", "1", "--seconds", "1",
                               "--ops", "q1_pricing_summary,q_anti_join,q_semi_join",
                               "--inject-throw", "q_anti_join", "--inject-wrong", "q_semi_join")
        self.assertEqual(rc, 0)
        failed = [l for l in lines if l.startswith("FAILED")]
        for call in ("first", "last"):
            self.assertIn(f"FAILED q_anti_join ({call} call): threw", "\n".join(failed))
            self.assertIn(f"FAILED q_semi_join ({call} call): wrong output", "\n".join(failed))
        self.assertFalse(any("q1_pricing_summary" in l for l in failed))
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], len(failed))

    def test_listener_sums_reconcile_with_spans(self):
        rc, lines, out = bench("--workload", "registry_sf01", "--seed", "1", "--seconds", "1",
                               "--trace", "1", "--ops", "q_ols_fit,q1_pricing_summary")
        self.assertEqual(rc, 0)
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertEqual(m["recon.violations"], 0)
        self.assertGreater(m["exec.task_s"], 0)
        self.assertLessEqual(m["exec.busy_frac"], 1.0)
        self.assertTrue(any(l.startswith("recon per op") for l in lines))

    def test_seed_fixes_curation_input(self):
        import pyarrow.parquet as pq
        cp, _ = run.build()
        data = run.ensure_data(cp)

        def corpus(seed):
            with tempfile.TemporaryDirectory(dir=run.STATE) as work:
                rc = run.run_bounded(run.java_cmd(cp, work, "perfbench.Runner", [
                    "--mode", "corpus", "--data", data, "--work", work, "--seed", str(seed),
                    "--out", os.path.join(work, "out.json")]), cwd=work, timeout=300,
                    stdout=subprocess.DEVNULL)
                self.assertEqual(rc, 0)
                return pq.read_table(os.path.join(work, "corpus", "documents.parquet"))

        a = corpus(5)
        self.assertTrue(a.equals(corpus(5)))
        self.assertFalse(a.equals(corpus(6)))
        self.assertEqual(a.sort_by("doc_id"), corpus(6).sort_by("doc_id"))


if __name__ == "__main__":
    unittest.main()
