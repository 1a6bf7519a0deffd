"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The pure tests (percentile rule, self time and reconciliation, failure
accounting) need nothing built. The JVM tests (attribution through the
local property, generator determinism) build the harness on first use,
like `run.py`, and skip when sbt or java is missing.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402

import run  # noqa: E402
from pb import build, metrics, oracle  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")


def call(cid, start, end, name="q", kind="query", ok=True, pas=1):
    return {"id": cid, "pass": pas, "name": name, "kind": kind,
            "start_ms": start, "end_ms": end, "ok": ok, "error": ""}


def job(jid, cid, start, end, stages=()):
    return {"id": jid, "call": cid, "start_ms": start, "end_ms": end,
            "stages": list(stages)}


def result(calls, jobs=(), stages=(), queries=(), traced=False):
    start, end = calls[0]["start_ms"], calls[-1]["end_ms"]
    return {"calls": calls, "jobs": list(jobs), "stages": list(stages),
            "queries": list(queries), "checks": [], "cores": 4,
            "traced": traced,
            "passes": [{"pass": 1, "start_ms": start, "end_ms": end,
                        "wall_s": (end - start) / 1e3}],
            "loop_start_ms": calls[0]["start_ms"],
            "loop_end_ms": calls[-1]["end_ms"], "extra": {}}


class PercentileRule(unittest.TestCase):

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.p90(list(range(99))))
        self.assertEqual(metrics.p90(list(range(1, 101))), 90)
        self.assertEqual(metrics.p90(list(range(1, 201))), 180)

    def test_report_carries_sample_counts_and_drops_thin_p90(self):
        thin = result([call(f"c{i}", i * 10, i * 10 + 5) for i in range(17)])
        fig = metrics.workload_report(thin)
        self.assertEqual(fig["query_p50_s"], (0.005, "s", 17))
        self.assertNotIn("query_p90_s", fig)
        wide = result([call(f"c{i}", i * 10, i * 10 + 1 + i % 10)
                       for i in range(100)])
        fig = metrics.workload_report(wide)
        self.assertEqual(fig["query_p90_s"][2], 100)
        self.assertAlmostEqual(fig["query_p90_s"][0], 0.009)

    def test_spread_is_quartile_distance_over_median(self):
        self.assertEqual(metrics.spread([10.0] * 5), 0.0)
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q = __import__("statistics").quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.spread(xs), (q[2] - q[0]) / 3.0)


class EndToEnd(unittest.TestCase):

    def test_setup_is_cpu_and_pass_excludes_untimed_work(self):
        r = result([call("c1", 0, 1000)])
        r["passes"] = [{"pass": 1, "start_ms": 0, "end_ms": 1500,
                        "wall_s": 1.0, "cpu_s": 3.5}]
        r.update(session_ready_ms=5000.0, setup_once_cpu_s=9.0,
                 setup_repeated_s=[0.5, 0.4, 0.6],
                 setup_repeated_cpu_s=[0.7, 0.9, 0.8], heap_after_gc_mb=80.0)
        e2e = metrics.end_to_end(r, launch_ms=1000.0)
        self.assertAlmostEqual(e2e["setup_s"][0], 9.8)
        self.assertEqual(e2e["setup_s"][2], 3)
        self.assertAlmostEqual(e2e["setup_wall_s"][0], 4.5)
        # the harness already took its untimed spans out of the pass
        self.assertEqual(e2e["pass_s"][0], 1.0)
        self.assertEqual(e2e["pass_cpu_s"][0], 3.5)


class SelfTime(unittest.TestCase):

    def test_union_of_overlapping_jobs(self):
        busy, gap = metrics.busy_and_gap([(10, 30), (20, 40), (60, 70)],
                                         0, 100)
        self.assertEqual(busy, 40)
        self.assertEqual(gap, 60)

    def test_jobs_clipped_to_the_call(self):
        busy, gap = metrics.busy_and_gap([(-5, 10), (95, 120)], 0, 100)
        self.assertEqual((busy, gap), (15, 85))
        self.assertEqual(metrics.outside([(-5, 10), (95, 120)], 0, 100), 25)

    def test_busy_plus_gap_is_wall_for_every_call(self):
        r = result([call("a", 0, 100), call("b", 100, 250), call("c", 250, 260)],
                   [job(1, "a", 5, 50), job(2, "a", 40, 90),
                    job(3, "b", 110, 120), job(4, "b", 200, 249)])
        layers = metrics.per_call_layers(r)
        for cid, l in layers.items():
            self.assertAlmostEqual(l["busy_ms"] + l["gap_ms"], l["wall_ms"])
        self.assertEqual(layers["a"]["gap_ms"], 15)
        self.assertEqual(layers["b"]["gap_ms"], 91)
        self.assertEqual(layers["c"]["gap_ms"], 10)
        rec = metrics.reconciliation(r)
        self.assertEqual(rec["calls_outside_tolerance"], [])
        self.assertEqual(rec["failures"], {})
        self.assertEqual(rec["self_s"]["c"], 0.010)
        # per pass, spark.job_gap_s is the sum of the calls' self times
        self.assertAlmostEqual(metrics.per_layer(r)["spark.job_gap_s"], 0.116)

    def test_a_job_outside_its_call_is_reported(self):
        r = result([call("a", 0, 100), call("b", 100, 200)],
                   [job(1, "a", 10, 150)])
        self.assertEqual(metrics.reconciliation(r)["calls_outside_tolerance"],
                         ["a"])

    def test_within_tolerance_is_reconciled(self):
        r = result([call("a", 0, 100)], [job(1, "a", -2, 103)])
        self.assertEqual(metrics.reconciliation(r)["failures"], {})


class Misattribution(unittest.TestCase):
    """A traced run whose jobs are laid over the wrong call fails."""

    def test_job_attributed_to_another_call_fails_the_run(self):
        # job 2 ran inside b but carries a's mark
        r = result([call("a", 0, 100), call("b", 100, 200)],
                   [job(1, "a", 10, 90), job(2, "a", 120, 180)], traced=True)
        failed = run.failures(r, oracle.Oracles())
        self.assertEqual(sorted(failed), ["a"])
        self.assertIn("reconciliation", failed["a"])

    def test_unattributed_job_in_the_loop_fails_its_call(self):
        r = result([call("a", 0, 100), call("b", 120, 200)],
                   [job(1, "", 130, 150), job(2, "", 105, 110),
                    job(3, "untimed", 101, 119)], traced=True)
        failed = run.failures(r, oracle.Oracles())
        # job 1 ran in b; job 2 between the calls, after a
        self.assertEqual(sorted(failed), ["a", "b"])

    def test_untraced_run_has_no_reconciliation(self):
        r = result([call("a", 0, 100)], [job(1, "", 10, 20)])
        self.assertEqual(run.failures(r, oracle.Oracles()), {})


class Attribution(unittest.TestCase):

    def test_records_group_by_call_property(self):
        r = result([call("p1c1", 0, 100), call("p1c2", 100, 200)],
                   [job(1, "p1c1", 10, 20, [1, 2]), job(2, "p1c2", 120, 150, [3]),
                    job(3, "", 160, 170, [4])],
                   [dict(id=1, call="p1c1", tasks=4, empty_tasks=1, run_ms=10,
                         cpu_ns=10**7, gc_ms=0, sched_ms=1, shuffle_write=5,
                         shuffle_read=0, spill=0, input=100, output=0,
                         completed=True)],
                   [dict(call="p1c2", analysis_ms=3, optimization_ms=4,
                         planning_ms=5, exchanges=2, bnlj=1, scan_files=3)])
        layers = metrics.per_call_layers(r)
        self.assertEqual(layers["p1c1"]["jobs"], 1)
        self.assertEqual(layers["p1c1"]["stages_skipped"], 1)  # stage 2
        self.assertEqual(layers["p1c1"]["tasks"], 4)
        self.assertEqual(layers["p1c2"]["exchanges"], 2)
        self.assertEqual(layers["p1c2"]["jobs"], 1)
        self.assertEqual(metrics.reconciliation(r)["unattributed_jobs_in_loop"],
                         1)


class FailureAccounting(unittest.TestCase):
    """A wrong output raises `failed`, and so `failed_ratio`."""

    def setUp(self):
        os.makedirs(STATE, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=STATE)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self, name, sql):
        path = os.path.join(self.tmp, name)
        os.makedirs(path)
        duckdb.sql(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")
        return path

    def test_wrong_output_fails_its_call(self):
        oracle_sql = "SELECT range AS k, range * 2 AS v FROM range(5)"
        good = self.write("good", "SELECT range * 2 AS v, range AS k "
                                  "FROM range(5) ORDER BY k DESC")
        bad = self.write("bad", "SELECT range AS k, range * 2 + (range = 3)::BIGINT"
                                " AS v FROM range(5)")
        short = self.write("short", "SELECT range AS k, range * 2 AS v "
                                    "FROM range(4)")
        r = result([call("c1", 0, 1), call("c2", 1, 2), call("c3", 2, 3),
                    call("c4", 3, 4, ok=False)])
        r["checks"] = [dict(gate="g", oracle=oracle_sql, path=p, call=c)
                       for p, c in [(good, "c1"), (bad, "c2"), (short, "c3")]]
        failed = run.failures(r, oracle.Oracles())
        self.assertEqual(sorted(failed), ["c2", "c3", "c4"])
        self.assertIn("1 rows differ", failed["c2"])
        self.assertIn("rows 4 != 5", failed["c3"])

    def test_pandas_rule_where_types_do_not_compare(self):
        self.assertIsNone(oracle.same(
            duckdb.sql("SELECT 2 AS b, 'x' AS a").df(),
            duckdb.sql("SELECT 'x' AS a, 2 AS b").df()))
        self.assertIn("values differ", oracle.same(
            duckdb.sql("SELECT 2 AS b").df(), duckdb.sql("SELECT 3 AS b").df()))

    def test_missing_output_fails(self):
        o = oracle.Oracles()
        self.assertEqual(o.check("g", "SELECT 1 AS a",
                                 os.path.join(self.tmp, "none")), "no output")


def harness_classpath():
    if not shutil.which("java") or not shutil.which("sbt"):
        raise unittest.SkipTest("java or sbt missing")
    return build.frozen_classpath(ROOT, STATE)[0]


def run_java(cp, main, args, env=None, cwd=None):
    cmd = build.java_cmd(cp, main, args, heap="1g",
                         props={"spark.ui.enabled": "false"})
    subprocess.run(cmd, check=True, env=env, cwd=cwd, capture_output=True,
                   timeout=170)


class JvmTests(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.cp = harness_classpath()
        cls.tmp = tempfile.mkdtemp(dir=STATE)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_jobs_attach_to_the_call_that_caused_them(self):
        out = os.path.join(self.tmp, "selftest.json")
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        env["SPARK_LOCAL_DIRS"] = self.tmp
        run_java(self.cp, "perfbench.SelfTest", [out], env=env, cwd=self.tmp)
        with open(out) as f:
            r = json.load(f)
        by_name = {c["name"]: c["id"] for c in r["calls"]}
        self.assertTrue(all(c["ok"] for c in r["calls"]))
        layers = metrics.per_call_layers(r)
        self.assertGreaterEqual(layers[by_name["main_thread"]]["jobs"], 1)
        # a thread started inside the call inherits the property
        self.assertGreaterEqual(layers[by_name["child_thread"]]["jobs"], 1)
        self.assertEqual(layers[by_name["no_jobs"]]["jobs"], 0)
        self.assertGreater(layers[by_name["main_thread"]]["tasks"], 0)
        self.assertGreaterEqual(layers[by_name["main_thread"]]["exchanges"], 1)
        # the job after the loop belongs to no call, the untimed one is
        # marked, and the pass does not count the untimed span
        self.assertEqual(r["jobs"][-1]["call"], "")
        self.assertIn("untimed", [j["call"] for j in r["jobs"]])
        p = r["passes"][0]
        self.assertLess(p["wall_s"], (p["end_ms"] - p["start_ms"]) / 1e3 - 0.2)
        rec = metrics.reconciliation(dict(r, loop_start_ms=p["start_ms"],
                                          loop_end_ms=p["end_ms"]))
        self.assertEqual(rec["failures"], {})
        for l in layers.values():
            self.assertAlmostEqual(l["busy_ms"] + l["gap_ms"], l["wall_ms"],
                                   places=6)

    def generate(self, name, seed, scale="0.05"):
        d = os.path.join(self.tmp, name)
        env = dict(os.environ, GRAFT_FIXTURE_DIR=d)
        run_java(self.cp, "perfbench.SalesGen", [str(seed), scale], env=env)
        return d

    def test_generator_is_deterministic_and_seed_moves_only_sales(self):
        a = self.generate("a", 7)
        b = self.generate("b", 7)
        c = self.generate("c", 8)
        entities = sorted(e for e in os.listdir(a) if e != "VERSION")
        self.assertEqual(len(entities), 12)
        sales = {"salesheader", "salesdetail"}
        for e in entities:
            fa, fb, fc = (os.path.join(d, e, f"{e}.csv") for d in (a, b, c))
            self.assertTrue(filecmp.cmp(fa, fb, shallow=False), e)
            self.assertEqual(filecmp.cmp(fa, fc, shallow=False),
                             e not in sales, e)
        with open(os.path.join(a, "salesheader", "salesheader.csv")) as f:
            lines = f.read().splitlines()
        self.assertEqual(len(lines) - 1, round(187320 * 0.05))
        online = [l.split(",") for l in lines[1:] if l.split(",")[2] == "4"]
        self.assertTrue(online)
        for row in online:
            # online sales: a customer, no store and no reseller
            self.assertEqual((row[3], row[5]), ("", ""))
            self.assertTrue(row[4])


if __name__ == "__main__":
    unittest.main()
