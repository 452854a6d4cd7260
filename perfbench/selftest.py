"""Self-tests of the benchmark: the statistics in metrics.py, then the
JVM checks in perfbench/src/perfbench/SelfTest.scala on generated sf0.01
tables.

Usage (from the checkout root): python3 perfbench/selftest.py
"""
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def execs(rows):
    return [{"id": i, "pass": p, "traced": t, "ok": ok, "build_s": b, "action_s": a,
             "error": None if ok else "boom", "layers": layers}
            for i, p, t, ok, b, a, layers in rows]


class Stats(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(19), 50)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(30), 66)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        rng = random.Random(1)
        for n in range(20, 400, 7):
            xs = [rng.random() for _ in range(n)]
            p = metrics.tail_percentile(n)
            v = metrics.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), metrics.MIN_BEYOND)
            self.assertLess(sum(1 for x in xs if x > metrics.percentile(xs, p + 1)), metrics.MIN_BEYOND)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(metrics.geomean([0.5]), 0.5)

    def test_core_util_base_is_action_wall_times_cores(self):
        self.assertAlmostEqual(metrics.core_util(task_s=4.0, exec_s=2.0, cores=4), 0.5)
        res = {"execs": execs([
            ("a", 1, True, True, 9.0, 2.0, {"exec.task_s": 4.0, "exec.s": 2.0, "build.s": 9.0}),
            ("a", 2, False, True, 9.0, 2.0, {})]),
            "jvm": {"gc_s": 0.0, "heap_peak_mb": 1.0}}
        layers = metrics.per_layer(res, [], cores=4, n_wrong=0)
        self.assertEqual(list(layers), [name for name, _ in metrics.PER_LAYER])
        self.assertAlmostEqual(layers["exec.core_util"], 0.5)  # build time is not in the base

    def test_throwing_query_counts_in_error_frac_not_latency(self):
        res = {"execs": execs([
            ("a", 0, False, True, 0.1, 0.9, {}), ("b", 0, False, True, 0.2, 0.8, {}),
            ("a", 1, False, True, 0.1, 0.9, {}), ("b", 1, False, False, 50.0, 0.0, {}),
            ("a", 2, False, True, 0.1, 0.9, {}), ("b", 2, False, True, 0.2, 1.8, {})]),
            "setup_s": 12.5, "jvm": {"peak_rss_mb": 100.0}}
        self.assertEqual(metrics.errors(res["execs"]), (6, 1))
        m, info = metrics.end_to_end(res)
        self.assertEqual(info["warm_samples"], 3)
        self.assertAlmostEqual(m["warm_s"][0], 1.0 + 2.0)
        self.assertAlmostEqual(m["cold_s"][0], 2.0)
        self.assertAlmostEqual(m["setup_s"][0], 12.5)
        self.assertAlmostEqual(m["query_geomean_s"][0], 2.0 ** 0.5)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"exec": "q#1", "kind": "query", "id": "q#1", "parent": "", "start": 0, "end": 1000},
            {"exec": "q#1", "kind": "build", "id": "q#1/build", "parent": "q#1", "start": 0, "end": 400},
            {"exec": "q#1", "kind": "action", "id": "q#1/action", "parent": "q#1", "start": 500, "end": 1000},
            {"exec": "q#1", "kind": "job", "id": "job1", "parent": "q#1/action", "start": 600, "end": 900},
            {"exec": "q#1", "kind": "stage", "id": "s1", "parent": "job1", "start": 600, "end": 700},
            {"exec": "q#1", "kind": "stage", "id": "s2", "parent": "job1", "start": 650, "end": 800}]
        st = metrics.self_times(spans)["q#1"]
        self.assertAlmostEqual(st["query"], 0.1)
        self.assertAlmostEqual(st["build"], 0.4)
        self.assertAlmostEqual(st["action"], 0.2)
        self.assertAlmostEqual(st["job"], 0.1)
        self.assertAlmostEqual(st["stage"], 0.25)

    def test_generator_is_seeded(self):
        a, b, c = gen.tables(0.001, 5), gen.tables(0.001, 5), gen.tables(0.001, 6)
        self.assertTrue(all(a[k].equals(b[k]) for k in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


def jvm_checks():
    classpath = build.build()
    os.makedirs(os.path.join(build.ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(build.ROOT, ".bench_work"))
    try:
        sf = os.path.join(work, "data", "sf0.01")
        gen.write(sf, 0.01, 1)
        cmd = (["java"] + run.ADD_OPENS + [
            "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.SelfTest", sf])
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=600)
        print(p.stdout, end="")
        return p.returncode == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    ok = unittest.main(exit=False, argv=sys.argv[:1]).result.wasSuccessful()
    ok = jvm_checks() and ok
    sys.exit(0 if ok else 1)
