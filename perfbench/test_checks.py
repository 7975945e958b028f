#!/usr/bin/env python3
"""Tests of the benchmark's own checks: a corrupted output must count as a
failed operation.

    python3 perfbench/test_checks.py

The JVM-side checks (replica identity, boxcar recomputation, an operation
that throws) run through graftbench.SelfTest when the benchmark has been
built (python3 perfbench/run.py builds it); otherwise that test is skipped.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import run  # noqa: E402


def write_parquet(con, sql, path):
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name
        self.fixtures = os.path.join(self.dir, "fixtures")
        con = oracle._connect()
        write_parquet(con, "SELECT i AS k, i * 0.5 AS v FROM range(100) t(i)",
                      os.path.join(self.fixtures, "t.parquet"))
        # the program's output, as the benchmark writes it
        write_parquet(con, "SELECT i AS k, i * 0.5 AS v FROM range(100) t(i)",
                      os.path.join(self.dir, "good"))
        write_parquet(con, "SELECT i AS k, CASE WHEN i = 42 THEN 0.0 ELSE i * 0.5 END AS v "
                           "FROM range(100) t(i)", os.path.join(self.dir, "corrupt"))
        write_parquet(con, "SELECT i AS k, i * 0.5 AS v FROM range(99) t(i)",
                      os.path.join(self.dir, "short"))
        write_parquet(con, "SELECT CAST(i AS DOUBLE) AS k, i * 0.5 AS v FROM range(100) t(i)",
                      os.path.join(self.dir, "retyped"))
        con.close()
        self.sql = "SELECT k, v FROM read_parquet('/oracle/fixtures/t.parquet/*.parquet')"

    def tearDown(self):
        self.tmp.cleanup()

    def verdicts(self, outputs):
        oracles = {name: {"output": os.path.join(self.dir, name), "sql": self.sql, "labels": [name]}
                   for name in outputs}
        return oracle.check_all(oracles, "/oracle/fixtures", self.fixtures,
                                os.path.join(self.dir, "cache"))

    def test_intact_output_passes(self):
        v = self.verdicts(["good"])["good"]
        self.assertTrue(v["ok"] and v["checked"], v)

    def test_corrupted_outputs_fail(self):
        v = self.verdicts(["corrupt", "short", "retyped"])
        for name in ["corrupt", "short", "retyped"]:
            self.assertTrue(v[name]["checked"], v[name])
            self.assertFalse(v[name]["ok"], v[name])

    def test_corrupted_output_counts_as_failed_operations(self):
        oracles = {name: {"output": os.path.join(self.dir, name), "sql": self.sql, "labels": [name]}
                   for name in ["good", "corrupt"]}
        v = oracle.check_all(oracles, "/oracle/fixtures", self.fixtures, os.path.join(self.dir, "cache"))
        ops = [{"label": "good", "ok": True}, {"label": "corrupt", "ok": True},
               {"label": "corrupt", "ok": True}, {"label": "good", "ok": False}]
        failing = run.failing_labels([], oracles, v)
        self.assertEqual(failing, {"corrupt"})
        self.assertEqual(run.count_failed(ops, failing), 3)


class JvmChecksTest(unittest.TestCase):
    def test_selftest(self):
        cp_file = os.path.join(HERE, "target", "classpath.txt")
        if not os.path.exists(cp_file):
            self.skipTest("benchmark not built")
        p = subprocess.run(["java", "-cp", open(cp_file).read().strip(), "graftbench.SelfTest"],
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertEqual(p.stdout.count("ok  "), 7, p.stdout)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match(self):
        b = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
                         [tuple(m) for m in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [tuple(m) for m in run.PER_LAYER])
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
