"""Tests of the benchmark itself. From the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

They build the harness like a benchmark run does (perfbench/run.py) and
take several minutes: the metric-name test runs every workload once with
and once without tracing.
"""
import ast
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def self_test(*args):
    """Run perfbench.SelfTest; returns its standard output lines."""
    work = tempfile.mkdtemp(dir=run.BUILD)
    log = os.path.join(work, "selftest.log")
    try:
        code = run.run_jvm(run.build(), "perfbench.SelfTest",
                           [a.replace("{work}", work) for a in args], work, log)
        with open(log) as f:
            out = f.read()
        if code != 0:
            raise AssertionError("SelfTest %s failed:\n%s" % (args, out[-3000:]))
        return [l[len("selftest: "):] for l in out.splitlines() if l.startswith("selftest: ")]
    finally:
        shutil.rmtree(work, ignore_errors=True)


class InputTest(unittest.TestCase):
    def input_hash(self, workload, seed):
        return self_test("input-hash", workload, str(seed))[-1]

    def test_seed_determines_inputs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a = self.input_hash(w, 1)
                self.assertEqual(a, self.input_hash(w, 1))
                self.assertNotEqual(a, self.input_hash(w, 2))


class GoldenTest(unittest.TestCase):
    def test_golden_gate_fails_on_corrupted_output(self):
        lines = self_test("golden", "{work}")
        self.assertEqual(dict(l.split() for l in lines),
                         {"original": "0", "corrupted_span": "1", "dropped_doc": "1"})

    def test_query_hash_check_flags_a_wrong_result(self):
        results = tempfile.mkdtemp(dir=run.BUILD)
        try:
            name = sorted(run.read_goldens())[0]
            os.makedirs(os.path.join(results, name))
            import duckdb
            duckdb.connect().execute("COPY (SELECT 1 AS x) TO '%s' (FORMAT PARQUET)"
                                     % os.path.join(results, name, "part-0.parquet"))
            bad = run.check_query_hashes(results)
            self.assertEqual(len(bad), 1)
            self.assertTrue(bad[0].startswith(name + ":"))
        finally:
            shutil.rmtree(results, ignore_errors=True)


class OracleFormTest(unittest.TestCase):
    """run.py's result hash must stay the canonical form of
    tools/oracle_check.py, in which the query goldens were written."""

    def oracle_functions(self):
        path = os.path.join(run.ROOT, "tools", "oracle_check.py")
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        defs = [n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name in ("canon", "table_hash")]
        self.assertEqual(len(defs), 2)
        ns = {"hashlib": hashlib}
        exec(compile(ast.Module(body=defs, type_ignores=[]), path, "exec"), ns)
        return ns["table_hash"]

    def test_same_hash_as_oracle_check(self):
        oracle_hash = self.oracle_functions()
        cols = ["s", "i", "f", "b", "n", "raw", "xs", "m"]
        rows = [("a", 1, 0.1 + 0.2, True, None, b"\x00\xff", [1.5, None], {"k": 2, "a": "x"}),
                ("b", -7, 1e-9, False, "", b"", [], {})]
        self.assertEqual(run.table_hash(cols, rows), oracle_hash(cols, rows))
        import duckdb
        cur = duckdb.connect().execute(
            "SELECT * FROM '%s'" % os.path.join(run.DATA, "lineitem.parquet"))
        cols, rows = [d[0] for d in cur.description], cur.fetchall()
        self.assertEqual(run.table_hash(cols, rows), oracle_hash(cols, rows))


class MetricNamesTest(unittest.TestCase):
    def test_printed_metrics_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        whys = {x["name"]: x["why"] for x in spec["workloads"]}
        for w in whys:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    p = subprocess.run(
                        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", w,
                         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                        cwd=run.ROOT, capture_output=True, text=True, timeout=600)
                    self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                    lines = p.stdout.strip().splitlines()
                    last = json.loads(lines[-1])
                    # the workload's description states its input size
                    inputs = json.loads(lines[-2])["record"]["inputs"]
                    size = ("%d seeded" % inputs["docs"] if w == "extract_fresh"
                            else "(%d of %d)" % (inputs["queries"], inputs["suite_size"]))
                    self.assertIn(size, whys[w])
                    self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
                    self.assertEqual(list(last["metrics"]), [m["name"] for m in spec[kind]])
                    for m in spec[kind]:
                        self.assertEqual(last["metrics"][m["name"]]["unit"], m["unit"])


if __name__ == "__main__":
    unittest.main()
