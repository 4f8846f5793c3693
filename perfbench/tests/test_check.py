"""Tests of the benchmark's query output check and input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen_data  # noqa: E402
import run  # noqa: E402

SQL = ("SELECT l_returnflag, l_linestatus,"
       " CAST(SUM(l_quantity) AS DOUBLE) AS qty, COUNT(*) AS n"
       " FROM lineitem GROUP BY ALL")


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def load_json(path):
    with open(path) as f:
        return json.load(f)


class OutputCheckTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, "data")
        gen_data.generate(cls.data, 0.001, 7)
        cls.spec = load_json(os.path.join(run.ROOT, "BENCHMARK.json"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def write(self, name, sql):
        out = os.path.join(self.tmp.name, name)
        os.makedirs(out, exist_ok=True)
        check.connect(self.data).execute(
            f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        return out

    def report(self, outs, oracle):
        ops = [{"key": "k", "call": 1, "latency_s": 0.5, "out": out,
                "error": None, "check": oracle.check("k", out)}
               for out in outs]
        return {"passes": [{"wall_s": 1.0, "cpu_s": 2.0, "path_cpu_s": 1.5, "ops": ops}],
                "setup_s": [1.0], "setup_cpu_s": [1.0], "check_s": 1.0, "out_per_in": 0.1}

    def test_corrupted_row_is_a_failed_op(self):
        good = self.write("good", SQL)
        bad = self.write("bad", f"""
            SELECT l_returnflag, l_linestatus, qty + (CASE WHEN rn = 1
              THEN 1e-9 ELSE 0 END) AS qty, n
            FROM (SELECT *, row_number() OVER () AS rn FROM ({SQL}))""")
        oracle = check.Oracle(self.data, {"k": SQL})
        self.assertIsNone(oracle.check("k", good))
        self.assertIn("column qty: 1 cells differ", oracle.check("k", bad))
        result = run.summarize(self.report([good, bad], oracle), self.spec,
                               traced=False)
        self.assertEqual(result["attempted"], 2)
        self.assertEqual(result["failed"], 1)
        self.assertFalse(result["correct"])
        self.assertEqual(result["metrics"]["ok_frac"]["value"], 0.5)

    def test_missing_row_and_dtype_drift_are_caught(self):
        short = self.write("short", SQL + " ORDER BY 1, 2 LIMIT 3")
        ints = self.write("ints", SQL.replace("AS DOUBLE", "AS BIGINT"))
        oracle = check.Oracle(self.data, {"k": SQL})
        self.assertRegex(oracle.check("k", short), "rows, oracle has")
        self.assertRegex(oracle.check("k", ints), "dtype")

    def test_negative_zero_differs_from_zero(self):
        a = pd.DataFrame({"x": [0.0]})
        b = pd.DataFrame({"x": [-0.0]})
        self.assertIsNotNone(check.compare_frames(a, b))
        self.assertIsNone(check.compare_frames(a, a.copy()))

    def test_generator_is_deterministic_per_seed(self):
        a, b, c = (os.path.join(self.tmp.name, d) for d in ("a", "b", "c"))
        gen_data.generate(a, 0.001, 3)
        gen_data.generate(b, 0.001, 3)
        gen_data.generate(c, 0.001, 4)
        for t in check.TABLES:
            f = f"{t}.parquet"
            self.assertEqual(digest(os.path.join(a, f)),
                             digest(os.path.join(b, f)), t)
        self.assertNotEqual(digest(os.path.join(a, "lineitem.parquet")),
                            digest(os.path.join(c, "lineitem.parquet")))


class BenchmarkSpecTest(unittest.TestCase):
    """Each workload's `why` records why it was chosen, the layers it
    loads and bypasses, its input size against Spark storage memory, and
    its closed loop with one client."""

    def test_workloads_record_their_design(self):
        spec = load_json(os.path.join(run.ROOT, "BENCHMARK.json"))
        names = [w["name"] for w in spec["workloads"]]
        self.assertEqual(names, list(run.WORKLOADS))
        for w in spec["workloads"]:
            why = w["why"]
            self.assertLessEqual(len(why), 200, w["name"])
            for word in ("loads", "bypasses", "storage", "1 closed-loop client"):
                self.assertIn(word, why, w["name"])
            self.assertRegex(why, r"\d+(\.\d+)? ?[KMG]B", w["name"])

    def test_known_failures_name_workload_keys(self):
        with open(os.path.join(run.HERE, "src", "main", "scala",
                               "perfbench", "Main.scala")) as f:
            main = f.read()
        for key, known in run.known_failures().items():
            self.assertIn(f'"{key}"', main)
            self.assertTrue(known["cause"])
            self.assertTrue(known["mismatch"])


class KnownFailureTest(unittest.TestCase):
    """A listed key's failure is known only when it is the recorded one."""

    def summarize(self, key, check_msg, error=None):
        spec = load_json(os.path.join(run.ROOT, "BENCHMARK.json"))
        ops = [{"key": key, "call": 1, "latency_s": 0.5, "out": "",
                "error": error, "check": check_msg}]
        report = {"passes": [{"wall_s": 1.0, "cpu_s": 2.0, "path_cpu_s": 1.5, "ops": ops}],
                  "setup_s": [1.0], "setup_cpu_s": [1.0], "check_s": 1.0, "out_per_in": 0.1}
        return run.summarize(report, spec, traced=False)

    def test_recorded_mismatch_is_known(self):
        for key, known in run.known_failures().items():
            result = self.summarize(key, known["mismatch"])
            self.assertTrue(result["correct"], key)
            self.assertEqual(result["failed"], 1)

    def test_other_mismatch_on_listed_key_is_incorrect(self):
        result = self.summarize("d02_minhash_lsh", "0 rows, oracle has 247")
        self.assertFalse(result["correct"])
        result = self.summarize("d02_minhash_lsh", None, error="boom")
        self.assertFalse(result["correct"])


class BuildCacheTest(unittest.TestCase):
    """A changed source file invalidates the recorded build."""

    def test_changed_source_changes_the_digest(self):
        with tempfile.TemporaryDirectory() as root:
            src = os.path.join(root, "src", "main", "scala", "graft")
            os.makedirs(src)
            os.makedirs(os.path.join(root, "perfbench", "project"))
            os.makedirs(os.path.join(root, "perfbench", "src", "main"))
            for f, text in (("perfbench/build.sbt", "name := \"x\"\n"),
                            ("perfbench/project/build.properties", "v\n"),
                            ("src/main/scala/graft/A.scala", "object A\n")):
                with open(os.path.join(root, f), "w") as fh:
                    fh.write(text)
            before = run.sources_digest(root)
            self.assertEqual(before, run.sources_digest(root))
            with open(os.path.join(src, "A.scala"), "a") as fh:
                fh.write("// changed\n")
            self.assertNotEqual(before, run.sources_digest(root))

    def test_built_is_false_when_sources_differ(self):
        with tempfile.TemporaryDirectory() as build:
            cp = os.path.join(build, "classpath.txt")
            digest = os.path.join(build, "sources.sha256")
            with open(cp, "w") as f:
                f.write(run.HERE)  # an existing path of the benchmark's
            saved = run.CLASSPATH, run.SOURCES_HASH
            run.CLASSPATH, run.SOURCES_HASH = cp, digest
            try:
                with open(digest, "w") as f:
                    f.write(run.sources_digest())
                self.assertTrue(run.built())
                with open(digest, "w") as f:
                    f.write("0" * 64)
                self.assertFalse(run.built())
            finally:
                run.CLASSPATH, run.SOURCES_HASH = saved


if __name__ == "__main__":
    unittest.main()
