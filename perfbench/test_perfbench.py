#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_perfbench.py

The digest tests are instant. The traced-run tests build the engine if
needed and run one whole workload each (about a minute apiece).
"""
import datetime as dt
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from digest import digest, enc  # noqa: E402

SEED = 990


def traced_run(workload: str) -> tuple:
    """One traced run of a whole workload; returns (result line,
    per-query records of the warm passes)."""
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    trace = json.loads(Path(f".bench_out/trace-{workload}-seed{SEED}.json").read_text())
    return result, [q for q in trace["queries"] if q["pass"] > 0]


class DigestTest(unittest.TestCase):
    def test_encoding(self):
        self.assertEqual(enc(None), "N")
        self.assertEqual(enc(True), "B1")
        self.assertEqual(enc(12), "I12")
        self.assertEqual(enc(1.0), "F3ff0000000000000")
        self.assertNotEqual(enc(0.0), enc(-0.0))
        self.assertEqual(enc(float("nan")), "FNaN")
        self.assertEqual(enc("é"), "S2:é")
        self.assertEqual(enc(dt.date(1970, 1, 2)), "T86400000000")
        self.assertEqual(enc(dt.datetime(1970, 1, 2)), enc(dt.date(1970, 1, 2)))
        self.assertEqual(enc(dt.datetime(1970, 1, 1, 1, tzinfo=dt.timezone.utc)),
                         "T3600000000")
        self.assertEqual(enc([1, None]), "A[I1,N]")

    def test_digest_ignores_row_and_column_order(self):
        a = digest(["b", "a"], [(1, "x"), (2, "y")])
        b = digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, digest(["a", "b"], [("y", 2), ("x", 3)]))
        self.assertEqual(a[0], 2)


class TracedRunTest(unittest.TestCase):
    def test_eager_writes_are_build_jobs(self):
        """wr_delete_rewrite writes inside its DataFrame-building closure:
        those jobs belong to `build`, and its files to `write.files`."""
        result, warm = traced_run("relational_write")
        self.assertTrue(result["correct"])
        m = result["metrics"]
        self.assertGreater(m["build.jobs"]["value"], 0)
        self.assertGreater(m["write.files"]["value"], 0)
        rewrites = [q for q in warm if q["name"] == "wr_delete_rewrite"]
        self.assertTrue(rewrites)
        for q in rewrites:
            self.assertGreater(q["build_jobs"], 0)
            self.assertGreater(q["write_files"], 0)
            # eager jobs are not planning time
            self.assertLess(q["planning_s"], q["build_s"])

    def test_reads_report_no_writes(self):
        result, warm = traced_run("sql_text")
        self.assertTrue(result["correct"])
        spec = json.loads(Path("BENCHMARK.json").read_text())
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec["per_layer"]})
        self.assertEqual(result["metrics"]["write.files"]["value"], 0)
        self.assertGreater(result["metrics"]["analyzer.s"]["value"], 0)
        self.assertTrue(all(q["write_files"] == 0 for q in warm))


class LauncherTest(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        """In a directory holding only the benchmark it exits non-zero
        without printing a result."""
        Path(".bench_run").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=".bench_run") as d:
            shutil.copy("BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sql_text",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
