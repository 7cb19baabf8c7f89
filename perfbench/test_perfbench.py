"""Tests owned by the benchmark. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

- Seeded generation: the same seed gives byte-identical inputs for every
  workload, and a different seed gives different ones.
- Locale-safe output: under a comma-decimal default locale (de_DE) the
  result line still parses as JSON with the exact values, and the metric
  table still prints '.' decimals.
- The run script refuses bad arguments and, without the program's sources,
  fails without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classpath = build.build(ROOT)
        work = tempfile.mkdtemp(dir=build.build_dir())
        try:
            cmd = run.jvm_cmd(classpath, "perfbench.SelfTest", [], work)
            cmd[1:1] = ["-Duser.language=de", "-Duser.country=DE"]
            cls.proc = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        cls.lines = cls.proc.stdout.splitlines()

    def test_checks_pass(self):
        fails = [l for l in self.lines if l.startswith("FAIL")]
        self.assertEqual(fails, [], self.proc.stdout + self.proc.stderr)
        self.assertEqual(self.proc.returncode, 0)
        for w in ("sketch_ingest", "curate"):
            self.assertIn(f"ok {w}: same seed, byte-identical inputs", self.lines)
            self.assertIn(f"ok {w}: other seed, other inputs", self.lines)

    def test_comma_locale_output_parses(self):
        self.assertIn("default locale de_DE", self.lines)
        res = json.loads(self.lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (False, 4, 3))
        m = res["metrics"]
        self.assertEqual(m["setup_s"], {"value": 12.345678, "unit": "s"})
        self.assertEqual(m["a_p50_ms"]["value"], 1234.5)
        self.assertEqual(m["peak_heap_mb"]["value"], 1.0e7 + 0.5)
        table = [l.split() for l in self.lines if l.split()[:1] == ["setup_s"]]
        self.assertEqual(table, [["setup_s", "12.346", "s"]])


class RunScript(unittest.TestCase):
    def test_rejects_unknown_workload(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "nope",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           capture_output=True, text=True, cwd=ROOT)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")

    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory(dir=build.build_dir()) as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(d, ".bench_build"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curate",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               capture_output=True, text=True, cwd=d, env=env, timeout=170)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
