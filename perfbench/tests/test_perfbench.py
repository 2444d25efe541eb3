"""Tests of the benchmark harness.

Run from the checkout root:  python3 perfbench/tests/test_perfbench.py
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class PerfbenchTest(unittest.TestCase):
    def test_seeded_inputs_and_answer_checks(self):
        cp = run.build(run.source_digest(), run.spark_jars())
        work = os.path.join(run.BUILD, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            p = subprocess.run(
                ["java", run.HEAP, "-XX:-UsePerfData"] + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in run.ADD_OPENS]
                + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graft.perfbench.SelfTest", work],
                cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-3000:])
        self.assertIn("SELFTEST OK", p.stdout)

    def test_refuses_without_engine_sources(self):
        """Outside a checkout (only perfbench/ present) the command fails fast."""
        lone = os.path.join(run.BUILD, "lone")
        shutil.rmtree(lone, ignore_errors=True)
        shutil.copytree(run.HERE, os.path.join(lone, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project"))
        try:
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "kv_serve",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=lone, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=60)
        finally:
            shutil.rmtree(lone, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
