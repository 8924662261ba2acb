"""End-to-end checks of the benchmark command itself.

    python3 -m unittest discover -s connbench/tests -v

Run from the repository root after one benchmark run has built the program
(otherwise the first test also pays the build).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
# what building and running the benchmark may leave behind
BUILD_OUTPUT = ("connbench/target/", "connbench/project/target/", "connbench/project/project/",
                "connbench/.bsp/")


def git_status():
    out = subprocess.run(["git", "status", "--porcelain", "--ignored", "--untracked-files=all"],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return sorted(l for l in out.splitlines() if not l[3:].startswith(BUILD_OUTPUT))


def in_git_checkout():
    return subprocess.run(["git", "rev-parse", "--is-inside-work-tree"], cwd=ROOT,
                          stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0


class RunTest(unittest.TestCase):

    @unittest.skipUnless(in_git_checkout(), "needs a git checkout")
    def test_corrupted_result_fails_the_run_and_leaves_the_repo_untouched(self):
        before = git_status()
        out = subprocess.run(
            [sys.executable, "connbench/run.py", "--workload", "scan", "--seed", "5",
             "--seconds", "2", "--trace", "0", "--corrupt-op", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
        self.assertNotEqual(out.returncode, 0)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(git_status(), before)

    def test_fails_without_the_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "connbench"),
                            ignore=shutil.ignore_patterns("target", ".work", ".bsp", "project"))
            os.makedirs(os.path.join(d, "connbench", "project"))
            shutil.copy(os.path.join(BENCH, "project", "build.properties"),
                        os.path.join(d, "connbench", "project"))
            out = subprocess.run(
                [sys.executable, "connbench/run.py", "--workload", "adhoc", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
