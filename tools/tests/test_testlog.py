"""Tests of the test-log gate, tools/testlog.py: each case writes an sbt
test log and checks the gate's exit status and the problem it names.

Run from the repository root: python3 -m unittest discover -s tools/tests
"""
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

TESTLOG = Path(__file__).resolve().parent.parent / "testlog.py"

GREEN_SUMMARY = """\
[info] Run completed in 2 seconds, 10 milliseconds.
[info] Total number of tests run: 2
[info] Suites: completed 2, aborted 0
[info] Tests: succeeded 2, failed 0, canceled 0, ignored 0, pending 0
[info] All tests passed.
[success] Total time: 12 s
"""


def run_gate(log: str):
    """Exit status and standard output of the gate over `log`."""
    with tempfile.NamedTemporaryFile("w", suffix=".log", delete=False) as f:
        f.write(log)
    try:
        p = subprocess.run([sys.executable, str(TESTLOG), f.name],
                           capture_output=True, text=True, check=False)
    finally:
        Path(f.name).unlink()
    return p.returncode, p.stdout


class TestLogGateTest(unittest.TestCase):
    def test_clean_log_exits_0(self):
        code, out = run_gate("[info] ASpec:\n[info] - reads\n"
                             "[info] BSpec:\n[info] - writes\n" + GREEN_SUMMARY)
        self.assertEqual(code, 0, out)
        self.assertNotIn("PROBLEM", out)
        self.assertIn("total: 2 suites, 2 passed, 0 failed", out)

    def test_failed_line_under_green_summary_exits_1(self):
        # the listed tests agree with the summary; only the line fails it
        code, out = run_gate("[info] ASpec:\n[info] - reads\n"
                             "[info] BSpec:\n[info] - writes\n"
                             "[info]   afterAll *** FAILED ***\n" + GREEN_SUMMARY)
        self.assertEqual(code, 1, out)
        self.assertIn("PROBLEM 5: [info]   afterAll *** FAILED ***", out)
        self.assertNotIn("differs", out)

    def test_summary_disagreeing_with_listed_tests_exits_1(self):
        # BSpec's JVM died after one test: sbt's summary counts both
        code, out = run_gate("[info] ASpec:\n[info] - reads\n"
                             "[info] - writes\n" + GREEN_SUMMARY.replace(
                                 "succeeded 2", "succeeded 3"))
        self.assertEqual(code, 1, out)
        self.assertIn("PROBLEM sbt summary (3, 0, 0, 0, 0)", out)
        self.assertIn("differs from the listed tests (2, 0, 0, 0, 0)", out)

    def test_log_with_no_test_exits_1(self):
        code, out = run_gate("[info] compiling 3 Scala sources\n"
                             "[success] Total time: 40 s\n")
        self.assertEqual(code, 1, out)
        self.assertIn("PROBLEM no test in the log", out)


if __name__ == "__main__":
    unittest.main()
