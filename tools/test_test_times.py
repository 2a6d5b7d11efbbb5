"""test_times.py: per-test medians, ratios and host drift from JUnit reports.

Run: python3 -m unittest discover -s tools
"""
import contextlib
import io
import os
import tempfile
import unittest

import test_times

SUITE = "graft.DemoSpec"


def write_report(run_dir, cases):
    """cases: [(name, seconds, outcome)], outcome in {"", "failure", "error", "skipped"}."""
    os.makedirs(run_dir)
    body = "".join(
        f'<testcase classname="{SUITE}" name="{name}" time="{t}">'
        + (f"<{outcome}/>" if outcome else "") + "</testcase>"
        for name, t, outcome in cases)
    with open(os.path.join(run_dir, f"TEST-{SUITE}.xml"), "w") as f:
        f.write(f'<?xml version="1.0"?><testsuite name="{SUITE}">{body}</testsuite>')


class TestTimesTest(unittest.TestCase):
    def run_tool(self, old_runs, new_runs):
        with tempfile.TemporaryDirectory() as tmp:
            dirs = {}
            for side, runs in (("old", old_runs), ("new", new_runs)):
                dirs[side] = []
                for i, cases in enumerate(runs):
                    d = f"{tmp}/{side}/run{i}"
                    write_report(d, cases)
                    dirs[side].append(d)
            printed = io.StringIO()
            with contextlib.redirect_stdout(printed):
                rc = test_times.main([SUITE, "--old", *dirs["old"], "--new", *dirs["new"]])
        return rc, printed.getvalue().splitlines()

    def test_medians_ratios_and_drift_over_shared_tests(self):
        old = [[("a", 1.0, ""), ("b", 4.0, ""), ("gone", 2.0, "")],
               [("a", 3.0, ""), ("b", 4.0, ""), ("gone", 2.0, "")],
               [("a", 2.0, ""), ("b", 6.0, ""), ("gone", 2.0, "")]]
        new = [[("a", 4.0, ""), ("b", 5.0, ""), ("added", 1.0, "")],
               [("a", 4.0, ""), ("b", 5.0, ""), ("added", 1.0, "")],
               [("a", 5.0, ""), ("b", 6.0, ""), ("added", 1.0, "")]]
        rc, lines = self.run_tool(old, new)
        self.assertEqual(rc, 0)
        # a: median 2 -> 4 (2.00); b: 4 -> 5 (1.25); largest ratio first
        self.assertEqual(lines[1].split(), ["2.00", "4.00", "2.00", "a"])
        self.assertEqual(lines[2].split(), ["4.00", "5.00", "1.25", "b"])
        one_sided = {line.split()[-1]: line.split()[:3] for line in lines[3:5]}
        self.assertEqual(one_sided, {"added": ["-", "1.00", "-"],
                                     "gone": ["2.00", "-", "-"]})
        # drift: median of (2.00, 1.25) over the two shared tests
        self.assertIn("shared tests: 2; median ratio (host drift): 1.62", lines[-1])
        self.assertIn("6.0 s -> 9.0 s", lines[-1])

    def test_failed_and_skipped_runs_leave_the_median(self):
        old = [[("a", 1.0, "")], [("a", 1.0, "")]]
        new = [[("a", 9.0, "failure")], [("a", 2.0, "")], [("a", 50.0, "skipped")]]
        rc, lines = self.run_tool(old, new)
        self.assertEqual(rc, 0)
        self.assertEqual(lines[1].split(), ["1.00", "2.00", "2.00", "!a"])

    def test_missing_report_exits_1(self):
        with tempfile.TemporaryDirectory() as tmp:
            write_report(f"{tmp}/old", [("a", 1.0, "")])
            os.makedirs(f"{tmp}/new")
            with contextlib.redirect_stderr(io.StringIO()):
                rc = test_times.main([SUITE, "--old", f"{tmp}/old", "--new", f"{tmp}/new"])
        self.assertEqual(rc, 1)


if __name__ == "__main__":
    unittest.main()
