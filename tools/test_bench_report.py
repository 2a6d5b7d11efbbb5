"""bench_report.py's per-query mover rule (`compare`) and its two-file mode.

Run: python3 -m unittest discover -s tools
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import bench_report


def artifact(queries, failed=(), calib=None):
    d = {"queries": queries, "failed_queries": list(failed)}
    if calib is not None:
        d["host_calibration_sec"] = d["host_calibration_end_sec"] = calib
    return d


class CompareTest(unittest.TestCase):
    def test_mover_needs_both_2x_and_04s_absolute(self):
        # qx: 0.1 -> 0.3 is 3x but only +0.2 s; qy: 0.5 -> 1.0 is 2x and +0.5 s
        _, _, _, movers = bench_report.compare(
            artifact({"qx": 0.3, "qy": 1.0}), artifact({"qx": 0.1, "qy": 0.5}))
        self.assertEqual(movers, [(2.0, "qy")])

    def test_failed_on_either_side_is_excluded(self):
        # qa failed in OLD: its fast failure wall would make the fixed query
        # a 100x mover; qb failed in NEW: its fast wall would read as a
        # speedup and pull the median down
        new = artifact({"qa": 1.0, "qb": 0.01, "qc": 1.0, "qd": 1.0}, failed=["qb"])
        old = artifact({"qa": 0.01, "qb": 1.0, "qc": 1.0, "qd": 1.0}, failed=["qa"])
        common, med, _, movers = bench_report.compare(new, old)
        self.assertEqual(common, ["qc", "qd"])
        self.assertEqual(med, 1.0)
        self.assertEqual(movers, [])

    def test_normalized_median_is_raw_times_calib_old_over_calib_new(self):
        # every query 3x slower on a host whose probe reads 2x slower
        _, med, norm, movers = bench_report.compare(
            artifact({"qa": 3.0, "qb": 1.5}, calib=2.0),
            artifact({"qa": 1.0, "qb": 0.5}, calib=1.0))
        self.assertEqual(med, 3.0)
        self.assertAlmostEqual(norm, 3.0 * 1.0 / 2.0)
        self.assertEqual({q for _, q in movers}, {"qa", "qb"})

    def test_no_calibration_means_no_normalized_median(self):
        _, med, norm, _ = bench_report.compare(
            artifact({"qa": 1.0}, calib=1.0), artifact({"qa": 1.0}))
        self.assertEqual((med, norm), (1.0, None))


class TwoFileModeTest(unittest.TestCase):
    def test_prints_the_compare_section(self):
        with tempfile.TemporaryDirectory() as tmp:
            paths = []
            for name, d in (("new", artifact({"qx": 0.3, "qy": 1.0}, calib=1.0)),
                            ("old", artifact({"qx": 0.1, "qy": 0.5}, calib=1.0))):
                paths.append(os.path.join(tmp, name + ".json"))
                with open(paths[-1], "w") as f:
                    json.dump(d, f)
            out = io.StringIO()
            argv = sys.argv
            sys.argv = ["bench_report.py"] + paths
            try:
                with contextlib.redirect_stdout(out):
                    bench_report.main()
            finally:
                sys.argv = argv
        text = out.getvalue()
        self.assertIn("(2 common queries)", text)
        self.assertIn(">=2x AND >=0.4s absolute warm regressions", text)
        self.assertIn("qy", text.split("regressions:")[1])
        self.assertNotIn("qx", text.split("regressions:")[1])


if __name__ == "__main__":
    unittest.main()
