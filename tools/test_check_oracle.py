"""check_oracle.py's tolerance-band adjudication on a malformed dump.

A null band cell must FAIL that one query and let the run continue.
Run: python3 -m unittest discover -s tools
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check_oracle


def write_dump(out_dir, name, rows):
    os.makedirs(f"{out_dir}/{name}")
    pq.write_table(pa.table(rows), f"{out_dir}/{name}/part-0.parquet")


class ToleranceBandTest(unittest.TestCase):
    def test_null_band_cell_fails_one_query_and_run_continues(self):
        with tempfile.TemporaryDirectory() as tmp:
            sf_dir, out_dir = f"{tmp}/sf", f"{tmp}/out"
            os.makedirs(sf_dir)
            for t in check_oracle.TABLES:
                pq.write_table(pa.table({"x": [1]}), f"{sf_dir}/{t}.parquet")
            os.makedirs(out_dir)
            with open(f"{out_dir}/oracle_sql.json", "w") as f:
                json.dump({}, f)
            with open(f"{out_dir}/oracle_tolerance.json", "w") as f:
                json.dump({
                    # a VARCHAR null reaches pandas as None, not NaN
                    "q_bad": "SELECT 1 AS k, CAST(NULL AS VARCHAR) AS v_lo, 2.0 AS v_hi",
                    "q_good": "SELECT 1 AS k, 0.5 AS v_lo, 2.0 AS v_hi",
                }, f)
            write_dump(out_dir, "q_bad", {"k": [1], "v": [1.0]})
            write_dump(out_dir, "q_good", {"k": [1], "v": [1.0]})

            printed = io.StringIO()
            with contextlib.redirect_stdout(printed):
                rc = check_oracle.main(sf_dir, out_dir)
            lines = printed.getvalue().splitlines()

        self.assertEqual(rc, 1)
        self.assertEqual([l for l in lines if l.startswith("FAIL")][0].split(":")[0],
                         "FAIL q_bad")
        self.assertEqual(sum(l.startswith("FAIL") for l in lines), 1)
        self.assertIn("PASS q_good (1 rows, tolerance band)", lines)
        self.assertEqual(lines[-1], "== 0 pass, 1 fail, 1 tolerance-pass ==")


if __name__ == "__main__":
    unittest.main()
