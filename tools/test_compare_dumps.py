"""compare_dumps.py: per-dump schema + row-multiset equality of two Verify outputs.

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

import compare_dumps


def write_dump(out_dir, name, table):
    os.makedirs(f"{out_dir}/{name}")
    pq.write_table(table, f"{out_dir}/{name}/part-0.parquet")


class CompareDumpsTest(unittest.TestCase):
    def run_compare(self, old, new):
        """Write {name: table} dumps to OLD/NEW dirs; return (rc, lines)."""
        with tempfile.TemporaryDirectory() as tmp:
            dirs = {}
            for side, dumps in (("old", old), ("new", new)):
                dirs[side] = f"{tmp}/{side}"
                os.makedirs(dirs[side])
                for name, table in dumps.items():
                    write_dump(dirs[side], name, table)
            printed = io.StringIO()
            with contextlib.redirect_stdout(printed):
                rc = compare_dumps.main(dirs["old"], dirs["new"])
        return rc, printed.getvalue().splitlines()

    def test_row_order_nan_and_nested_values_are_identical(self):
        old = pa.table({"k": [1, 2], "v": [float("nan"), 0.5], "a": [[1, 2], []]})
        new = pa.table({"k": [2, 1], "v": [0.5, float("nan")], "a": [[], [1, 2]]})
        rc, lines = self.run_compare({"q1": old}, {"q1": new})
        self.assertEqual(rc, 0)
        self.assertEqual(lines, ["== 1 identical, 0 differ =="])

    def test_changed_value_differs(self):
        rc, lines = self.run_compare(
            {"q1": pa.table({"k": [1, 2]}), "q2": pa.table({"k": [1]})},
            {"q1": pa.table({"k": [1, 3]}), "q2": pa.table({"k": [1]})})
        self.assertEqual(rc, 1)
        self.assertEqual(lines[0], "DIFF q1: rows differ: 1 only in OLD, 1 only in NEW "
                                   "(2 vs 2 rows)")
        self.assertEqual(lines[-1], "== 1 identical, 1 differ ==")

    def test_duplicate_row_multiplicity_differs(self):
        rc, lines = self.run_compare({"q1": pa.table({"k": [1, 1, 2]})},
                                     {"q1": pa.table({"k": [1, 2, 2]})})
        self.assertEqual(rc, 1)
        self.assertTrue(lines[0].startswith("DIFF q1: rows differ"))

    def test_column_type_differs_even_when_values_match(self):
        rc, lines = self.run_compare(
            {"q1": pa.table({"k": pa.array([1], pa.int64())})},
            {"q1": pa.table({"k": pa.array([1], pa.int32())})})
        self.assertEqual(rc, 1)
        self.assertTrue(lines[0].startswith("DIFF q1: schema"))

    def test_missing_dump_on_either_side_differs(self):
        rc, lines = self.run_compare({"q1": pa.table({"k": [1]})},
                                     {"q2": pa.table({"k": [1]})})
        self.assertEqual(rc, 1)
        self.assertEqual(lines, ["DIFF q1: missing in NEW", "DIFF q2: missing in OLD",
                                 "== 0 identical, 2 differ =="])

    def test_selected_query_without_dump_on_both_sides_differs(self):
        with tempfile.TemporaryDirectory() as tmp:
            for side in ("old", "new"):
                os.makedirs(f"{tmp}/{side}")
                with open(f"{tmp}/{side}/selected.json", "w") as f:
                    json.dump(["q_threw"], f)
            printed = io.StringIO()
            with contextlib.redirect_stdout(printed):
                rc = compare_dumps.main(f"{tmp}/old", f"{tmp}/new")
        self.assertEqual(rc, 1)
        self.assertIn("DIFF q_threw: missing in OLD and NEW",
                      printed.getvalue().splitlines())


if __name__ == "__main__":
    unittest.main()
