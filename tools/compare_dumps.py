#!/usr/bin/env python3
"""Compare two graft.Verify dump directories query by query.

For every query dump (one parquet directory per query, plus any name in
either side's selected.json manifest) it checks that both sides have the
dump, that the schemas are equal (column names, order and types) and that
the rows are equal as a multiset (row order is ignored; NaN equals NaN).

Usage: python3 tools/compare_dumps.py OLD_DIR NEW_DIR
Prints one line per differing or missing dump and a summary line; exits 1
on any difference or missing dump, 0 when every dump is identical.
"""
import collections
import json
import math
import os
import sys

import pyarrow.parquet as pq


def dump_names(out_dir):
    """Query dump dirs under out_dir, plus the names Verify selected."""
    names = {e.name for e in os.scandir(out_dir) if e.is_dir()}
    manifest = os.path.join(out_dir, "selected.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            names |= set(json.load(f))
    return names


def canon(v):
    """A hashable, NaN-stable form of one parquet cell."""
    if isinstance(v, float) and math.isnan(v):
        return ("NaN",)
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def read_dump(path):
    table = pq.read_table(path)
    schema = [(f.name, str(f.type)) for f in table.schema]
    rows = collections.Counter(
        tuple(canon(r[name]) for name, _ in schema) for r in table.to_pylist())
    return schema, rows


def compare_one(old_dir, new_dir, name):
    """None when the dump is identical on both sides, else the reason."""
    old_path, new_path = os.path.join(old_dir, name), os.path.join(new_dir, name)
    missing = [side for side, p in (("OLD", old_path), ("NEW", new_path))
               if not os.path.isdir(p)]
    if missing:
        return f"missing in {' and '.join(missing)}"
    old_schema, old_rows = read_dump(old_path)
    new_schema, new_rows = read_dump(new_path)
    if old_schema != new_schema:
        return f"schema {old_schema} != {new_schema}"
    if old_rows != new_rows:
        only_old = sum((old_rows - new_rows).values())
        only_new = sum((new_rows - old_rows).values())
        return (f"rows differ: {only_old} only in OLD, {only_new} only in NEW "
                f"({sum(old_rows.values())} vs {sum(new_rows.values())} rows)")
    return None


def main(old_dir, new_dir):
    names = sorted(dump_names(old_dir) | dump_names(new_dir))
    n_same = n_diff = 0
    for name in names:
        reason = compare_one(old_dir, new_dir, name)
        if reason is None:
            n_same += 1
        else:
            n_diff += 1
            print(f"DIFF {name}: {reason}")
    print(f"== {n_same} identical, {n_diff} differ ==")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3 or not all(os.path.isdir(d) for d in sys.argv[1:]):
        sys.exit("usage: compare_dumps.py OLD_DIR NEW_DIR (two Verify output dirs)")
    sys.exit(main(sys.argv[1], sys.argv[2]))
