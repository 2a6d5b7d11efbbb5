#!/usr/bin/env python3
"""Compare one test suite's per-test times between two sides.

A single whole-suite wall per side cannot judge a change on a shared
host: drift moves every test, touched or not. This reads the suite's
JUnit report (`TEST-<suite>.xml`, as sbt writes it to
target/test-reports/) from several report directories per side, one
directory per run, and prints for each test the median time on each side
and the new/old ratio. The median ratio over the tests both sides ran is
the host drift between the sides; a test whose ratio sits far from it
moved for its own reasons.

Usage:
    python3 tools/test_times.py SUITE --old DIR [DIR ...] --new DIR [DIR ...]

e.g. SUITE = graft.StreamingSpec. Medians use passing runs only; a test
that failed or errored in any run is marked `!`. Exits 1 when a
directory has no report for the suite.
"""
import argparse
import os
import statistics
import sys
import xml.etree.ElementTree as ET


def read_runs(suite, dirs):
    """{test name: ([seconds of passing runs], failed run count)}."""
    times = {}
    for d in dirs:
        path = os.path.join(d, f"TEST-{suite}.xml")
        if not os.path.exists(path):
            raise FileNotFoundError(path)
        for case in ET.parse(path).getroot().iter("testcase"):
            passed, failed = times.setdefault(case.get("name"), ([], [0]))
            if case.find("failure") is not None or case.find("error") is not None:
                failed[0] += 1
            elif case.find("skipped") is None:
                passed.append(float(case.get("time")))
    return {name: (passed, failed[0]) for name, (passed, failed) in times.items()}


def median_or_none(xs):
    return statistics.median(xs) if xs else None


def compare(old, new):
    """Rows (name, old median, new median, ratio, any failure) sorted by
    ratio (one-sided tests last), and the median ratio over shared tests."""
    rows = []
    for name in sorted(old.keys() | new.keys()):
        o = median_or_none(old.get(name, ([], 0))[0])
        n = median_or_none(new.get(name, ([], 0))[0])
        ratio = n / o if o and n is not None else None
        failed = old.get(name, ([], 0))[1] + new.get(name, ([], 0))[1] > 0
        rows.append((name, o, n, ratio, failed))
    rows.sort(key=lambda r: (r[3] is None, -(r[3] or 0.0), r[0]))
    shared = [r[3] for r in rows if r[3] is not None]
    return rows, median_or_none(shared)


def fmt(x, spec):
    return format(x, spec) if x is not None else "-"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("suite")
    ap.add_argument("--old", nargs="+", required=True, metavar="DIR")
    ap.add_argument("--new", nargs="+", required=True, metavar="DIR")
    args = ap.parse_args(argv)
    try:
        old = read_runs(args.suite, args.old)
        new = read_runs(args.suite, args.new)
    except FileNotFoundError as e:
        print(f"no report: {e}", file=sys.stderr)
        return 1
    rows, drift = compare(old, new)
    print(f"{'old_s':>8} {'new_s':>8} {'ratio':>6}  test "
          f"({len(args.old)} old runs, {len(args.new)} new runs)")
    for name, o, n, ratio, failed in rows:
        print(f"{fmt(o, '8.2f')} {fmt(n, '8.2f')} {fmt(ratio, '6.2f')} "
              f"{'!' if failed else ' '}{name}")
    n_shared = sum(r[3] is not None for r in rows)
    tot_old = sum(r[1] for r in rows if r[3] is not None)
    tot_new = sum(r[2] for r in rows if r[3] is not None)
    print(f"shared tests: {n_shared}; median ratio (host drift): {fmt(drift, '.2f')}; "
          f"sum of shared medians: {tot_old:.1f} s -> {tot_new:.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
