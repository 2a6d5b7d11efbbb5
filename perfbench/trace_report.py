#!/usr/bin/env python3
"""Summarize a benchmark trace: count, total and self time per span name.

    python3 perfbench/trace_report.py .bench_build/perfbench/traces/serve-warm-seed1.json
    python3 perfbench/trace_report.py TRACE --call 42     # one call's span tree

A span's self time is its duration minus the part of it that its child
spans cover. Per-query spans (`serve.<module>/<query>`) are also summed per
module (`serve.<module>`).
"""
import argparse
import collections
import json


def self_times(spans):
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, reach = 0, s["start_ns"]
        for c in sorted(children[s["id"]], key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], reach), min(c["end_ns"], s["end_ns"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out


def summary(spans):
    own = self_times(spans)
    rows = collections.defaultdict(lambda: [0, 0, 0])
    for s in spans:
        keys = [s["name"]]
        if "/" in s["name"]:
            keys.append(s["name"].split("/", 1)[0])
        for k in keys:
            r = rows[k]
            r[0] += 1
            r[1] += s["end_ns"] - s["start_ns"]
            r[2] += own[s["id"]]
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--call", type=int, help="print the span tree of one call id")
    args = ap.parse_args()
    with open(args.trace) as fh:
        spans = json.load(fh)
    if args.call is not None:
        own = self_times(spans)
        by_parent = collections.defaultdict(list)
        for s in spans:
            if s["call"] == args.call:
                by_parent[s["parent"]].append(s)
        ids = {s["id"] for s in spans if s["call"] == args.call}

        def show(s, depth):
            print(f"{'  ' * depth}{s['name']}  {(s['end_ns'] - s['start_ns']) / 1e9:.4f} s"
                  f"  (self {own[s['id']] / 1e9:.4f} s)")
            for c in sorted(by_parent[s["id"]], key=lambda c: c["start_ns"]):
                show(c, depth + 1)
        for s in sorted((s for s in spans if s["call"] == args.call and s["parent"] not in ids),
                        key=lambda s: s["start_ns"]):
            show(s, 0)
        return
    print(f"{'span':56} {'count':>6} {'total_s':>10} {'self_s':>10}")
    for name, (n, total, own) in sorted(summary(spans).items(), key=lambda kv: -kv[1][2]):
        print(f"{name:56} {n:6d} {total / 1e9:10.3f} {own / 1e9:10.3f}")


if __name__ == "__main__":
    main()
