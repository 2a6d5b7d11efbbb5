#!/usr/bin/env python3
"""Bench telemetry: turn one or two Bench artifacts into the NOTES perf
section — per-query cold-vs-warm deltas (session-artifact attribution) and,
with a second file, per-query warm ratios and regressions vs that run.

Usage:
  tools/bench_report.py NEW.json [OLD.json]

Accepts a Bench BENCH_FULL.json, a raw Bench stdout line or a driver
BENCH_r{N}.json wrapper (whose "tail" field holds the line). Output is
markdown, ready to paste. This is the one place the per-query regression
rule lives (see `compare`); Bench itself only measures.
"""
import json
import re
import sys


def load(path):
    with open(path) as f:
        raw = f.read()
    try:
        d = json.loads(raw)
    except json.JSONDecodeError:
        d = None
    if isinstance(d, dict) and "queries" in d:
        return d
    # driver wrapper: the bench line lives somewhere inside "tail"
    text = d.get("tail", raw) if isinstance(d, dict) else raw
    m = re.search(r'\{"queries_first":.*?"value":[0-9.]+\}', text, re.S)
    if m:
        return json.loads(m.group(0).replace("\\n", "").replace('\\"', '"'))
    # driver tails are head-truncated: recover the per-map fragments
    out = {}
    for key in ("queries_first", "queries"):
        f = re.search(r'\\?"%s\\?":(\{.*?\})' % key, text, re.S)
        if f:
            out[key] = json.loads(f.group(1).replace("\\n", "").replace('\\"', '"'))
    v = re.search(r'\\?"min_total_sec\\?":([0-9.]+)', text)
    c = re.search(r'\\?"value\\?":([0-9.]+)', text)
    for key in ("host_calibration_sec", "host_calibration_end_sec"):
        h = re.search(r'\\?"%s\\?":([0-9.]+)' % key, text)
        if h:
            out[key] = float(h.group(1))
    if "queries" not in out:
        # last resort: a head-truncated tail — reconstruct the warm map
        # from the first intact "qNN...":number entry to its closing brace
        # (queries prints after queries_first, so the surviving map is the
        # warm one; the severed first entry is dropped)
        plain = text.replace("\\n", "").replace('\\"', '"')
        frag = re.search(r'"q[0-9]+[a-z0-9_]*":[0-9.]+(?:,"[^"]+":[0-9.]+)*\}',
                         plain)
        if not frag:
            sys.exit(f"no bench JSON found in {path}")
        out["queries"] = json.loads("{" + frag.group(0))
    if v:
        out["min_total_sec"] = float(v.group(1))
    if c:
        out["value"] = float(c.group(1))
    return out


def calib(d):
    # mean of the start and end probes when both exist (one instant
    # witnesses one instant; the suite's load is better bracketed)
    vals = [d[k] for k in ("host_calibration_sec",
                           "host_calibration_end_sec") if d.get(k)]
    return sum(vals) / len(vals) if vals else None


def compare(new, old):
    """Per-query warm comparison of two Bench artifacts.

    Returns (common, median, median_norm, movers): the compared query
    names, the median NEW/OLD warm ratio, that median normalized by the
    host probes (raw x calib_old/calib_new; None when either side lacks
    them) and the movers as (ratio, name), largest ratio first. A mover
    is >=2x slower AND >=0.4 s slower in absolute terms, so trivial
    deltas on fast queries stay out. A query listed in EITHER side's
    failed_queries is dropped: a failure's fast wall is not a speedup,
    and a fixed query is not a regression against one (r20 ADVICE).
    """
    nw, ow = new["queries"], old["queries"]
    failed = set(new.get("failed_queries") or ()) | set(old.get("failed_queries") or ())
    common = sorted((set(nw) & set(ow)) - failed)
    ratios = sorted(((nw[q] / ow[q] if ow[q] > 0 else float("inf"), q)
                     for q in common), reverse=True)
    if not ratios:
        return common, None, None, []
    med = sorted(r for r, _ in ratios)[len(ratios) // 2]
    cn, co = calib(new), calib(old)
    norm = med * co / cn if cn and co else None
    movers = [(r, q) for r, q in ratios if r >= 2.0 and nw[q] - ow[q] >= 0.4]
    return common, med, norm, movers


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    a = load(sys.argv[1])
    warm = a["queries"]
    first = a.get("queries_first", {})
    total_first = sum(first.values()) if first else float(a.get("value", 0))
    total_warm = sum(warm.values())
    print(f"## Bench report: {sys.argv[1]}")
    print(f"- cold first-pass total {total_first:.1f} s, "
          f"warm min-total {total_warm:.1f} s at {len(warm)} queries")
    if calib(a):
        probes = " + ".join(f"{a[k]:.2f}" for k in
                            ("host_calibration_sec", "host_calibration_end_sec")
                            if a.get(k))
        print(f"- host calibration: {calib(a):.2f} s (probes {probes}; "
              f"fixed seeded sort+hash on all bench threads; scales with "
              f"host load — normalize cross-run ratios by it)")
    if first:
        deltas = sorted(((first[q] - warm[q], q) for q in warm if q in first),
                        reverse=True)
        print("- top cold−warm deltas (session-artifact / fit cost lives here):")
        for d, q in deltas[:10]:
            print(f"    {q:28s} first {first[q]:7.2f}  warm {warm[q]:6.2f}  "
                  f"delta {d:7.2f}")
    slow = sorted(warm.items(), key=lambda kv: -kv[1])[:8]
    print("- slowest warm:", ", ".join(f"{q} {v:.2f}s" for q, v in slow))
    ac = a.get("artifact_cost")
    if isinstance(ac, dict) and ac:
        # once-per-session build costs, recorded by the builds themselves
        # (SessionArtifacts) — the decomposition of the cold-warm deltas
        # above: a big pass-1 reading on an index/fit-backed query is
        # this, not plan cost
        total = a.get("artifact_cost_total", sum(ac.values()))
        top = sorted(ac.items(), key=lambda kv: -kv[1])[:10]
        print(f"- session artifact builds: {total:.1f} s total across "
              f"{len(ac)} builds; top: "
              + ", ".join(f"{k} {v:.1f}s" for k, v in top))
    failed = a.get("failed_queries")
    if failed:
        # a failed query's wall time is a fast ERROR, not a speedup —
        # `compare` drops these from the ratio set (r20 review)
        print(f"- !! {len(failed)} QUERIES FAILED during the bench "
              f"(excluded from compare ratios): {', '.join(failed)}")
    cd = a.get("cold_decomposed")
    if isinstance(cd, list) and cd:
        # per-query cold = attributed builds + plan (r19 #6): the pass-1
        # reading of a build-touching query decomposes in the artifact
        print("- top-10 cold decomposed (cold = builds + plan):")
        for e in cd:
            print(f"    {e['q']:28s} cold {e['cold']:7.2f} = builds "
                  f"{e['builds']:6.2f} + plan {e['plan']:6.2f}")
    if len(sys.argv) > 2:
        b = load(sys.argv[2])
        bw = b["queries"]
        common, med, norm, big = compare(a, b)
        if not common:
            sys.exit(f"no common non-failed queries between {sys.argv[1]} "
                     f"and {sys.argv[2]} (truncated tail artifact?)")
        print(f"\n## vs {sys.argv[2]} ({len(common)} common queries)")
        print(f"- suite median warm ratio: {med:.2f} "
              f"(drift band per NOTES: compare medians, not single readings)")
        if norm is not None:
            # times scale ~ with host slowness; dividing each side by its
            # calibration cancels the shared-host drift component
            print(f"- host-normalized median ratio: {norm:.2f} "
                  f"(raw {med:.2f} x calib {calib(b):.2f}/{calib(a):.2f})")
        else:
            missing = sys.argv[1] if not calib(a) else sys.argv[2]
            print(f"- no host normalization: {missing} lacks "
                  f"host_calibration_sec (pre-r17 artifact)")
        if big:
            print("- >=2x AND >=0.4s absolute warm regressions:")
            for r, q in big:
                print(f"    {q:28s} {bw[q]:6.2f} -> {warm[q]:6.2f}  ({r:.2f}x)")
        else:
            print("- no >=2x (and >=0.4s absolute) warm regressions")


if __name__ == "__main__":
    main()
