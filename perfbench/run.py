#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve-warm --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark runner from source (sbt, into perfbench/target); later runs reuse
that build while the sources are unchanged. Each run generates its inputs
from the seed, drives one workload in one JVM, checks the outputs (DuckDB
oracle for queries, invariants for the pipeline), writes a result file
under .bench_build/perfbench/results/ and prints one JSON line last.
See perfbench/README.md for the workloads, metrics and traces.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen    # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
BASE_DATA = os.path.join(HERE, "data", "sf0.01")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_FILE = os.path.join(ROOT, "BENCHMARK.json")

WORKLOADS = ("serve-warm", "pipeline-batch")

# serve-warm's query pool: drawn once, uniformly without replacement from
# every registered query (draw seed POOL_DRAW_SEED over the sorted names).
# The workload seed orders the calls and derives the data; it does not
# redraw the pool, because pools redrawn per seed put their own cost
# differences (~10 % of the median call) into every comparison.
POOL_SIZE = 8
POOL_DRAW_SEED = 20261017

# pipeline-batch: documents inflated this many times, exported to this
# many shards.
PIPELINE_MULT = 16
PIPELINE_STAGES = ("input", "validated", "gated", "ppl_gated", "clean",
                   "decontaminated", "mixed_rows")

JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

# A run must end within this many seconds (the first one also builds).
RUN_LIMIT_S = 170


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    """SPARK_HOME, else the first Spark installation on PATH whose jars
    include spark-sql (a pip-installed pyspark ships no jars dir there)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar"))):
            return home
    raise BenchError("no Spark installation found: set SPARK_HOME")


def build(digest, deadline):
    """Compile engine + runner once per source digest; return the classpath."""
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building engine and benchmark runner (sbt)")
    build_log = os.path.join(STATE, "build.log")
    # offline resolution from the local caches, as the repository's own
    # test command sets it up, unless the caller configured sbt already
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    with open(build_log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=max(60, deadline - time.time()))
    lines = [ln.strip() for ln in open(build_log) if ln.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        raise BenchError(f"build failed, see {build_log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


# ---------------------------------------------------------------- inputs

def all_queries():
    """The 230 names in SparkEntry.queries when the benchmark was defined:
    a fixed list, so a later query added to the engine does not change the
    pool a comparison runs."""
    with open(os.path.join(HERE, "queries.txt")) as fh:
        return [q.strip() for q in fh if q.strip()]


def serve_pool():
    names = sorted(all_queries())
    rng = np.random.default_rng(POOL_DRAW_SEED)
    return sorted(names[i] for i in rng.choice(len(names), POOL_SIZE, replace=False))


def make_inputs(workload, seed, data_dir):
    if workload == "pipeline-batch":
        gen.inflated_documents(BASE_DATA, data_dir, seed, PIPELINE_MULT)
    else:
        gen.query_inputs(BASE_DATA, data_dir, seed)


# ---------------------------------------------------------------- checks

def oracle_check(data_dir, dump_dir, queries):
    """DuckDB oracle over Verify's dumps (tools/check_oracle.py): hash
    compare, and the tolerance bands for the approximate queries."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         data_dir, dump_dir], cwd=ROOT, capture_output=True, text=True,
        timeout=120)
    passed = {ln.split()[1] for ln in proc.stdout.splitlines()
              if ln.startswith("PASS ")}
    failed = [ln for ln in proc.stdout.splitlines() if ln.startswith("FAIL ")]
    unchecked = sorted(set(queries) - passed - {ln.split()[1].rstrip(":") for ln in failed})
    if proc.returncode not in (0, 1):
        failed.append(f"oracle checker exited {proc.returncode}: {proc.stderr[-400:]}")
    return {"oracle_checked": len(queries), "oracle_pass": len(passed),
            "oracle_fail": len(failed), "oracle_unchecked": unchecked,
            "failures": failed + [f"{q}: no oracle verdict" for q in unchecked]}


def export_digest(export_path):
    import pyarrow.dataset as ds
    table = ds.dataset(export_path, format="parquet", partitioning="hive").to_table()
    rows = sorted(zip(*(table.column(c).to_pylist() for c in sorted(table.column_names))),
                  key=repr)
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return table.num_rows, h.hexdigest()


def pipeline_check(jvm, seed):
    """Funnel invariants of one TrainingData.run."""
    failures = []
    summary = {r["stage"]: r for r in jvm.get("pipeline_summary", [])}
    stages = [s for s in PIPELINE_STAGES if s in summary]
    if stages != list(PIPELINE_STAGES):
        failures.append(f"summary stages {sorted(summary)}")
        return {"invariants_checked": 1, "invariants_failed": 1,
                "failures": failures}, {}
    docs = [summary[s]["docs"] for s in stages]
    checks = 0

    checks += 1
    if any(b > a for a, b in zip(docs, docs[1:])):
        failures.append(f"stage counts increase: {dict(zip(stages, docs))}")
    checks += 1
    if summary["mixed_rows"]["docs"] != summary["decontaminated"]["docs"]:
        failures.append("flat weights but mixed_rows != decontaminated")
    path = jvm.get("export_path", "").replace("file:", "")
    checks += 1
    n_rows, digest = export_digest(path)
    if n_rows != summary["mixed_rows"]["docs"]:
        failures.append(f"shards hold {n_rows} rows, summary {summary['mixed_rows']['docs']}")
    checks += 1
    digests = os.path.join(STATE, "digests")
    os.makedirs(digests, exist_ok=True)
    known = os.path.join(digests, f"pipeline-batch-seed{seed}.txt")
    if os.path.exists(known) and open(known).read() != digest:
        failures.append("export digest differs from an earlier run of this seed")
    elif not os.path.exists(known):
        with open(known, "w") as fh:
            fh.write(digest)
    parts = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    export = {"export.files": len(parts),
              "export.bytes": sum(os.path.getsize(p) for p in parts),
              "digest": digest}
    return {"invariants_checked": checks, "invariants_failed": len(failures),
            "failures": failures}, export


# ---------------------------------------------------------------- metrics

def declared_metrics():
    with open(BENCH_FILE) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def metric(name, unit, value, samples):
    return {"name": name, "unit": unit, "value": value, "samples": samples}


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(workload, jvm, setup_s, export, input_bytes):
    """Every end-to-end metric, plus the workload-specific ones the result
    file keeps under their own names."""
    walls = jvm["call_walls_s"]
    by_op = {}
    for name, w in zip(jvm.get("call_names") or ["pass"] * len(walls), walls):
        by_op.setdefault(name, []).append(w)
    passes = len(jvm["pass_walls_s"])
    out = [
        metric("setup_s", "s", setup_s, 1),
        metric("pass_s", "s", statistics.median(jvm["pass_walls_s"]), passes),
        metric("op_gm_s", "s", geomean([statistics.median(v) for v in by_op.values()]),
               len(walls)),
    ]
    extra = [metric("pass_cpu_s", "s", statistics.median(jvm["pass_cpus_s"]), passes),
             metric("cpu_s", "s", jvm["cpu_s"], 1),
             metric("peak_rss_mb", "MB", jvm["peak_rss_mb"], 1)]
    if workload == "serve-warm":
        extra.append(metric("query_p50_s", "s", stats.percentile(walls, 50), len(walls)))
        tail = stats.tail_percentile(walls)
        if tail and tail[0] > 50:
            extra.append(metric(f"query_p{tail[0]:g}_s", "s", tail[1], len(walls)))
        extra.append(metric("queries_per_s", "1/s", len(walls) / jvm["timed_wall_s"],
                            len(walls)))
    else:
        extra.append(metric("pipeline_s", "s", statistics.median(walls), len(walls)))
        extra.append(metric("export_bytes_per_input_byte", "ratio",
                            export.get("export.bytes", 0) / input_bytes, 1))
    return out, extra


def per_layer(jvm, export):
    """Per-layer metrics from the JVM's counters and the pipeline funnel."""
    layers = dict(jvm.get("layers", {}))
    summary = {r["stage"]: r for r in jvm.get("pipeline_summary", [])}
    for st in PIPELINE_STAGES:
        layers[f"pipeline.{st}_s"] = summary.get(st, {}).get("secs", 0.0)
        layers[f"pipeline.{st}_docs"] = summary.get(st, {}).get("docs", 0)
    if summary:
        layers["pipeline.unstaged_s"] = jvm["pass_walls_s"][-1] - sum(
            r["secs"] for r in summary.values())
    layers["export.files"] = export.get("export.files", 0)
    layers["export.bytes"] = export.get("export.bytes", 0)
    return layers


def trace_overhead(workload, seed, op_wall_s):
    """Traced wall / untraced wall - 1, per operation, against the untraced
    run of the same seed, else the median of this workload's untraced runs."""
    ref = {}
    for f in glob.glob(os.path.join(STATE, "results", f"{workload}-seed*-trace0.json")):
        with open(f) as fh:
            r = json.load(fh)
        ref[r["seed"]] = r["op_wall_s"]
    if not ref:
        return None
    base = ref.get(seed, statistics.median(ref.values()))
    return op_wall_s / base - 1


def assemble(args, jvm, correctness, setup_s, export, input_bytes, overhead=None):
    """The result record and the stdout line of one run. The record names
    every metric BENCHMARK.json declares for this kind of run; a layer the
    workload does not exercise reads 0 with 0 samples."""
    e2e_spec, layer_spec = declared_metrics()
    units = {m["name"]: m["unit"] for m in e2e_spec + layer_spec}
    attempted = max(1, jvm["attempted"])
    failed = min(attempted, jvm["failed_calls"] + len(correctness["failures"]))
    e2e, extra = end_to_end(args.workload, jvm, setup_s, export, input_bytes)
    op_wall_s = sum(jvm["call_walls_s"]) / len(jvm["call_walls_s"])
    metrics = e2e + extra
    if args.trace:
        layers = per_layer(jvm, export)
        if overhead is not None:
            layers["trace.overhead_frac"] = overhead
        metrics += [metric(k, units.get(k, "s" if k.endswith("_s") else "count"), v, 1)
                    for k, v in sorted(layers.items())]
    reported = {m["name"]: m for m in metrics}
    wanted = layer_spec if args.trace else e2e_spec
    for m in wanted:
        if m["name"] not in reported:
            if not args.trace:
                raise BenchError(f"metric not produced: {m['name']}")
            reported[m["name"]] = metric(m["name"], m["unit"], 0, 0)
            metrics.append(reported[m["name"]])
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "correct": failed == 0,
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "op_wall_s": op_wall_s,
        "call_names": jvm.get("call_names", []),
        "call_walls_s": jvm["call_walls_s"],
        "pass_walls_s": jvm["pass_walls_s"],
        "metrics": metrics,
        "correctness": correctness,
    }
    line = {"correct": result["correct"], "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": reported[m["name"]]["value"],
                                    "unit": m["unit"]} for m in wanted}}
    return result, line


# ---------------------------------------------------------------- run

def run(args):
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise BenchError("engine sources not found: run from the repository root")
    if not os.path.isdir(BASE_DATA) or not os.path.isfile(BENCH_FILE):
        raise BenchError("benchmark data or BENCHMARK.json missing")
    os.makedirs(STATE, exist_ok=True)
    digest = source_digest()
    classpath = build(digest, t_start + 850)
    deadline = max(deadline, time.time() + 150)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(STATE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data_dir = os.path.join(work, "data")

    # set-up part 1: the seeded inputs
    t0 = time.perf_counter()
    make_inputs(args.workload, args.seed, data_dir)
    gen_s = time.perf_counter() - t0
    input_bytes = os.path.getsize(os.path.join(data_dir, "documents.parquet"))

    if args.workload == "serve-warm":
        queries = serve_pool()
    else:
        queries = []
    cpus = len(os.sched_getaffinity(0))
    jvm_out = os.path.join(work, "jvm.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_OPENS, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--data", data_dir, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--seed", str(args.seed), "--cpus", str(cpus),
           "--queries", ",".join(queries), "--out", jvm_out]
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    jvm_log = os.path.join(STATE, "logs", f"{tag}.log")
    with open(jvm_log, "w") as out:
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=max(30, deadline - time.time() - 15))
        except subprocess.TimeoutExpired:
            raise BenchError(f"engine run exceeded the time limit, see {jvm_log}")
    log(f"engine run done at {time.time() - t_start:.1f} s (exit {proc.returncode})")
    if not os.path.exists(jvm_out):
        raise BenchError(f"engine run wrote no result (exit {proc.returncode}), see {jvm_log}")
    with open(jvm_out) as fh:
        jvm = json.load(fh)

    correctness = {"op_failures": jvm["op_failures"], "failures": list(jvm["breaches"])}
    pipeline_export = {}
    if proc.returncode != 0:
        correctness["failures"].append(f"engine exited {proc.returncode}, see {jvm_log}")
    if args.workload == "pipeline-batch":
        inv, pipeline_export = pipeline_check(jvm, args.seed)
        correctness.update({k: v for k, v in inv.items() if k != "failures"})
        correctness["failures"] += inv["failures"]
    else:
        orc = oracle_check(data_dir, os.path.join(work, "verify"), jvm["verified_queries"])
        correctness.update({k: v for k, v in orc.items() if k != "failures"})
        correctness["failures"] += orc["failures"]
    log(f"checks done at {time.time() - t_start:.1f} s")

    setup_s = gen_s + jvm["setup_jvm_s"]
    overhead = None
    if args.trace:
        walls = jvm["call_walls_s"]
        overhead = trace_overhead(args.workload, args.seed, sum(walls) / len(walls))
    result, line = assemble(args, jvm, correctness, setup_s, pipeline_export,
                            input_bytes, overhead)
    result["context"] = dict(jvm["context"], nproc=cpus, seed=args.seed,
                             source_digest=digest, git_commit=git_commit(),
                             queries=queries, input_bytes=input_bytes,
                             gen_s=gen_s, spans=jvm.get("spans", 0))
    if args.workload == "pipeline-batch":
        result["context"]["export_digest"] = pipeline_export.get("digest")

    results = os.path.join(STATE, "results")
    traces = os.path.join(STATE, "traces")
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(results, f"{tag}.json")
    with open(result_file, "w") as fh:
        json.dump(result, fh, indent=1)
    if args.trace and os.path.exists(os.path.join(work, "spans.json")):
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    for f in correctness["op_failures"] + correctness["failures"]:
        log(f"FAIL {f}")
    log(f"result file {result_file}, run took {time.time() - t_start:.1f} s")

    print(json.dumps(line))
    return 0 if result["correct"] else 1


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        return run(args)
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
