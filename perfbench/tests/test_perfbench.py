"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import argparse
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen    # noqa: E402
import run    # noqa: E402
import stats  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402


def digests(path):
    return {f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(path))}


def row_counts(path):
    return {f: pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))}


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(stats.tail_percentile(list(range(99)))[0], 75)
        self.assertEqual(stats.tail_percentile(list(range(40)))[0], 75)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99)
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50)
        self.assertIsNone(stats.tail_percentile(list(range(19))))

    def test_reported_value_has_ten_samples_beyond_it(self):
        values = [float(i) for i in range(1, 101)]
        p, v = stats.tail_percentile(values)
        self.assertEqual((p, v), (90, 90.0))
        self.assertEqual(sum(x > v for x in values), 10)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def out(self, name):
        return os.path.join(self.tmp.name, name)

    def test_query_inputs_are_seeded(self):
        for name, seed in (("a", 1), ("b", 1), ("c", 2)):
            gen.query_inputs(run.BASE_DATA, self.out(name), seed)
        self.assertEqual(digests(self.out("a")), digests(self.out("b")))
        self.assertEqual(row_counts(self.out("a")), row_counts(self.out("c")))
        da, dc = digests(self.out("a")), digests(self.out("c"))
        self.assertTrue(all(da[f] != dc[f] for f in da))

    def test_query_inputs_keep_the_doc_id_set(self):
        gen.query_inputs(run.BASE_DATA, self.out("a"), 7)
        base = pq.read_table(os.path.join(run.BASE_DATA, "documents.parquet"))
        seeded = pq.read_table(os.path.join(self.out("a"), "documents.parquet"))
        self.assertEqual(sorted(base["doc_id"].to_pylist()),
                         sorted(seeded["doc_id"].to_pylist()))
        self.assertEqual(sorted(base["text"].to_pylist()),
                         sorted(seeded["text"].to_pylist()))

    def test_inflated_documents_are_seeded(self):
        for name, seed in (("a", 1), ("b", 1), ("c", 2)):
            gen.inflated_documents(run.BASE_DATA, self.out(name), seed, 4)
        self.assertEqual(digests(self.out("a")), digests(self.out("b")))
        self.assertEqual(row_counts(self.out("a")), row_counts(self.out("c")))
        self.assertNotEqual(digests(self.out("a"))["documents.parquet"],
                            digests(self.out("c"))["documents.parquet"])

    def test_inflated_documents_shape(self):
        gen.inflated_documents(run.BASE_DATA, self.out("a"), 3, 4)
        base = pq.read_table(os.path.join(run.BASE_DATA, "documents.parquet"))
        docs = pq.read_table(os.path.join(self.out("a"), "documents.parquet")).to_pylist()
        self.assertEqual(len(docs), 4 * base.num_rows)
        self.assertEqual(len({d["doc_id"] for d in docs}), len(docs))
        self.assertTrue(all(d["n_chars"] == len(d["text"]) for d in docs))
        copy0 = {d["doc_id"]: d["text"] for d in docs if d["doc_id"] < gen.COPY_STRIDE}
        self.assertEqual(copy0, dict(zip(base["doc_id"].to_pylist(),
                                         base["text"].to_pylist())))


class PoolTest(unittest.TestCase):
    def test_pool_is_a_fixed_draw_from_every_query(self):
        pool = run.serve_pool()
        self.assertEqual(pool, run.serve_pool())
        self.assertEqual(len(pool), run.POOL_SIZE)
        self.assertEqual(len(set(pool)), run.POOL_SIZE)
        self.assertTrue(set(pool) <= set(run.all_queries()))
        self.assertEqual(len(run.all_queries()), 230)


def fake_jvm(workload):
    """A JVM result as Main writes it, with made-up numbers."""
    pipeline = workload == "pipeline-batch"
    names = ["pass"] if pipeline else ["q1", "q2", "q3"] * 4
    walls = [30.0] if pipeline else [0.1 * (i + 1) for i in range(len(names))]
    jvm = {"call_walls_s": walls, "call_names": [] if pipeline else names,
           "pass_walls_s": [30.0] if pipeline else [1.0, 1.1, 0.9, 1.0],
           "pass_cpus_s": [90.0] if pipeline else [3.0, 3.1, 2.9, 3.0],
           "timed_wall_s": sum(walls), "cpu_s": 100.0, "peak_rss_mb": 1000.0,
           "attempted": len(walls), "failed_calls": 0,
           "layers": {"serve.jobs": 10.0, "kernel.rows": 500.0}}
    if pipeline:
        jvm["pipeline_summary"] = [{"stage": s, "docs": 100, "secs": 1.0}
                                   for s in run.PIPELINE_STAGES]
    return jvm


class ResultTest(unittest.TestCase):
    def test_result_names_every_declared_metric(self):
        with open(run.BENCH_FILE) as fh:
            spec = json.load(fh)
        for workload in run.WORKLOADS:
            for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
                args = argparse.Namespace(workload=workload, seed=1, seconds=20, trace=trace)
                export = {"export.files": 8, "export.bytes": 500}
                result, line = run.assemble(args, fake_jvm(workload), {"failures": []},
                                            12.0, export, 1000, overhead=0.01)
                names = {m["name"] for m in result["metrics"]}
                for m in declared:
                    self.assertIn(m["name"], names, (workload, trace))
                    self.assertIn(m["name"], line["metrics"], (workload, trace))
                self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(line["correct"])

    def test_a_breach_counts_as_failed(self):
        args = argparse.Namespace(workload="serve-warm", seed=1, seconds=20, trace=0)
        result, line = run.assemble(args, fake_jvm("serve-warm"),
                                    {"failures": ["FAIL q1: row 0"]}, 12.0, {}, 1000)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertAlmostEqual(result["failed_frac"], 1 / 12)


if __name__ == "__main__":
    unittest.main()
