"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import duckdb  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def digest(path):
    """sha256 of every file under `path`, keyed by relative name."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


class TempDirTest(unittest.TestCase):
    def setUp(self):
        base = os.path.join(ROOT, ".bench_run")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


class GeneratorTest(TempDirTest):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a = os.path.join(self.tmp, f"{w}-a")
                b = os.path.join(self.tmp, f"{w}-b")
                c = os.path.join(self.tmp, f"{w}-c")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                da, db, dc = digest(a), digest(b), digest(c)
                self.assertEqual(da, db)
                self.assertEqual(da.keys(), dc.keys())
                self.assertNotEqual(da, dc)

    def test_planted_truth_is_recorded(self):
        t = gen.generate("corpus_curation", 3, os.path.join(self.tmp, "c"))
        self.assertEqual(len(t["exact_pairs"]), gen.CORPUS_EXACT_PAIRS)
        self.assertEqual(len(t["near_pairs"]), gen.CORPUS_NEAR_PAIRS)
        docs = {d: x for d, x in duckdb.sql(
            f"SELECT doc_id, text FROM '{self.tmp}/c/data/documents.parquet'").fetchall()}
        for a, b in t["exact_pairs"]:
            self.assertEqual(docs[a], docs[b])
        for a, b in t["near_pairs"]:
            self.assertNotEqual(docs[a], docs[b])
        e = gen.generate("etl_nightly", 3, os.path.join(self.tmp, "e"))
        self.assertEqual(e["days"][0]["changed_cells"], 0)
        self.assertTrue(all(d["changed_cells"] > 0 and d["malformed_sales"] > 0
                            for d in e["days"][1:]))

    def test_cached_inputs_are_reused(self):
        out = os.path.join(self.tmp, "x")
        gen.generate("corpus_curation", 5, out)
        before = os.stat(os.path.join(out, "data", "documents.parquet")).st_mtime_ns
        gen.generate("corpus_curation", 5, out)
        self.assertEqual(before, os.stat(os.path.join(out, "data", "documents.parquet")).st_mtime_ns)


class OracleGateTest(TempDirTest):
    SQL = "SELECT k, sum(v) AS total FROM t GROUP BY k"

    def spark_result(self, rows):
        d = os.path.join(self.tmp, "result")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        con = duckdb.connect()
        con.execute("CREATE TABLE r (k INTEGER, total DOUBLE)")
        con.executemany("INSERT INTO r VALUES (?, ?)", rows)
        con.execute(f"COPY r TO '{d}/part-0.parquet' (FORMAT PARQUET)")
        return d

    def test_gate_accepts_equal_and_rejects_altered_result(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 1.5), (1, 2.0), (2, 4.0)) AS x(k, v)")
        self.assertIsNone(oracle.compare(con, self.SQL, self.spark_result([(2, 4.0), (1, 3.5)])))
        self.assertIn("differ", oracle.compare(con, self.SQL, self.spark_result([(1, 3.5), (2, 4.5)])))
        self.assertIn("rows", oracle.compare(con, self.SQL, self.spark_result([(1, 3.5)])))

    def test_pipeline_values_are_checked_against_truth(self):
        v = oracle.Verdict()
        v.expected["reconcile.d1"] = {"mismatch_cells": 31}
        op = {"name": "reconcile.d1", "kind": "pipeline", "ok": True, "values": {}}
        self.assertTrue(v.ok(dict(op, values={"mismatch_cells": 31})))
        self.assertFalse(v.ok(dict(op, values={"mismatch_cells": 30})))
        self.assertFalse(v.ok(dict(op, ok=False, values={"mismatch_cells": 31})))


class MetricNamesTest(unittest.TestCase):
    def test_benchmark_json_names_every_printed_metric_and_no_other(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(gen.WORKLOADS))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "op", "start": 0.0, "end": 1000.0},
            {"id": 2, "parent": 1, "kind": "build", "start": 0.0, "end": 300.0},
            {"id": 3, "parent": 1, "kind": "action", "start": 200.0, "end": 600.0},
            {"id": 4, "parent": 3, "kind": "job", "start": 250.0, "end": 550.0},
        ]
        st = run.self_times(spans, run.SPAN_KINDS)
        self.assertAlmostEqual(st["op"], 0.4)      # 1000 - union(0..600)
        self.assertAlmostEqual(st["build"], 0.3)
        self.assertAlmostEqual(st["action"], 0.1)  # 400 - 300
        self.assertAlmostEqual(st["job"], 0.3)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(run.tail(list(range(100)))[0], 90.0)
        self.assertEqual(run.tail(list(range(40)))[0], 75.0)


if __name__ == "__main__":
    unittest.main()
