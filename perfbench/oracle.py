"""Correctness gate of the benchmark, run after the timed region.

Registry queries: the verification batch's parquet result of each query is
compared with the query's `SparkEntry.oracleSql` run in DuckDB over the same
generated tables, under the comparison rules of the repository's oracle
check (columns sorted by name, rows sorted, floats rounded to 9 digits).

Pipeline steps: every execution's returned values are compared with the
generator's planted truth (accepted and rejected rows, mart snapshot rows,
changed cells found by reconciliation).
"""
import glob
import os
import sys

import duckdb

# the repository's oracle check supplies the row normalisation
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                os.pardir, "tools"))
from check import TABLES, norm  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare(con, sql, result_dir):
    """None when the Spark result equals the oracle's, else the reason."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no result written"
    try:
        oc = con.execute(sql)
        ocols = [d[0].lower() for d in oc.description]
        orows = oc.fetchall()
    except duckdb.Error as e:
        return f"oracle error: {e}"
    sc = con.execute(f"SELECT * FROM read_parquet({files!r})")
    scols = [d[0].lower() for d in sc.description]
    srows = sc.fetchall()
    if sorted(scols) != sorted(ocols):
        return f"columns spark={sorted(scols)} oracle={sorted(ocols)}"
    a, b = norm(srows, scols), norm(orows, ocols)
    if len(a) != len(b):
        return f"rows spark={len(a)} oracle={len(b)}"
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return f"{bad}/{len(a)} rows differ" if bad else None


class Verdict:
    def __init__(self):
        self.wrong = {}         # registry query name -> reason
        self.expected = {}      # pipeline op name -> {value name: expected}
        self.truth_metrics = {"ops.dedup_recall": 0.0, "ops.ann_recall": 0.0}

    def ok(self, op):
        if not op["ok"]:
            return False
        if op["kind"] == "registry":
            return op["name"] not in self.wrong
        want = self.expected.get(op["name"], {})
        return all(op["values"].get(k) == v for k, v in want.items())

    def reason(self, name, run):
        for o in run["ops"]:
            if o["name"] == name and not o["ok"]:
                return o["error"]
        if name in self.wrong:
            return self.wrong[name]
        got = [o["values"] for o in run["ops"] if o["name"] == name]
        return f"expected {self.expected.get(name)}, got {got}"


def check(workload, inputs, run_dir, run, truth):
    v = Verdict()
    oracles = run["oracle_sql"]
    if workload == "etl_nightly":
        for i, day in enumerate(truth["days"]):
            con = connect(os.path.join(inputs, f"day{i}", "mart_input"))
            tag = f"d{i}"
            v.expected[f"ingest_products.{tag}"] = {"rows": day["products"], "rejects": 0}
            v.expected[f"ingest_sales.{tag}"] = {
                "rows": day["sales_rows"], "rejects": day["malformed_sales"]}
            v.expected[f"ingest_suppliers.{tag}"] = {"rows": day["suppliers"]}
            v.expected[f"ingest_customers.{tag}"] = {"rows": day["customers"]}
            for q in ("supplier_performance", "product_performance", "customer_sales_report"):
                n = con.execute(f"SELECT count(*) FROM ({oracles['q_' + q]})").fetchone()[0]
                v.expected[f"mart_{q}.{tag}"] = {"rows": n}
                if q == "supplier_performance":
                    v.expected[f"publish_jdbc.{tag}"] = {"rows": n}
            v.expected[f"reconcile.{tag}"] = {"mismatch_cells": day["changed_cells"]}
        return v
    con = connect(os.path.join(inputs, "data"))
    for name in sorted({o["name"] for o in run["ops"] if o["kind"] == "registry"}):
        if name not in oracles:
            v.wrong[name] = "no oracle SQL"
            continue
        why = compare(con, oracles[name], os.path.join(run_dir, "results", name))
        if why:
            v.wrong[name] = why
    if workload == "corpus_curation":
        v.truth_metrics = recall(con, run_dir, truth)
    return v


def recall(con, run_dir, truth):
    """Planted pairs found by dedup (exact groups + MinHash-LSH pairs) and
    planted near neighbours found by the IVF ANN top-K."""
    def rows(name, cols):
        files = sorted(glob.glob(os.path.join(run_dir, "results", name, "*.parquet")))
        if not files:
            return []
        return con.execute(f"SELECT {cols} FROM read_parquet({files!r})").fetchall()
    canon = dict(rows("q_dedup_exact", "doc_id, canonical_id"))
    lsh = {tuple(sorted(p)) for p in rows("q_dedup_minhash_lsh", "doc_a, doc_b")}
    pairs = truth["exact_pairs"] + truth["near_pairs"]
    found = sum(1 for a, b in pairs
                if (a in canon and canon.get(a) == canon.get(b)) or (a, b) in lsh)
    ann = set(rows("q_sim_ann_ivf", "vec_id, neighbor_id"))
    hit = sum(1 for q, n in truth["ann_pairs"] if (q, n) in ann)
    return {"ops.dedup_recall": found / len(pairs),
            "ops.ann_recall": hit / len(truth["ann_pairs"])}
