"""Seeded input generator for the three benchmark workloads.

Every table is synthesised from the seed alone (numpy PCG64), in the same
schema as the engine's TPC-H-style fixture corpus, so the program under
test sees only these generated files. The same seed gives byte-identical
files; the planted truth (changed cells, malformed rows, duplicate pairs,
near-neighbour vectors) is written to ``truth.json`` beside them.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Bumped whenever the generated bytes change, so cached inputs of an older
# generator are rebuilt instead of reused.
VERSION = "1"

WORKLOADS = ("etl_nightly", "corpus_curation")

VOCAB = ("a the key agg row scan slow fast table value part hash batch merge "
         "spark line sort window data column join small order customer query "
         "big filter group stream vector").split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PTYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
PADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
PNOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DIM = 64

# Row counts per workload, sized so that one run fits the benchmark's time
# budget (see perfbench/README.md).
SIZES = {
    "etl_nightly": dict(customer=1500, supplier=100, part=2000, orders=5000,
                        lineitem=20000),
    "corpus_curation": dict(customer=150, supplier=10, part=200, orders=1500,
                            lineitem=6000, events=1000, users=50,
                            documents=250, embeddings=250),
}
# run date 0 is the baseline; each timed batch loads the next two run
# dates, each reconciled against the date before, so a run makes at most
# (ETL_DAYS - 1) / 2 batches
ETL_DAYS = 3
ETL_START = dt.date(2024, 6, 1)
CORPUS_REPLICAS = 4     # salted copies of the base corpus
CORPUS_EXACT_PAIRS = 40
CORPUS_NEAR_PAIRS = 40


def _ts(days):
    """Whole days since 1995-01-01 as a timestamp[us] array."""
    base = np.datetime64("1995-01-01T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _round2(x):
    return np.round(x, 2)


def tpch_tables(rng, n):
    """region, nation, customer, supplier, part, orders, lineitem."""
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5)})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, c))),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)])})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, s)))})
    p = n["part"]
    pk = np.arange(p, dtype=np.int64)
    names = [f"{PADJ[a]} {PNOUN[b]}" for a, b in
             zip(rng.integers(0, len(PADJ), p), rng.integers(0, len(PNOUN), p))]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": pa.array(_round2(900.0 + (pk % 1000) * 0.1))})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(("O", "P", "F"))[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(_round2(rng.uniform(1000.0, 500000.0, o))),
        "o_orderdate": _ts(rng.integers(0, 2404, o)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)])})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_round2(qty * rng.uniform(900.0, 2000.0, li))),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(("O", "F"))[rng.integers(0, 2, li)]),
        "l_shipdate": _ts(rng.integers(1, 2499, li))})
    return t


def events_table(rng, n):
    e = n["events"]
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    return pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, e)]),
        "value": pa.array(_round2(rng.exponential(50.0, e))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})


def doc_texts(rng, count):
    lens = rng.integers(8, 101, count)
    words = np.array(VOCAB)
    return [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]


def documents_table(doc_ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(np.asarray(doc_ids, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})


def base_vectors(rng, count):
    labels = rng.integers(0, 10, count).astype(np.int32)
    cents = rng.normal(0.0, 1.0, (10, DIM))
    vecs = cents[labels] + rng.normal(0.0, 1.0, (count, DIM))
    return labels, vecs


def embeddings_table(vec_ids, vecs, labels):
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(vecs) * DIM + 1, DIM, dtype=np.int32)), flat)
    return pa.table({
        "vec_id": pa.array(np.asarray(vec_ids, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(np.asarray(labels, dtype=np.int32))})


def write_parquet_dir(tables, path):
    os.makedirs(path, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"),
                       compression="snappy")


def write_csv(tbl, path, extra_lines=()):
    pacsv.write_csv(tbl, path)
    if extra_lines:
        with open(path, "a", encoding="utf-8") as f:
            for line in extra_lines:
                f.write(line + "\n")


# ------------------------------------------------------------- workloads

def gen_corpus(rng, out):
    n = SIZES["corpus_curation"]
    t = tpch_tables(rng, n)
    t["events"] = events_table(rng, n)
    base_n = n["documents"]
    base_texts = doc_texts(rng, base_n)
    base_langs = list(np.array(LANGS)[rng.choice(5, base_n, p=LANG_P)])
    texts, langs, sources = [], [], []
    for r in range(CORPUS_REPLICAS):
        for i, txt in enumerate(base_texts):
            # per-replica token salt (replica 0 unsalted): replicas share no
            # shingles, so duplicate counts scale linearly with replicas
            texts.append(txt if r == 0 else " ".join(f"{w}{r}" for w in txt.split()))
            langs.append(base_langs[i])
            sources.append(f"src{(i + r) % 20}")
    total = len(texts)
    # planted duplicates: disjoint (src, dst) doc pairs, dst overwritten
    picks = rng.permutation(total)
    need = 2 * (CORPUS_EXACT_PAIRS + CORPUS_NEAR_PAIRS)
    long_docs = [i for i in picks if len(texts[i].split()) >= 60][:need]
    exact, near = [], []
    for k in range(0, need, 2):
        a, b = sorted((int(long_docs[k]), int(long_docs[k + 1])))
        toks = texts[a].split()
        if len(exact) < CORPUS_EXACT_PAIRS:
            texts[b] = texts[a]
            exact.append([a, b])
        else:
            j = int(rng.integers(0, len(toks)))
            toks[j] = "novel"
            texts[b] = " ".join(toks)
            near.append([a, b])
    t["documents"] = documents_table(np.arange(total), texts, langs, sources)
    e_base = n["embeddings"]
    labels, vecs = base_vectors(rng, e_base)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    all_vecs, all_labels, ann_pairs = [], [], []
    for r in range(CORPUS_REPLICAS):
        noisy = vecs if r == 0 else vecs + rng.normal(0.0, 0.02, vecs.shape)
        all_vecs.append(noisy)
        all_labels.append(labels)
        if r:
            ann_pairs.extend([[r * e_base + i, i] for i in range(e_base)])
    t["embeddings"] = embeddings_table(
        np.arange(e_base * CORPUS_REPLICAS), np.vstack(all_vecs),
        np.concatenate(all_labels))
    write_parquet_dir(t, os.path.join(out, "data"))
    return {"tables": {k: v.num_rows for k, v in t.items()},
            "exact_pairs": exact, "near_pairs": near,
            # (replica vector, its base vector): the base must be among the
            # replica's approximate top-K neighbours
            "ann_pairs": ann_pairs}


PRODUCT_COLS = ("p_name", "p_brand", "p_type", "p_size", "p_retailprice")


def _change_cells(rng, part):
    """Plant distinct changed (row, column) cells in the part table."""
    cols = {c: part.column(c).to_pylist() for c in part.column_names}
    count = int(rng.integers(20, 41))
    rows = rng.choice(part.num_rows, count, replace=False)
    which = rng.integers(0, len(PRODUCT_COLS), count)
    for r, ci in zip(rows, which):
        c = PRODUCT_COLS[ci]
        v = cols[c][r]
        if c == "p_name":
            cols[c][r] = v + " v2"
        elif c == "p_brand":
            cols[c][r] = v + "X"
        elif c == "p_type":
            cols[c][r] = PTYPES[(PTYPES.index(v) + 1) % len(PTYPES)]
        elif c == "p_size":
            cols[c][r] = v % 50 + 1
        else:
            cols[c][r] = round(v + 1.0, 2)
    return pa.table(cols, schema=part.schema), count


def gen_etl(rng, out):
    n = SIZES["etl_nightly"]
    base = tpch_tables(rng, n)
    days = []
    part = base["part"]
    for d in range(ETL_DAYS):
        date = ETL_START + dt.timedelta(days=d)
        changed = 0
        if d:
            part, changed = _change_cells(rng, part)
        tables = dict(base, part=part)
        ddir = os.path.join(out, f"day{d}")
        write_parquet_dir(tables, os.path.join(ddir, "mart_input"))
        li = base["lineitem"]
        sales = li.add_column(0, "l_rowid",
                              pa.array(np.arange(li.num_rows, dtype=np.int64)))
        bad = int(rng.integers(5, 26))
        bad_rows = rng.choice(li.num_rows, bad, replace=False)
        # malformed: a non-numeric quantity the CSV contract cannot parse
        malformed = [f"{li.num_rows + i},{int(li['l_orderkey'][r].as_py())},"
                     f"{int(li['l_partkey'][r].as_py())},1,1,n/a,1.0,0.0,0.0,A,O,"
                     "1999-01-01 00:00:00.000000"
                     for i, r in enumerate(bad_rows)]
        write_csv(sales, os.path.join(ddir, "sales.csv"), malformed)
        write_csv(part, os.path.join(ddir, "products.csv"))
        write_csv(base["customer"], os.path.join(ddir, "customers.csv"))
        sup = base["supplier"].to_pylist()
        with open(os.path.join(ddir, "suppliers.json"), "w", encoding="utf-8") as f:
            json.dump({"data": sup}, f, sort_keys=True)
        days.append({"date": date.isoformat(), "changed_cells": changed,
                     "malformed_sales": bad, "sales_rows": li.num_rows,
                     "products": part.num_rows,
                     "suppliers": len(sup), "customers": base["customer"].num_rows})
    with open(os.path.join(out, "days.txt"), "w", encoding="utf-8") as f:
        f.writelines(f"{i} {d['date']}\n" for i, d in enumerate(days))
    return {"tables": {k: v.num_rows for k, v in base.items()}, "days": days}


GENERATORS = {"corpus_curation": gen_corpus, "etl_nightly": gen_etl}


def generate(workload, seed, out):
    """Write the inputs for (workload, seed) under `out` unless a complete
    copy from this generator version is already there. Returns the truth."""
    if workload not in GENERATORS:
        raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
    stamp = os.path.join(out, "truth.json")
    if os.path.exists(stamp):
        with open(stamp, encoding="utf-8") as f:
            truth = json.load(f)
        if truth.get("version") == VERSION:
            return truth
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one independent stream per workload, so workloads sharing a seed differ
    rng = np.random.Generator(np.random.PCG64([seed, WORKLOADS.index(workload)]))
    truth = GENERATORS[workload](rng, tmp)
    truth.update(version=VERSION, workload=workload, seed=seed)
    with open(os.path.join(tmp, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, sort_keys=True)
    os.rename(tmp, out)
    return truth


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
