"""Deterministic input generator for the benchmark.

The base tables copy the schema and value distributions of the project's
TPC-H-like test tables (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings). They are generated from a fixed
internal seed, so every run computes the same query outputs and the
expected fingerprints in ``expected.json`` stay valid. The run seed
only shapes what varies per run: the op order (chosen in the JVM program)
and, for the ETL ops, the CSV row order and the header spellings.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BASE_SEED = 20240101

# Rows per table at scale factor 1; the project's sf0.1 test tables hold a
# tenth of these (lineitem 600,000 rows, events 100,000).
ROWS_SF1 = {"customer": 150000, "supplier": 10000, "part": 200000,
            "orders": 1500000, "lineitem": 6000000, "events": 1000000,
            "users": 150000}
# The ETL ops convert CSVs of sf0.1 size (62 MB) and the near-dup ops read
# the sf0.1-size documents corpus; the other query ops read sf0.001 tables,
# which keeps a run within its time budget (see README.md).
INGEST_SF = 0.1
QUERY_SF = 0.001
N_DOCS = 5000
# The near-dup warm-up pass runs over a copy with a fifth of the documents:
# it warms the same code paths for a fraction of the full inputs' cold cost.
WARMUP_DOCS = 1000
N_EMB = 500

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
PART_ADJ = "blue old large hot cold red small new".split()
PART_NOUN = "ring gear widget gizmo bolt plate rod anvil".split()

# Tables the ingest workload converts, in file-name order.
INGEST_TABLES = ("customer", "events", "lineitem", "orders", "part")


def _ts_us(a):
    return pa.array(a.astype("datetime64[us]"), type=pa.timestamp("us"))


def base_tables(sf, n_docs=N_DOCS):
    """Returns table name -> pyarrow.Table at scale factor ``sf``, identical
    on every call with the same arguments."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_users = (
        int(ROWS_SF1[k] * sf) for k in
        ("customer", "supplier", "part", "orders", "lineitem", "events", "users"))
    n_emb = N_EMB
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)

    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"],
            n_cust).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                              "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    day0 = np.datetime64("1995-01-01")
    span = int((np.datetime64("2001-08-01") - day0).astype(int))
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord).tolist(),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(day0 + rng.integers(0, span + 1, n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()})
    flags = rng.integers(0, 6, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2].tolist(),
        "l_linestatus": np.array(["O", "F"])[flags % 2].tolist(),
        "l_shipdate": _ts_us(day0 + 1 + rng.integers(0, span + 95, n_line))})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.choice(month_us, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(np.datetime64("2024-01-01T00:00:00", "us") + ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"],
                                 n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101)))
             for _ in range(n_docs)]
    # one doc in twenty is a near-duplicate: another doc's text plus " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "es", "fr"], n_docs,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write_base(out_dir, tables):
    """Writes every base table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def dirty_header(col, rng):
    """One seeded misspelling of a clean column name: spaces, dashes,
    punctuation and case changes that ingestion must sanitize."""
    parts = col.split("_")
    sep = rng.choice([" ", "-", "__", ". ", "_"])
    name = sep.join(p.capitalize() if rng.random() < 0.5 else p for p in parts)
    return rng.choice(["", " ", "#"]) + name + rng.choice(["", "!", " (x)", "?"])


def sanitize(name):
    """Python twin of ``graft.ingest.Sanitize.replaceInString``: any char
    outside [a-zA-Z0-9_] becomes '_', then one non-recursive '__' -> '_'."""
    return "".join(c if (c.isascii() and (c.isalnum() or c == "_")) else "_"
                   for c in name).replace("__", "_")


def write_ingest_csvs(out_dir, seed, tables):
    """Writes the ingest workload's CSVs for ``seed``: rows shuffled and
    headers misspelled per seed. Returns table -> {rows, cols, columns}, the
    shape and sanitized column names that ingestion must produce."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    expect = {}
    for name in INGEST_TABLES:
        tab = tables[name]
        while True:
            headers = [dirty_header(c, rng) for c in tab.column_names]
            clean = [sanitize(h) for h in headers]
            if len(set(clean)) == len(clean):
                break
        order = list(range(tab.num_rows))
        rng.shuffle(order)
        shuffled = tab.take(pa.array(order)).rename_columns(headers)
        pacsv.write_csv(shuffled, os.path.join(out_dir, f"{name}.csv"))
        expect[name] = {"rows": tab.num_rows, "cols": tab.num_columns,
                        "columns": clean}
    return expect
