"""Seeded inputs for the benchmark workloads.

``write_tables`` writes the catalog's star-schema tables (region .. lineitem,
events, documents, embeddings) as single Parquet files with the column names,
types and value domains of the repository's test data (TESTDATA.md), so every
catalog query and its DuckDB oracle run unchanged on them. Each table is one
file and one scan split, as in that data.

``write_warehouse_batches`` writes per-batch inputs for the warehouse build in
``fixtures.py``'s shapes (bracken TSV tree, bbmap rpkm files, read counts,
uniref mapping, bins and kofam), with sample names unique to each batch.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "small", "red", "green", "big"]
PART_NOUN = ["ring", "bolt", "plate", "widget", "gear", "gizmo", "nut", "pipe"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EMBED_DIM = 64


def _ts(base: datetime, micros: np.ndarray) -> pa.Array:
    return pa.array([base + timedelta(microseconds=int(u)) for u in micros],
                    type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, start: datetime,
          span_days: int) -> pa.Array:
    return _ts(start, rng.integers(0, span_days, n) * 86_400_000_000)


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def write_tables(root: str, seed: int, sf: float) -> None:
    """Write the ten catalog tables at scale factor ``sf`` (lineitem has
    6,000,000 × sf rows, as in TESTDATA.md) under ``root``."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_part, n_cust = int(200_000 * sf), int(150_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    n_users = max(50, n_ev // 66)

    _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(root, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(root, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(root, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n_part)]})
    _write(root, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), 2405),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(root, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), 2499)})
    span_us = 30 * 86_400_000_000
    _write(root, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1),
                  np.sort(rng.choice(span_us, n_ev, replace=False))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n))
             for n in rng.integers(8, 100, n_doc)]
    for i in range(0, n_doc, 50):  # near-duplicates for the dedup queries
        texts[i] = texts[i // 2] + " dup"
    _write(root, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()), "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(root, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


@contextlib.contextmanager
def _fixture_samples(samples: list[str], seed: int):
    """fixtures.py draws every shape for its module-level SAMPLES from
    random.Random(67); point both at this batch for the duration."""
    from glamr_omics_pipelines_spark import fixtures
    saved = fixtures.SAMPLES, fixtures._rng
    fixtures.SAMPLES, fixtures._rng = samples, lambda: random.Random(seed)
    try:
        yield fixtures
    finally:
        fixtures.SAMPLES, fixtures._rng = saved


def write_warehouse_batches(root: str, seed: int, n_batches: int,
                            samples_per_batch: int) -> list[dict]:
    """Write ``n_batches`` input batches under ``root``; return one manifest
    per batch: its samples, the two input globs and the path of its frames
    (the warehouse families the reference loads from R objects, as JSON
    rows). The taxonomy is shared by all batches, so re-ingesting tax_info
    offers no new keys."""
    with _fixture_samples([], seed) as fx:
        taxonomy = fx.make_taxonomy()
    batches = []
    for b in range(n_batches):
        samples = [f"b{b:02d}_s{i}" for i in range(samples_per_batch)]
        bdir = os.path.join(root, f"batch{b:02d}")
        with _fixture_samples(samples, seed * 1000 + b) as fx:
            contigs = fx.make_contigs()
            checkm, gtdb, drep, _ = fx.make_bins(contigs)
            mapping, lookup, index = fx.make_uniref_mapping(taxonomy)
            frames = {"tax_info": taxonomy, "checkm": checkm, "gtdb": gtdb,
                      "drep": drep, "kofam": fx.make_kofam(contigs),
                      "read_counts": fx.make_read_counts(),
                      "read_mapping": mapping, "uniref_lookup": lookup,
                      "uniref_index": index}
            bracken_glob = fx.write_bracken_tree(
                os.path.join(bdir, "bracken"), fx.make_bracken_counts(taxonomy))
            rpkm_glob = fx.make_gene_rpkm_files(os.path.join(bdir, "rpkm"),
                                                contigs)
        frames_path = os.path.join(bdir, "frames.json")
        with open(frames_path, "w") as fh:
            json.dump(frames, fh)
        batches.append({"samples": samples, "bracken_glob": bracken_glob,
                        "rpkm_glob": rpkm_glob, "frames": frames_path,
                        "n_tax": len(taxonomy)})
    return batches
