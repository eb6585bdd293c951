"""Seeded generator for the benchmark's input tables.

Writes the same ten tables, with the same schemas and value domains, as
the engine's test data (a TPC-H-like star schema, an ``events`` table
and the ``documents``/``embeddings`` curation tables), one parquet file
each. The same seed always gives byte-identical tables; the engine only
ever sees the files.

Run as a script it writes one set of tables, so the caller's process
never holds the generator's arrays:

    python3 perfbench/datagen.py OUT_DIR SEED SCALE N_DOCS N_VECS [BATCH_DOCS]

Exactly 5% of the documents are near-copies of an earlier document (one
word replaced), so the dedup queries find real near-duplicate pairs.
Document lengths are the same multiset for every seed. With BATCH_DOCS
the documents are laid out as arrival batches of that size instead (see
``arrival_documents``).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
COLORS = ["small", "red", "blue", "green", "large", "black", "white", "shiny"]
NOUNS = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "cable"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window order data column join small line customer query filter "
    "group big vector stream sort index"
).split()

# Rows per table at scale 1.0, which is the size of the engine's sf0.1
# test data (TPC-H sf0.1: 600,000 lineitem rows); a run writes a
# fraction of it. Documents and embeddings are sized separately.
BASE_ROWS = {
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "users": 15_000,
}


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(seed: int, n_docs: int) -> pa.Table:
    """Word-soup documents of 10 to 99 words, exactly 5% of them
    near-copies of an earlier one of 40 words or more; ``source`` cycles
    src0..src19 as in the test data. Every seed gets the same document
    lengths and number of copies, in another order, so seeds differ in
    content but not in how much dedup work they make."""
    rng = np.random.default_rng([seed, 7])
    words = np.array(WORDS)
    lengths = rng.permutation(10 + np.arange(n_docs) * 90 // n_docs)
    copies = set(rng.choice(np.arange(20, n_docs), n_docs // 20, replace=False).tolist())
    texts: list[str] = []
    long_docs: list[int] = []
    for i in range(n_docs):
        if i in copies and long_docs:
            base = texts[long_docs[int(rng.integers(0, len(long_docs)))]].split()
            base[int(rng.integers(0, len(base)))] = str(rng.choice(words))
        else:
            base = list(rng.choice(words, int(lengths[i])))
        if len(base) >= 40:
            long_docs.append(i)
        texts.append(" ".join(base))
    return _doc_table(texts, rng)


def _doc_table(texts: list[str], rng: np.random.Generator) -> pa.Table:
    n_docs = len(texts)
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=lang_p), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def arrival_documents(seed: int, n_docs: int, batch_docs: int) -> pa.Table:
    """Documents in arrival order, ``batch_docs`` to a batch. Every batch
    holds the same lengths of fresh word-soup documents, then 5%
    near-copies (one word replaced) of fresh documents of 80 words or
    more from this or an earlier batch, each base copied once. So every
    batch adds the same number of pairs, each a two-document cluster,
    and seeds differ in content but not in how much work a batch
    makes."""
    rng = np.random.default_rng([seed, 11])
    words = np.array(WORDS)
    n_copies = batch_docs // 20
    lengths = 10 + np.arange(batch_docs - n_copies) * 90 // (batch_docs - n_copies)
    texts: list[str] = []
    bases: list[int] = []  # fresh long documents not copied yet
    for _ in range(n_docs // batch_docs):
        for n in rng.permutation(lengths):
            if n >= 80:
                bases.append(len(texts))
            texts.append(" ".join(rng.choice(words, int(n))))
        picks = set(rng.choice(len(bases), n_copies, replace=False).tolist())
        for j in sorted(picks):
            base = texts[bases[j]].split()
            base[int(rng.integers(0, len(base)))] = str(rng.choice(words))
            texts.append(" ".join(base))
        bases = [x for j, x in enumerate(bases) if j not in picks]
    return _doc_table(texts, rng)


def generate(out_dir: str, seed: int, scale: float, n_docs: int, n_vecs: int,
             batch_docs: int = 0) -> None:
    """Write all ten tables for ``seed`` at ``scale`` into ``out_dir``;
    with ``batch_docs`` the documents are ``arrival_documents``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99), pa.float64()),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })
    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(
            [f"{COLORS[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(npart) % 1000) / 10, 1), pa.float64()
        ),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], no), pa.string()),
        "o_totalprice": pa.array(_money(rng, no, 1000, 500000), pa.float64()),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), pa.float64()),
        # Whole hundreds, so price * (1 - discount) * (1 + tax) has at most
        # two decimals: a rounded sum of it is never a half-cent tie that
        # summation order could tip between Spark and the DuckDB oracle.
        "l_extendedprice": pa.array(np.round(rng.uniform(9, 1050, nl)) * 100, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl), pa.string()),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })
    ne = n["events"]
    # Nanosecond timestamps, as the engine's inputs carry them.
    start = np.datetime64("2024-01-01", "ns")
    span_ns = 30 * 86_400 * 1_000_000_000
    offsets = np.sort(rng.integers(0, span_ns, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(start + offsets.astype("timedelta64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
        "value": pa.array(np.round(np.clip(rng.exponential(40, ne), 0.01, 490), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    docs = arrival_documents(seed, n_docs, batch_docs) if batch_docs else documents(seed, n_docs)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_vecs, 64)) + 0.15 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


if __name__ == "__main__":
    out, seed, scale, *sizes = sys.argv[1:]
    generate(out, int(seed), float(scale), *map(int, sizes))
