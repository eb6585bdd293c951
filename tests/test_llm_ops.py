"""Quality assertions for the rows-only (non-oracle) LLM operators —
the oamap 'two independent implementations must agree' pattern applied
where DuckDB can't be the second implementation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def _recall_of(rows) -> float:
    """Recall@5 from the round-5 ANN output shape: one exact-top-5 row
    per (query, rank) carrying the per-query ANN hit count."""
    per_query = {r["query_id"]: r["hits"] for r in rows}
    return sum(per_query.values()) / len(rows)


def test_ann_recall_vs_bruteforce(spark, queries):
    """LSH ANN must recover most of the exact brute-force top-5, and
    the declared exact rows must BE the brute-force rows (the oracle
    cross-hashes them; this pins the in-engine agreement too)."""
    exact = queries["cosine_topk_bruteforce"](spark, SF_SMOKE).collect()
    out = queries["ann_lsh_topk"](spark, SF_SMOKE).collect()
    assert {(r["query_id"], r["cand_id"]) for r in exact} == {
        (r["query_id"], r["cand_id"]) for r in out
    }
    recall = _recall_of(out)
    assert recall >= 0.5, f"ANN recall {recall:.2f} too low vs brute force"


def test_ivf_recall_vs_bruteforce(spark, queries):
    """IVF (16 centroids, 8 probes) must recover most of the exact
    top-5; with 8/16 buckets probed recall is high but not
    guaranteed 1.0."""
    exact = queries["cosine_topk_bruteforce"](spark, SF_SMOKE).collect()
    out = queries["ann_ivf_topk"](spark, SF_SMOKE).collect()
    assert {(r["query_id"], r["cand_id"]) for r in exact} == {
        (r["query_id"], r["cand_id"]) for r in out
    }
    recall = _recall_of(out)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low vs brute force"


def test_embedding_neardup_symmetric_and_thresholded(spark, queries):
    """Every reported embedding near-dup pair is ordered, unique, and
    above threshold."""
    rows = queries["dedup_embedding_cosine"](spark, SF_SMOKE).collect()
    seen = set()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert r["cos_sim"] >= 0.99
        assert (r["id_a"], r["id_b"]) not in seen
        seen.add((r["id_a"], r["id_b"]))


def test_approx_count_distinct_accuracy(spark, queries):
    """Every group's HLL estimate lands in the ±5% band (rsd=0.02),
    and the exact counts agree with an independent computation."""
    from oamap_spark.sources.tables import load_table

    rows = queries["approx_distinct_parts"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["approx_within_5pct"], r
    li = load_table(spark, SF_SMOKE, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["exact_parts"] == exact[r["l_returnflag"]]


def test_fingerprint_native_matches_portable_groups(spark, queries):
    """xxhash64 and the portable rolling hash must induce the same
    duplicate groups (same partition of doc_ids by fingerprint)."""
    port = queries["doc_fingerprint_rolling"](spark, SF_SMOKE).collect()
    nat = queries["doc_fingerprint_native"](spark, SF_SMOKE).collect()

    def groups(rows, key):
        g = {}
        for r in rows:
            g.setdefault(r[key], set()).add(r["doc_id"])
        return {frozenset(v) for v in g.values() if len(v) > 1}

    assert groups(port, "fp") == groups(nat, "group_min_doc")


def test_fingerprint_native_injective_on_separator_collisions(spark):
    """ADVICE r4 #4 regression: with the old '\\x1f'-joined encoding,
    a text containing a literal \\x1f ('a\\x1fb') collided with 'a b';
    the netstring (length-prefixed) encoding must keep every distinct
    text distinct — including empty tokens from repeated spaces."""
    from oamap_spark.functions.text import fingerprint_native

    texts = ["a\x1fb", "a b", "a  b", "a b ", " a b", "ab", "", " ", "1:a", "a", "2:ab"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    fps = [r[0] for r in df.select(fingerprint_native("text")).collect()]
    assert len(set(fps)) == len(texts)


def test_fingerprint_native_injective_on_adversarial_corpus(spark):
    """Randomized variant: 300 distinct texts over an alphabet chosen
    to stress the encoding (spaces, the old separator byte, ':' and
    digits that could masquerade as length prefixes) must yield 300
    distinct fingerprints — one Spark job, seeded generator."""
    import random

    from oamap_spark.functions.text import fingerprint_native

    rng = random.Random(20260814)
    alphabet = ["a", "b", " ", "\x1f", ":", "1", "2", "12"]
    texts = set()
    while len(texts) < 300:
        texts.add("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12))))
    texts = sorted(texts)
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    fps = [r[0] for r in df.select(fingerprint_native("text")).collect()]
    assert len(set(fps)) == len(texts)


def test_minhash_lsh_bucket_cap_degenerate_corpus(spark):
    """500 identical docs: every band bucket holds all 500 ids, so the
    uncapped join would build 500·499/2 ≈ 125k pairs on ONE reducer
    key. With bucket_cap the candidate count must collapse to the
    linear star (499 pairs) while still connecting the whole duplicate
    group through the min id."""
    from pyspark.sql import functions as F

    from oamap_spark.operators.dedup import minhash_lsh_pairs

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate sentence repeated for every document").alias(
            "text"
        ),
    )
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9, bucket_cap=50
    ).collect()
    assert len(pairs) == 499  # star: (0, i) for every other member
    assert all(r["id_a"] == 0 for r in pairs)
    assert {r["id_b"] for r in pairs} == set(range(1, 500))


def test_minhash_lsh_bucket_cap_noop_below_cap(spark):
    """A cap no bucket reaches must not change the exact pair list."""
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    from oamap_spark.operators.dedup import minhash_lsh_pairs

    base = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(d, "doc_id", "text").collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(d, "doc_id", "text", bucket_cap=10**6).collect()
    }
    assert base == capped


@pytest.mark.slow
@pytest.mark.parametrize("ann_query", ["ann_lsh_topk", "ann_ivf_topk"])
def test_ann_recall_at_bench_scale(spark, queries, ann_query):
    """recall@5 ≥ 0.9 at sf0.1 (the bench scale): the LSH bucket
    widths / IVF probe counts are tuned knobs, and recall measured
    only at the tiny test SF could silently degrade as the corpus
    grows 100× — bucket occupancy rises with corpus size while the
    true top-5 gets harder. This pins the quality claim at the same
    scale the perf numbers are reported at."""
    from tests.conftest import SF_BENCH

    out = queries[ann_query](spark, SF_BENCH).collect()
    recall = _recall_of(out)
    assert recall >= 0.9, f"{ann_query} recall@5 {recall:.3f} < 0.9 at sf0.1"
    assert all(r["recall_ok"] for r in out)


def test_all_pairs_guard_refuses_large_input(spark):
    """The O(n²) ground-truth paths must be impossible to point at a
    production-sized table by accident: above ALL_PAIRS_MAX_ROWS the
    guard raises, force=True is the explicit override, and under the
    ceiling behavior is unchanged (the sf0.01 oracles still run)."""
    from oamap_spark.operators.dedup import (
        ALL_PAIRS_MAX_ROWS,
        all_pairs_jaccard,
        guard_all_pairs,
    )

    big = spark.range(ALL_PAIRS_MAX_ROWS + 1).select(
        F.col("id").alias("doc_id"), F.lit("words here").alias("text")
    )
    with pytest.raises(ValueError, match="refusing all-pairs"):
        all_pairs_jaccard(big, "doc_id", "text", 0.9)
    # force=True builds the (lazy) plan without raising
    all_pairs_jaccard(big, "doc_id", "text", 0.9, force=True)
    # under the ceiling the guard is a pass-through
    small = spark.range(10).select(F.col("id").alias("doc_id"))
    assert guard_all_pairs(small, "t").count() == 10


def test_all_pairs_jaccard_equals_brute_force(spark):
    """all_pairs_jaccard generates candidates by prefix filtering
    (rarest-df-first token order + size filter), not a blind n²/2
    self-join — the whole point of the lemma is that the output is
    BIT-IDENTICAL to brute force. Pin that against an inline
    brute-force join at thresholds that stress the prefix-length
    ceiling arithmetic (0.5 and 0.9 hit integer t·sz boundaries on
    common set sizes)."""
    from oamap_spark.functions.text import shingles
    from oamap_spark.operators.dedup import all_pairs_jaccard, jaccard_set

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    t = d.select(F.col("doc_id").alias("id"), shingles("text", 3).alias("s"))
    a, b = t.alias("a"), t.alias("b")
    for thr in (0.5, 0.9):
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in all_pairs_jaccard(d, "doc_id", "text", thr).collect()
        }
        brute = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                jaccard_set(F.col("a.s"), F.col("b.s")).alias("jaccard"),
            )
            .where(F.col("jaccard") >= thr)
            .collect()
        }
        assert got == brute and got  # non-vacuous: sf0.001 has near-dups


def test_minhash_lsh_capped_cluster_equivalence(spark, queries):
    """The shipped scale path (dedup_minhash_lsh_capped) may drop
    pairwise edges inside over-cap buckets, but the star keeps every
    duplicate group connected at candidate level: connected components
    over capped pairs must equal components over uncapped pairs.
    (Post-verification this holds when the bucket's min-id doc
    verifies against the members — true for genuine boilerplate
    clusters, where bucket members are mutual near-dups; asserted
    empirically here at sf0.01.)"""
    from oamap_spark.operators.clustering import connected_components_min_id

    def comps(name):
        pairs = queries[name](spark, SF_SMOKE)
        return {
            (r["node"], r["cluster_id"])
            for r in connected_components_min_id(pairs).collect()
        }

    assert comps("dedup_minhash_lsh_capped") == comps("dedup_minhash_lsh")


def test_minhash_lsh_subset_of_exact_jaccard(spark, queries):
    """Every LSH-verified pair must appear in the exact all-pairs
    result (LSH can miss pairs, never invent them — the verify step
    guarantees precision 1.0)."""
    lsh = {
        (r["id_a"], r["id_b"])
        for r in queries["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in queries["dedup_jaccard_pairs"](spark, SF_SMOKE).collect()
    }
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.3, f"LSH recall {recall:.2f} vs exact jaccard pairs"


def test_minhash_incremental_equals_filtered_batch(spark, queries):
    """The incremental pair list must equal the batch pair list
    restricted to pairs touching an arrival doc — the operator's
    correctness contract (restriction commutes with banding), and the
    exact equivalence the SQL oracle relies on."""
    from pyspark.sql import functions as F

    from oamap_spark.operators.dedup import minhash_lsh_pairs_incremental

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    is_new = F.substring("source", 4, 10).cast("int") >= 10
    inc = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs_incremental(
            d.withColumn("nw", is_new), "doc_id", "text", "nw"
        ).collect()
    }
    arrivals = {
        r["doc_id"] for r in d.where(is_new).select("doc_id").collect()
    }
    batch = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in queries["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    }
    expected = {
        p for p in batch if p[0] in arrivals or p[1] in arrivals
    }
    assert inc == expected
    assert all(a in arrivals or b in arrivals for a, b, _ in inc)


def test_minhash_incremental_never_pairs_corpus_with_corpus(spark):
    """3 identical corpus docs + 1 identical arrival: the batch form
    would emit all 6 pairwise edges; the incremental form must emit
    exactly the 3 edges touching the arrival — corpus×corpus work is
    skipped by construction, not filtered after the fact."""
    from oamap_spark.operators.dedup import minhash_lsh_pairs_incremental

    rows = [(i, "identical boilerplate text shared by every doc", i == 3)
            for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string, nw boolean")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_incremental(df, "doc_id", "text", "nw").collect()
    }
    assert pairs == {(0, 3), (1, 3), (2, 3)}


def test_ngram_window_overlap_detects_shared_substring(spark):
    from oamap_spark.operators.dedup import ngram_window_overlap

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"one two three four five six seven eight {shared}"),
        (2, f"{shared} nine ten eleven twelve thirteen fourteen fifteen sixteen"),
        (3, "totally different words with no overlap at all whatsoever here today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in ngram_window_overlap(df, "doc_id", "text", n=8).collect()}
    # docs 1 and 2 share exactly the one window made of the 8 shared tokens
    assert out[1]["n_dup_windows"] == 1
    assert out[2]["n_dup_windows"] == 1
    assert out[3]["n_dup_windows"] == 0
    assert out[3]["dup_ratio"] == 0.0
    # every doc reports all its windows: len(tokens) - 7
    assert out[1]["n_windows"] == 16 - 7


def test_duplicated_span_removal_surgery(spark):
    """Span arithmetic end to end: adjacent duplicated windows merge
    into ONE span, the cut removes exactly the shared run, a
    fully-duplicated doc is emptied (md5('')), and a doc shorter than
    n tokens is untouchable."""
    import hashlib

    from oamap_spark.operators.dedup import duplicated_span_removal

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 toks
    rows = [
        (1, f"one two three four five six {shared} seven eight nine ten"),
        (2, f"{shared} eleven twelve thirteen fourteen fifteen sixteen"),
        (3, shared),  # fully duplicated vs docs 1/2
        (4, "short doc under n"),  # 4 tokens < 8: no windows ever
        (5, "completely different vocabulary nothing shared here at all truly"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in duplicated_span_removal(df, "doc_id", "text", n=8).collect()
    }
    # doc 1: the 10 shared tokens = 3 overlapping windows → ONE span of
    # exactly those 10 tokens; kept = the 10 filler tokens around it
    assert out[1]["n_spans_cut"] == 1
    kept1 = "one two three four five six seven eight nine ten"
    assert out[1]["kept_char_len"] == len(kept1)
    assert out[1]["cleaned_digest"] == hashlib.md5(kept1.encode()).hexdigest()
    # doc 3 is nothing but the shared run → everything removed
    assert out[3]["n_spans_cut"] == 1
    assert out[3]["kept_char_len"] == 0
    assert out[3]["cleaned_digest"] == hashlib.md5(b"").hexdigest()
    # doc 4 has no 8-token window; doc 5 shares nothing
    for i in (4, 5):
        assert out[i]["n_spans_cut"] == 0
        assert out[i]["kept_char_len"] == len(rows[i - 1][1])
        assert (
            out[i]["cleaned_digest"]
            == hashlib.md5(rows[i - 1][1].encode()).hexdigest()
        )


def test_heavy_hitters_guard_and_exactness(spark):
    """MG candidate pruning must (a) match the exact groupBy+HAVING
    output and (b) refuse a min_frac below its completeness bound."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from oamap_spark.operators.heavyhitters import heavy_hitters
    from tests.conftest import SF_SMOKE

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("item"))
    got = {
        (r["item"], r["cnt"])
        for r in heavy_hitters(toks, "item", 0.002, capacity=512).collect()
    }
    n = toks.count()
    import math

    exact = {
        (r["item"], r["cnt"])
        for r in toks.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= math.ceil(0.002 * n))
        .collect()
    }
    assert got == exact and got
    # fraction below 1/(capacity+1): completeness not guaranteed → raise
    with _pt.raises(Exception, match="completeness"):
        heavy_hitters(toks, "item", 0.0005, capacity=512).collect()


def test_simhash_arrow_equals_native(spark):
    """The Arrow popcount simhash must be bit-identical to the native
    32-branch Column expression on every document (integer majority
    logic — no tolerance)."""
    from pyspark.sql import functions as F

    from oamap_spark.functions import text as X
    from tests.conftest import SF_SMOKE

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base = d.select("doc_id", X.token_ids("text").alias("ids"))
    both = base.select(
        "doc_id",
        X.simhash32(F.col("ids")).alias("arrow_h"),
        X.simhash32_native(F.col("ids")).alias("native_h"),
    )
    bad = both.where(F.col("arrow_h") != F.col("native_h")).count()
    assert bad == 0
    # empty token list → 0 on both paths
    import pandas as pd

    e = spark.createDataFrame(
        pd.DataFrame({"ids": [[], [0], [3, 3], None]})
    )
    rows = e.select(
        X.simhash32(F.col("ids").cast("array<long>")).alias("a"),
        X.simhash32_native(F.col("ids").cast("array<long>")).alias("n"),
    ).collect()
    assert all(r["a"] == r["n"] for r in rows)


@pytest.mark.slow
def test_heavy_hitters_exact_at_bench_scale(spark):
    """MG pruning == exact GROUP BY+HAVING on the sf0.1 corpus
    (~270k token occurrences) — the candidate-superset guarantee
    holding at bench scale, not just toy partitions."""
    import math

    from pyspark.sql import functions as F

    from oamap_spark.operators.heavyhitters import heavy_hitters
    from tests.conftest import SF_BENCH

    d = spark.read.parquet(f"{SF_BENCH}/documents.parquet")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("item"))
    got = {
        (r["item"], r["cnt"])
        for r in heavy_hitters(toks, "item", 0.002, capacity=512).collect()
    }
    n = toks.count()
    exact = {
        (r["item"], r["cnt"])
        for r in toks.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= math.ceil(0.002 * n))
        .collect()
    }
    assert got == exact and got


def test_embedding_banded_bucket_cap_degenerate_corpus(spark):
    """Embedding twin of the minhash cap test (VERDICT r6 "What's
    wrong #2"): 200 near-identical embeddings land every band bucket
    with all 200 vectors. Uncapped → 200·199/2 = 19900 verified pairs
    built from a 200×200 gram matrix in ONE Python worker; capped →
    the linear star (199 ids-only edges through vec 0), all still
    passing the exact cosine ≥ 0.99 verify."""
    from pyspark.sql import functions as F

    from oamap_spark.queries.llm_similarity import _banded_neardup_pairs

    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), c -> "
            "1.0d + cast(c % 7 as double) * 1e-5)"
        ).alias("embedding"),
    )
    capped = _banded_neardup_pairs(df, bucket_cap=50).collect()
    assert len(capped) == 199
    assert all(r["id_a"] == 0 for r in capped)
    assert {r["id_b"] for r in capped} == set(range(1, 200))
    assert all(r["cos_sim"] >= 0.99 for r in capped)
    uncapped = _banded_neardup_pairs(df).collect()
    assert len(uncapped) == 200 * 199 // 2


def test_embedding_banded_bucket_cap_noop_below_cap(spark):
    """A cap no bucket reaches must not change the exact pair list."""
    from oamap_spark.queries.llm_similarity import (
        _banded_neardup_pairs,
        _dedup_corpus,
    )
    from oamap_spark.sources.tables import load_table

    e = _dedup_corpus(load_table(spark, SF_SMOKE, "embeddings"))
    base = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in _banded_neardup_pairs(e).collect()
    }
    capped = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in _banded_neardup_pairs(e, bucket_cap=10**6).collect()
    }
    assert base == capped


def test_embedding_banded_cap_giant_bucket_takes_star_not_gram(spark):
    """The point of the guard: an oversized bucket must resolve to the
    linear ids-only star, never the s×s gram — with a cap of 1 on the
    degenerate corpus every bucket is oversized, so the output is
    exactly the 49 star edges through vec 0 (a gram path would emit
    all 1225 pairs). The memory contract (embeddings buffered only up
    to cap rows per in-flight bucket, then dropped for ids) is pinned
    unit-level in test_streaming_cap_body_drops_embeddings_over_cap."""
    from pyspark.sql import functions as F

    from oamap_spark.queries.llm_similarity import _banded_neardup_pairs

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), c -> "
            "1.0d + cast(c % 7 as double) * 1e-5)"
        ).alias("embedding"),
    )
    rows = _banded_neardup_pairs(df, bucket_cap=1).collect()
    assert len(rows) == 49
    assert all(r["id_a"] == 0 for r in rows)


def test_streaming_cap_body_drops_embeddings_over_cap():
    """Unit pin of the r7 streaming memory contract (no Spark): feed
    the mapInPandas body a bucket spanning several Arrow batches and
    assert (a) pairs are correct across batch boundaries, (b) once the
    cap is crossed the body's buffered state holds ids only — the
    embedding buffer is empty from that point on."""
    import numpy as np
    import pandas as pd

    from oamap_spark.queries.llm_similarity import _partition_neardup_pairs

    def batch(bk, ids, emb=True):
        return pd.DataFrame(
            {
                "vec_id": np.array(ids, dtype=np.int64),
                # poison pill: rows arriving after the cap is crossed
                # carry None embeddings — np.stack would crash if the
                # body ever tried to gram them, proving the buffered
                # vectors are dropped, not used
                "embedding": [np.ones(64) if emb else None for _ in ids],
                "bk": np.full(len(ids), bk, dtype=np.int32),
            }
        )

    # bucket 7 spans three batches (9 rows > cap 3); bucket 9 is small
    batches = [batch(7, [0, 1, 2]), batch(7, [3, 4, 5], emb=False),
               batch(7, [6, 7, 8], emb=False), batch(9, [20, 21])]
    out = pd.concat(list(_partition_neardup_pairs(3)(iter(batches))),
                    ignore_index=True)
    star = out[out.id_a == 0]
    assert sorted(star.id_b) == list(range(1, 9))  # star across batches
    assert ((out.id_a == 20) & (out.id_b == 21)).any()  # small gram pair
    assert len(out) == 8 + 1
    # uncapped twin (clean embeddings): full gram for bucket 7
    clean = [batch(7, [0, 1, 2]), batch(7, [3, 4, 5]),
             batch(7, [6, 7, 8]), batch(9, [20, 21])]
    out2 = pd.concat(list(_partition_neardup_pairs(None)(iter(clean))),
                     ignore_index=True)
    assert len(out2) == 9 * 8 // 2 + 1


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    """The operator's reason to exist: a short doc quoted whole inside
    a much longer one has Jaccard ≈ |A|/|B| (below every minhash
    band) but containment ≈ 1.0."""
    from pyspark.sql import functions as F

    from oamap_spark.operators.dedup import all_pairs_jaccard, containment_pairs

    short = " ".join(f"tok{i}" for i in range(30))
    long_ = short + " " + " ".join(f"pad{i}" for i in range(270))
    other = " ".join(f"oth{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], ["doc_id", "text"]
    )
    cont = containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] >= 0.9
    jac = all_pairs_jaccard(df, "doc_id", "text", 0.9).collect()
    assert jac == []  # jaccard(1,2) ≈ 30/300 — invisible to minhash


def test_containment_df_cap_drops_boilerplate_only_overlap(spark):
    """Two docs overlapping ONLY via a shingle present in every doc
    (df > cap) must not become a candidate pair — that is the skew
    guard's semantic: boilerplate-only overlap is noise, and at scale
    its posting list is the quadratic key."""
    from oamap_spark.operators.dedup import containment_pairs

    boiler = "this page is boilerplate footer text"
    rows = [(i, f"unique{i}a unique{i}b unique{i}c " + boiler) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # every pair overlaps ONLY on boilerplate shingles (df = 10 > 5)
    out = containment_pairs(df, "doc_id", "text", threshold=0.5, df_cap=5).collect()
    assert out == []
    # raising the cap above n admits the candidates; exact verify then
    # decides (the boilerplate tail is most of each tiny doc → pairs)
    out2 = containment_pairs(df, "doc_id", "text", threshold=0.5, df_cap=20).collect()
    assert len(out2) == 45


def test_epoch_shuffle_deterministic_and_epoch_varying(spark):
    """Positions are a dense 0..n-1 permutation, invariant to input
    partitioning (retry/layout-safe), and differ between epochs."""
    from oamap_spark.operators.sampling import epoch_shuffle
    from oamap_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id")
    e1 = {r["doc_id"]: r["epoch_pos"] for r in epoch_shuffle(d, "doc_id", 1).collect()}
    e1b = {
        r["doc_id"]: r["epoch_pos"]
        for r in epoch_shuffle(d.repartition(13), "doc_id", 1).collect()
    }
    e2 = {r["doc_id"]: r["epoch_pos"] for r in epoch_shuffle(d, "doc_id", 2).collect()}
    assert e1 == e1b
    assert sorted(e1.values()) == list(range(len(e1)))
    assert e1 != e2 and sorted(e2.values()) == sorted(e1.values())


def test_epoch_shuffle_rejects_null_and_duplicate_keys(spark):
    """The determinism contract needs a unique non-null key (r7
    review); both violations must raise, not silently produce
    layout-dependent positions."""
    import pytest
    from pyspark.sql import functions as F

    from oamap_spark.operators.sampling import epoch_shuffle

    dup = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["k", "v"])
    with pytest.raises(Exception, match="duplicate k"):
        epoch_shuffle(dup, "k", 1).collect()
    nul = spark.createDataFrame([(1, "a"), (None, "b")], ["k", "v"])
    with pytest.raises(Exception, match="null k"):
        epoch_shuffle(nul, "k", 1).collect()


def test_epoch_shuffle_bucket_width_and_reserved_columns(spark):
    """Positions are invariant to the bucket fan-out (the bucket is a
    hash prefix, so bucket-major order ≡ global order at any width —
    VERDICT r7 #3 parameterization), and reserved working columns in
    the input fail fast instead of being silently overwritten
    (ADVICE r7)."""
    import pytest

    from oamap_spark.operators.sampling import epoch_shuffle
    from oamap_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id")
    wide = {r["doc_id"]: r["epoch_pos"] for r in epoch_shuffle(d, "doc_id", 1).collect()}
    narrow = {
        r["doc_id"]: r["epoch_pos"]
        for r in epoch_shuffle(d, "doc_id", 1, bucket_hex=1).collect()
    }
    assert wide == narrow and sorted(wide.values()) == list(range(len(wide)))
    with pytest.raises(ValueError, match="reserved"):
        epoch_shuffle(d.withColumn("__h", d.doc_id), "doc_id", 1)
    with pytest.raises(ValueError, match="bucket_hex"):
        epoch_shuffle(d, "doc_id", 1, bucket_hex=0)


def test_embedding_incremental_equals_filtered_batch(spark, queries):
    """dedup_embedding_incremental == the batch banded pair list
    restricted to arrival-touching pairs (vec_id % 5 == 0), and
    non-empty — the operator's contract and the oracle's premise."""
    inc = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in queries["dedup_embedding_incremental"](spark, SF_SMOKE).collect()
    }
    batch = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in queries["dedup_embedding_banded"](spark, SF_SMOKE).collect()
    }
    expected = {p for p in batch if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expected
    assert inc, "arrival slice produced no pairs — vacuous gate"


def test_embedding_incremental_body_never_grams_corpus_only():
    """The incremental body: a bucket of identical corpus-only vectors
    emits NOTHING (the batch body emits the pair) — old×old work is
    skipped inside the worker, not filtered downstream — while a new
    member pairs against every old one."""
    import pandas as pd

    from oamap_spark.queries.llm_similarity import (
        _partition_neardup_pairs,
        _partition_neardup_pairs_incremental,
    )

    def pairs(body, pdf):
        out = pd.concat(list(body(iter([pdf]))), ignore_index=True)
        return set(zip(out["id_a"], out["id_b"]))

    vec = [1.0, 2.0, 3.0, 4.0]
    old_only = pd.DataFrame(
        {"bk": [1, 1], "vec_id": [1, 2], "embedding": [vec, vec],
         "is_new": [False, False]}
    )
    assert pairs(_partition_neardup_pairs_incremental(), old_only) == set()
    assert pairs(_partition_neardup_pairs(), old_only) == {(1, 2)}
    with_new = pd.DataFrame(
        {"bk": [1, 1, 1], "vec_id": [3, 1, 2], "embedding": [vec, vec, vec],
         "is_new": [True, False, False]}  # arrivals sorted first
    )
    assert pairs(_partition_neardup_pairs_incremental(), with_new) == {(1, 3), (2, 3)}


def test_containment_incremental_equals_filtered_batch(spark, queries):
    """dedup_containment_incremental == the batch containment pair
    list restricted to arrival-touching pairs (the oracle's premise).
    Covers both new×old and new×new directions on the real corpus."""
    inc = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in queries["dedup_containment_incremental"](spark, SF_SMOKE).collect()
    }
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    arrivals = {
        r["doc_id"]
        for r in d.where(
            F.substring("source", 4, 10).cast("int") >= 10
        ).select("doc_id").collect()
    }
    batch = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in queries["dedup_containment_pairs"](spark, SF_SMOKE).collect()
    }
    expected = {p for p in batch if p[0] in arrivals or p[1] in arrivals}
    assert inc == expected


def test_containment_incremental_finds_new_quoted_in_old_only(spark):
    """A NEW doc quoted whole inside an OLD longer doc is found; an
    identical OLD×OLD quoted pair is not (corpus×corpus skipped)."""
    from oamap_spark.operators.dedup import containment_pairs_incremental

    tail = " ".join(f"uniq{i}" for i in range(12))
    tail2 = " ".join(f"other{i}" for i in range(12))
    rows = [
        (1, tail, True),                              # new short doc
        (2, "filler words around the quote " + tail, False),   # old host
        (3, tail2, False),                            # old short doc
        (4, "more filler then " + tail2, False),      # old host of old
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, nw boolean")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs_incremental(
            df, "doc_id", "text", "nw", threshold=0.8
        ).collect()
    }
    assert (1, 2) in pairs
    assert (3, 4) not in pairs


def test_containment_steady_cap_crossing_shifts_kc(spark):
    """The steady-state containment probe (persisted corpus postings +
    dfreq + per-doc kc_base; r12) must equal the batch form EXACTLY
    when an arrival pushes a shared sid's df OVER df_cap — the
    cap-crossing case (VERDICT r11 "Next round #1"): the crosser sid S
    must (a) stop generating candidates and (b) shift every corpus
    doc's kept-count kc down by its S postings, loosening the
    upper-bound prune's `capped` term. The fixture is built so an
    UNADJUSTED kc_base would compute bound = (1+0)/2 = 0.5 < 0.8 and
    wrongly prune the one true pair — the assertion fails unless the
    crossing adjustment is exact."""
    from oamap_spark.operators.dedup import (
        containment_corpus_tables,
        containment_pairs_incremental,
        containment_pairs_incremental_steady,
    )

    cap, threshold = 2, 0.8
    # corpus: c1=[S,T,u1], c2=[S,u2,u3] → df_corpus(S)=2 ≤ cap;
    # arrival: a1=[S,T] → df_total(S)=3 > cap (S crosses), T kept.
    # true pair (a1,c1): intersect {S,T} / min(2,3) = 1.0.
    S, T, u1, u2, u3 = 100, 200, 301, 302, 303
    corpus = spark.createDataFrame(
        [(1, [S, T, u1]), (2, [S, u2, u3])], "id long, ids array<long>"
    )
    arr = spark.createDataFrame([(10, [S, T])], "id long, ids array<long>")

    # batch reference: the unioned flagged form
    ids_df = corpus.select(
        "id", F.lit(False).alias("is_new"), "ids"
    ).unionByName(arr.select("id", F.lit(True).alias("is_new"), "ids"))
    batch = sorted(
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs_incremental(
            None, "id", "t", "n", threshold=threshold, df_cap=cap, ids_df=ids_df
        ).collect()
    )

    # steady form: corpus tables from the builder the steady query stages
    post, dfreq, stats = containment_corpus_tables(corpus, cap)
    steady = sorted(
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs_incremental_steady(
            arr, post, dfreq, stats, corpus, threshold=threshold, df_cap=cap
        ).collect()
    )
    assert steady == batch == [(1, 10, 1.0)]


def test_incremental_null_flag_fails_loudly(spark):
    """A null arrival flag must raise in-plan, not silently demote
    the doc to corpus status (r8 review finding) — checked for the
    lexical and embedding incremental paths (the embedding one is
    the NaN-danger case: a null reaching pandas would astype(bool)
    to True, silently PROMOTING the doc instead)."""
    from oamap_spark.operators.dedup import minhash_lsh_pairs_incremental
    from oamap_spark.queries.llm_similarity import _banded_neardup_pairs

    docs = spark.createDataFrame(
        [(1, "some text here", True), (2, "other text there", None)],
        "doc_id long, text string, nw boolean",
    )
    with pytest.raises(Exception, match="null nw arrival flag"):
        minhash_lsh_pairs_incremental(docs, "doc_id", "text", "nw").collect()

    v64 = [float(i % 7) for i in range(64)]
    emb = spark.createDataFrame(
        [(1, v64, True), (2, v64, None)],
        "vec_id long, embedding array<double>, nw boolean",
    )
    with pytest.raises(Exception, match="null nw arrival flag"):
        _banded_neardup_pairs(emb, new_col="nw").collect()


def test_flagged_ids_without_flag_column_marks_every_row_new(spark):
    """``new_col=None`` is how the batch detectors and the arrival half
    of a steady probe enter the one probe: every row is new,
    the flag is the literal true, and no null guard rides the plan.
    The table comes back untracked."""
    from oamap_spark import cache
    from oamap_spark.operators.dedup import flagged_shingle_ids_table
    from oamap_spark.plans.audit import plan_string

    docs = spark.createDataFrame(
        [(1, "some text here", True), (2, "other text there", False)],
        "doc_id long, text string, nw boolean",
    )
    before = cache.tracked_count()
    every = flagged_shingle_ids_table(docs, "doc_id", "text")
    flagged = flagged_shingle_ids_table(docs, "doc_id", "text", "nw")
    # untracked: a caller that reads the table more than once tracks it
    assert not every.is_cached and not flagged.is_cached
    assert cache.tracked_count() == before
    assert every.columns == flagged.columns == ["id", "is_new", "ids"]
    assert [r["is_new"] for r in every.orderBy("id").collect()] == [True, True]
    assert "raise_error" not in plan_string(every, "extended")
    assert "raise_error" in plan_string(flagged, "extended")
    cache.sweep()


def test_embedding_incremental_skips_arrival_free_buckets_unbuffered():
    """The streamed body must skip an arrival-free bucket from its
    FIRST row (rows arrive arrivals-first) without touching its
    embeddings — fed deliberately un-stackable embeddings (None) in
    the old-only bucket, any buffering/gram attempt would crash."""
    import pandas as pd

    from oamap_spark.queries.llm_similarity import (
        _partition_neardup_pairs_incremental,
    )

    vec = [1.0, 2.0, 3.0, 4.0]
    old_only = pd.DataFrame(
        {"bk": [1, 1], "vec_id": [10, 11], "embedding": [None, None],
         "is_new": [False, False]}
    )
    mixed = pd.DataFrame(
        {"bk": [2, 2], "vec_id": [20, 21], "embedding": [vec, vec],
         "is_new": [True, False]}  # arrivals sorted first
    )
    body = _partition_neardup_pairs_incremental()
    out = pd.concat(list(body(iter([old_only, mixed]))), ignore_index=True)
    assert set(zip(out["id_a"], out["id_b"])) == {(20, 21)}


def test_embedding_incremental_capped_equals_filtered_capped_batch(spark, queries):
    """The capped incremental pair list must equal the capped BATCH
    pair list restricted to arrival-touching pairs — both the
    rectangular-gram (sub-cap) and restricted-star (over-cap) routes
    exercised at SF_SMOKE (156/1710 buckets exceed the cap there;
    161/1612 at the driver's sf0.01)."""
    inc = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in queries["dedup_embedding_incremental_capped"](
            spark, SF_SMOKE
        ).collect()
    }
    batch = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in queries["dedup_embedding_banded_capped"](spark, SF_SMOKE).collect()
    }
    expected = {p for p in batch if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expected
    assert inc, "arrival slice produced no capped pairs — vacuous gate"


def test_star_pairs_vs_new_is_filtered_batch_star():
    """An over-cap bucket's incremental star == the batch star filtered
    to arrival-touching edges, in both bmin-old and bmin-new
    orientations."""
    import numpy as np
    import pandas as pd

    from oamap_spark.queries.llm_similarity import (
        _partition_neardup_pairs,
        _partition_neardup_pairs_incremental,
    )

    def star(body, ids, nw):
        order = np.argsort(~np.array(nw), kind="stable")  # arrivals first
        pdf = pd.DataFrame(
            {"bk": 0, "vec_id": np.array(ids)[order],
             "embedding": [None] * len(ids), "is_new": np.array(nw)[order]}
        )
        out = pd.concat(list(body(iter([pdf]))), ignore_index=True)
        return set(zip(out["id_a"], out["id_b"]))

    ids = [7, 3, 9, 5]
    full = star(_partition_neardup_pairs(1), ids, [True] * 4)
    assert full == {(3, 5), (3, 7), (3, 9)}
    nw_old_min = [True, False, False, True]  # bmin=3 is old
    got = star(_partition_neardup_pairs_incremental(1), ids, nw_old_min)
    assert got == {p for p in full if nw_old_min[ids.index(p[1])]}
    nw_new_min = [False, True, False, False]  # bmin=3 is new
    assert star(_partition_neardup_pairs_incremental(1), ids, nw_new_min) == full


def _brute_force_bucket_pairs(ids, nw, emb, bucket_cap, incremental):
    """Reference for the vectorized body: one bucket at a time, every
    pair's cosine on its own, the star for an over-cap bucket."""
    import numpy as np

    s = len(ids)
    if bucket_cap is not None and s > bucket_cap:
        m = min(ids)
        edges = {(m, x) for x in ids if x != m}
        if incremental:
            new = {x for x, f in zip(ids, nw) if f}
            edges = {e for e in edges if m in new or e[1] in new}
        return edges
    out = set()
    for i in range(s):
        for j in range(i + 1, s):
            if incremental and not (nw[i] or nw[j]):
                continue
            cos = np.dot(emb[i], emb[j]) / (
                np.linalg.norm(emb[i]) * np.linalg.norm(emb[j])
            )
            if cos >= 0.99 - 1e-9:
                out.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize(
    "bucket_cap,incremental",
    [(None, False), (4, False), (None, True), (4, True)],
    ids=["uncapped", "capped_star", "incremental", "capped_incremental"],
)
def test_neardup_body_matches_per_bucket_brute_force(seed, bucket_cap, incremental):
    """The vectorized mapInPandas body == a per-bucket brute-force
    gram on random buckets (sizes 1-9, near-duplicate clusters beside
    unrelated vectors, random arrival flags) split into Arrow batches
    at arbitrary rows, so buckets straddle one or several batches,
    under all four modes. Cosines sit far from the threshold (≥ 0.9999
    or ≈ 0), so float order cannot flip a pair."""
    import numpy as np
    import pandas as pd

    from oamap_spark.queries.llm_similarity import (
        _partition_neardup_pairs,
        _partition_neardup_pairs_incremental,
    )

    rng = np.random.default_rng(seed)
    rows, expected, next_id = [], set(), 0
    for bk in range(40):
        s = int(rng.integers(1, 10))
        ids = list(range(next_id, next_id + s))
        next_id += s
        rng.shuffle(ids)
        base = rng.normal(size=8)
        emb = [
            base + rng.normal(scale=1e-3, size=8) if rng.random() < 0.6
            else rng.normal(size=8)
            for _ in ids
        ]
        nw = list(rng.random(s) < 0.3) if incremental else [True] * s
        order = sorted(range(s), key=lambda i: not nw[i])  # arrivals first
        ids, nw, emb = [ids[i] for i in order], [nw[i] for i in order], [emb[i] for i in order]
        expected |= _brute_force_bucket_pairs(ids, nw, emb, bucket_cap, incremental)
        rows += [(bk, i, e, f) for i, e, f in zip(ids, emb, nw)]
    pdf = pd.DataFrame(rows, columns=["bk", "vec_id", "embedding", "is_new"])
    cuts = np.sort(rng.choice(np.arange(1, len(pdf)), size=12, replace=False))
    batches = [pdf.iloc[a:b].reset_index(drop=True)
               for a, b in zip(np.r_[0, cuts], np.r_[cuts, len(pdf)])]
    if not incremental:
        batches = [b.drop(columns="is_new") for b in batches]
    factory = (_partition_neardup_pairs_incremental if incremental
               else _partition_neardup_pairs)
    out = pd.concat(list(factory(bucket_cap)(iter(batches))), ignore_index=True)
    got = list(zip(out["id_a"], out["id_b"]))
    assert len(got) == len(set(got)), "a pair surfaced twice within its bucket"
    assert set(got) == expected
    assert expected, "no candidate pairs — vacuous comparison"


def test_minhash_incremental_from_persisted_corpus_index(spark, tmp_path):
    """The steady-state workflow the incremental docstrings promise:
    the corpus half of the shingle-id index is PERSISTED parquet
    (built once per corpus snapshot), only arrival rows are tokenized
    fresh, and the union — fed via ids_df — yields exactly the same
    pairs as recomputing everything from text."""
    from oamap_spark.operators.dedup import (
        flagged_shingle_ids_table,
        minhash_lsh_pairs_incremental,
        shingle_ids_table,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    is_new = F.substring("source", 4, 10).cast("int") >= 10
    corpus, arrivals = d.where(~is_new), d.where(is_new)

    # snapshot time: persist the corpus index (id, ids) to storage
    idx_path = str(tmp_path / "corpus_shingle_index")
    shingle_ids_table(corpus, "doc_id", "text", 3).write.parquet(idx_path)

    # batch time: tokenize ONLY arrivals, union with the loaded index
    arr_ids = flagged_shingle_ids_table(
        arrivals.withColumn("nw", F.lit(True)), "doc_id", "text", "nw", 3
    )
    ids_df = (
        spark.read.parquet(idx_path)
        .select("id", F.lit(False).alias("is_new"), "ids")
        .unionByName(arr_ids)
    )
    from_index = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs_incremental(
            None, "doc_id", "text", "nw", ids_df=ids_df
        ).collect()
    }
    recomputed = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs_incremental(
            d.withColumn("nw", is_new), "doc_id", "text", "nw"
        ).collect()
    }
    assert from_index == recomputed and from_index


def test_incremental_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a micro-batch body
    with the same batch_id (crash-after-write, checkpoint-not-
    committed) must leave BOTH sinks content-identical — in particular
    the replay must not read its own first attempt's signatures back
    as corpus, which would fan every verify-join pair out 2-4x. Every
    index row carries its ``MINHASH_K``-long signature ``sig`` (the
    probe bands it instead of re-hashing the corpus), and the replay
    rewrites the index partition content-identically."""
    from oamap_spark.operators.dedup import MINHASH_K
    from oamap_spark.streaming.pipelines import incremental_dedup_batch_body

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    src_num = F.substring("source", 4, 10).cast("int")
    b0, b1 = d.where(src_num < 10), d.where(src_num >= 10)
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")

    incremental_dedup_batch_body(b0, 0, index_dir, pairs_dir)
    incremental_dedup_batch_body(b1, 1, index_dir, pairs_dir)
    first = sorted(
        tuple(r)
        for r in spark.read.parquet(pairs_dir)
        .select("id_a", "id_b", "jaccard")
        .collect()
    )
    assert first  # non-vacuous: cross/within-batch pairs exist

    def index_rows(batch):
        return sorted(
            (r["id"], tuple(r["ids"]), tuple(r["sig"]))
            for r in spark.read.parquet(index_dir)
            .where(F.col("batch") == batch)
            .collect()
        )

    first_idx = index_rows(1)
    assert len(index_rows(0)) == b0.count() and len(first_idx) == b1.count()
    assert {len(r[2]) for r in index_rows(0) + first_idx} == {MINHASH_K}

    # the crash-replay: same batch, same id, index already contains
    # this batch's own signatures from the first attempt
    incremental_dedup_batch_body(b1, 1, index_dir, pairs_dir)
    again = sorted(
        tuple(r)
        for r in spark.read.parquet(pairs_dir)
        .select("id_a", "id_b", "jaccard")
        .collect()
    )
    assert again == first
    # index partition also rewritten, not duplicated, and identical
    idx = spark.read.parquet(index_dir)
    assert idx.count() == idx.select("id").distinct().count()
    assert index_rows(1) == first_idx


def test_cluster_maintenance_batch_replay_is_idempotent(spark, tmp_path):
    """The clustering fold on top of the dedup loop keeps the same
    at-least-once contract: a replayed batch folds against the latest
    generation STRICTLY BELOW its own id (never its own first
    attempt's gen) and overwrites its own generation — so the
    assignment content is identical after the crash-replay, and every
    generation is a valid min-id fixpoint (each cluster contains its
    own root)."""
    from oamap_spark.streaming.pipelines import cluster_maintenance_batch_body

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    src_num = F.substring("source", 4, 10).cast("int")
    b0, b1 = d.where(src_num < 10), d.where(src_num >= 10)
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    asg_dir = str(tmp_path / "asg")

    cluster_maintenance_batch_body(b0, 0, index_dir, pairs_dir, asg_dir)
    cluster_maintenance_batch_body(b1, 1, index_dir, pairs_dir, asg_dir)
    first = sorted(
        tuple(r) for r in spark.read.parquet(f"{asg_dir}/gen=1").collect()
    )
    assert first  # non-vacuous
    cluster_maintenance_batch_body(b1, 1, index_dir, pairs_dir, asg_dir)
    again = sorted(
        tuple(r) for r in spark.read.parquet(f"{asg_dir}/gen=1").collect()
    )
    assert again == first
    # fixpoint sanity: every cluster id is a member node of the gen
    nodes = {r[0] for r in first}
    assert {r[1] for r in first} <= nodes


def _tiny_docs(spark, ids):
    """A few documents, near-copies of one text, for the stream batch
    bodies' bookkeeping tests (the dedup itself is pinned elsewhere)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [(i, base if i % 2 else base + " today") for i in ids],
        "doc_id long, text string",
    )


def test_cluster_maintenance_mismatched_state_dirs_raise(spark, tmp_path):
    """Persisted-state guard: a fresh assignment dir paired with an
    index that already holds earlier batches must fail loudly before
    anything is written, not fold against an empty assignment and drop
    every earlier cluster; so must the mirror pairing, a fresh index
    beside an existing assignment, and an assignment whose latest
    generation stops short of the latest index batch. Batch 0 on empty
    dirs still folds."""
    from oamap_spark.streaming.pipelines import (
        cluster_maintenance_batch_body,
        incremental_dedup_batch_body,
    )

    index_dir, pairs_dir = str(tmp_path / "index"), str(tmp_path / "pairs")
    asg_dir = str(tmp_path / "asg")
    cluster_maintenance_batch_body(
        _tiny_docs(spark, [1, 2]), 0, index_dir, pairs_dir, asg_dir
    )
    assert spark.read.parquet(f"{asg_dir}/gen=0").count() == 2
    fresh_asg = str(tmp_path / "asg_fresh")
    fresh_index = str(tmp_path / "index_fresh")
    for idx, asg in ((index_dir, fresh_asg), (fresh_index, asg_dir)):
        with pytest.raises(RuntimeError) as err:
            cluster_maintenance_batch_body(
                _tiny_docs(spark, [3, 4]), 1, idx, pairs_dir, asg
            )
        assert idx in str(err.value) and asg in str(err.value)
    assert not (tmp_path / "pairs" / "batch=1").exists()
    # an assignment that stops short of the index: batch 1's index and
    # pairs landed but its fold did not, and batch 2 arrives instead of
    # the replay
    incremental_dedup_batch_body(
        _tiny_docs(spark, [3, 4]), 1, index_dir, pairs_dir
    )
    with pytest.raises(RuntimeError) as err:
        cluster_maintenance_batch_body(
            _tiny_docs(spark, [5, 6]), 2, index_dir, pairs_dir, asg_dir
        )
    assert index_dir in str(err.value) and asg_dir in str(err.value)
    assert not (tmp_path / "index" / "batch=2").exists()
    assert not (tmp_path / "pairs" / "batch=2").exists()


def test_cluster_maintenance_replay_after_index_only_write(spark, tmp_path):
    """The index partition is written first, so a crash can leave
    ``index/batch=N`` without ``pairs/batch=N`` or ``gen=N``. Replaying
    batch N from that state rewrites the index partition and emits the
    same pairs and generation as the uninterrupted run."""
    import shutil

    from oamap_spark.streaming.pipelines import cluster_maintenance_batch_body

    dirs = [str(tmp_path / x) for x in ("index", "pairs", "asg")]
    batches = [_tiny_docs(spark, [1, 2]), _tiny_docs(spark, [3, 4])]
    for i, b in enumerate(batches):
        cluster_maintenance_batch_body(b, i, *dirs)

    def state():
        pairs = spark.read.parquet(f"{dirs[1]}/batch=1").collect()
        gen = spark.read.parquet(f"{dirs[2]}/gen=1").collect()
        return sorted(tuple(r) for r in pairs), sorted(tuple(r) for r in gen)

    first = state()
    assert first[0]  # non-vacuous: batch 1 pairs with batch 0
    shutil.rmtree(f"{dirs[1]}/batch=1")
    shutil.rmtree(f"{dirs[2]}/gen=1")
    cluster_maintenance_batch_body(batches[1], 1, *dirs)
    assert state() == first


def test_cluster_maintenance_batch_job_count(spark, tmp_path):
    """Counter, not wall time: folding a micro-batch runs a fixed number
    of Spark jobs (every job is a driver round trip). The dedup body
    writes the arrivals' index partition first and probes parquet read
    with known schemas, so no read starts a schema-inference job and no
    executed plan scans a cached frame."""
    from oamap_spark.streaming.pipelines import cluster_maintenance_batch_body

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()
    dirs = [str(tmp_path / x) for x in ("index", "pairs", "asg")]
    cluster_maintenance_batch_body(_tiny_docs(spark, [1, 2]), 0, *dirs)
    jsc.listenerBus().waitUntilEmpty()
    n = store.executionsCount()
    last = store.executionsList(n - 1, 1).head().executionId() if n else -1
    group = f"cluster-maintenance-batch-1-{tmp_path.name}"
    sc.setJobGroup(group, "fold batch 1")
    try:
        cluster_maintenance_batch_body(_tiny_docs(spark, [3, 4]), 1, *dirs)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    jsc.listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 9, sorted(jobs)
    plans, i, misses = [], last + 1, 0
    while misses < 3:
        e = store.execution(i)
        if e.isDefined():
            plans.append(e.get().physicalPlanDescription())
            misses = 0
        else:
            misses += 1
        i += 1
    assert len(plans) >= 3  # index write, pairs write, fold
    assert not [p for p in plans if "InMemoryRelation" in p or "InMemoryTableScan" in p]


def test_cluster_maintenance_first_batch_equals_one_shot(spark, tmp_path):
    """Fresh dirs: batch 0 folds its pairs into the empty Arrow-built
    assignment, and gen=0 equals one-shot batch clustering of the same
    documents."""
    from oamap_spark.operators.clustering import connected_components_min_id
    from oamap_spark.operators.dedup import minhash_lsh_pairs
    from oamap_spark.streaming.pipelines import cluster_maintenance_batch_body

    docs = _tiny_docs(spark, [1, 2, 3, 4, 5])
    dirs = [str(tmp_path / x) for x in ("index", "pairs", "asg")]
    cluster_maintenance_batch_body(docs, 0, *dirs)
    got = spark.read.parquet(f"{dirs[2]}/gen=0")
    assert got.schema.simpleString() == "struct<node:bigint,cluster_id:bigint>"
    want = {
        tuple(r)
        for r in connected_components_min_id(
            minhash_lsh_pairs(
                docs, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9
            )
        ).collect()
    }
    assert {tuple(r) for r in got.collect()} == want and want


def test_stream_batch_bodies_log_what_they_read(spark, tmp_path, caplog):
    """Both batch bodies log which index batches and which assignment
    generation they read, from the listings they already take; the
    stream persists exactly its index, pairs and assignment dirs."""
    import logging

    from oamap_spark.streaming import pipelines as P

    caplog.set_level(logging.INFO, logger=P.__name__)
    dirs = [str(tmp_path / x) for x in ("index", "pairs", "asg")]
    for i, ids in enumerate(([1, 2], [3, 4])):
        P.cluster_maintenance_batch_body(_tiny_docs(spark, ids), i, *dirs)
    log = caplog.text
    assert f"batch 0: reading index batches [] of {dirs[0]}" in log
    assert f"batch 1: reading index batches [0] of {dirs[0]}" in log
    assert f"batch 0: reading gen=None of {dirs[2]}" in log
    assert f"batch 1: reading gen=0 of {dirs[2]}" in log
    assert sorted(p.name for p in tmp_path.iterdir()) == ["asg", "index", "pairs"]


def test_stream_incremental_dedup_cumulative_equals_batch(spark, queries):
    """The streaming continuous-dedup invariant: the pairs accumulated
    across all micro-batches equal the one-shot batch MinHash pair
    list exactly — and cross-batch pairs exist (a doc deduped against
    an index entry written by an EARLIER micro-batch), so the
    index-probe loop is exercised, not just same-batch pairing."""
    stream = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in queries["stream_incremental_minhash_dedup"](
            spark, SF_SMOKE
        ).collect()
    }
    batch = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in queries["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    }
    assert stream == batch and stream
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    slice_of = {
        r["doc_id"]: r["s"] // 5  # 4 slices of 5 sources each
        for r in d.select(
            "doc_id", F.substring("source", 4, 10).cast("int").alias("s")
        ).collect()
    }
    assert any(slice_of[a] != slice_of[b] for a, b, _ in stream), (
        "no cross-micro-batch pair — the accumulated-index probe was never hit"
    )


def test_cluster_maintenance_final_gen_invariant_to_slicing(spark, tmp_path):
    """The streamed clustering loop's headline claim: the final
    generation equals one-shot batch clustering over the full banded
    pair graph HOWEVER the stream was sliced. Fold the same corpus as
    2 batches and as 4 differently-cut batches; both final assignments
    must be identical to each other and to batch
    minhash_lsh_pairs -> connected_components_min_id."""
    from oamap_spark.operators.clustering import connected_components_min_id
    from oamap_spark.operators.dedup import minhash_lsh_pairs
    from oamap_spark.streaming.pipelines import cluster_maintenance_batch_body

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    src_num = F.substring("source", 4, 10).cast("int")

    def run(slices):
        root = tmp_path / f"slicing_{len(slices)}"
        dirs = [str(root / x) for x in ("index", "pairs", "asg")]
        for i, (lo, hi) in enumerate(slices):
            batch = d.where((src_num >= lo) & (src_num < hi))
            cluster_maintenance_batch_body(batch, i, *dirs)
        final = spark.read.parquet(f"{dirs[2]}/gen={len(slices) - 1}")
        return {(r["node"], r["cluster_id"]) for r in final.collect()}

    two = run([(0, 10), (10, 20)])
    four = run([(0, 3), (3, 11), (11, 16), (16, 20)])
    want = {
        (r["node"], r["cluster_id"])
        for r in connected_components_min_id(
            minhash_lsh_pairs(
                d, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9
            )
        ).collect()
    }
    assert two == four == want
    assert want  # non-vacuous: the corpus does contain near-dup edges


def test_ngram_overlap_steady_positional_semantics(spark):
    """The steady contamination flag's contract is POSITIONAL (r11
    review fix): window OCCURRENCES, not distinct wids, and <8-token
    docs have zero windows — the exact shapes where the old
    distinct-wid oracle diverged. Crafted corpus/arrival frames drive
    the query's own decomposition (index probe ∪ arrival-shared over
    positional_window_table) against brute-force positional counts."""
    from collections import Counter

    from oamap_spark.operators.dedup import positional_window_table

    base = "t0 t1 t2 t3 t4 t5 t6 t7"  # one 8-token window
    corpus_rows = [(1, base + " x1 x2"), (2, "c0 c1 c2 c3 c4 c5 c6 c7")]
    arrival_rows = [
        # repeats the corpus window TWICE (positions 1 and 9):
        # positional n_dup_windows = 2, distinct semantics would say 1
        (10, base + " " + base),
        # short doc (<8 tokens): zero windows, NULL ratio — the old
        # oracle's whole-stream fallback wid would have said 1 window
        (11, "t0 t1 t2"),
        # no overlap with anything
        (12, "z0 z1 z2 z3 z4 z5 z6 z7 z8"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    arrivals = spark.createDataFrame(arrival_rows, ["doc_id", "text"])

    idx = positional_window_table(corpus, "doc_id", "text", 8)
    aw = positional_window_table(arrivals, "doc_id", "text", 8)
    aw_wids = aw.select("wid").distinct()
    in_corpus = idx.join(aw_wids, "wid", "left_semi").select("wid").distinct()
    arr_shared = (
        aw.groupBy("wid")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("wid")
    )
    dup_wids = in_corpus.unionByName(arr_shared).distinct()
    got = {
        r["id"]: r["cnt"]
        for r in aw.join(dup_wids, "wid")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_win = {r["id"]: r["cnt"] for r in aw.groupBy("id").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}

    # brute-force positional reference in plain Python
    def windows(text):
        toks = text.split(" ")
        return [tuple(toks[i:i + 8]) for i in range(len(toks) - 7)]

    docs = dict(corpus_rows) | dict(arrival_rows)
    owners = {}
    for did, text in docs.items():
        for w in set(windows(text)):
            owners.setdefault(w, set()).add(did)
    for did, text in dict(arrival_rows).items():
        ws = windows(text)
        want_dup = sum(1 for w in ws if len(owners[w]) > 1)
        assert n_win.get(did, 0) == len(ws), did
        assert got.get(did, 0) == want_dup, did

    # the divergence shapes, explicitly: occurrences not distinct...
    assert got[10] == 2 and n_win[10] == 9
    # ...and the short doc has no windows at all
    assert 11 not in n_win and 11 not in got


def test_all_pairs_jaccard_threshold_domain(spark):
    """The prefix-filter lemma holds for t in (0,1] only: t=0 admits
    shingle-DISJOINT pairs no shared-token equi-join can emit, t>1
    drives the prefix length non-positive (F.slice would raise
    mid-job). Out-of-domain thresholds fail loud at declaration
    instead of silently under-reporting (r11 review)."""
    from oamap_spark.operators.dedup import all_pairs_jaccard

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w")], ["doc_id", "text"]
    )
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            all_pairs_jaccard(df, "doc_id", "text", bad)
    # the boundary that IS valid: t=1 (exact duplicates only)
    dup = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "q r s t")],
        ["doc_id", "text"],
    )
    rows = all_pairs_jaccard(dup, "doc_id", "text", 1.0).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]


def test_band_layout_constants_match_probe_defaults(spark):
    """ADVICE r11 #3: every persisted signature index stores a
    ``MINHASH_K``-long ``sig`` (signature_table) while the pair probes
    band it with their keyword defaults — if either drifts, the
    persisted index silently desyncs from the probe layout and pairs
    are missed. Pin the agreement, the band explode of a stored sig,
    and that a probe refuses to band a stored sig with another k."""
    import inspect

    from oamap_spark.operators import dedup as D

    assert D.N_BANDS * D.BAND_ROWS == D.MINHASH_K
    for fn in (D.minhash_lsh_pairs, D.minhash_lsh_pairs_incremental):
        sig = inspect.signature(fn)
        assert sig.parameters["k"].default == D.MINHASH_K, fn.__name__
        assert sig.parameters["rows_per_band"].default == D.BAND_ROWS, fn.__name__
    ids = spark.createDataFrame([(1, [11, 22, 33])], "id long, ids array<long>")
    sigs = D.signature_table(ids)
    assert sigs.columns == ["id", "ids", "sig"]
    bands = D._explode_bands(sigs, D.N_BANDS, D.BAND_ROWS).collect()
    assert [r["band_idx"] for r in bands] == list(range(D.N_BANDS))
    assert {len(r["band_key"].split("_")) for r in bands} == {D.BAND_ROWS}
    flagged = sigs.withColumn("is_new", F.lit(True))
    with pytest.raises(ValueError, match="MINHASH_K"):
        D.minhash_lsh_pairs_incremental(
            None, "doc_id", "text", "__nw", k=D.MINHASH_K * 2, ids_df=flagged
        )


@pytest.mark.parametrize("builder,ceiling", [("bands", 150), ("flagged_ids", 350)])
def test_minhash_builders_build_in_few_py4j_calls(spark, monkeypatch, builder, ceiling):
    """Plan building is driver time on every steady-state probe and
    stream micro-batch: the MinHash signature, the band explode and the
    shingle-id builders are each ONE parsed SQL expression, not a
    Column tree assembled one py4j round trip per node (the tree form
    took ~1,900 calls for the signature table plus band explode and
    ~700 for the flagged shingle-id table). The count of py4j commands does not depend on
    host load, so the ceiling is a stable pin."""
    from oamap_spark import cache
    from oamap_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ids = spark.createDataFrame([(1, [11, 22, 33])], "id long, ids array<long>")
    build = {
        "bands": lambda: D._explode_bands(
            D.signature_table(ids), D.N_BANDS, D.BAND_ROWS
        ),
        "flagged_ids": lambda: D.flagged_shingle_ids_table(
            docs.withColumn("__nw", F.lit(True)), "doc_id", "text", "__nw", 3
        ),
    }[builder]
    build()  # first build loads the JVM-side classes
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command
    monkeypatch.setattr(
        client, "send_command", lambda *a, **k: calls.append(1) or send(*a, **k)
    )
    build()
    monkeypatch.undo()
    cache.sweep()
    assert 0 < len(calls) <= ceiling, f"{builder}: {len(calls)} py4j calls"
