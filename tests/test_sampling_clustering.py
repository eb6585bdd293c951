"""Operator-level semantics for deterministic sampling and duplicate-
cluster resolution (oracle parity is covered by test_driver_contract;
these pin the properties the oracle can't see: determinism across
partitionings, fixpoint transitivity on chain graphs, keeper-policy
invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from oamap_spark.operators import clustering as C
from oamap_spark.operators import sampling as S


def _docs(spark, n=2000):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def test_hash_sample_fraction_and_determinism(spark):
    d = _docs(spark)
    got = S.hash_sample(d, "doc_id", 0.25)
    n = got.count()
    # binomial(2000, 0.25): ±5 sigma ≈ ±97
    assert 400 <= n <= 600
    # membership is a pure function of the key: repartitioning the
    # input must select the identical ids (rand()/sampleBy would not)
    again = S.hash_sample(d.repartition(13), "doc_id", 0.25)
    assert got.exceptAll(again).count() == 0
    assert again.exceptAll(got).count() == 0


def test_hash_sample_fraction_bounds(spark):
    d = _docs(spark, 100)
    assert S.hash_sample(d, "doc_id", 0.0).count() == 0
    assert S.hash_sample(d, "doc_id", 1.0).count() == 100
    with pytest.raises(ValueError):
        S.hash_sample(d, "doc_id", 1.5)


def test_train_test_split_partitions_all_rows(spark):
    d = _docs(spark)
    tagged = S.train_test_split(d, "doc_id", 0.2)
    by_split = dict(
        tagged.groupBy("split").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert set(by_split) == {"train", "test"}
    assert sum(by_split.values()) == 2000
    # stability under corpus growth: the first 1000 docs keep their
    # assignment when 1000 more arrive
    small = S.train_test_split(_docs(spark, 1000), "doc_id", 0.2)
    grown = tagged.where(F.col("doc_id") < 1000)
    assert small.exceptAll(grown).count() == 0


def test_stratified_quota_exact_k(spark):
    d = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("stratum")
    )
    got = S.stratified_quota_sample(d, "stratum", "doc_id", 7)
    counts = got.groupBy("stratum").count().collect()
    assert len(counts) == 5
    assert all(r["count"] == 7 for r in counts)


def test_connected_components_chain_transitivity(spark):
    # chain 0-1-2-3-4 plus isolated pair 10-11: one component each.
    # The 0..4 chain has diameter 4 — exercises multi-hop propagation
    # (a single-pass neighbor-min would leave node 4 labeled 3).
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    comp = C.connected_components_min_id(pairs).collect()
    labels = {r["node"]: r["cluster_id"] for r in comp}
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10}


def test_connected_components_long_chain_log_rounds(spark):
    """Chain of 30 nodes (diameter 29): pointer doubling must converge
    well under the old O(diameter) bound — 10 iterations ≪ 29 proves
    the O(log d) behavior, and every node lands on cluster 0."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], ["id_a", "id_b"]
    )
    comp = C.connected_components_min_id(pairs, max_iter=10).collect()
    labels = {r["node"]: r["cluster_id"] for r in comp}
    assert labels == {i: 0 for i in range(30)}


def test_connected_components_nonconvergence_raises(spark):
    pairs = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        C.connected_components_min_id(pairs, max_iter=1)


def test_connected_components_refuses_all_pairs_edges(spark):
    """Declaration-time tripwire (r11): policy clustering must never
    consume the O(n^2) all-pairs ground-truth edge path — at
    production size guard_all_pairs makes that path REFUSE, so a
    query wired this way is broken at scale by construction. The
    marker rides the all_pairs_jaccard return frame."""
    from oamap_spark.operators.dedup import all_pairs_jaccard

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        ["doc_id", "text"],
    )
    pairs = all_pairs_jaccard(df, "doc_id", "text", 0.9)
    with pytest.raises(ValueError, match="all-pairs"):
        C.connected_components_min_id(pairs)


def test_dedup_keepers_one_per_cluster_plus_singletons(spark):
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 3), (3, 5), (7, 8)], ["id_a", "id_b"])
    comp = C.connected_components_min_id(pairs)
    kept = C.dedup_keepers(df, "doc_id", comp)
    ids = sorted(r["doc_id"] for r in kept.collect())
    # clusters {1,3,5}→keep 1, {7,8}→keep 7; singletons 0,2,4,6,9 kept
    assert ids == [0, 1, 2, 4, 6, 7, 9]


def test_components_compose_with_lsh_pairs(spark):
    """The scale path end-to-end: LSH candidate pairs (not the exact
    all-pairs oracle form) feed the same clustering operator."""
    from oamap_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9)
    if pairs.count() == 0:
        pytest.skip("no near-dup pairs at this SF")
    comp = C.connected_components_min_id(pairs)
    rows = comp.collect()
    # every cluster id is a member of its own cluster (root present)
    nodes = {r["node"] for r in rows}
    assert {r["cluster_id"] for r in rows} <= nodes


def test_greedy_pack_slots_invariants(spark):
    """Packing slots are a pure function of (ids, token counts):
    partitioning-invariant; seq indices dense per bucket; no sequence
    overflows capacity unless it holds a single oversized doc; offsets
    are the running fill."""
    from collections import defaultdict

    from oamap_spark.operators.packing import greedy_pack_slots

    d = spark.range(300).select(
        F.col("id").alias("doc_id"),
        # mixed sizes incl. two oversized (> capacity) docs
        F.when(F.col("id") == 7, F.lit(5000))
        .when(F.col("id") == 8, F.lit(9000))
        .otherwise((F.col("id") % 37) * 31 + 40)
        .alias("n_tok"),
    )
    out = greedy_pack_slots(d, "doc_id", "n_tok", capacity=2048).collect()
    again = greedy_pack_slots(
        d.repartition(17), "doc_id", "n_tok", capacity=2048
    ).collect()
    key = lambda r: (r["doc_id"], r["bucket"], r["seq_idx"], r["seq_off"])
    assert sorted(map(key, out)) == sorted(map(key, again))
    assert len(out) == 300

    toks = {r["doc_id"]: r["n_tok"] for r in d.collect()}
    seqs = defaultdict(list)
    for r in out:
        seqs[(r["bucket"], r["seq_idx"])].append(r)
    for (_, _), members in seqs.items():
        members.sort(key=lambda r: r["seq_off"])
        fill = 0
        for m in members:
            assert m["seq_off"] == fill
            fill += toks[m["doc_id"]]
        if fill > 2048:  # only a lone oversized doc may overflow
            assert len(members) == 1 and toks[members[0]["doc_id"]] > 2048
    # dense seq_idx per bucket
    by_bucket = defaultdict(set)
    for r in out:
        by_bucket[r["bucket"]].add(r["seq_idx"])
    for b, idxs in by_bucket.items():
        assert idxs == set(range(len(idxs))), b


def test_greedy_pack_slots_fail_fast(spark):
    import pytest as _pytest

    from oamap_spark.operators.packing import greedy_pack_slots

    d = spark.range(5).select(F.col("id").alias("doc_id"), F.lit(10).alias("n_tok"))
    with _pytest.raises(ValueError, match="capacity"):
        greedy_pack_slots(d, "doc_id", "n_tok", capacity=0)
    with _pytest.raises(ValueError, match="bucket_hex"):
        greedy_pack_slots(d, "doc_id", "n_tok", capacity=10, bucket_hex=0)
    with _pytest.raises(ValueError, match="reserved"):
        greedy_pack_slots(
            d.withColumn("seq_idx", F.lit(1)), "doc_id", "n_tok", capacity=10
        )


def test_temperature_mixture_sample_flattening(spark):
    """α=0.5 mixing: the small source's sampling rate must exceed the
    big source's (that's the flattening), membership is deterministic
    under repartitioning, and no group exceeds rate 1."""
    d = spark.range(2200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 2000, F.lit("big")).otherwise(F.lit("small")).alias("src"),
    )
    got = S.temperature_mixture_sample(d, "doc_id", "src", 0.25)
    rows = got.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    n = {r["src"]: r["n"] for r in rows}
    # expected rates: w_big=sqrt(2000)=44.7, w_small=14.1; N=550
    # r_big = 550*0.76/2000 ≈ 0.209, r_small = 550*0.24/200 ≈ 0.66
    assert n["small"] / 200 > n["big"] / 2000
    assert n["big"] <= 2000 and n["small"] <= 200
    again = S.temperature_mixture_sample(d.repartition(13), "doc_id", "src", 0.25)
    assert got.select("doc_id").exceptAll(again.select("doc_id")).count() == 0
    assert again.select("doc_id").exceptAll(got.select("doc_id")).count() == 0


def test_temperature_mixture_null_stratum_matches_duckdb(spark):
    """A NULL group forms its own stratum, and the float accumulation
    order of the sqrt-weight running sum is pinned (NULLS LAST on both
    engines) — replay the whole rate arithmetic in DuckDB and demand
    the IDENTICAL membership set."""
    import duckdb

    rows = [(i, "big" if i < 300 else ("mid" if i < 380 else None))
            for i in range(420)]
    d = spark.createDataFrame(rows, "doc_id long, src string")
    got = sorted(
        r["doc_id"]
        for r in S.temperature_mixture_sample(d, "doc_id", "src", 0.3)
        .select("doc_id").collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, {repr(s) if s is not None else 'NULL'})"
                   for i, s in rows)
        + ") v(doc_id, src)"
    )
    want = [r[0] for r in con.execute("""
WITH c AS (SELECT src AS g, count(*) AS n FROM t GROUP BY src),
m AS (SELECT g, n, sum(sqrt(n)) OVER (ORDER BY g NULLS LAST ROWS BETWEEN
        UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw FROM c),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total, max(cumw) AS sumw FROM m),
thr AS (SELECT g, CAST(floor(least(1.0, (0.3 * total) * (sqrt(n) / sumw) / n)
        * 4294967296.0) AS BIGINT) AS thr FROM m, tot)
SELECT doc_id FROM t JOIN thr ON thr.g IS NOT DISTINCT FROM t.src
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr.thr
ORDER BY doc_id
""").fetchall()]
    con.close()
    assert got == want
    # the NULL stratum actually participates
    assert any(s is None and i in got for i, s in rows)


def test_greedy_pack_slots_enforces_preconditions(spark):
    """Null token counts / null ids / duplicate ids must FAIL the job,
    not silently corrupt the slot table (a NaN fill would quietly turn
    the rest of the bucket into one-doc-per-sequence)."""
    from oamap_spark.operators.packing import greedy_pack_slots

    base = [(1, 10), (2, 20), (3, 30)]
    dup = spark.createDataFrame(base + [(2, 5)], ["doc_id", "n_tok"])
    with pytest.raises(Exception, match="duplicate doc_id"):
        greedy_pack_slots(dup, "doc_id", "n_tok", capacity=100).collect()
    nul_t = spark.createDataFrame([(1, 10), (2, None)], "doc_id long, n_tok long")
    with pytest.raises(Exception, match="null n_tok"):
        greedy_pack_slots(nul_t, "doc_id", "n_tok", capacity=100).collect()
    nul_id = spark.createDataFrame([(1, 10), (None, 5)], "doc_id long, n_tok long")
    with pytest.raises(Exception, match="null doc_id"):
        greedy_pack_slots(nul_id, "doc_id", "n_tok", capacity=100).collect()


_EDGE_SCHEMA = StructType(
    [StructField("id_a", LongType()), StructField("id_b", LongType())]
)
_ASG_SCHEMA = StructType(
    [StructField("node", LongType()), StructField("cluster_id", LongType())]
)


def _edges(spark, pairs):
    # a local relation: no pickled RDD, no Python worker per read
    return C.local_frame(
        spark, _EDGE_SCHEMA, [[a for a, _ in pairs], [b for _, b in pairs]]
    )


def test_incremental_components_bridge_merges_old_clusters(spark):
    # corpus: two separate clusters {1,2,3} and {10,11}, singleton 20
    corpus = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    asg = C.connected_components_min_id(corpus)
    # arrival 50 bridges the two old clusters; arrival 60 touches the
    # corpus singleton 20; arrivals 70,71 know only each other
    arrivals = _edges(spark, [(3, 50), (50, 11), (20, 60), (70, 71)])
    got = {
        (r["node"], r["cluster_id"])
        for r in C.incremental_components_min_id(arrivals, asg).collect()
    }
    assert got == {
        (3, 1),  # corpus node touched by an arrival edge, relabeled
        (50, 1),
        (11, 1),  # its whole old cluster merged under min id 1
        (20, 20),
        (60, 20),
        (70, 70),
        (71, 70),
    }


def test_incremental_components_equals_batch_on_union_graph(spark):
    # randomized-but-deterministic graphs: batch CC over the union
    # must equal corpus CC + incremental merge, restricted to the
    # nodes the arrival edges touch
    import random

    rng = random.Random(11)
    for _ in range(5):
        corpus_pairs = [
            (rng.randrange(30), rng.randrange(30)) for _ in range(25)
        ]
        arrival_pairs = [
            (rng.randrange(25), 100 + rng.randrange(10)) for _ in range(12)
        ] + [(100 + rng.randrange(10), 100 + rng.randrange(10)) for _ in range(4)]
        corpus = _edges(spark, corpus_pairs)
        arrivals = _edges(spark, arrival_pairs)
        asg = C.connected_components_min_id(corpus)
        inc = {
            (r["node"], r["cluster_id"])
            for r in C.incremental_components_min_id(arrivals, asg).collect()
        }
        batch = C.connected_components_min_id(corpus.unionByName(arrivals))
        touched = {x for p in arrival_pairs for x in p}
        want = {
            (r["node"], r["cluster_id"])
            for r in batch.collect()
            if r["node"] in touched
        }
        assert inc == want


def test_incremental_components_empty_assignment(spark):
    # no persisted state at all (cold start): contraction is the
    # identity and the result is plain batch CC over the new edges
    arrivals = _edges(spark, [(5, 6), (6, 7)])
    empty = arrivals.select(
        F.col("id_a").alias("node"), F.col("id_a").alias("cluster_id")
    ).limit(0)
    got = {
        (r["node"], r["cluster_id"])
        for r in C.incremental_components_min_id(arrivals, empty).collect()
    }
    assert got == {(5, 5), (6, 5), (7, 5)}


def test_apply_components_update_equals_batch_on_all_nodes(spark):
    # the maintenance half: the persisted-back assignment must equal
    # batch CC over the union graph on the FULL node set — including
    # untouched old clusters (pass-through) and merged ones (relabel)
    corpus = _edges(spark, [(1, 2), (2, 3), (10, 11), (30, 31)])
    asg = C.connected_components_min_id(corpus)
    arrivals = _edges(spark, [(3, 50), (50, 11), (70, 71)])
    got = {
        (r["node"], r["cluster_id"])
        for r in C.apply_components_update(asg, arrivals).collect()
    }
    want = {
        (r["node"], r["cluster_id"])
        for r in C.connected_components_min_id(
            corpus.unionByName(arrivals)
        ).collect()
    }
    assert got == want
    assert (30, 30) in got and (31, 30) in got  # untouched pass-through


def test_apply_components_update_idempotent(spark):
    # re-applying the same batch to the updated assignment is a no-op:
    # all contracted edges become self-loops, no node is new
    corpus = _edges(spark, [(1, 2), (10, 11)])
    asg = C.connected_components_min_id(corpus)
    arrivals = _edges(spark, [(2, 50), (50, 10)])
    once = C.apply_components_update(asg, arrivals)
    twice = C.apply_components_update(once, arrivals)
    a = {(r["node"], r["cluster_id"]) for r in once.collect()}
    b = {(r["node"], r["cluster_id"]) for r in twice.collect()}
    assert a == b == {(1, 1), (2, 1), (10, 1), (11, 1), (50, 1)}


# DRIVER_FINISH_MAX_EDGES values for the incremental family's two
# paths: the default finishes every test-sized contracted graph on the
# driver; 0 sends every non-empty batch to the distributed fixpoint
_FINISH_PATHS = pytest.mark.parametrize(
    "max_edges",
    [C.DRIVER_FINISH_MAX_EDGES, 0],
    ids=["driver", "distributed"],
)


@_FINISH_PATHS
def test_apply_components_update_chained_batches(spark, monkeypatch, max_edges):
    # two consecutive daily batches: maintain state through the first,
    # merge the second against the UPDATED assignment — final state
    # equals batch CC over all edges at once
    import random

    monkeypatch.setattr(C, "DRIVER_FINISH_MAX_EDGES", max_edges)

    rng = random.Random(7)
    e1 = [(rng.randrange(20), rng.randrange(20)) for _ in range(15)]
    e2 = [(rng.randrange(15), 100 + rng.randrange(8)) for _ in range(10)]
    e3 = [(100 + rng.randrange(8), 200 + rng.randrange(8)) for _ in range(10)]
    asg = C.connected_components_min_id(_edges(spark, e1))
    asg = C.apply_components_update(asg, _edges(spark, e2))
    asg = C.apply_components_update(asg, _edges(spark, e3))
    got = {(r["node"], r["cluster_id"]) for r in asg.collect()}
    want = {
        (r["node"], r["cluster_id"])
        for r in C.connected_components_min_id(
            _edges(spark, e1 + e2 + e3)
        ).collect()
    }
    assert got == want


def test_apply_components_update_empty_batch_is_identity(spark):
    # a day with no near-dup edges: the persisted-back state must be
    # exactly the old assignment (no-op maintenance)
    corpus = _edges(spark, [(1, 2), (10, 11)])
    asg = C.connected_components_min_id(corpus)
    out = C.apply_components_update(asg, _edges(spark, []))
    assert {(r["node"], r["cluster_id"]) for r in out.collect()} == {
        (r["node"], r["cluster_id"]) for r in asg.collect()
    }
    # zero contracted edges: both driver-finish frames are empty and
    # keep the input schemas' types (int ids here, where a Python list
    # would infer long), and so does the unchanged assignment
    pairs = spark.createDataFrame([], "id_a int, id_b int")
    asg = spark.createDataFrame([(1, 1), (2, 1)], "node int, cluster_id int")
    labels, comp_rep = C._contracted_fixpoint(pairs, asg, "id_a", "id_b")
    assert labels.schema.simpleString() == (
        "struct<node:int,cluster_id:int,__fresh:boolean>"
    )
    assert comp_rep.schema.simpleString() == "struct<node:int,cluster_id:int>"
    assert labels.collect() == [] and comp_rep.collect() == []
    out = C.apply_components_update(asg, pairs)
    assert out.schema.simpleString() == "struct<node:int,cluster_id:int>"
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1)]


def test_apply_components_update_invariant_to_arrow_confs(spark):
    # the driver-finish frames are built from Arrow tables: the fold
    # must not depend on whether the session's pandas Arrow path is on
    # or on how Arrow batches are sized (7 rows splits every table)
    import random

    rng = random.Random(3)
    e1 = [(rng.randrange(30), 100 + rng.randrange(20)) for _ in range(20)]
    e2 = [(100 + rng.randrange(20), 200 + rng.randrange(20)) for _ in range(20)]

    def fold():
        asg = C.connected_components_min_id(_edges(spark, e1))
        for batch in (e1, e2):
            asg = C.apply_components_update(asg, _edges(spark, batch))
        return sorted(map(tuple, asg.collect()))

    confs = {
        "spark.sql.execution.arrow.pyspark.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
    }
    default = fold()
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert fold() == default
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert all(spark.conf.get(k) == v for k, v in prev.items())
    assert default == sorted(_union_find_min_labels(e1 + e2).items())


# ---- property: the maintenance fold vs a pure-Python union-find ----
#
# The contraction lemma (operators/clustering.py) claims any sequence
# of apply_components_update folds reaches the same min-id fixpoint as
# one-shot CC over the union graph. The example tests above pin chosen
# shapes; this drives it with adversarial ones — duplicate edges across
# batches, self-loops dropped, singleton batches, bridges that merge
# k>2 old clusters at once — against an INDEPENDENT oracle (union-find
# in plain Python, no Spark code shared).

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_HYP = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)


def _union_find_min_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@_FINISH_PATHS
@settings(**_HYP)
@given(
    tagged=st.lists(
        st.tuples(
            st.integers(0, 18), st.integers(0, 18), st.integers(0, 2)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_apply_components_update_matches_union_find(
    spark, monkeypatch, max_edges, tagged
):
    monkeypatch.setattr(C, "DRIVER_FINISH_MAX_EDGES", max_edges)
    batches = [[], [], []]
    for a, b, k in tagged:
        if a != b:  # banded detectors never emit self-pairs
            batches[k].append((min(a, b), max(a, b)))
    all_edges = [e for b in batches for e in b]

    asg = C.local_frame(spark, _ASG_SCHEMA, [[], []])
    for b in batches:
        # materialize between folds, as the maintenance loop's parquet
        # write-back does — each fold starts from persisted rows
        folded = C.apply_components_update(asg, _edges(spark, b)).collect()
        asg = C.local_frame(
            spark,
            _ASG_SCHEMA,
            [[r["node"] for r in folded], [r["cluster_id"] for r in folded]],
        )
    got = {(r["node"], r["cluster_id"]) for r in asg.collect()}
    assert got == set(_union_find_min_labels(all_edges).items())


def test_incremental_components_fallback_equals_driver_finish(
    spark, monkeypatch, caplog
):
    # the read side on both paths: the distributed fallback and the
    # driver finish label every node of the batch identically, with
    # the same column types; the log names the path that ran
    import logging
    import random

    caplog.set_level(logging.INFO, logger=C.__name__)

    rng = random.Random(5)
    corpus = _edges(
        spark, [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    )
    arrivals = _edges(
        spark,
        [(rng.randrange(40), 100 + rng.randrange(12)) for _ in range(15)]
        + [(100 + rng.randrange(12), 100 + rng.randrange(12)) for _ in range(5)],
    )
    asg = C.connected_components_min_id(corpus)
    driver = C.incremental_components_min_id(arrivals, asg)
    monkeypatch.setattr(C, "DRIVER_FINISH_MAX_EDGES", 0)
    distributed = C.incremental_components_min_id(arrivals, asg)
    log = caplog.text
    assert "driver finish over 20 contracted edges" in log, log
    assert "distributed fixpoint" in log and "converged in" in log, log
    assert driver.schema.simpleString() == distributed.schema.simpleString()
    assert sorted(map(tuple, driver.collect())) == sorted(
        map(tuple, distributed.collect())
    )


def test_apply_components_update_driver_finish_job_count(
    spark, monkeypatch, tmp_path
):
    # a small batch folds in a handful of Spark jobs: the bounded
    # collect of the contracted edges, the relabel broadcast and the
    # write — no fixpoint iterations, so no localCheckpoint (the
    # distributed fixpoint issued ~32-41 jobs for the same fold)
    import uuid

    asg = C.connected_components_min_id(
        _edges(spark, [(i, i + 1) for i in range(0, 40, 2)])
    )
    out_dir = str(tmp_path)
    asg.write.mode("overwrite").parquet(f"{out_dir}/asg")
    asg = spark.read.parquet(f"{out_dir}/asg")
    batch = _edges(spark, [(1, 500), (500, 10), (20, 21), (600, 601)])

    # the concrete class: the session's frames override the method of
    # the pyspark.sql.DataFrame base
    frame_cls = type(asg)
    checkpoints = []
    real = frame_cls.localCheckpoint

    def counting(self, *a, **kw):
        checkpoints.append(1)
        return real(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting)
    sc = spark.sparkContext
    group = f"fold_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        C.apply_components_update(asg, batch).write.mode("overwrite").parquet(
            f"{out_dir}/out"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert not checkpoints
    assert 0 < len(jobs) <= 8, jobs
    got = {
        (r["node"], r["cluster_id"])
        for r in spark.read.parquet(f"{out_dir}/out").collect()
    }
    assert {(1, 0), (500, 0), (10, 0), (11, 0), (21, 20), (600, 600)} <= got
    assert len(got) == 40 + 3


def test_incremental_entry_points_refuse_all_pairs_edges(spark):
    # the tripwire must cover the incremental read and the maintenance
    # fold too — the marker rides the all_pairs_jaccard frame, and a
    # steady-state query wired to it would be just as broken at scale
    from oamap_spark.operators.dedup import all_pairs_jaccard

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], ["doc_id", "text"]
    )
    pairs = all_pairs_jaccard(df, "doc_id", "text", 0.9)
    asg = _edges(spark, []).select(
        F.col("id_a").alias("node"), F.col("id_b").alias("cluster_id")
    )
    with pytest.raises(ValueError, match="all-pairs"):
        C.incremental_components_min_id(pairs, asg)
    with pytest.raises(ValueError, match="all-pairs"):
        C.apply_components_update(asg, pairs)


def test_all_pairs_refusal_survives_derived_frames(spark):
    # the r11 review's laundering case: select/persist/track on the
    # all-pairs frame drops the Python attribute, but the id_a column
    # metadata still trips the guard — including after a parquet
    # round-trip
    from oamap_spark.cache import track
    from oamap_spark.operators.dedup import all_pairs_jaccard

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], ["doc_id", "text"]
    )
    pairs = all_pairs_jaccard(df, "doc_id", "text", 0.9)
    derived = track(pairs.select("id_a", "id_b"))
    with pytest.raises(ValueError, match="all-pairs"):
        C.connected_components_min_id(derived)
    asg = _edges(spark, []).select(
        F.col("id_a").alias("node"), F.col("id_b").alias("cluster_id")
    )
    with pytest.raises(ValueError, match="all-pairs"):
        C.incremental_components_min_id(derived.where("id_a < 100"), asg)
