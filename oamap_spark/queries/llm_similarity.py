"""Similarity-search declared queries on `embeddings` (LLM-pipeline
surface): brute-force cosine top-k baseline + LSH-bucketed ANN scale
path."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oamap_spark.functions import vectors as V
from oamap_spark.operators import kmeans as KM
from oamap_spark.queries.registry import register
from oamap_spark.sources.staging import staged_once
from oamap_spark.sources.tables import load_table

N_QUERIES = 10  # vec_id 0..9 are the query vectors
TOP_K = 5

_A = V.SQL_AS_DOUBLE.format(col="q.embedding")
_B = V.SQL_AS_DOUBLE.format(col="c.embedding")


@register(
    "cosine_topk_bruteforce",
    tags=("llm", "similarity", "cosine", "topk"),
    bench=True,
    oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {N_QUERIES}),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {V.SQL_DOT.format(a=_A, b=_B)}
           / (sqrt({V.SQL_SUMSQ.format(a=_A)}) * sqrt({V.SQL_SUMSQ.format(a=_B)}))
           AS cos_sim
  FROM q, c
)
SELECT query_id, cand_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rnk
FROM pairs
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) <= {TOP_K}
""",
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set
    against the candidate corpus — a single narrow pass over the
    candidates, then per-query top-k via window (window-group-limit
    keeps only k rows per partition). This is the exact baseline every
    ANN variant is measured against; at 100 TB the same plan holds
    because the broadcast side is the query set, never the corpus.
    The body is the shared :func:`_exact_top5` helper — the SAME plan
    the ANN recall gates declare as their exact rows, so the baseline
    and the gates cannot silently desynchronize."""
    return _exact_top5(load_table(spark, sf_dir, "embeddings"))


@register(
    "cosine_topk_label_filtered",
    tags=("llm", "similarity", "cosine", "topk", "filtered"),
    oracle=f"""
WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= {N_QUERIES}),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {V.SQL_DOT.format(a=_A, b=_B)}
           / (sqrt({V.SQL_SUMSQ.format(a=_A)}) * sqrt({V.SQL_SUMSQ.format(a=_B)}))
           AS cos_sim
  FROM q JOIN c ON c.label = q.label
)
SELECT query_id, cand_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rnk
FROM pairs
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) <= {TOP_K}
""",
)
def cosine_topk_label_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED similarity search — the production retrieval shape
    where every query carries a metadata constraint (tenant, language,
    shard, here: the query's own label) and only matching candidates
    may rank. The constraint is pushed INTO the search, not applied
    after it: the brute-force cross join degrades to a broadcast
    EQUI-join on the filter key, so Spark prunes non-matching
    candidates before a single dot product is computed — filter-then-
    search, never search-then-filter (which under-fills top-k and
    wastes the scan). Same exact-arithmetic replay discipline as
    ``cosine_topk_bruteforce``."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        "label",
        V.as_double("embedding").alias("qv"),
    )
    c = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        "label",
        V.as_double("embedding").alias("cv"),
    )
    pairs = c.join(F.broadcast(q), "label").select(
        "query_id", "cand_id", V.cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return pairs.withColumn("rnk", F.row_number().over(w).cast("long")).where(
        F.col("rnk") <= TOP_K
    )


# Deterministic ±1 hyperplane signs: component c of plane p in table t
# flips on the parity of a small LCG — fixed constants, reproducible
# anywhere. Multi-table LSH (L tables × k planes): collision prob per
# table p_t = Π(1 - θᵢ/π); any-table prob = 1-(1-p_t)^L — L tables buy
# recall without widening any single bucket.
N_TABLES = 8
N_PLANES = 4
DIM = 64


def _plane_sign(t: int, p: int, c: int) -> int:
    v = (1103515245 * ((t * 64 + p) * DIM + c + 1) + 12345) % 2147483648
    return 1 if (v >> 16) & 1 else -1


# Dedup-grade signatures: 16 planes per table, split into 2 × 8-bit
# bands (256-value buckets). The first 4 planes per table are shared
# with the ANN search signature above — same LCG sign family. Unlike
# the 32-projection ANN signature, the 128 projections here are done
# as ONE numpy matmul in an Arrow-batched pandas UDF: Spark's
# higher-order-function folds are interpreted (not codegen'd) and 128
# folds × 64 lanes per row measured ~10× slower than the matmul. The
# signature only steers candidate RECALL — pair verification is exact
# cosine — so the engine-internal float path is correctness-neutral.
D_PLANES = 16
D_BAND_BITS = 8
D_BANDS = D_PLANES // D_BAND_BITS


def _sign_matrix(n_planes: int):
    # DIM × (N_TABLES·n_planes), column (t, p) = that plane's signs
    m = np.empty((DIM, N_TABLES * n_planes), dtype=np.float64)
    for t in range(N_TABLES):
        for p in range(n_planes):
            for c in range(DIM):
                m[c, t * n_planes + p] = _plane_sign(t, p, c)
    return m


# numpy prefilter threshold: margin ≫ the ~1e-15 numpy-vs-fold float
# divergence, so no pair the exact cosine verify keeps is lost here
_PREFILTER_COS = 0.99 - 1e-9


def _block_neardup_pairs(
    bk: np.ndarray,
    ids: np.ndarray,
    nw: np.ndarray,
    emb: np.ndarray | None,
    bucket_cap: int | None,
) -> pd.DataFrame:
    """Candidate pairs (id_a < id_b) of a block of COMPLETE buckets,
    each contiguous and with its arrivals first (``nw``: the is_new
    flags; all True in batch mode, where every row counts as new).

    Vectorized over the whole block: bucket boundaries come from one
    comparison of neighbouring ``bk``, and buckets of the same size s
    and arrival count m share ONE batched matmul — the rectangular
    m × s gram of their arrival rows against all rows. An edge (i, j)
    is kept when j is old or i < j, so a new×new pair surfaces once;
    in batch mode (m = s) that is the s×s upper triangle. Buckets over
    ``bucket_cap`` emit the linear star (bucket-min → member) instead,
    restricted to arrival-touching edges: all of them when the
    bucket-min is an arrival, else only those to arrival members —
    the batch star filtered to arrivals, which is what the capped
    incremental oracle replays. Only the rows of buckets that need a
    gram (at most the cap, at least one arrival, two rows) are ever
    stacked, so ``emb`` may be None for a block of over-cap buckets."""
    if not len(ids):
        return _pairs_frame(np.empty(0, np.int64), np.empty(0, np.int64))
    starts = np.flatnonzero(np.r_[True, bk[1:] != bk[:-1]])
    sizes = np.diff(np.r_[starts, len(ids)])
    n_new = np.add.reduceat(nw, starts, dtype=np.int64)
    star = (
        sizes > bucket_cap if bucket_cap is not None else np.zeros(len(sizes), bool)
    )
    a_parts, b_parts = [], []
    if star.any():
        of = np.repeat(np.arange(len(starts)), sizes)  # bucket of each row
        bmin = np.minimum.reduceat(ids, starts)[of]
        min_new = np.zeros(len(starts), bool)
        min_new[of[(ids == bmin) & nw]] = True
        edge = star[of] & (ids != bmin) & (nw | min_new[of])
        a_parts.append(bmin[edge])
        b_parts.append(ids[edge])
    gram = ~star & (sizes >= 2) & (n_new >= 1)
    for s, m in np.unique(np.c_[sizes[gram], n_new[gram]], axis=0):
        rows = starts[gram & (sizes == s) & (n_new == m)][:, None] + np.arange(s)
        E = np.stack(emb[rows.ravel()]).astype(np.float64).reshape(len(rows), s, -1)
        nrm = np.sqrt(np.einsum("ksd,ksd->ks", E, E))
        sim = (E[:, :m] @ E.transpose(0, 2, 1)) / (nrm[:, :m, None] * nrm[:, None, :])
        i, j = np.nonzero(
            (np.arange(s) > np.arange(m)[:, None]) | (np.arange(s) >= m)
        )
        hit = sim[:, i, j] >= _PREFILTER_COS
        a_parts.append(ids[rows[:, i][hit]])
        b_parts.append(ids[rows[:, j][hit]])
    empty = [np.empty(0, np.int64)]
    return _pairs_frame(np.concatenate(a_parts or empty), np.concatenate(b_parts or empty))


def _pairs_frame(a: np.ndarray, b: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame(
        {"id_a": np.minimum(a, b).astype(np.int64),
         "id_b": np.maximum(a, b).astype(np.int64)}
    )


class _CarriedBucket:
    """The last bucket of an Arrow batch, which the next batch may
    continue. Under the cap its embedding chunks buffer; the moment it
    exceeds the cap they are DROPPED and only the int64 ids and bool
    flags accumulate — a 10M-row boilerplate cluster costs ~90 MB of
    ids and flags, not ~5 GB of vectors. In incremental mode a bucket
    whose first row is old has no arrivals (rows come arrivals-first),
    so it is skipped from that row on without buffering anything."""

    def __init__(self, bk, bucket_cap: int | None, incremental: bool):
        self.bk, self.cap, self.incremental = bk, bucket_cap, incremental
        self.ids: list[np.ndarray] = []
        self.nw: list[np.ndarray] = []
        self.emb: list[np.ndarray] | None = []
        self.n = 0
        self.skip = False

    def add(self, ids: np.ndarray, nw: np.ndarray, emb: np.ndarray) -> None:
        if not self.n and self.incremental and not nw[0]:
            self.skip = True
        if self.skip:
            return
        self.n += len(ids)
        self.ids.append(ids)
        self.nw.append(nw)
        if self.emb is not None:
            self.emb.append(emb)
            if self.cap is not None and self.n > self.cap:
                self.emb = None

    def pairs(self) -> pd.DataFrame:
        return _block_neardup_pairs(
            np.zeros(self.n, np.int8),
            np.concatenate(self.ids or [np.empty(0, np.int64)]),
            np.concatenate(self.nw or [np.empty(0, bool)]),
            np.concatenate(self.emb) if self.emb else None,
            self.cap,
        )


def _neardup_pairs_body(bucket_cap: int | None, incremental: bool):
    """mapInPandas body: one hash-partition of bk-SORTED (bk, vec_id,
    embedding[, is_new]) rows → numpy-prefiltered candidate pairs. One
    Python call per partition, vectorized per Arrow batch: every
    bucket a batch holds whole goes through ONE
    :func:`_block_neardup_pairs` call, and the batch's last, possibly
    unfinished bucket is carried into the next batch
    (:class:`_CarriedBucket`). The body so holds at most one Arrow
    batch plus the carried bucket, never the partition; the caller
    sorts within partitions on bk (JVM sort — spillable) so buckets
    arrive contiguous. The incremental form additionally REQUIRES rows
    sorted (bk, is_new DESC) — arrivals first within each bucket.

    ``bucket_cap`` routes IN-WORKER (r7 review finding #3): the bucket
    is already wholly co-located here, so the count/bucket-min are
    free — a Spark-side window would add a second wide shuffle AND
    duplicate the signature-UDF subtree across the small/star plan
    branches; the over-cap star never forms the s×s gram. Uncapped
    (None, the oracle-exact form) grams whole buckets by necessity."""

    def body(batches):
        carry = None
        for pdf in batches:
            if pdf.empty:
                continue
            bk = pdf["bk"].to_numpy()
            ids = pdf["vec_id"].to_numpy(np.int64)
            nw = (
                pdf["is_new"].to_numpy(bool)
                if incremental
                else np.ones(len(pdf), bool)
            )
            emb = pdf["embedding"].to_numpy()
            out = []
            lo = 0
            if carry is not None:
                ends = np.flatnonzero(bk != carry.bk)
                lo = ends[0] if len(ends) else len(bk)
                if lo:
                    carry.add(ids[:lo], nw[:lo], emb[:lo])
                if lo == len(bk):
                    continue
                out.append(carry.pairs())
            inner = np.flatnonzero(bk[lo:] != bk[-1])
            last = lo + (inner[-1] + 1 if len(inner) else 0)
            if last > lo:
                out.append(_block_neardup_pairs(
                    bk[lo:last], ids[lo:last], nw[lo:last], emb[lo:last], bucket_cap
                ))
            carry = _CarriedBucket(bk[-1], bucket_cap, incremental)
            carry.add(ids[last:], nw[last:], emb[last:])
            if out:
                yield pd.concat(out, ignore_index=True)
        if carry is not None:
            yield carry.pairs()

    return body


def _partition_neardup_pairs(bucket_cap: int | None = None):
    """Batch-mode :func:`_neardup_pairs_body`: the s×s upper triangle
    of every sub-cap bucket, the full star of every over-cap one."""
    return _neardup_pairs_body(bucket_cap, incremental=False)


def _partition_neardup_pairs_incremental(bucket_cap: int | None = None):
    """Incremental :func:`_neardup_pairs_body` over (bk, is_new DESC)
    sorted rows: the rectangular new×all gram of every sub-cap bucket
    holding an arrival (old×old similarities are never computed,
    arrival-free buckets never stack a vector), the arrival-restricted
    star of every over-cap one."""
    return _neardup_pairs_body(bucket_cap, incremental=True)


def _band_keys_udf(n_planes: int, band_bits: int):
    """Arrow-batched band-key signature: one matmul against the ±1
    plane matrix, sign bits packed ``band_bits`` at a time, band index
    carried in the high bits of each int key — so the downstream join
    key is a single int. Used by both the dedup bands (16 planes →
    2×8-bit bands) and the ANN buckets (4 planes → one 4-bit bucket
    per table, Hamming-probe-able by xor on the low bits)."""
    from pyspark.sql.types import ArrayType, IntegerType

    M = _sign_matrix(n_planes)
    n_bands = n_planes // band_bits

    @F.pandas_udf(ArrayType(IntegerType()))
    def band_keys(emb: pd.Series) -> pd.Series:
        V = np.stack(emb.to_numpy()).astype(np.float64)  # n × DIM
        bits = (V @ M) > 0  # n × (tables·planes)
        weights = np.tile(
            np.fromiter(
                (1 << (p % band_bits) for p in range(n_planes)),
                dtype=np.int64,
            ),
            N_TABLES,
        )
        codes = (bits * weights).reshape(len(V), N_TABLES * n_bands, band_bits).sum(
            axis=2
        )
        base = np.arange(N_TABLES * n_bands, dtype=np.int64) << band_bits
        keys = codes + base  # band index in high bits, code in low bits
        return pd.Series(list(keys.astype(np.int32)))

    return band_keys


def _dedup_band_keys_udf():
    return _band_keys_udf(D_PLANES, D_BAND_BITS)


# Recall gate shared by both ANN queries (VERDICT r4 "Next round #3"):
# the declared output is the EXACT brute-force top-k (cross-hashed
# value-for-value) annotated with the per-query ANN hit count and a
# banded global recall boolean — and the oracle replays the ENTIRE ANN
# pipeline (deterministic LCG hyperplanes / seeded k-means are plain
# integer+double arithmetic), so the hit counts are measured
# independently by both engines, not asserted by one.
RECALL_BAND = 0.9


def _exact_top5(e: DataFrame) -> DataFrame:
    """Brute-force exact top-k (the cosine_topk_bruteforce plan) — the
    ground truth the ANN hit counts are measured against."""
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), V.as_double("embedding").alias("qv")
    )
    c = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), V.as_double("embedding").alias("cv")
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "query_id", "cand_id", V.cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= TOP_K)
    )


def _with_recall_gate(exact: DataFrame, ann_ids: DataFrame) -> DataFrame:
    """exact top-k rows + per-query ANN hit count + global recall band.

    ``exact`` (the brute-force cross-join) feeds both the output rows
    and the hit computation, and ``hits`` feeds both the per-query
    column and the global band — both are persisted (tiny:
    ≤ N_QUERIES·TOP_K rows) so the expensive subtrees execute once.
    Lifetime is caller-owned, the LSH-signature-table convention —
    routed through cache.track so sweeps can reclaim the entries
    (ADVICE r5 #3: repeated invocations must not accumulate)."""
    from oamap_spark.cache import track

    exact = track(exact)
    hits = track(
        exact.select("query_id", "cand_id")
        .join(ann_ids, ["query_id", "cand_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    flag = hits.agg(
        (
            F.coalesce(F.sum("hits"), F.lit(0)).cast("double")
            / F.lit(float(N_QUERIES * TOP_K))
            >= RECALL_BAND
        ).alias("recall_ok")
    )
    return (
        exact.join(hits, "query_id", "left")
        .withColumn("hits", F.coalesce(F.col("hits"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(flag))
    )


# DuckDB replay of the sign-LSH signatures: the ±1 plane signs are the
# same LCG integers, the projection is a left-fold dot product (sign
# agreement with numpy's BLAS matmul is robust — a flip needs
# |proj| ≲ 1e-15 on O(1)-magnitude projections), the 4-bit code packs
# sign bits, and Hamming-≤2 on codes within a table reproduces the
# query-side multi-probe expansion exactly.
_SQL_LSH_SIGN = (
    "CASE WHEN ((1103515245 * ((t * 64 + p) * 64 + (i - 1) + 1) + 12345) "
    "% 2147483648 >> 16) & 1 = 1 THEN 1.0 ELSE -1.0 END"
)

_SQL_EXACT_TOP5 = f"""
exact AS (
  SELECT query_id, cand_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rnk
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           {V.SQL_DOT.format(a='q.e', b='c.e')}
             / (sqrt({V.SQL_SUMSQ.format(a='q.e')}) * sqrt({V.SQL_SUMSQ.format(a='c.e')}))
             AS cos_sim
    FROM q, c
  )
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cos_sim DESC, cand_id) <= {TOP_K}
)"""

_SQL_RECALL_TAIL = f"""
anntop AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, cand_id) AS rn
    FROM annscored)
  WHERE rn <= {TOP_K}
),
hits AS (
  SELECT e.query_id, CAST(count(a.cand_id) AS BIGINT) AS hits
  FROM exact e LEFT JOIN anntop a
    ON a.query_id = e.query_id AND a.cand_id = e.cand_id
  GROUP BY e.query_id
),
band AS (
  SELECT (CAST(sum(hits) AS DOUBLE) / {float(N_QUERIES * TOP_K)} >= {RECALL_BAND})
           AS recall_ok
  FROM hits
)
SELECT e.query_id, e.cand_id, e.cos_sim, e.rnk, h.hits, band.recall_ok
FROM exact e JOIN hits h USING (query_id), band
"""


@register(
    "ann_lsh_topk",
    bench=True,
    tags=("llm", "similarity", "ann", "lsh", "recall_band"),
    oracle=f"""
WITH v AS (
  SELECT vec_id, {V.SQL_AS_DOUBLE.format(col='embedding')} AS e FROM embeddings
),
q AS (SELECT * FROM v WHERE vec_id < {N_QUERIES}),
c AS (SELECT * FROM v WHERE vec_id >= {N_QUERIES}),
{_SQL_EXACT_TOP5},
proj AS (
  SELECT vec_id, t, p,
         list_reduce(list_prepend(0.0, list_transform(range(1, 65),
           i -> e[i] * ({_SQL_LSH_SIGN}))), (acc, x) -> acc + x) AS proj
  FROM v, generate_series(0, {N_TABLES - 1}) AS gt(t),
          generate_series(0, {N_PLANES - 1}) AS gp(p)
),
sig AS (
  SELECT vec_id, t,
         CAST(sum(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS code
  FROM proj GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS cand_id
  FROM sig qs JOIN sig cs
    ON qs.t = cs.t AND bit_count(xor(qs.code, cs.code)) <= 2
  WHERE qs.vec_id < {N_QUERIES} AND cs.vec_id >= {N_QUERIES}
),
annscored AS (
  SELECT cand.query_id, cand.cand_id,
         {V.SQL_DOT.format(a='q.e', b='c.e')}
           / (sqrt({V.SQL_SUMSQ.format(a='q.e')}) * sqrt({V.SQL_SUMSQ.format(a='c.e')}))
           AS cos_sim
  FROM cand
  JOIN q ON q.vec_id = cand.query_id
  JOIN c ON c.vec_id = cand.cand_id
),
{_SQL_RECALL_TAIL}
""",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH: 8 tables × 4-bit sign
    buckets; candidates = bucket match in ANY table (plus Hamming-1/-2
    multi-probe on the query side), then exact cosine + top-k within
    candidates. At scale the (table, bucket) equi-join replaces the
    full cross product.

    Declared output (oracle-gated since round 5, retiring the
    rows-only entry): the exact brute-force top-5 per query — values
    cross-hashed against the oracle — plus the per-query count of
    those exact neighbors the ANN path found (``hits``) and the global
    banded recall (``recall_ok``: recall@5 ≥ 0.9). The oracle replays
    the WHOLE pipeline (the LCG hyperplane signs are portable integer
    arithmetic; Hamming-≤2 code match ≡ the probe expansion), so both
    engines measure hits independently. The exact side is the bounded
    N_QUERIES-row verification workload, not a scale statement — the
    production path at 100 TB is the candidate join alone; recall at
    bench scale is additionally pinned in test_llm_ops.py.

    Signatures come from the shared numpy-matmul pandas UDF (the
    2048-literal fold expression this replaced cost Catalyst/codegen
    seconds per plan); the bucket join and pair-distinct carry IDS
    ONLY — the 64-double vectors are re-joined afterward by id, so the
    wide column never rides the candidate shuffle (same discipline as
    dedup_embedding_banded). Each int key is (table ≪ 4) | 4-bit code,
    so Hamming probes are plain xors on the low bits."""
    e = load_table(spark, sf_dir, "embeddings")
    return _with_recall_gate(_exact_top5(e), ann_production_topk_ids(e))


def ann_production_topk_ids(e: DataFrame) -> DataFrame:
    """The production ANN path alone — signature → multi-probe →
    candidate join → exact rescoring of candidates → top-k (query_id,
    cand_id) — WITHOUT the brute-force recall gate. This is what runs
    at 100 TB; the declared ``ann_lsh_topk`` wraps it with the exact
    verification gate, which dominates that query's bench wall
    (VERDICT r6 perf note). bench.py times this helper separately as
    ``ann_lsh_candidates_only`` so the gate-vs-path cost split is
    recorded per round."""
    v = e.select("vec_id", V.as_double("embedding").alias("v"))
    keys = _band_keys_udf(N_PLANES, N_PLANES)  # one 4-bit bucket/table
    sig = e.select("vec_id", F.explode(keys(F.col("embedding"))).alias("bk"))
    c = sig.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), "bk"
    )
    # query side: every table bucket + its Hamming-1 and Hamming-2
    # probes (11 keys per table). Multi-probe depth is the recall knob
    # that costs NOTHING on the corpus side — each corpus vector still
    # lands in exactly one bucket per table; only the (tiny) query
    # side fans out. Hamming-1 alone measured recall@5 = 0.84 at
    # sf0.1; Hamming-2 clears the ≥ 0.9 gate (see
    # test_ann_recall_at_bench_scale).
    probes = [F.col("bk")]
    probes += [F.col("bk").bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)]
    probes += [
        F.col("bk").bitwiseXOR(F.lit((1 << p1) | (1 << p2)))
        for p1 in range(N_PLANES)
        for p2 in range(p1 + 1, N_PLANES)
    ]
    q = (
        sig.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(F.array(*probes)).alias("bk"),
        )
    )
    cand = (
        q.join(c, ["bk"])
        .select("query_id", "cand_id")
        .distinct()  # a pair may collide in several tables
    )
    pairs = (
        cand.join(
            v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")),
            "query_id",
        )
        .join(
            v.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")),
            "cand_id",
        )
        .select(
            "query_id", "cand_id", V.cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "cand_id")
    )


# ---------------------------------------------------------------------------
# Embedding near-dedup corpus: the raw testdata contains NO cosine≥0.99
# pairs at verification SF, so a bare hash gate on these queries would
# be vacuous (0 == 0 rows proves nothing about the candidate
# generator — VERDICT r3 "What's wrong #2"). Both queries therefore
# union N_CLONES deterministic perturbed copies of the first vectors
# into the corpus — pure double arithmetic replayed identically in the
# DuckDB oracle — so the driver hash certifies that the LSH-banded
# path actually FINDS the known near-duplicate pairs (one per clone,
# cosine ≈ 0.99997), not merely that both engines agree on ∅.
N_CLONES = 20
CLONE_OFFSET = 10_000_000
_PERTURB = 5e-4  # per-component delta ((i % 7) - 3) * 5e-4, i 0-based


def _dedup_corpus(e: DataFrame) -> DataFrame:
    """embeddings ∪ perturbed clones, all as array<double> ``embedding``.

    Built as ONE narrow explode pass (each clone-source row emits
    [original, clone], everything else [original]) instead of a
    two-leg union: the union form re-scanned the parquet + re-ran the
    signature UDF once per leg per consumer branch — measured ~2× on
    the banded query's wall at sf0.1."""
    base = e.select("vec_id", V.as_double("embedding").alias("embedding"))
    orig = F.struct("vec_id", "embedding")
    clone = F.struct(
        (F.col("vec_id") + CLONE_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x + (i % 7 - 3).cast("double") * F.lit(_PERTURB),
        ).alias("embedding"),
    )
    both = F.when(
        F.col("vec_id") < N_CLONES, F.array(orig, clone)
    ).otherwise(F.array(orig))
    return base.select(F.explode(both).alias("r")).select("r.vec_id", "r.embedding")


# DuckDB twin of _dedup_corpus: identical int-mod + double arithmetic
# (CAST(0.0005 AS DOUBLE) forces int×double, matching Spark's fold;
# DuckDB lambda index i is 1-based → (i - 1)).
def dedup_corpus_ctes(p: str = "") -> str:
    """DuckDB CTE chain building the clone-augmented dedup corpus,
    ending in ``{p}v`` (vec_id, e). Single source of truth for every
    oracle that replays _dedup_corpus (r8 review: the all-signals
    composition used to hand-copy it); ``p`` prefixes the CTE names so
    several families coexist in one WITH."""
    return f"""
{p}base AS (
  SELECT vec_id, {V.SQL_AS_DOUBLE.format(col='embedding')} AS e FROM embeddings
),
{p}clones AS (
  SELECT vec_id + {CLONE_OFFSET} AS vec_id,
         list_transform(e, (x, i) -> x + (((i - 1) % 7) - 3) * CAST({_PERTURB} AS DOUBLE)) AS e
  FROM {p}base WHERE vec_id < {N_CLONES}
),
{p}v AS (SELECT * FROM {p}base UNION ALL SELECT * FROM {p}clones)
"""


_SQL_DEDUP_CORPUS = dedup_corpus_ctes()


def neardup_pairs_ctes(p: str = "") -> str:
    """Corpus + exact all-pairs cosine >= 0.99, ending in
    ``{p}emb_pairs`` (id_a, id_b, cos_sim). Shared by the
    dedup_embedding_cosine / dedup_embedding_banded oracles and the
    all-signals composition (queries/pipeline_sampling.py)."""
    return f"""{dedup_corpus_ctes(p).strip()},
{p}emb_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({V.SQL_DOT.format(a='a.e', b='b.e')}
           / (sqrt({V.SQL_SUMSQ.format(a='a.e')}) * sqrt({V.SQL_SUMSQ.format(a='b.e')})), 6)
           AS cos_sim
  FROM {p}v a JOIN {p}v b ON a.vec_id < b.vec_id
  WHERE {V.SQL_DOT.format(a='a.e', b='b.e')}
        / (sqrt({V.SQL_SUMSQ.format(a='a.e')}) * sqrt({V.SQL_SUMSQ.format(a='b.e')})) >= 0.99
)"""


@register(
    "dedup_embedding_cosine",
    tags=("llm", "dedup", "embedding", "cosine", "sf_bounded_oracle_twin"),
    oracle=f"""
WITH {neardup_pairs_ctes()}
SELECT id_a, id_b, cos_sim FROM emb_pairs
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine ≥ 0.99 — the
    semantic-duplicate detector of the dedup family. Exact all-pairs
    form: an sf-bounded ORACLE TWIN kept as ground truth for tests and
    the driver gate; the declared scale path is
    ``dedup_embedding_banded`` (LSH-bucketed, identical output,
    never forms the cross product). Size-guarded: raises above
    ALL_PAIRS_MAX_ROWS rows. Corpus = embeddings ∪ deterministic
    perturbed clones (see _dedup_corpus) so the gate compares
    non-empty output at every SF."""
    from oamap_spark.operators.dedup import guard_all_pairs

    e = guard_all_pairs(
        _dedup_corpus(load_table(spark, sf_dir, "embeddings")),
        "dedup_embedding_cosine",
    )
    v = e.select("vec_id", F.col("embedding").alias("e"))
    a, b = v.alias("a"), v.alias("b")
    cos = V.cosine(F.col("a.e"), F.col("b.e"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .where(cos >= 0.99)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


@register(
    "dedup_embedding_banded",
    tags=("llm", "dedup", "embedding", "lsh", "banded"),
    bench=True,
    # Oracle = the exact all-pairs SQL over the SAME clone-augmented
    # corpus: the banded path must recover every cosine≥0.99 pair
    # (recall-completeness is what's under test, exactly as
    # dedup_simhash_banded is gated against its pairs twin) — and with
    # the clones present the match is over ≥ N_CLONES real pairs, not ∅.
    oracle=f"""
WITH {neardup_pairs_ctes()}
SELECT id_a, id_b, cos_sim FROM emb_pairs
""",
)
def dedup_embedding_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, LSH-bucketed scale path: candidate pairs
    form ONLY inside (table, band, 8-bit sign-bucket) groups of an
    8-table × 16-plane hyperplane LSH (each 16-bit signature split in
    two 8-bit bands, simhash-style), then exact cosine ≥ 0.99 verifies
    — the all-pairs cross product never forms. A cosine-0.99 pair
    (angle ≈ 8.1°, per-bit agreement 0.955) agrees on a full 8-bit
    band with p ≈ 0.69, on ≥1 of 2 bands with p ≈ 0.90, and misses
    all 8 tables with p ≈ 6.6e-9 — recall-complete at verification SF
    (the exact all-pairs oracle asserts it). Shuffle discipline as in
    dedup_minhash_lsh: the band join carries (band key, vec_id)
    ONLY; vectors are re-joined by id after the candidate-pair
    distinct, so the wide embedding column never rides the candidate
    shuffle. 256-value bands keep buckets at ~n/256 rows; at 100 TB
    widen bands/tables, the plan shape is unchanged. Corpus = embeddings
    ∪ deterministic perturbed clones (see _dedup_corpus), so the
    all-pairs oracle match certifies the banded path finds real pairs."""
    return _banded_neardup_pairs(
        _dedup_corpus(load_table(spark, sf_dir, "embeddings"))
    )


def _banded_neardup_pairs(
    e: DataFrame,
    bucket_cap: int | None = None,
    new_col: str | None = None,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """Shared body of the banded embedding near-dup queries.

    Per-bucket gram-matrix scan: each vector crosses to Python once
    per band — never once per PAIR — and candidate pairs leave the
    bucket already numpy-prefiltered at threshold − 1e-9 (margin ≫
    the ~1e-15 numpy-vs-fold float divergence, so no true pair can
    be lost). Buckets are hash-partitioned on the band key and each
    PARTITION is one mapInPandas call, vectorized per Arrow batch
    (:func:`_neardup_pairs_body`). The bit-exact left-fold cosine then decides the
    threshold and the rounded output on the tiny survivor set,
    keeping the oracle match exact.

    ``bucket_cap`` is the 100 TB skew guard this family shared with
    minhash in spirit but lacked in code until round 7 (VERDICT r6
    "What's wrong #2"): a band bucket bigger than the cap — a giant
    near-identical embedding cluster landing in one bucket — would
    hand ONE Python worker an s×s gram matrix (quadratic compute AND
    memory on an unsplittable key). Capped buckets instead emit a
    linear star (bucket-min id → member): the s×s gram never forms,
    the bucket costs O(s), and every near-dup cluster stays connected
    for downstream connected-components clustering; the star edges
    still pass through the exact-cosine ≥ 0.99 verify, exactly like
    the minhash star passes exact Jaccard
    (operators/dedup.py:minhash_lsh_pairs). Routing happens in-worker
    where bucket membership is already co-located — one wide shuffle
    total, same plan shape as uncapped.

    ``new_col`` switches the SAME pipeline to its incremental form
    (r8 review: this used to be a near-verbatim copy): the per-bucket
    body runs the rectangular new×all gram instead of the s×s upper
    triangle, rows are sorted arrivals-first within buckets so
    arrival-free buckets are skipped without buffering a vector, and
    a null flag fails loudly in-plan. ``bucket_cap`` composes with it
    (capped incremental — the production shape for skewed arriving
    corpora): over-cap buckets emit the batch star restricted to
    arrival-touching edges, under the same bounded-memory contract.

    ``sig_df`` (vec_id, embedding[, is_new], bk — exploded band keys)
    replaces the signature computation — the STEADY-STATE seam: a
    daily pipeline persists the corpus half of the signature table
    once (built with the SAME :func:`_dedup_band_keys_udf`) and passes
    index ∪ arrival-signatures here, so corpus vectors never cross to
    Python for re-signing; ``e`` still supplies the verify-side
    vectors (a plain projection, no UDF). Callers own the non-null
    ``is_new`` contract on an injected table."""
    v = e.select("vec_id", F.col("embedding").alias("v"))
    if sig_df is not None:
        sig = sig_df
    else:
        band_keys = _dedup_band_keys_udf()
        extra = []
        if new_col is not None:
            guarded = F.when(
                F.col(new_col).isNull(),
                F.raise_error(
                    F.lit(f"incremental embedding dedup: null {new_col} arrival flag")
                ).cast("boolean"),
            ).otherwise(F.col(new_col).cast("boolean"))
            extra = [guarded.alias("is_new")]
        sig = e.select(
            "vec_id",
            "embedding",
            *extra,
            F.explode(band_keys(F.col("embedding"))).alias("bk"),
        )
    # ONE wide shuffle for both variants: the cap routes inside the
    # Python worker (see _neardup_pairs_body), where the bucket
    # is already co-located — a Spark-side window/star-union variant
    # measured TWO evaluations of the signature UDF and two wide
    # exchanges (the union's branches each inlined the window subtree;
    # r7 review finding #3). sortWithinPartitions(bk) is a JVM-side
    # (spillable) sort that makes buckets arrive contiguous, so the
    # Python body streams one Arrow batch at a time instead of
    # buffering the partition. Star edges emerge from the same mapInPandas,
    # already (bucket-min, member)-oriented, and pass through the same
    # exact-cosine verify as gram pairs.
    if new_col is not None:
        shuffled = sig.repartition(F.col("bk")).sortWithinPartitions(
            "bk", F.col("is_new").desc()  # arrivals first: skippable buckets
        )
        body = _partition_neardup_pairs_incremental(bucket_cap)
    else:
        shuffled = sig.repartition(F.col("bk")).sortWithinPartitions("bk")
        body = _partition_neardup_pairs(bucket_cap)
    cand = (
        shuffled.mapInPandas(body, "id_a long, id_b long")
        .distinct()  # a pair may surface in several tables/bands
    )
    pairs = cand.join(
        v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va")), "id_a"
    ).join(v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    scored = pairs.withColumn("cos", V.cosine(F.col("va"), F.col("vb")))
    return scored.where(F.col("cos") >= 0.99).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos_sim")
    )


# The capped twin exercises the guard at verification SF: measured at
# sf0.01 (520 vectors incl. clones), 161 of 1612 band buckets exceed
# cap=16 (max bucket 46), so BOTH the gram path and the star fallback
# run under the driver gate. Production sets the cap ~10³ (buckets
# above it are certainly boilerplate clusters), same knob as minhash.
EMB_BUCKET_CAP = 16


def capped_pairs_ctes() -> str:
    """DuckDB CTE chain replaying the FULL capped banded pipeline —
    clone-augmented corpus, 8×16-plane LCG hyperplane signatures,
    8-bit band keys, window count + bucket-min, cap routing, and the
    exact-cosine verify — ending in ``cap_pairs`` (id_a, id_b,
    cos_sim ≥ 0.99), all in portable integer+double SQL (the same
    replay discipline as ann_lsh_topk's signature pipeline). ONE
    source of truth shared by the capped batch oracle and the capped
    incremental oracle (which is this list filtered to
    arrival-touching pairs — restriction commutes with cap routing
    because cnt/bmin are computed over the FULL bucket either way)."""
    return f"""{_SQL_DEDUP_CORPUS},
proj AS (
  SELECT vec_id, t, p,
         list_reduce(list_prepend(0.0, list_transform(range(1, 65),
           i -> e[i] * ({_SQL_LSH_SIGN}))), (acc, x) -> acc + x) AS proj
  FROM v, generate_series(0, {N_TABLES - 1}) AS gt(t),
          generate_series(0, {D_PLANES - 1}) AS gp(p)
),
bands AS (
  SELECT vec_id,
         CAST((t * {D_BANDS} + (p // {D_BAND_BITS})) * {1 << D_BAND_BITS}
              + sum(CASE WHEN proj > 0 THEN 1 << (p % {D_BAND_BITS}) ELSE 0 END)
              AS INTEGER) AS bk
  FROM proj GROUP BY vec_id, t, (p // {D_BAND_BITS})
),
annot AS (
  SELECT vec_id, bk,
         count(*) OVER (PARTITION BY bk) AS cnt,
         min(vec_id) OVER (PARTITION BY bk) AS bmin
  FROM bands
),
small AS (SELECT vec_id, bk FROM annot WHERE cnt <= {EMB_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT x.vec_id AS id_a, y.vec_id AS id_b
    FROM small x JOIN small y ON x.bk = y.bk AND x.vec_id < y.vec_id
    UNION ALL
    SELECT bmin AS id_a, vec_id AS id_b FROM annot
    WHERE cnt > {EMB_BUCKET_CAP} AND vec_id <> bmin
  )
),
cap_pairs AS (
  SELECT c.id_a, c.id_b,
         round({V.SQL_DOT.format(a='a.e', b='b.e')}
           / (sqrt({V.SQL_SUMSQ.format(a='a.e')}) * sqrt({V.SQL_SUMSQ.format(a='b.e')})), 6)
           AS cos_sim
  FROM cand c
  JOIN v a ON a.vec_id = c.id_a
  JOIN v b ON b.vec_id = c.id_b
  WHERE {V.SQL_DOT.format(a='a.e', b='b.e')}
        / (sqrt({V.SQL_SUMSQ.format(a='a.e')}) * sqrt({V.SQL_SUMSQ.format(a='b.e')})) >= 0.99
)"""


@register(
    "dedup_embedding_banded_capped",
    tags=("llm", "dedup", "embedding", "lsh", "banded", "skew_guard"),
    # Full-pipeline replay (unlike the uncapped twin's recall gate):
    # the capped output DEPENDS on bucket membership — a true pair
    # inside an oversized bucket survives only via a star edge or a
    # small shared bucket — so the oracle recomputes everything; see
    # capped_pairs_ctes().
    oracle=f"""
WITH {capped_pairs_ctes()}
SELECT id_a, id_b, cos_sim FROM cap_pairs
""",
)
def dedup_embedding_banded_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with the bucket_cap skew guard ON — **the
    100 TB entry point of the embedding-dedup family** (VERDICT r6
    "What's wrong #2": the minhash family had this guard, the
    embedding bands did not). Band buckets larger than EMB_BUCKET_CAP
    never reach the Python gram path: their members emit a linear
    ids-only star (bucket-min → member) that the exact-cosine ≥ 0.99
    verify then filters, so a boilerplate embedding cluster costs one
    worker O(s) instead of an s×s gram matrix on an unsplittable key.
    Semantics trade, identical to dedup_minhash_lsh_capped: inside a
    giant bucket only edges through the bucket-min survive (the
    cluster stays connected for downstream connected-components), not
    every pairwise edge. The oracle replays the ENTIRE pipeline —
    signatures, band keys, window cap routing, verify — in DuckDB."""
    return _banded_neardup_pairs(
        _dedup_corpus(load_table(spark, sf_dir, "embeddings")),
        bucket_cap=EMB_BUCKET_CAP,
    )


@register(
    "dedup_embedding_incremental",
    tags=("llm", "dedup", "embedding", "lsh", "banded", "incremental"),
    # Oracle = the exact all-pairs SQL over the same clone-augmented
    # corpus, restricted to arrival-touching pairs. Valid because the
    # banded path is recall-complete at verification SF (the uncapped
    # twin's oracle asserts banded == exact) and restriction commutes
    # with banding: a pair's bucket membership does not depend on
    # which side of it is new. CLONE_OFFSET % 5 == 0, so a clone is
    # an arrival iff its source is — both-new clone pairs keep the
    # result non-empty at every SF.
    oracle=f"""
WITH {neardup_pairs_ctes()}
SELECT id_a, id_b, cos_sim FROM emb_pairs
WHERE id_a % 5 = 0 OR id_b % 5 = 0
""",
)
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic near-dedup: embedding pairs (cosine ≥
    0.99) touching the arrival slice (vec_id ≡ 0 mod 5 — a stand-in
    for the daily batch flag) against the accumulated corpus. The
    per-bucket gram is rectangular new×all, so steady-state cost is
    linear in corpus size; corpus×corpus similarities are never
    computed, and arrival-free buckets are skipped without buffering
    a vector (see _banded_neardup_pairs(new_col=...) /
    _block_neardup_pairs). Completes the incremental family:
    exact digests (dedup_incremental_vs_corpus), lexical minhash
    (dedup_minhash_incremental), containment
    (dedup_containment_incremental), and semantic embeddings (this)."""
    e = _dedup_corpus(load_table(spark, sf_dir, "embeddings"))
    return _banded_neardup_pairs(
        e.withColumn("__arr", (F.col("vec_id") % 5) == 0), new_col="__arr"
    )


@register(
    "dedup_embedding_incremental_capped",
    tags=("llm", "dedup", "embedding", "lsh", "banded", "incremental",
          "skew_guard"),
    # The capped batch replay filtered to arrival-touching pairs —
    # exact because cnt/bmin are computed over the FULL bucket in
    # both forms, and the restricted star (_block_neardup_pairs) is by
    # construction the batch star filtered the same way.
    oracle=f"""
WITH {capped_pairs_ctes()}
SELECT id_a, id_b, cos_sim FROM cap_pairs
WHERE id_a % 5 = 0 OR id_b % 5 = 0
""",
)
def dedup_embedding_incremental_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic near-dedup WITH the bucket_cap skew guard
    — **the 100 TB entry point for continuously-arriving embedding
    corpora**: sub-cap buckets run the rectangular new×all gram,
    over-cap buckets (boilerplate clusters) emit the linear star
    restricted to arrival-touching edges under the batch body's
    bounded-memory contract (embeddings dropped at the cap, ids +
    flags accumulate), and arrival-free buckets are skipped from
    their first row. At the driver-gate SF (sf0.01) 161/1612 buckets
    exceed cap=16 — and at the test SF (sf0.001) 156/1710 do, all
    arrival-touching — so both the rectangular-gram and
    restricted-star paths run under both gates."""
    e = _dedup_corpus(load_table(spark, sf_dir, "embeddings"))
    return _banded_neardup_pairs(
        e.withColumn("__arr", (F.col("vec_id") % 5) == 0),
        bucket_cap=EMB_BUCKET_CAP,
        new_col="__arr",
    )


def _steady_emb_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's persisted (vec_id, embedding, bk) band-signature
    table: batch N never re-signs corpus vectors (the band-key UDF is
    the only Python crossing). Arrival split: vec_id ≡ 0 (mod 10) —
    CLONE_OFFSET % 10 == 0 keeps clone arrival-ness aligned with its
    source, like the mod-5 split of the cold-start twins."""
    return staged_once(
        spark, sf_dir, "embidx",
        lambda: _dedup_corpus(load_table(spark, sf_dir, "embeddings"))
        .where((F.col("vec_id") % 10) != 0)
        .select(
            "vec_id",
            "embedding",
            F.explode(_dedup_band_keys_udf()(F.col("embedding"))).alias("bk"),
        ),
    )


@register(
    "dedup_embedding_incremental_steady",
    tags=("llm", "dedup", "embedding", "lsh", "banded", "incremental",
          "steady_state", "skew_guard"),
    bench=True,
    # capped batch replay restricted to arrival-touching pairs — exact
    # for the same reason as the cold-start capped twin (cnt/bmin are
    # FULL-bucket quantities in both forms), with the mod-10 split.
    oracle=f"""
WITH {capped_pairs_ctes()}
SELECT id_a, id_b, cos_sim FROM cap_pairs
WHERE id_a % 10 = 0 OR id_b % 10 = 0
""",
)
def dedup_embedding_incremental_steady(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STEADY-STATE incremental semantic near-dedup — the production
    shape for a continuously-arriving embedding corpus: the corpus
    band-signature table (vec_id, embedding, bk; 90% of vectors,
    vec_id ≢ 0 mod 10) is PERSISTED parquet built once per corpus
    snapshot with the operator's own band-key UDF; the 10% arrival
    batch signs only itself, unions onto the loaded index, and runs
    the capped rectangular new×all gram. Unlike
    ``dedup_embedding_incremental_capped`` (cold-start: every vector
    re-signed per run), corpus vectors never cross to Python again —
    the probe's Python cost is proportional to the arrival batch.
    The verify side stays a plain JVM projection of the vectors.
    Oracle: capped batch replay restricted to arrival-touching pairs."""
    e = _dedup_corpus(load_table(spark, sf_dir, "embeddings"))
    band_keys = _dedup_band_keys_udf()
    arr_sig = e.where((F.col("vec_id") % 10) == 0).select(
        "vec_id",
        "embedding",
        F.lit(True).alias("is_new"),
        F.explode(band_keys(F.col("embedding"))).alias("bk"),
    )
    sig = (
        _steady_emb_index(spark, sf_dir)
        .select("vec_id", "embedding", F.lit(False).alias("is_new"), "bk")
        .unionByName(arr_sig)
    )
    return _banded_neardup_pairs(
        e, bucket_cap=EMB_BUCKET_CAP, new_col="is_new", sig_df=sig
    )


# IVF coarse quantizer: trained with the seeded deterministic k-means
# in operators/kmeans.py (2 Lloyd iterations, md5-hash-sampled init) —
# bit-identical on Spark and DuckDB, so training itself is inside the
# oracle check below.
N_CENTROIDS = 16
KM_ITERS = 2
N_PROBES = 8


def _corpus(e: DataFrame) -> DataFrame:
    return e.where(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", V.as_double("embedding").alias("v")
    )


_CENT_CACHE: dict[str, dict[int, list[float]]] = {}


def _trained_centroids(spark: SparkSession, sf_dir: str) -> dict[int, list[float]]:
    # Training is bit-deterministic per dataset (operators/kmeans.py),
    # so the model is memoized per sf_dir: repeated queries (and the
    # test suite's many ivf calls) pay the 2-iteration fit once.
    if sf_dir not in _CENT_CACHE:
        e = load_table(spark, sf_dir, "embeddings")
        _CENT_CACHE[sf_dir] = KM.kmeans_fit(
            _corpus(e), "vec_id", "v", N_CENTROIDS, KM_ITERS
        )
    return _CENT_CACHE[sf_dir]


def _assign_topk(df: DataFrame, vcol: str, cents: dict[int, list[float]], k: int) -> DataFrame:
    """Nearest-k centroid ids per row — literal-centroid distance
    structs sorted lexicographically (dist, cid): the corpus never
    shuffles and nothing is joined for assignment."""
    structs = F.array(
        *[
            F.struct(
                KM.l2sq(F.col(vcol), F.array(*[F.lit(float(c)) for c in cv])).alias(
                    "dist"
                ),
                F.lit(int(cid)).alias("cid"),
            )
            for cid, cv in sorted(cents.items())
        ]
    )
    # explode-then-extract in separate steps: a generator plus struct
    # field extraction in one expression trips the same Spark analyzer
    # quirk noted in operators/kmeans.py (names degrade to col/colN)
    return (
        df.withColumn("__b", F.explode(F.slice(F.sort_array(structs), 1, k)))
        .withColumn("cid", F.col("__b.cid"))
        .drop("__b")
    )


@register(
    "ivf_centroid_assignment",
    tags=("llm", "similarity", "ann", "ivf", "kmeans"),
    # The oracle replays the ENTIRE training run — hash-sampled init,
    # 2 unrolled Lloyd iterations with exact fixed-point means, final
    # assignment — not just the bucket profile (operators/kmeans.py).
    oracle=f"""
WITH v AS (
  SELECT vec_id, {V.SQL_AS_DOUBLE.format(col='embedding')} AS e FROM embeddings
  WHERE vec_id >= {N_QUERIES}
),
{KM.kmeans_sql_ctes('v', N_CENTROIDS, KM_ITERS, DIM, 'kfinal')}
SELECT cid, count(*) AS bucket_size, min(vec_id) AS min_member
FROM kfinal
GROUP BY cid
""",
)
def ivf_centroid_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization with TRAINED centroids: seeded
    deterministic k-means (md5-sampled init, 2 Lloyd iterations,
    fixed-point integer means — see operators/kmeans.py), then every
    corpus vector goes to its nearest centroid's inverted list via
    literal-centroid argmin (no join, no shuffle of the corpus). Emits
    the bucket profile; the DuckDB oracle re-trains bit-identically."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = _trained_centroids(spark, sf_dir)
    assigned = _assign_topk(_corpus(e), "v", cents, 1)
    return assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("bucket_size"),
        F.min("vec_id").alias("min_member"),
    )


@register(
    "ann_ivf_topk",
    tags=("llm", "similarity", "ann", "ivf", "recall_band"),
    # The oracle replays TRAINING + SEARCH: seeded k-means (the same
    # bit-deterministic CTEs ivf_centroid_assignment is gated on),
    # top-N_PROBES probe selection per query, candidate scoring within
    # the probed lists, then the shared hits/recall-band tail. Both
    # engines measure the per-query hit counts independently.
    oracle=f"""
WITH v0 AS (
  SELECT vec_id, {V.SQL_AS_DOUBLE.format(col='embedding')} AS e FROM embeddings
),
v AS (SELECT * FROM v0 WHERE vec_id >= {N_QUERIES}),
{KM.kmeans_sql_ctes('v', N_CENTROIDS, KM_ITERS, DIM, 'kfinal')},
q AS (SELECT * FROM v0 WHERE vec_id < {N_QUERIES}),
c AS (SELECT * FROM v),
{_SQL_EXACT_TOP5},
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, cen.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {KM.SQL_L2SQ.format(a='q.e', b='cen.cv')},
                                       cen.cid) AS rn
    FROM q, kc{KM_ITERS} cen)
  WHERE rn <= {N_PROBES}
),
annscored AS (
  SELECT p.query_id, k.vec_id AS cand_id,
         {V.SQL_DOT.format(a='q.e', b='k.e')}
           / (sqrt({V.SQL_SUMSQ.format(a='q.e')}) * sqrt({V.SQL_SUMSQ.format(a='k.e')}))
           AS cos_sim
  FROM probes p
  JOIN kfinal k USING (cid)
  JOIN q ON q.vec_id = p.query_id
),
{_SQL_RECALL_TAIL}
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over TRAINED centroids (seeded k-means, see
    operators/kmeans.py): corpus vectors live in their nearest
    centroid's list; each query probes its N_PROBES nearest centroids
    and scores only those lists — the (cid) equi-join replaces the
    cross product at scale. Exact cosine + top-k within the probed
    lists.

    Declared output (oracle-gated since round 5, same shape as
    ann_lsh_topk): exact brute-force top-5 rows + per-query IVF hit
    counts + the global recall@5 ≥ 0.9 band, with the oracle
    re-training the quantizer and re-running the probed search
    bit-identically."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = _trained_centroids(spark, sf_dir)
    corpus = _assign_topk(_corpus(e), "v", cents, 1).select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), "cid"
    )
    probes = _assign_topk(
        e.where(F.col("vec_id") < N_QUERIES).select(
            "vec_id", V.as_double("embedding").alias("v")
        ),
        "v",
        cents,
        N_PROBES,
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cid")
    pairs = probes.join(corpus, "cid").select(
        "query_id", "cand_id", V.cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    ann_ids = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "cand_id")
    )
    return _with_recall_gate(_exact_top5(e), ann_ids)


@register(
    "embedding_label_stats",
    tags=("llm", "similarity", "stats"),
    oracle=f"""
SELECT label,
       count(*) AS n,
       CAST(sum(CASE WHEN sqrt({V.SQL_SUMSQ.format(a=V.SQL_AS_DOUBLE.format(col='embedding'))})
                          BETWEEN 0.99 AND 1.01 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unit_norm,
       min(vec_id) AS min_vec_id
FROM embeddings
GROUP BY label
""",
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus stats incl. unit-norm count (embeddings are
    L2-normalized ⇒ dot == cosine; documented invariant the ANN path
    relies on)."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = V.norm(V.as_double("embedding"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(nrm.between(0.99, 1.01), 1).otherwise(0)).alias("n_unit_norm"),
        F.min("vec_id").alias("min_vec_id"),
    )


@register(
    "embedding_label_centroids",
    tags=("llm", "similarity", "centroid", "fixed_point"),
    # Output is the EXPLODED (label, pos, comp, n) shape — the driver's
    # hash harness canonicalizes through pandas sort_values, which
    # cannot sort a top-level array column (CORRECTNESS_r03 red row:
    # "unhashable type: numpy.ndarray"). Scalar rows are the
    # driver-safe encoding of the same centroid matrix; plans/verify.py
    # now rejects top-level array columns in oracle-gated queries so
    # the class of bug cannot recur.
    oracle=f"""
WITH v AS (
  SELECT label, {V.SQL_AS_DOUBLE.format(col='embedding')} AS e FROM embeddings
)
SELECT label, CAST(pos - 1 AS BIGINT) AS pos,
       floor(CAST(CAST(sum(CAST(floor(e[pos] * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS DOUBLE) / count(*) + 0.5) / 1000000.0 AS comp,
       count(*) AS n
FROM v, generate_series(1, {DIM}) AS g(pos)
GROUP BY label, pos
""",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding in exact fixed-point arithmetic (the
    operators/kmeans.py update step as a standalone operator):
    components quantized to 1e-6 BIGINTs, summed exactly (order-free),
    mean re-snapped to the grid — so every (label, pos) component is
    hash-comparable against the oracle. Shuffle is (label, pos) keyed
    with map-side partials; the driver never sees the vectors. ``pos``
    is 0-based (Spark posexplode convention; oracle emits pos-1)."""
    e = load_table(spark, sf_dir, "embeddings")
    expl = e.select(
        "label", F.posexplode(V.as_double("embedding")).alias("pos", "val")
    )
    return (
        expl.groupBy("label", "pos")
        .agg(
            F.sum(F.floor(F.col("val") * KM.QUANT + 0.5).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            (F.floor(F.col("s").cast("double") / F.col("n") + 0.5) / KM.QUANT).alias(
                "comp"
            ),
            "n",
        )
    )


@register(
    "embedding_int8_quantization_error",
    tags=("llm", "embedding", "quantization", "compression"),
    oracle=f"""
WITH v AS (
  SELECT label, {V.SQL_AS_DOUBLE.format(col='embedding')} AS e FROM embeddings
), s AS (
  SELECT label, e,
         127.0 / list_aggregate(list_transform(e, x -> abs(x)), 'max') AS sc
  FROM v
), dq AS (
  SELECT label, e,
         list_transform(e, x -> round(x * sc) / sc) AS d
  FROM s
), cs AS (
  SELECT label,
         {V.SQL_DOT.format(a='e', b='d')}
           / (sqrt({V.SQL_SUMSQ.format(a='e')}) * sqrt({V.SQL_SUMSQ.format(a='d')}))
           AS cos_sim
  FROM dq
)
SELECT label,
       count(*) AS n,
       round(avg(cos_sim), 6) AS mean_cos,
       round(min(cos_sim), 6) AS min_cos
FROM cs
GROUP BY label
""",
)
def embedding_int8_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = 127/max|x|)
    and its reconstruction quality per label — the storage/shuffle
    compression step before ANN at scale: int8 vectors are 4× smaller
    than float32 (16× vs float64), which is 4× less candidate-join
    shuffle and 4× more vectors per executor cache. All arithmetic is
    a narrow per-row transform (zero shuffle until the tiny label
    agg); cosine(fp, dequant) ≥ ~0.995 is the expected quality bar.
    The oracle replays the identical double-precision fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = V.as_double(F.col("embedding"))
    e = emb.select("label", v.alias("e"))
    sc = F.lit(127.0) / F.array_max(F.transform(F.col("e"), F.abs))
    dq = e.select(
        "label",
        "e",
        F.transform(F.col("e"), lambda x: F.round(x * sc) / sc).alias("d"),
    )
    cs = dq.select(
        "label", V.cosine(F.col("e"), F.col("d")).alias("cos_sim")
    )
    return cs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("cos_sim"), 6).alias("mean_cos"),
        F.round(F.min("cos_sim"), 6).alias("min_cos"),
    )
