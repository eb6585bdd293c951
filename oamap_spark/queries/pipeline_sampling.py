"""Declared queries: deterministic sampling / splitting / duplicate-
cluster resolution on `documents` (LLM-pipeline surface; beyond the
reference — oamap has no sampling or graph operators, SURVEY §2.D).

All sampling here is md5-hash-deterministic (operators/sampling.py),
which is exactly what makes it oracle-checkable: both engines emit the
same lowercase-hex md5, so lexicographic threshold compares select the
same rows under Spark and DuckDB — unlike rand()/sampleBy whose
membership depends on partition layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oamap_spark.cache import track
from oamap_spark.operators import clustering as C
from oamap_spark.operators import dedup as D
from oamap_spark.operators import sampling as S

# DuckDB replays of the banded pair pipelines, shared with the
# standalone oracles (one prefix-parameterized source of truth per
# family — r8 review: hand-edited copies drift). llm_dedup is always
# fully imported before this module (queries.__init__._load_all
# order), so this costs nothing and cannot reorder registration.
from oamap_spark.queries.llm_dedup import (
    _steady_minhash_pairs,
    containment_pairs_ctes,
    minhash_pairs_ctes,
)
from oamap_spark.queries.registry import register
from oamap_spark.sources.staging import staged_once, steady_split
from oamap_spark.sources.tables import load_table

# Shared DuckDB CTE tail: MinHash-LSH pair edges (the banded SCALE
# path, replayed verbatim by minhash_pairs_ctes — one source of truth
# with the dedup_minhash_lsh oracle) resolved to components via a
# recursive-CTE transitive closure. r11: the single-signal clustering
# queries used to build edges from exact all-pairs Jaccard (~455 s
# each at sf0.1, refuses >20k rows); policy queries now consume the
# same banded edge discipline production would, like
# dedup_clusters_all_signals always did.
_PAIRS_CTES = f"""{minhash_pairs_ctes('m')},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mmh_pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM mmh_pairs
), reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS node, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)"""


@register(
    "sample_hash_bernoulli",
    tags=("llm", "sampling", "deterministic"),
    oracle="""
SELECT doc_id, lang
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
""",
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% Bernoulli sample by md5(doc_id) prefix — a
    narrow per-row predicate (no shuffle, pushes below joins); the
    same rows are selected at any partitioning, cluster size, or
    engine. 0x4000/0x10000 = 25%."""
    d = load_table(spark, sf_dir, "documents")
    return S.hash_sample(d, "doc_id", 0.25).select("doc_id", "lang")


@register(
    "train_test_split_counts",
    tags=("llm", "sampling", "split"),
    oracle="""
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3333'
            THEN 'test' ELSE 'train' END AS split,
       lang,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
""",
)
def train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic 20% test split (0x3333/0x10000 ≈ 0.19999):
    a document's assignment is a pure function of its id, so growing
    the corpus never moves a document across the split — the property
    that keeps eval sets uncontaminated across dataset versions."""
    d = load_table(spark, sf_dir, "documents")
    return (
        S.train_test_split(d, "doc_id", 0.2)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "stratified_topk_per_lang",
    tags=("llm", "sampling", "stratified", "window"),
    oracle="""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 20
""",
)
def stratified_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20-per-language stratified sample, ranked by md5(id) —
    a deterministic uniform draw without replacement per stratum. One
    shuffle on the strata key; each window sees only its stratum."""
    d = load_table(spark, sf_dir, "documents")
    return S.stratified_quota_sample(d, "lang", "doc_id", 20).select("doc_id", "lang")


@register(
    "dedup_clusters_minid",
    tags=("llm", "dedup", "clustering", "iterative"),
    oracle=f"""
WITH RECURSIVE {_PAIRS_CTES}
SELECT node, cluster_id FROM comp
""",
)
def dedup_clusters_minid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair edges resolved into duplicate clusters: every
    graph node labeled with the min id reachable through the edge set
    — transitive, so A~B~C clusters A,C together even though the pair
    A,C was never emitted.

    Edges come from the banded SCALE path (MinHash-LSH candidates,
    exact-Jaccard-verified ≥ 0.9), not the all-pairs ground-truth
    form: this is a POLICY query — the clustering a production dedup
    actually runs — so its edge source must be the one that survives
    100 TB (r11; previously all_pairs_jaccard, ~455 s at sf0.1 and a
    hard refusal >20k rows; connected_components_min_id now rejects
    all-pairs frames outright). The oracle replays the identical
    banded pipeline (minhash_pairs_ctes — shared verbatim with the
    dedup_minhash_lsh gate), so both engines see the same graph.

    Spark side: distributed min-label propagation to an exact fixpoint
    (operators/clustering.py; pointer doubling, O(log diameter)
    bounded-shuffle rounds). Oracle side: recursive CTE transitive
    closure — same fixpoint, quadratic blowup, tiny-SF only."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9
    )
    return C.connected_components_min_id(pairs)


@register(
    "dedup_keep_canonical_counts",
    tags=("llm", "dedup", "clustering", "policy"),
    oracle=f"""
WITH RECURSIVE {_PAIRS_CTES}
SELECT d.lang, count(*) AS kept
FROM documents d
WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> cluster_id)
GROUP BY d.lang
""",
)
def dedup_keep_canonical_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup policy applied end-to-end: resolve near-dup clusters,
    keep each cluster's canonical (min-id) member plus all singleton
    documents, count survivors per language — i.e. the corpus a
    training run would actually consume after near-dedup. Edges from
    the banded MinHash-LSH scale path (see dedup_clusters_minid —
    same r11 re-sourcing, same shared-CTE oracle discipline)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9
    )
    comp = C.connected_components_min_id(pairs)
    kept = C.dedup_keepers(d, "doc_id", comp)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("kept"))


@register(
    "corpus_token_budget_sample",
    tags=("llm", "sampling", "budget"),
    oracle="""
WITH t AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tok,
         sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT lang,
       CAST(count(*) AS BIGINT)   AS n_docs_kept,
       CAST(sum(n_tok) AS BIGINT) AS tokens_kept,
       CAST(max(cum) AS BIGINT)   AS budget_used
FROM c
WHERE cum <= 2000
GROUP BY lang
""",
)
def corpus_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: per language, admit documents in
    deterministic md5(doc_id) order until a fixed token budget (2000
    here) is exhausted — how a training mix caps each source/language
    slice at N tokens reproducibly. One window pass (the cumulative sum
    shuffles once on the partition key) + a map-side final agg; the
    hash order makes the admitted set independent of physical row order
    and partitioning, so reruns and engine changes keep the same docs."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    h = F.md5(F.col("doc_id").cast("string"))
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        d.select("doc_id", "lang", toks.alias("n_tok"), h.alias("h"))
        .withColumn("cum", F.sum("n_tok").over(w))
        .where(F.col("cum") <= 2000)
    )
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_tok").cast("long").alias("tokens_kept"),
        F.max("cum").cast("long").alias("budget_used"),
    )


@register(
    "weighted_sample_docs",
    tags=("llm", "sampling", "weighted", "reservoir"),
    oracle="""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
            / 4503599627370497.0) / n_chars AS k
  FROM documents
)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight
FROM keyed
ORDER BY k DESC, doc_id
LIMIT 100
""",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each doc gets key ln(u)/w from a
    hash-derived uniform u (13 md5 hex digits → 52 bits), the top-100
    keys win — longer docs proportionally likelier. Fully reproducible
    across engines, partitionings and reruns because u comes from
    md5(doc_id), not an RNG; the 'sort' is a TakeOrdered top-k (no
    global sort at scale). Both engines compute identical IEEE doubles
    from the identical integers, so the selected set matches exactly."""
    d = load_table(spark, sf_dir, "documents")
    v = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast(
        "long"
    )
    u = (v + F.lit(1)) / F.lit(4503599627370497.0)  # 2^52 + 1
    k = F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id", "lang", F.col("n_chars").cast("long").alias("weight"),
            k.alias("k"),
        )
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(100)
        .drop("k")
    )


@register(
    "epoch_shuffle_positions",
    tags=("llm", "sampling", "epoch_shuffle", "deterministic"),
    oracle="""
WITH ordered AS (
  SELECT doc_id, lang,
         md5('1:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id, lang,
       CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS epoch_pos
FROM ordered
""",
)
def epoch_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 training-order shuffle of the corpus:
    positions follow md5('1:' ‖ doc_id) — a reproducible permutation
    that changes per epoch (different seed prefix) but never with
    partitioning, cluster size, task retry, or engine. The scale form
    keeps only the range-partitioned sort and writes shards (see
    operators/sampling.py:epoch_shuffle); the dense positions here are
    the oracle-checkable verification surface."""
    from oamap_spark.operators.sampling import epoch_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return epoch_shuffle(d, "doc_id", epoch=1)


# ---------------------------------------------------------------------------
# All-signals dedup composition (VERDICT r7 "Next round #5"): a real
# pipeline unions every pair family before resolving clusters — a pair
# that only ONE detector sees still merges its documents.

from oamap_spark.functions import vectors as V  # noqa: E402
from oamap_spark.queries import llm_similarity as SIM  # noqa: E402

# DuckDB replay of all three pair pipelines, assembled from the SAME
# prefix-parameterized CTE builders the standalone oracles use
# (imports at module top) — one source of truth per family, so a
# pipeline fix automatically reaches this composition (r8 review:
# this block used to be a hand-edited 90-line copy).
_ALL_SIGNALS_CTES = f"""{minhash_pairs_ctes('m')},
{containment_pairs_ctes('c')},
{SIM.neardup_pairs_ctes('e')},
sig_pairs AS (
  SELECT id_a, id_b FROM mmh_pairs
  UNION
  SELECT id_a, id_b FROM cct_pairs
  UNION
  SELECT id_a, id_b FROM eemb_pairs
), sedges AS (
  SELECT id_a AS src, id_b AS dst FROM sig_pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM sig_pairs
), sreach AS (
  SELECT src, dst FROM sedges
  UNION
  SELECT r.src, e.dst FROM sreach r JOIN sedges e ON r.dst = e.src
), scomp AS (
  SELECT src AS node, least(src, min(dst)) AS cluster_id
  FROM sreach GROUP BY src
)"""


def _all_signal_pairs(d, e):
    """The unioned near-dup edge set every cluster-level query starts
    from: MinHash-LSH ∪ containment ∪ embedding-banded pairs, with ONE
    tokenize+shingle pass feeding both lexical detectors (r8 review:
    each otherwise re-scans the corpus and caches its own identical
    shingle table). Shared by `dedup_clusters_all_signals` and
    `dedup_cluster_representatives` so the edge definition cannot
    drift between the census and the manifest."""
    sids = track(D.shingle_ids_table(d, "doc_id", "text", n=3))
    mh = D.minhash_lsh_pairs(
        d, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9, ids_df=sids
    ).select("id_a", "id_b")
    ct = D.containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.8, df_cap=16, ids_df=sids
    ).select("id_a", "id_b")
    emb = SIM._banded_neardup_pairs(SIM._dedup_corpus(e)).select("id_a", "id_b")
    return mh.unionByName(ct).unionByName(emb).distinct()


@register(
    "dedup_clusters_all_signals",
    tags=("llm", "dedup", "clustering", "composition", "iterative"),
    oracle=f"""
WITH RECURSIVE {_ALL_SIGNALS_CTES},
dropped_ids AS (
  SELECT node FROM scomp WHERE node <> cluster_id
)
SELECT d.lang,
       CAST(sum(CASE WHEN di.node IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(sum(CASE WHEN di.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped
FROM documents d
LEFT JOIN dropped_ids di ON d.doc_id = di.node
GROUP BY d.lang
""",
)
def dedup_clusters_all_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION a production pipeline actually makes: union
    the edges from every near-dup detector — MinHash-LSH Jaccard
    (token-overlap dups), shingle containment (doc-in-doc dups that
    Jaccard structurally misses), embedding cosine (semantic dups
    invisible to both lexical detectors) — resolve ONE connected-
    components fixpoint over the combined graph, keep each cluster's
    canonical (min-id) member, and count survivors/casualties per
    language. Transitivity across SIGNALS is the point: doc A
    lexically duplicating B, with B semantically duplicating C,
    clusters {{A, B, C}} together even though no single detector links
    A to C. Embedding ids share the document id space (vec_id k is
    doc k's embedding); the deterministic clone ids (≥ CLONE_OFFSET,
    see llm_similarity._dedup_corpus) join the graph but are not
    documents: a clone can never BE a keeper (its id exceeds every
    document id, so it is never a cluster's min), though like any
    graph node it can transitively bridge two documents whose direct
    cosine sits just under the threshold — that is near-dup edge
    semantics working as intended, and the oracle replays the same
    clones so both engines see the identical graph.

    Scale shape: each pair family keeps its own candidate-generation
    discipline (band keys / df-capped postings / LSH buckets — ids
    only in every shuffle); the union is a cheap distinct over
    narrow (id, id) edges; min-label propagation with pointer doubling
    converges in O(log diameter) rounds of bounded shuffles
    (operators/clustering.py). The oracle replays all three pipelines
    verbatim plus a recursive-CTE transitive closure — quadratic,
    verification-SF only."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    comp = C.connected_components_min_id(_all_signal_pairs(d, e))
    kept = (
        C.dedup_keepers(d, "doc_id", comp)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept"))
    )
    total = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    return total.join(kept, "lang", "left").select(
        "lang",
        F.coalesce(F.col("kept"), F.lit(0)).cast("long").alias("kept"),
        (F.col("n") - F.coalesce(F.col("kept"), F.lit(0))).cast("long").alias("dropped"),
    )


@register(
    "dedup_cluster_representatives",
    tags=("llm", "dedup", "clustering", "representative", "iterative"),
    oracle=f"""
WITH RECURSIVE {_ALL_SIGNALS_CTES},
cmembers AS (
  SELECT s.cluster_id, d.doc_id, d.n_chars
  FROM scomp s JOIN documents d ON d.doc_id = s.node
), csized AS (
  SELECT cluster_id FROM cmembers GROUP BY cluster_id HAVING count(*) > 1
), cranked AS (
  SELECT m.cluster_id, m.doc_id, m.n_chars,
         row_number() OVER (PARTITION BY m.cluster_id
                            ORDER BY m.n_chars DESC, m.doc_id) AS rn
  FROM cmembers m JOIN csized USING (cluster_id)
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS rep_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(n_chars) - max(CASE WHEN rn = 1 THEN n_chars END)
            AS BIGINT) AS chars_saved
FROM cranked GROUP BY cluster_id
""",
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative SELECTION — the step between clustering and
    deletion: for every multi-document duplicate cluster, keep the
    highest-QUALITY member (longest document by n_chars, ties to the
    lower doc_id), not merely the min-id one, and emit the per-cluster
    manifest (representative, member count, characters saved by
    dropping the rest). Min-id keeping (`dedup_clusters_all_signals`)
    is the census; this is the policy a real pipeline applies when the
    duplicates differ in quality — e.g. a truncated scrape duplicating
    a complete page should lose to it. Clusters whose other members
    are embedding-clone graph nodes (not documents) fall out via the
    documents join + HAVING > 1. Scale shape: the edge set and
    fixpoint are shared with the census query (one source of truth,
    `_all_signal_pairs`); selection is ONE hash aggregate on
    cluster_id — the representative is the lexicographic max of
    struct(n_chars, −node), exactly the (n_chars DESC, node ASC)
    row_number()=1 pick the original two cluster-partitioned window
    sorts computed, but map-side combinable and with no sort at all
    (r11, guide §2.2: the windows added two per-cluster sorts over the
    member table for what a max-by aggregate expresses directly)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    comp = C.connected_components_min_id(_all_signal_pairs(d, e))
    members = comp.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    best = F.max(
        F.struct(
            F.col("n_chars").alias("nc"), (-F.col("node")).alias("negnode")
        )
    )
    return (
        members.groupBy("cluster_id")
        .agg(
            best.alias("best"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .where(F.col("n_members") > 1)
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            (-F.col("best.negnode")).cast("long").alias("rep_id"),
            "n_members",
            (F.col("sum_chars") - F.col("best.nc")).cast("long").alias(
                "chars_saved"
            ),
        )
    )


@register(
    "pack_sequences_slots",
    tags=("llm", "packing", "training", "applyinpandas"),
    oracle="""
WITH RECURSIVE pbase AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), pordered AS (
  SELECT doc_id, t, h, substr(h, 1, 1) AS bucket,
         row_number() OVER (PARTITION BY substr(h, 1, 1) ORDER BY h, doc_id) AS rn
  FROM pbase
), packed AS (
  SELECT bucket, rn, doc_id, t,
         CAST(0 AS BIGINT) AS seq_idx, CAST(0 AS BIGINT) AS seq_off, t AS fill
  FROM pordered WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.t,
         CASE WHEN p.fill + o.t <= 2048 THEN p.seq_idx ELSE p.seq_idx + 1 END,
         CASE WHEN p.fill + o.t <= 2048 THEN p.fill ELSE CAST(0 AS BIGINT) END,
         CASE WHEN p.fill + o.t <= 2048 THEN p.fill + o.t ELSE o.t END
  FROM packed p JOIN pordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1
)
SELECT doc_id, bucket, seq_idx, seq_off FROM packed
""",
)
def pack_sequences_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing of the corpus into 2048-token training
    sequences: every document gets a deterministic (bucket, seq_idx,
    seq_off) slot — md5-ordered greedy first-fit per hash-prefix
    bucket (operators/packing.py; the batching step between dedup/
    sampling and the trainer). The oracle replays the identical greedy
    scan as a per-bucket recursive CTE — sequential by nature, which
    is exactly why the engine side buckets first and scans per bucket
    in parallel. Complements `pack_sequences_greedy` (llm_curation),
    which counts sequences/padding per language via a native fold:
    that query answers "how many sequences will this cost", this one
    emits the actual per-document slot table a loader consumes."""
    from oamap_spark.operators.packing import greedy_pack_slots

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return greedy_pack_slots(d, "doc_id", "n_tok", capacity=2048, bucket_hex=1)


@register(
    "mixture_temperature_counts",
    tags=("llm", "sampling", "mixture", "deterministic"),
    oracle="""
WITH mcounts AS (
  SELECT source AS g, count(*) AS n FROM documents GROUP BY source
), mcum AS (
  SELECT g, n,
         sum(sqrt(n)) OVER (ORDER BY g NULLS LAST ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cumw
  FROM mcounts
), mtot AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total, max(cumw) AS sumw FROM mcum
), mthr AS (
  SELECT g, n,
         CAST(floor(least(1.0, (0.25 * total) * (sqrt(n) / sumw) / n)
                    * 4294967296.0) AS BIGINT) AS thr
  FROM mcum, mtot
), msamp AS (
  SELECT d.source AS g, count(*) AS n_sampled
  FROM documents d JOIN mthr ON mthr.g IS NOT DISTINCT FROM d.source
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < mthr.thr
  GROUP BY d.source
)
SELECT t.g AS source,
       CAST(t.n AS BIGINT) AS n_docs,
       CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
FROM mthr t LEFT JOIN msamp s ON s.g = t.g
""",
)
def mixture_temperature_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened data mixing (α = 0.5, 25% token budget):
    each source is sampled at rate min(1, N·p_g/n_g) with p_g ∝
    sqrt(n_g) — giant sources down-weighted, small sources
    over-represented, membership a pure hash function of doc_id
    (operators/sampling.py:temperature_mixture_sample). Output is the
    per-source before/after census a pipeline records as its mixing
    manifest. Complements `corpus_mixture_weighted` (llm_curation),
    whose per-source weights are FIXED config — here the rates are
    DERIVED from the corpus census itself, the usual way mixtures are
    actually set. The oracle replays the rate arithmetic bit-for-bit
    (sqrt is correctly rounded everywhere; the weight sum runs in
    sorted group order; the keep test compares integers)."""
    d = load_table(spark, sf_dir, "documents")
    sampled = S.temperature_mixture_sample(d, "doc_id", "source", 0.25)
    tot = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    samp = sampled.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled")
    )
    return tot.join(samp, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
    )


def _steady_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's persisted (node, cluster_id) assignment: banded
    MinHash pairs over the corpus resolved to min-id components, built
    once per snapshot and only probed by each arrival batch."""
    return staged_once(
        spark, sf_dir, "clusters",
        lambda: C.connected_components_min_id(
            D.minhash_lsh_pairs(
                steady_split(load_table(spark, sf_dir, "documents"))[0],
                "doc_id", "text", k=16, rows_per_band=2, threshold=0.9,
            )
        ),
    )


@register(
    "dedup_clusters_steady",
    tags=("llm", "dedup", "clustering", "incremental", "steady_state"),
    bench=True,
    oracle=f"""
WITH RECURSIVE {_PAIRS_CTES}
SELECT c.node, c.cluster_id
FROM comp c JOIN documents d ON d.doc_id = c.node
WHERE CAST(substring(d.source, 4) AS INT) >= 18
""",
)
def dedup_clusters_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE cluster resolution — the daily-batch form of
    ``dedup_clusters_minid``, completing the persisted-index family
    for the POLICY layer (every dedup signal already has a steady arm;
    this gives the clustering those signals feed one too). State is
    two parquet tables built once per corpus snapshot: the corpus
    signature index (src0-17; shared seam with
    ``dedup_minhash_incremental_steady`` — same builder, no drift) and
    the corpus cluster ASSIGNMENT (banded pairs resolved to min-id
    components). A 10% arrival batch (src18-19) tokenizes only
    itself, probes the signature index through the asymmetric band
    join for its arrival-touching pairs, and merges those edges into
    the assignment by rep-graph contraction
    (operators/clustering.py:incremental_components_min_id): corpus
    endpoints collapse to their persisted cluster id, the contracted
    (arrival-batch-sized) graph is collected once and closed by
    union-find on the driver (a distributed fixpoint only past
    DRIVER_FINISH_MAX_EDGES), and an arrival bridging two old clusters
    merges them without the corpus graph ever being re-shuffled.
    Output: (node, cluster_id) for every arrival doc with at least
    one near-dup edge, where
    cluster_id is the min id reachable in the FULL graph — the oracle
    replays batch clustering over all documents and restricts to
    arrivals, which is bit-identical because banding is per-document
    (adding arrivals never changes corpus x corpus candidacy) and the
    assignment is a fixpoint of the corpus edges.

    Scale shape at 100 TB: corpus text never re-tokenized, corpus
    graph never recomputed; per batch the full-index work is the one
    streamed band probe; the contraction join and the closure are
    sized by the arrival-touched components, not the corpus."""
    asg = _steady_cluster_assignment(spark, sf_dir)
    _, arrivals = steady_split(load_table(spark, sf_dir, "documents"))
    pairs = _steady_minhash_pairs(spark, sf_dir, arrivals)
    # the operator's bounded collect reads the pairs, and on its
    # distributed fallback the fixpoint and the node set read them
    # again: persist so the index probe runs once. Caller owns
    # lifetime (cache.track).
    pairs = track(pairs.select("id_a", "id_b"))
    merged = C.incremental_components_min_id(pairs, asg)
    # restrict to arrival nodes: corpus nodes touched by arrival
    # edges also get merged labels (the maintenance path would write
    # those back), but the contamination-facing answer — and the
    # oracle's restriction — is the arrival docs' assignments
    return merged.join(
        arrivals.select(F.col("doc_id").alias("node")), "node", "left_semi"
    ).select("node", "cluster_id")


@register(
    "stream_cluster_maintenance",
    tags=("streaming", "foreach_batch", "dedup", "clustering",
          "incremental", "steady_state"),
    oracle=f"""
WITH RECURSIVE {_PAIRS_CTES}
SELECT node, cluster_id FROM comp
""",
)
def stream_cluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion CLUSTERING, streamed end to end — the
    r11 incremental-clustering loop run as a live pipeline: documents
    replay as 4 ordered arrival micro-batches; each batch probes the
    accumulated signature index for its arrival-touching near-dup
    pairs (the stream_incremental_minhash_dedup loop) and FOLDS them
    into a generation-versioned cluster assignment with
    apply_components_update
    (streaming/pipelines.py:foreach_batch_cluster_maintenance). The
    returned final generation is the corpus's duplicate-cluster state
    the moment the stream drains — and it equals ONE-SHOT batch
    clustering over the full banded pair graph however the stream was
    sliced, because pair emission is exactly-once (later-member
    discipline) and the fold reaches the same min-id fixpoint in any
    arrival order. The oracle replays plain batch MinHash-LSH +
    recursive-CTE closure: the identical SQL that gates
    dedup_clusters_minid now also gates the streamed, incrementally
    folded path — the strongest cross-check the family has.

    Scale shape: per batch, corpus text is never re-read (signature
    index probe), the corpus graph is never re-shuffled (rep-graph
    contraction), and the assignment fold's relabel map is
    batch-bounded and broadcast."""
    import os

    from oamap_spark.sources.staging import staging_path
    from oamap_spark.streaming import pipelines as P

    # 3 slices (not the dedup stream's 4): still multi-batch — batch 2
    # folds against state batch 1 built on batch 0's — but one fewer
    # fold keeps the query inside the census ceiling; the fold
    # count is a harness choice, not an operator property
    src = P.staged_documents_slices(spark, sf_dir, n_slices=3)
    index_dir = staging_path("oamap_clu_maint_", "index")
    pairs_dir = staging_path("oamap_clu_maint_", "pairs")
    asg_dir = staging_path("oamap_clu_maint_", "asg")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    P.foreach_batch_cluster_maintenance(
        stream, spark, index_dir, pairs_dir, asg_dir
    )
    gen = max(P.partition_ids(asg_dir, "gen"), default=None)
    if gen is None:
        raise RuntimeError(
            f"stream_cluster_maintenance: the stream over {src} wrote no "
            f"assignment generation under {asg_dir}; no micro-batch ran"
        )
    return spark.read.parquet(os.path.join(asg_dir, f"gen={gen}"))
