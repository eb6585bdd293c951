"""Deduplication declared queries on `documents` (LLM-pipeline
surface — exact, MinHash+LSH, SimHash, n-gram Jaccard)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oamap_spark.cache import track
from oamap_spark.functions import text as X
from oamap_spark.operators import dedup as D
from oamap_spark.queries.registry import register
from oamap_spark.sources.staging import staged_once, steady_split
from oamap_spark.sources.tables import load_table

_IDS = X.SQL_TOKEN_IDS.format(col="text")
_SHINGLES = X.SQL_SHINGLES.format(tk="tk")


def minhash_pairs_ctes(p: str = "") -> str:
    """DuckDB CTE chain replaying the full MinHash(16)+LSH(8x2)
    pipeline, ending in ``{p}mh_pairs`` (id_a, id_b, jaccard >= 0.9).
    ONE source of truth: the ``dedup_minhash_lsh`` oracle and the
    all-signals composition (queries/pipeline_sampling.py) both build
    from it, so a fix here reaches every consumer (r8 review: the
    composed oracle used to be a hand-edited copy). ``p`` prefixes
    every CTE name so several families coexist in one WITH."""
    return f"""{p}t AS (
  SELECT doc_id, {X.SQL_TOKEN_ID_ARRAY.format(col='text')} AS tids FROM documents
), {p}base AS (
  SELECT doc_id, {X.SQL_COMBINE_SHINGLE_IDS.format(tids='tids')} AS ids FROM {p}t
), {p}sig AS (
  SELECT doc_id, ids AS s, {X.sql_minhash_signature('ids', 16)} AS sg FROM {p}base
), {p}bands AS (
  SELECT doc_id, u.band_idx AS band_idx, u.band_key AS band_key
  FROM (
    SELECT doc_id,
           unnest([{{'band_idx': i,
                     'band_key': CAST(sg[2*i + 1] AS VARCHAR) || '_' || CAST(sg[2*i + 2] AS VARCHAR)}}
                   for i in range(0, 8)]) AS u
    FROM {p}sig
  )
), {p}cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM {p}bands x JOIN {p}bands y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
), {p}mh_pairs AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
           / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
  FROM {p}cand c
  JOIN {p}sig sa ON sa.doc_id = c.id_a
  JOIN {p}sig sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.9
)"""


def containment_pairs_ctes(p: str = "") -> str:
    """DuckDB CTE chain replaying the df-capped (16) inverted-index
    containment pipeline incl. the upper-bound prune, ending in
    ``{p}ct_pairs`` (id_a, id_b, containment >= 0.8). Shared by the
    ``dedup_containment_pairs`` oracle and the all-signals composition
    (one source of truth, r8 review)."""
    return f"""{p}ctt AS (
  SELECT doc_id, {X.SQL_TOKEN_ID_ARRAY.format(col='text')} AS tids FROM documents
), {p}ctbase AS (
  SELECT doc_id, {X.SQL_COMBINE_SHINGLE_IDS.format(tids='tids')} AS ids FROM {p}ctt
), {p}post AS (
  SELECT doc_id, unnest(ids) AS sid FROM {p}ctbase
), {p}dfreq AS (
  SELECT sid, count(*) AS df FROM {p}post GROUP BY sid
), {p}kept AS (
  SELECT pp.doc_id, pp.sid FROM {p}post pp JOIN {p}dfreq USING (sid) WHERE df <= 16
), {p}stats AS (
  SELECT b.doc_id, len(b.ids) AS sz,
         len(b.ids) - coalesce(k.kc, 0) AS capped
  FROM {p}ctbase b LEFT JOIN (
    SELECT doc_id, count(*) AS kc FROM {p}kept GROUP BY doc_id
  ) k ON k.doc_id = b.doc_id
), {p}ctcand AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared_kept
  FROM {p}kept x JOIN {p}kept y ON x.sid = y.sid AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
), {p}pruned AS (
  SELECT c.id_a, c.id_b
  FROM {p}ctcand c
  JOIN {p}stats sa ON sa.doc_id = c.id_a
  JOIN {p}stats sb ON sb.doc_id = c.id_b
  WHERE CAST(c.shared_kept + least(sa.capped, sb.capped) AS DOUBLE)
        / least(sa.sz, sb.sz) >= 0.8
), {p}ct_pairs AS (
  SELECT c.id_a, c.id_b,
         round(CAST(len(list_intersect(a.ids, b.ids)) AS DOUBLE)
               / least(len(a.ids), len(b.ids)), 6) AS containment
  FROM {p}pruned c
  JOIN {p}ctbase a ON a.doc_id = c.id_a
  JOIN {p}ctbase b ON b.doc_id = c.id_b
  WHERE CAST(len(list_intersect(a.ids, b.ids)) AS DOUBLE)
        / least(len(a.ids), len(b.ids)) >= 0.8
)"""


@register(
    "dedup_exact_canonical",
    tags=("llm", "dedup", "exact"),
    oracle="""
WITH digests AS (
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' '), ' ')) AS digest
  FROM documents
)
SELECT digest, min(doc_id) AS canonical_id, count(*) AS group_size
FROM digests
GROUP BY digest
HAVING count(*) > 1
""",
)
def dedup_exact_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via whitespace-normalized token-stream digest: one
    shuffle on a 32-char key; the text itself never moves. Emits
    duplicate groups with canonical (min) id."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dedup_groups(d, "doc_id", "text")


@register(
    "dedup_jaccard_pairs",
    tags=("llm", "dedup", "jaccard", "sf_bounded_oracle_twin"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), tok AS (
  SELECT doc_id, {_SHINGLES} AS s FROM t
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
FROM tok a JOIN tok b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
""",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-shingle-set Jaccard ≥ 0.9 — the ground-truth
    near-dup definition. O(n²): correctness oracle and the verifier
    inside the LSH path; never the scale path itself."""
    d = load_table(spark, sf_dir, "documents")
    return D.all_pairs_jaccard(d, "doc_id", "text", 0.9)


@register(
    "dedup_minhash_lsh",
    tags=("llm", "dedup", "minhash", "lsh"),
    bench=True,
    oracle=f"""
WITH {minhash_pairs_ctes()}
SELECT id_a, id_b, jaccard FROM mh_pairs
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=16) + LSH(8 bands × 2 rows) over 3-token shingles,
    verified with exact shingle Jaccard ≥ 0.9: signatures are narrow,
    the only shuffles are the short band keys and the bounded candidate
    set. The oracle replays the identical shingle + hash family. This
    uncapped form lists every pairwise edge — on corpora with giant
    boilerplate clusters prefer ``dedup_minhash_lsh_capped``, which
    bounds per-bucket work with the star fallback (the 100 TB entry
    point)."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9)


@register(
    "dedup_minhash_lsh_capped",
    tags=("llm", "dedup", "minhash", "lsh", "skew_guard"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, {X.SQL_TOKEN_ID_ARRAY.format(col='text')} AS tids FROM documents
), base AS (
  SELECT doc_id, {X.SQL_COMBINE_SHINGLE_IDS.format(tids='tids')} AS ids FROM t
), sig AS (
  SELECT doc_id, ids AS s, {X.sql_minhash_signature('ids', 16)} AS sg FROM base
), bands AS (
  SELECT doc_id, u.band_idx AS band_idx, u.band_key AS band_key
  FROM (
    SELECT doc_id,
           unnest([{{'band_idx': i,
                     'band_key': CAST(sg[2*i + 1] AS VARCHAR) || '_' || CAST(sg[2*i + 2] AS VARCHAR)}}
                   for i in range(0, 8)]) AS u
    FROM sig
  )
), annot AS (
  SELECT doc_id, band_idx, band_key,
         count(*) OVER (PARTITION BY band_idx, band_key) AS cnt,
         min(doc_id) OVER (PARTITION BY band_idx, band_key) AS bmin
  FROM bands
), small AS (
  SELECT doc_id, band_idx, band_key FROM annot WHERE cnt <= 2
), cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT x.doc_id AS id_a, y.doc_id AS id_b
    FROM small x JOIN small y
      ON x.band_idx = y.band_idx AND x.band_key = y.band_key
     AND x.doc_id < y.doc_id
    UNION ALL
    SELECT bmin AS id_a, doc_id AS id_b FROM annot
    WHERE cnt > 2 AND doc_id <> bmin
  )
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.9
""",
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with the bucket_cap skew guard ON —
    **the 100 TB entry point**. A band bucket larger than the cap (a
    boilerplate cluster sharing every band) would quadratic-blow one
    reducer with s² pairs on a single unsplittable key; capped buckets
    emit a linear star (min-id → member) instead, which keeps every
    duplicate group connected for downstream clustering while bounding
    per-key work. The cap is a tuning knob (set ~10³ in production —
    buckets above it are certainly boilerplate); here it is 2 so the
    sf0.01 oracle, which replays the identical window-count + star
    logic in SQL, exercises the fallback on real buckets."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9, bucket_cap=2
    )


@register(
    "dedup_simhash_signatures",
    tags=("llm", "dedup", "simhash"),
    oracle=f"""
WITH base AS (SELECT doc_id, {_IDS} AS ids FROM documents)
SELECT doc_id, {X.sql_simhash32('ids')} AS simhash
FROM base
""",
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures (majority-vote bits over token ids).
    Near-dup candidates share signature bands; Hamming distance over
    the packed int is one xor+popcount at query time."""
    d = load_table(spark, sf_dir, "documents")
    # Project ids first so the Arrow simhash UDF receives the
    # materialized ids array (and the md5 token-id subtree is computed
    # once, not inlined into every reference — see minhash_lsh_pairs).
    return d.select("doc_id", X.token_ids("text").alias("ids")).select(
        "doc_id", X.simhash32(F.col("ids")).alias("simhash")
    )


@register(
    "dedup_simhash_banded",
    bench=True,
    tags=("llm", "dedup", "simhash", "lsh", "banded"),
    oracle=f"""
WITH base AS (SELECT doc_id, {_IDS} AS ids FROM documents),
sh AS (SELECT doc_id, {X.sql_simhash32('ids')} AS h FROM base)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h, b.h)) <= 3
""",
)
def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3 via 4×8-bit band
    bucketing — the scale path: by pigeonhole, ≤3 flipped bits leave
    at least one of 4 bands intact, so the band equi-join's candidate
    set provably contains every qualifying pair (the oracle is the
    all-pairs form — results are identical, only the plan differs).
    Shuffles band keys + candidates, never the n² cross product.

    Pair dedup uses FIRST-MATCHING-BAND emission instead of distinct:
    a pair is kept only in the lowest band index where its band values
    agree — a narrow predicate on the already-joined signatures. On a
    boilerplate-heavy corpus (sf0.1 has band buckets of 2k+ docs and
    2.2M true pairs) this removes a ~10M-row distinct shuffle, the
    measured bulk of the runtime; at 100 TB the same trick keeps the
    only large shuffle the band join itself."""
    d = load_table(spark, sf_dir, "documents")
    # Persist the 12-byte/row signature table: the band self-join reads
    # it from BOTH sides, and without the persist the scan + token-id +
    # simhash subtree executes twice (measured ~1.3 s of the runtime at
    # sf0.1). At 100 TB signatures are the thing you'd checkpoint
    # anyway — they're 4 orders of magnitude narrower than the text.
    # Cache lifetime is caller-owned (the result is lazy, so an
    # unpersist here would defeat the reuse); long-lived sessions
    # reclaim via oamap_spark.cache.sweep() — bench.py does.
    sh = track(
        d.select("doc_id", X.token_ids("text").alias("ids"))
        .select("doc_id", X.simhash32(F.col("ids")).alias("h"))
    )
    bands = sh.select(
        "doc_id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("h"), 8 * i).bitwiseAND(F.lit(255)).alias("band_key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "h", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))

    def band_of(col, i):
        return F.shiftright(col, 8 * i).bitwiseAND(F.lit(255))

    h_a, h_b = F.col("h_a"), F.col("h_b")
    first_match = F.lit(True)
    for j in range(3):  # band i kept only if bands 0..i-1 all differ
        prior_differ = F.lit(True)
        for k in range(j + 1):
            prior_differ = prior_differ & (band_of(h_a, k) != band_of(h_b, k))
        first_match = F.when(F.col("band_idx") == j + 1, prior_differ).otherwise(
            first_match
        )

    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.col("x.band_idx").alias("band_idx"),
            F.col("x.h").alias("h_a"),
            F.col("y.h").alias("h_b"),
        )
        .where(first_match)
    )
    hamming = F.bit_count(h_a.bitwiseXOR(h_b))
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).where(F.col("hamming") <= 3)


@register(
    "dedup_simhash_pairs",
    tags=("llm", "dedup", "simhash", "pairs", "sf_bounded_oracle_twin"),
    oracle=f"""
WITH base AS (SELECT doc_id, {_IDS} AS ids FROM documents),
sh AS (SELECT doc_id, {X.sql_simhash32('ids')} AS h FROM base)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h, b.h)) <= 3
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3 over the 32-bit
    signatures (all-pairs form for the oracle; banded probing is the
    scale path). Size-guarded: raises above ALL_PAIRS_MAX_ROWS."""
    d = D.guard_all_pairs(
        load_table(spark, sf_dir, "documents"), "dedup_simhash_pairs"
    )
    sh = d.select("doc_id", X.token_ids("text").alias("ids")).select(
        "doc_id", X.simhash32(F.col("ids")).alias("h")
    )
    a, b = sh.alias("a"), sh.alias("b")
    hamming = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
    )


@register(
    "fuzzy_join_part_names",
    tags=("llm", "dedup", "fuzzy", "edit-distance"),
    oracle="""
WITH names AS (SELECT DISTINCT p_name AS nm FROM part)
SELECT a.nm AS name_a, b.nm AS name_b,
       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
FROM names a JOIN names b ON a.nm < b.nm
WHERE levenshtein(a.nm, b.nm) <= 1
""",
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string self-join at edit distance ≤ 1 via the SymSpell
    deletion-neighborhood trick: each distinct name is keyed by itself
    plus every single-character deletion, so any two strings within one
    edit (sub/ins/del) share at least one key — an equi-join over short
    keys replaces the quadratic levenshtein cross-product the oracle
    runs. Candidates (which can reach distance 2) are verified with one
    exact levenshtein per pair. The variant generation is a narrow
    higher-order expression; at 100 TB the join shuffles only
    (variant, name) pairs — ~L+1 short rows per distinct name — and the
    candidate set, never all-pairs."""
    d = load_table(spark, sf_dir, "part")
    names = d.select(F.col("p_name").alias("nm")).distinct()
    variants = names.select(
        "nm",
        F.explode(
            F.array_union(
                F.array(F.col("nm")),
                F.expr(
                    "transform(sequence(1, length(nm)),"
                    " i -> concat(substr(nm, 1, i - 1), substr(nm, i + 1)))"
                ),
            )
        ).alias("k"),
    )
    cand = (
        variants.alias("a")
        .join(
            variants.alias("b"),
            (F.col("a.k") == F.col("b.k")) & (F.col("a.nm") < F.col("b.nm")),
        )
        .select(F.col("a.nm").alias("name_a"), F.col("b.nm").alias("name_b"))
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
    ).where(F.col("dist") <= 1)


@register(
    "dedup_savings_by_source",
    tags=("llm", "dedup", "report"),
    oracle="""
WITH g AS (
  SELECT source,
         md5(array_to_string(string_split(text, ' '), ' ')) AS dg,
         count(*) AS n
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(n - 1) AS BIGINT) AS n_redundant,
       CAST(floor(sum(n - 1) * 10000.0 / sum(n) + 0.5) AS BIGINT)
         AS redundancy_bp
FROM g GROUP BY source
""",
)
def dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report: per source, how many documents are exact
    redundant copies (everything beyond each digest group's canonical)
    and the redundancy rate in basis points — the number a curation
    run quotes before committing to a dedup pass. Same digest groupBy
    as the dedup itself (text never shuffles), one extra tiny agg."""
    d = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.concat_ws(" ", F.split(F.col("text"), " ")))
    g = d.groupBy("source", digest.alias("dg")).agg(F.count(F.lit(1)).alias("n"))
    return g.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.col("n") - 1).cast("long").alias("n_redundant"),
        F.floor(
            F.sum(F.col("n") - 1) * F.lit(10000.0) / F.sum("n") + F.lit(0.5)
        )
        .cast("long")
        .alias("redundancy_bp"),
    )


# Shared CTE chain + final select for the ngram-window contamination
# flag oracles: the batch gate uses it bare; the steady-state arm
# appends a WHERE on the arrival split (restriction commutes — a wid
# in no arrival window cannot affect an arrival doc's dup count).
_NGRAM_OVERLAP_CTES = f"""t AS (
  SELECT doc_id, source, {X.SQL_TOKEN_ID_ARRAY.format(col='text')} AS tids FROM documents
), w AS (
  SELECT doc_id, source, {X.sql_combine_shingle_ids('tids', 8)} AS wids FROM t
), e AS (
  SELECT doc_id, unnest(wids) AS wid FROM w
), shared AS (
  SELECT wid FROM e GROUP BY wid HAVING count(DISTINCT doc_id) > 1
), dup AS (
  SELECT e.doc_id, count(*) AS n_dup_windows
  FROM e JOIN shared USING (wid)
  GROUP BY e.doc_id
)"""
_NGRAM_OVERLAP_SELECT = """
SELECT w.doc_id AS id,
       len(w.wids) AS n_windows,
       COALESCE(dup.n_dup_windows, 0) AS n_dup_windows,
       round(COALESCE(dup.n_dup_windows, 0) / len(w.wids), 4) AS dup_ratio
FROM w LEFT JOIN dup USING (doc_id)"""


@register(
    "dedup_ngram_window_overlap",
    tags=("llm", "dedup", "exact_substring", "ngram"),
    oracle=f"""
WITH {_NGRAM_OVERLAP_CTES}{_NGRAM_OVERLAP_SELECT}
""",
)
def dedup_ngram_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring signal per document: the fraction of
    its distinct 8-token windows that occur in other documents (the
    fixed-window form of exact-substring dedup, Lee et al. 2022).
    Only int64 window ids shuffle — see
    :func:`oamap_spark.operators.dedup.ngram_window_overlap`."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_window_overlap(d, "doc_id", "text", n=8)


def span_removal_ctes() -> str:
    """DuckDB CTE chain replaying the duplicated-span-removal
    arithmetic (positional 8-token window ids → shared set → lag-gap
    span merge → coverage → cleaned rebuild), ending in the per-doc
    CTEs ``sr_t`` / ``sr_nspans`` / ``sr_kept``. ONE source of truth:
    the batch gate and the incremental twin both assemble their final
    SELECT from it."""
    return f"""sr_t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks,
         {X.SQL_TOKEN_ID_ARRAY.format(col='text')} AS tids
  FROM documents
), sr_w AS (
  SELECT doc_id, u.pos AS pos, u.wid AS wid
  FROM (SELECT doc_id,
               unnest({X.sql_positional_window_ids('tids', 8)}) AS u
        FROM sr_t)
), sr_shared AS (
  SELECT wid FROM sr_w GROUP BY wid HAVING count(DISTINCT doc_id) > 1
), sr_dupw AS (
  SELECT doc_id, pos FROM sr_w JOIN sr_shared USING (wid)
), sr_flag AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
              THEN 1 ELSE 0 END AS f
  FROM sr_dupw
), sr_nspans AS (
  SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_spans_cut
  FROM sr_flag GROUP BY doc_id
), sr_cov AS (
  SELECT DISTINCT doc_id, tpos FROM (
    SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS tpos FROM sr_dupw)
), sr_tok AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(generate_series(1, len(toks))) AS tpos
  FROM sr_t
), sr_kept AS (
  SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.tpos) AS cleaned
  FROM sr_tok k LEFT JOIN sr_cov c ON c.doc_id = k.doc_id AND c.tpos = k.tpos
  WHERE c.tpos IS NULL
  GROUP BY k.doc_id
)"""


_SPAN_REMOVAL_SELECT = """
SELECT t.doc_id AS id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(ns.n_spans_cut, 0) AS BIGINT) AS n_spans_cut,
       CAST(length(coalesce(kp.cleaned, '')) AS BIGINT) AS kept_char_len,
       md5(coalesce(kp.cleaned, '')) AS cleaned_digest
FROM sr_t t
LEFT JOIN sr_nspans ns USING (doc_id)
LEFT JOIN sr_kept kp USING (doc_id)
"""


@register(
    "dedup_span_removal",
    tags=("llm", "dedup", "exact_substring", "span_removal"),
    bench=True,
    oracle=f"WITH {span_removal_ctes()}{_SPAN_REMOVAL_SELECT}",
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (exact-substring dedup's surgery step,
    Lee et al. 2022): merge each document's overlapping-or-adjacent
    duplicated 8-token windows into spans, cut them, and emit the
    per-document removal manifest — token count, spans cut, kept
    character length, and the md5 digest of the cleaned text. The
    oracle replays the identical window→span→cut arithmetic in SQL
    (same positional polynomial ids, same lag-gap span merge, same
    rejoin). Completes the exact-substring family:
    `dedup_ngram_window_overlap` flags contamination, this removes
    it — see operators/dedup.py:duplicated_span_removal for the
    shuffle shape."""
    d = load_table(spark, sf_dir, "documents")
    return D.duplicated_span_removal(d, "doc_id", "text", n=8)


@register(
    "dedup_span_removal_incremental",
    tags=("llm", "dedup", "exact_substring", "span_removal", "incremental"),
    oracle=f"""WITH {span_removal_ctes()}{_SPAN_REMOVAL_SELECT}
WHERE CAST(substring(t.source, 4) AS INT) >= 10
""",
)
def dedup_span_removal_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental duplicated-span removal: only the ARRIVAL batch
    (sources src10+) gets the surgery — span merge, coverage, rebuild
    run for arrival documents alone, while the shared-window set still
    reflects the whole corpus (whose window-id table is the persisted
    index at scale, like every other incremental twin's candidate
    structure). Output equals the batch run filtered to arrivals —
    restriction commutes with the shared-set computation — which is
    exactly what the oracle replays. Completes the incremental family:
    exact digests, minhash bands, containment postings, embedding
    buckets, and now exact-substring spans."""
    d = load_table(spark, sf_dir, "documents")
    arrivals = d.where(
        F.substring("source", 4, 10).cast("int") >= 10
    ).select("doc_id")
    return D.duplicated_span_removal(
        d, "doc_id", "text", n=8, probe_ids=arrivals
    )


def _steady_span_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's persisted (id, pos, wid) window table."""
    return staged_once(
        spark, sf_dir, "spanidx",
        lambda: D.positional_window_table(
            steady_split(load_table(spark, sf_dir, "documents"))[0],
            "doc_id", "text", 8,
        ),
    )


@register(
    "dedup_span_removal_steady",
    tags=("llm", "dedup", "exact_substring", "span_removal",
          "incremental", "steady_state"),
    bench=True,
    oracle=f"""WITH {span_removal_ctes()}{_SPAN_REMOVAL_SELECT}
WHERE CAST(substring(t.source, 4) AS INT) >= 18
""",
)
def dedup_span_removal_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE duplicated-span removal — the daily-batch form of
    the exact-substring surgery: the corpus half of the (id, pos, wid)
    window table (sources src0–src17, 90%) is PERSISTED parquet built
    once per corpus snapshot by the operator's own window-table
    builder (operators/dedup.py:positional_window_table — no drift
    possible); the 10% arrival batch (src18–19) tokenizes only itself,
    unions its windows onto the loaded index, and gets the surgery —
    span merge, coverage, rebuild — for arrival documents alone, while
    the shared-window set still reflects the whole corpus. Unlike
    ``dedup_span_removal_incremental`` (cold-start: corpus windows
    re-derived from text in-query), corpus text is never re-tokenized.
    Oracle: full batch replay restricted to arrivals (restriction
    commutes with the shared-set computation, which is never
    restricted)."""
    _, arrivals = steady_split(load_table(spark, sf_dir, "documents"))
    w_df = _steady_span_index(spark, sf_dir).unionByName(
        D.positional_window_table(arrivals, "doc_id", "text", 8)
    )
    return D.duplicated_span_removal(
        arrivals,
        "doc_id",
        "text",
        n=8,
        probe_ids=arrivals.select("doc_id"),
        w_df=w_df,
    )


@register(
    "dedup_ngram_overlap_steady",
    tags=("llm", "dedup", "exact_substring", "ngram", "incremental",
          "steady_state"),
    oracle=f"""
WITH {span_removal_ctes()},
st_nwin AS (
  SELECT doc_id, count(*) AS n_windows FROM sr_w GROUP BY doc_id
), st_ndup AS (
  SELECT w.doc_id, count(*) AS n_dup_windows
  FROM sr_w w JOIN sr_shared USING (wid)
  GROUP BY w.doc_id
)
SELECT d.doc_id AS id,
       CAST(COALESCE(nw.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(nd.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       round(COALESCE(nd.n_dup_windows, 0) / nw.n_windows, 4) AS dup_ratio
FROM documents d
LEFT JOIN st_nwin nw ON nw.doc_id = d.doc_id
LEFT JOIN st_ndup nd ON nd.doc_id = d.doc_id
WHERE CAST(substring(d.source, 4) AS INT) >= 18
""",
)
def dedup_ngram_overlap_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE ngram-window contamination FLAG — the daily-batch
    sibling of ``dedup_ngram_window_overlap``, and one more consumer
    of the persisted span window index that ``dedup_span_removal_steady``
    already maintains (same ``_steady_span_index`` seam, same
    positional_window_table builder — no drift possible): the corpus
    half (sources src0–17, 90%) of the (id, pos, wid) window table is
    loaded from parquet; the 10% arrival batch (src18–19) tokenizes
    only itself.

    Semantics are POSITIONAL — deliberately the span family's, not the
    batch flag's: ``n_windows`` counts window OCCURRENCES (a doc
    repeating an 8-gram counts it each time, so ``n_dup_windows`` is
    the contamination MASS span surgery would cut), and a document
    shorter than 8 tokens has no windows (n_windows = 0, NULL ratio) —
    exactly the rows the persisted index contains. The distinct-wid
    whole-corpus fraction remains ``dedup_ngram_window_overlap``'s
    contract; this query's oracle replays the positional arithmetic
    via the span CTEs (``sr_w``/``sr_shared``), so the two semantics
    are gated independently and cannot be conflated silently.

    A wid counts as duplicated for an arrival document iff some OTHER
    document contains it, which restricted to arrivals decomposes into
    (a) the wid occurs in the corpus index — an arrival-wid probe of
    the index, the only full-index scan — or (b) two distinct arrival
    docs share it — an arrival-sized groupBy. Restriction commutes
    because the shared-wid set is never restricted.

    Scale shape: corpus text never re-tokenized; the index scan
    streams against a broadcast arrival-wid set (ids only in every
    shuffle); everything else is arrival-sized."""
    idx = _steady_span_index(spark, sf_dir)
    _, arrivals = steady_split(load_table(spark, sf_dir, "documents"))
    aw = D.positional_window_table(arrivals, "doc_id", "text", 8)
    # two consumers below (corpus probe + per-doc counts): persist so
    # arrivals tokenize once. Caller owns lifetime (cache.track).
    aw = track(aw)
    aw_wids = aw.select("wid").distinct()
    # (a) arrival wids present in the corpus index: stream the index
    # once against the broadcast arrival-wid set (left-semi keeps
    # index rows, so project+distinct collapses to the wid set —
    # bounded by |arrival wids|)
    in_corpus = (
        idx.join(F.broadcast(aw_wids), "wid", "left_semi")
        .select("wid")
        .distinct()
    )
    # (b) wids shared by two distinct arrival docs
    arr_shared = (
        aw.groupBy("wid")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("wid")
    )
    dup_wids = in_corpus.unionByName(arr_shared).distinct()
    n_dup = (
        aw.join(dup_wids, "wid")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    n_win = aw.groupBy("id").agg(F.count(F.lit(1)).alias("n_windows"))
    return (
        arrivals.select(F.col("doc_id").alias("id"))
        .join(n_win, "id", "left")
        .join(n_dup, "id", "left")
        .select(
            "id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("long")
            .alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"), 4
            ).alias("dup_ratio"),
        )
    )


_INCR_EXACT_ORACLE = """
WITH corpus AS (
  SELECT DISTINCT md5(array_to_string(string_split(text, ' '), ' ')) AS digest
  FROM documents
  WHERE CAST(substring(source, 4) AS INT) < 10
), arrivals AS (
  SELECT source,
         md5(array_to_string(string_split(text, ' '), ' ')) AS digest
  FROM documents
  WHERE CAST(substring(source, 4) AS INT) >= 10
)
SELECT a.source,
       count(*) AS n_arrivals,
       CAST(sum(CASE WHEN c.digest IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_corpus,
       CAST(sum(CASE WHEN c.digest IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
FROM arrivals a LEFT JOIN corpus c USING (digest)
GROUP BY a.source
"""


def _incremental_exact_counts(spark, sf_dir, prune=None):
    """Shared body of the incremental exact-dedup twins: arrivals
    (sources src10+) left-joined by canonical digest against the
    accumulated corpus index (src0-src9), per-source dup/new counts.
    `prune(corpus, arrivals)` optionally sheds corpus rows before the
    join — sound for any prune that never drops a digest an arrival
    carries (right-side reduction of a left join), so both twins share
    ONE oracle (_INCR_EXACT_ORACLE) and one digest/split/agg
    definition that cannot drift apart."""
    d = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    digest = D.canonical_text_digest("text")
    corpus = (
        d.where(src_num < 10).select(digest.alias("digest")).distinct()
    )
    arrivals = d.where(src_num >= 10).select("source", digest.alias("digest"))
    if prune is not None:
        corpus = prune(corpus, arrivals)
    j = arrivals.join(
        corpus.withColumn("in_corpus", F.lit(1)), "digest", "left"
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_arrivals"),
        F.sum(F.when(F.col("in_corpus").isNotNull(), 1).otherwise(0)).alias(
            "n_dup_vs_corpus"
        ),
        F.sum(F.when(F.col("in_corpus").isNull(), 1).otherwise(0)).alias("n_new"),
    )


@register(
    "dedup_incremental_vs_corpus",
    tags=("llm", "dedup", "incremental", "anti_join"),
    oracle=_INCR_EXACT_ORACLE,
)
def dedup_incremental_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: new arrivals (sources src10+) checked
    against the accumulated corpus (src0-src9) by canonical digest -
    the production shape for continuous ingestion, where the corpus
    side is a compacted digest-only table (32 chars/doc, ~3 GB per
    100M docs - broadcastable or a cheap shuffle) and arrivals never
    rescan corpus text. The streaming twin is dropDuplicates over the
    digest column with the corpus table as initial state (see
    sources/dataset.py put_stream). Emits per-arriving-source dup/new
    counts. Body shared with the bloom-pruned twin via
    _incremental_exact_counts."""
    return _incremental_exact_counts(spark, sf_dir)


def _steady_digest_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's persisted distinct canonical digests."""
    return staged_once(
        spark, sf_dir, "digidx",
        lambda: steady_split(load_table(spark, sf_dir, "documents"))[0]
        .select(D.canonical_text_digest("text").alias("digest"))
        .distinct(),
    )


@register(
    "dedup_exact_incremental_steady",
    tags=("llm", "dedup", "incremental", "steady_state", "anti_join"),
    bench=True,
    oracle="""
WITH corpus AS (
  SELECT DISTINCT md5(array_to_string(string_split(text, ' '), ' ')) AS digest
  FROM documents
  WHERE CAST(substring(source, 4) AS INT) < 18
), arrivals AS (
  SELECT source,
         md5(array_to_string(string_split(text, ' '), ' ')) AS digest
  FROM documents
  WHERE CAST(substring(source, 4) AS INT) >= 18
)
SELECT a.source,
       count(*) AS n_arrivals,
       CAST(sum(CASE WHEN c.digest IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_corpus,
       CAST(sum(CASE WHEN c.digest IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
FROM arrivals a LEFT JOIN corpus c USING (digest)
GROUP BY a.source
""",
)
def dedup_exact_incremental_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE exact dedup — the last member of the persisted-
    index family (minhash bands, containment postings, embedding
    buckets, span windows, and now exact digests): the corpus's
    DISTINCT canonical digests (src0–src17) are PERSISTED parquet —
    32 chars per corpus doc, ~3 GB per 100M docs, built once per
    snapshot — and the 10% arrival batch (src18–19) digests only
    itself and LEFT-joins the loaded index for its per-source dup/new
    census. Unlike ``dedup_incremental_vs_corpus`` (cold-start: the
    corpus digest table re-derived from text per run), corpus text is
    never re-read. Same split convention as every steady twin; oracle
    replays the digest arithmetic on both halves."""
    _, arrivals = steady_split(load_table(spark, sf_dir, "documents"))
    arrivals = arrivals.select(
        "source", D.canonical_text_digest("text").alias("digest")
    )
    corpus = _steady_digest_index(spark, sf_dir).withColumn("in_corpus", F.lit(1))
    j = arrivals.join(corpus, "digest", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_arrivals"),
        F.sum(F.when(F.col("in_corpus").isNotNull(), 1).otherwise(0)).alias(
            "n_dup_vs_corpus"
        ),
        F.sum(F.when(F.col("in_corpus").isNull(), 1).otherwise(0)).alias("n_new"),
    )


@register(
    "dedup_minhash_incremental",
    tags=("llm", "dedup", "minhash", "lsh", "incremental"),
    oracle=f"""
WITH {minhash_pairs_ctes()},
arrivals AS (
  SELECT doc_id FROM documents WHERE CAST(substring(source, 4) AS INT) >= 10
)
SELECT p.id_a, p.id_b, p.jaccard
FROM mh_pairs p
WHERE p.id_a IN (SELECT doc_id FROM arrivals)
   OR p.id_b IN (SELECT doc_id FROM arrivals)
""",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: MinHash(16)+LSH(8×2) pairs touching an
    arrival batch (sources src10+) against the accumulated corpus
    (src0–src9) — the asymmetric band join never forms a
    corpus×corpus candidate, so a daily batch is linear in corpus
    size (see operators/dedup.py:minhash_lsh_pairs_incremental). The
    oracle replays the full batch pipeline and filters to
    arrival-touching pairs — equivalent because restriction commutes
    with banding. Companion to ``dedup_incremental_vs_corpus`` (the
    exact-digest form of the same continuous-ingestion shape)."""
    d = load_table(spark, sf_dir, "documents")
    is_new = F.substring("source", 4, 10).cast("int") >= 10
    return D.minhash_lsh_pairs_incremental(
        d.withColumn("__arrival", is_new),
        "doc_id",
        "text",
        "__arrival",
        k=16,
        rows_per_band=2,
        threshold=0.9,
    )


def _steady_corpus_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's persisted (id, ids, sig) n=3 shingle-id and MinHash
    signature index, shared by every lexical steady probe."""

    def build() -> DataFrame:
        return D.signature_table(
            D.shingle_ids_table(
                steady_split(load_table(spark, sf_dir, "documents"))[0],
                "doc_id", "text", 3,
            )
        )

    return staged_once(spark, sf_dir, "idx", build)


def _steady_minhash_pairs(
    spark: SparkSession, sf_dir: str, arrivals: DataFrame
) -> DataFrame:
    """The arrival-touching MinHash pairs of the steady probe: the
    arrivals' shingle ids and signatures unioned under the persisted
    corpus index, whose stored ``sig`` bands the corpus half."""
    return D.minhash_lsh_pairs_incremental(
        None, "doc_id", "text", "is_new",
        ids_df=D.steady_ids_with_arrivals(
            arrivals, _steady_corpus_index(spark, sf_dir)
        ),
    )


@register(
    "dedup_minhash_incremental_steady",
    tags=("llm", "dedup", "minhash", "incremental", "steady_state"),
    bench=True,
    oracle=f"""
WITH {minhash_pairs_ctes()},
st_arrivals AS (
  SELECT doc_id FROM documents WHERE CAST(substring(source, 4) AS INT) >= 18
)
SELECT p.id_a, p.id_b, p.jaccard
FROM mh_pairs p
WHERE p.id_a IN (SELECT doc_id FROM st_arrivals)
   OR p.id_b IN (SELECT doc_id FROM st_arrivals)
""",
)
def dedup_minhash_incremental_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE incremental near-dedup — the daily-batch shape the
    whole incremental family exists for: the corpus signature index
    (sources src0–src17, 90%) is PERSISTED parquet built once per
    corpus snapshot; a 10% arrival batch (src18–19) tokenizes only
    itself,
    probes the loaded index through the asymmetric band join, and
    emits its arrival-touching pairs. Unlike
    ``dedup_minhash_incremental`` (which re-derives both halves from
    text, the cold-start form), the corpus here is never re-tokenized
    — this is the benchmark arm whose round-over-round signal tracks
    the probe cost itself. Oracle: batch replay restricted to
    arrival-touching pairs, as for every incremental twin."""
    _, arrivals = steady_split(load_table(spark, sf_dir, "documents"))
    return _steady_minhash_pairs(spark, sf_dir, arrivals)


@register(
    "dedup_containment_incremental",
    tags=("llm", "dedup", "containment", "incremental"),
    oracle=f"""
WITH {containment_pairs_ctes()},
ct_arrivals AS (
  SELECT doc_id FROM documents WHERE CAST(substring(source, 4) AS INT) >= 10
)
SELECT p.id_a, p.id_b, p.containment
FROM ct_pairs p
WHERE p.id_a IN (SELECT doc_id FROM ct_arrivals)
   OR p.id_b IN (SELECT doc_id FROM ct_arrivals)
""",
)
def dedup_containment_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental doc-in-doc dedup: containment pairs touching the
    arrival batch (sources src10+) against the accumulated corpus —
    the asymmetric posting join keeps only arrival postings on the
    probe side, so each sub-cap shingle costs m·df instead of df²/2
    and corpus×corpus candidates never form (see
    operators/dedup.py:containment_pairs_incremental). With this the
    whole detector family has incremental twins: exact digests,
    minhash bands, embedding buckets, containment postings — one per
    candidate-generation structure. Oracle = batch replay filtered to
    arrival-touching pairs (restriction commutes with the inverted
    index: a pair's posting collisions don't depend on which side is
    new)."""
    d = load_table(spark, sf_dir, "documents")
    is_new = F.substring("source", 4, 10).cast("int") >= 10
    return D.containment_pairs_incremental(
        d.withColumn("__arrival", is_new),
        "doc_id",
        "text",
        "__arrival",
        n=3,
        threshold=0.8,
        df_cap=16,
    )


# the steady containment probe's cap: the persisted kc_base bakes it in
CONTAIN_DF_CAP = 16


@register(
    "dedup_containment_incremental_steady",
    tags=("llm", "dedup", "containment", "incremental", "steady_state"),
    bench=True,
    oracle=f"""
WITH {containment_pairs_ctes()},
cs_arrivals AS (
  SELECT doc_id FROM documents WHERE CAST(substring(source, 4) AS INT) >= 18
)
SELECT p.id_a, p.id_b, p.containment
FROM ct_pairs p
WHERE p.id_a IN (SELECT doc_id FROM cs_arrivals)
   OR p.id_b IN (SELECT doc_id FROM cs_arrivals)
""",
)
def dedup_containment_incremental_steady(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STEADY-STATE incremental containment dedup: the corpus shingle
    index (src0–src17) comes from the SAME persisted parquet table the
    minhash steady probe reads (`_steady_corpus_index` — one n=3
    shingle-id table serves every lexical detector, the
    tokenize-once-probe-many design multi-detector pipelines run at
    100 TB); the 10% arrival batch (src18–19) tokenizes only itself
    and probes through the asymmetric posting join. Unlike
    ``dedup_containment_incremental`` (cold-start: both halves
    re-derived from text), corpus text is never re-tokenized — and
    since r12 the corpus arrays are never re-EXPLODED either: the
    probe reads persisted corpus postings / document frequencies /
    per-doc stats (`containment_corpus_tables`) and restricts every
    corpus-side join to arrival-touched sids, so the per-batch work is
    O(arrival-touched postings) plus narrow columnar corpus scans
    instead of a full corpus explode + df re-aggregation (VERDICT r11
    "Next round #1"). Output = batch pair list restricted to
    arrival-touching pairs, which the oracle replays — the df ⊕ /
    cap-crossing argument lives on the operator
    (operators/dedup.py:containment_pairs_incremental_steady)."""
    sets = _steady_corpus_index(spark, sf_dir)
    post, dfreq, stats = (
        staged_once(
            spark, sf_dir, name,
            lambda i=i: D.containment_corpus_tables(sets, CONTAIN_DF_CAP)[i],
        )
        for i, name in enumerate(("cpost", "cdf", "cstats"))
    )
    _, arrivals = steady_split(load_table(spark, sf_dir, "documents"))
    arr_ids = track(D.shingle_ids_table(arrivals, "doc_id", "text", 3))
    return D.containment_pairs_incremental_steady(
        arr_ids,
        corpus_post=post,
        corpus_dfreq=dfreq,
        corpus_stats=stats,
        corpus_sets=sets,
        threshold=0.8,
        df_cap=CONTAIN_DF_CAP,
    )


@register(
    "dedup_containment_pairs",
    tags=("llm", "dedup", "containment", "inverted_index"),
    oracle=f"""
WITH {containment_pairs_ctes()}
SELECT id_a, id_b, containment FROM ct_pairs
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-INCLUSION dedup: pairs whose smaller 3-shingle set is ≥ 80%
    contained in the other's — the doc-in-doc duplication Jaccard
    structurally misses (a short doc quoted inside a 10× longer one
    has J ≤ 0.1, below every minhash band, but containment ≈ 1.0).
    Candidates come from a DF-capped inverted index on shingle ids
    (df_cap = 16 is the boilerplate-shingle skew guard — see
    operators/dedup.py:containment_pairs for the 100 TB cost model);
    verification is exact set containment on candidates only. The
    oracle replays the identical index, cap, and arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(d, "doc_id", "text", n=3, threshold=0.8, df_cap=16)


@register(
    "dedup_incremental_bloom_pruned",
    tags=("llm", "dedup", "incremental", "bloom", "scale"),
    oracle=_INCR_EXACT_ORACLE,
)
def dedup_incremental_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale twin of :func:`dedup_incremental_vs_corpus` (same
    shared body + oracle — only the prune step differs): before the
    arrival<-corpus digest join, the CORPUS index is Bloom-pruned by
    the position set of the ARRIVAL digests
    (:func:`oamap_spark.operators.partitioning.bloom_semijoin_reduce`
    with fact=corpus, dim=arrivals — the asymmetry is the point: the
    arrival batch is small, so its position set broadcasts for
    nothing, while the accumulated index is the 100M+-row side that
    would otherwise shuffle whole). Pruning the right side of a LEFT
    join is sound: corpus rows that match no arrival produce no
    output rows, and Bloom false positives just survive into the join
    that discards them — the per-source dup/new counts hash-match the
    unpruned oracle exactly. At scale this converts the
    corpus-side shuffle into (arrival-sized broadcast) + (near-empty
    corpus remnant), typically turning the join itself broadcastable.
    Position-probe placement below the join is pinned in
    tests/test_plans.py::test_incremental_bloom_prunes_corpus_side."""
    from oamap_spark.operators.partitioning import bloom_semijoin_reduce

    return _incremental_exact_counts(
        spark,
        sf_dir,
        prune=lambda corpus, arrivals: bloom_semijoin_reduce(
            corpus, arrivals.select("digest"), "digest", "digest"
        ),
    )
