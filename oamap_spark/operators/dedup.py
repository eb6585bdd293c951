"""Deduplication operators for LLM training-data pipelines.

Four strategies, all shuffle-bounded and designed for the 100 TB case:

- exact: hash-groupBy on a whitespace-normalized token-stream digest
  (one shuffle on a 32-char key; the full text never shuffles).
- MinHash+LSH: n-token shingles → k-minhash signature (narrow) →
  band/bucket join (shuffle on short band keys only) → verify
  candidates with exact shingle Jaccard. Candidate count, not pair
  count, drives cost. Shingles, not unigrams: with a small vocabulary
  every document contains almost every word, so unigram sets collide
  globally; the shingle universe is |vocab|^n and only true near-dups
  share buckets.
- SimHash: 32-bit majority-vote signature; near-dups share bands of
  the signature (Hamming-ball probing).
- n-gram Jaccard: exact pairwise verification — only ever applied to
  LSH-bounded candidate sets (the all-pairs form is for oracles/tests
  at tiny SF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oamap_spark.cache import track
from oamap_spark.functions.text import (
    combine_shingle_ids,
    minhash_signature,
    shingles,
    token_id_array,
    tokens,
)


def canonical_text_digest(text_col: Column | str) -> Column:
    """Digest of the whitespace-normalized token stream — exact dedup
    that is robust to spacing but (deliberately) order-sensitive."""
    return F.md5(F.concat_ws(" ", tokens(text_col)))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group rows by canonical digest; emit one row per duplicate
    group (size > 1) with the canonical (min) id."""
    return (
        df.select(F.col(id_col), canonical_text_digest(text_col).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .where(F.col("group_size") > 1)
    )


def jaccard_set(a: Column, b: Column) -> Column:
    """Exact Jaccard over two set arrays (double)."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


#: Row ceiling for the all-pairs ground-truth paths. 20k rows ≈ 2·10⁸
#: candidate pairs — already painful, and anything bigger means the
#: caller almost certainly wanted the LSH/banded scale path instead.
ALL_PAIRS_MAX_ROWS = 20_000


def guard_all_pairs(df: DataFrame, what: str, *, max_rows: int = ALL_PAIRS_MAX_ROWS, force: bool = False) -> DataFrame:
    """Refuse to build an O(n²) self-join over more than ``max_rows``
    rows unless ``force=True``. The all-pairs forms exist as sf-bounded
    ground truth for oracles and recall gates; this guard makes it
    impossible to point one at a production-sized table by accident
    (the count is an eager action — deliberate: a cheap narrow count
    beats an accidental 10¹⁶-pair cross join). The scale paths
    (minhash_lsh_pairs, simhash banding, embedding LSH banding) have
    no such ceiling."""
    if not force:
        n_rows = df.count()
        if n_rows > max_rows:
            raise ValueError(
                f"{what}: refusing all-pairs O(n²) over {n_rows} rows "
                f"(> {max_rows}); use the LSH/banded scale path, or pass "
                f"force=True if this is a deliberate ground-truth run"
            )
    return df


def all_pairs_jaccard(
    df: DataFrame, id_col: str, text_col: str, threshold: float, n: int = 3,
    *, force: bool = False,
) -> DataFrame:
    """EXACT all-pairs shingle-set Jaccard ≥ threshold — the
    ground-truth near-dup definition, oracle / recall-gate path only;
    the scale path is minhash_lsh_pairs. Guarded: raises above
    ALL_PAIRS_MAX_ROWS rows unless force=True.

    Candidate generation is prefix-filtered (SSJoin / "Scaling Up All
    Pairs Similarity Search", Bayardo et al. WWW 2007), NOT a blind
    n²/2 self-join — with verification unchanged the output is
    bit-identical to the brute-force form (property-pinned against an
    inline brute-force join in test_llm_ops), but the r10 census's
    554 s at sf0.1 drops to tens of seconds:

    - every shingle set is sorted by ascending document frequency
      (rarest first; ties by token — a deterministic total order);
    - J(a,b) ≥ t forces |a∩b| ≥ t·max(|a|,|b|), so a matching pair
      must share a token inside each side's first
      sz − ⌈t·sz⌉ + 1 tokens (the prefix) — all-common-in-the-suffix
      would cap the overlap below ⌈t·sz⌉;
    - candidates = prefix-token equi-join (+ the size filter
      t·sz_a ≤ sz_b ≤ sz_a/t, also implied by J ≥ t), then the same
      exact jaccard_set verify as before.

    Float care: ⌈t·sz⌉ computed as ceil(t·sz − 1e-9) — an upward
    float error at an integer boundary would SHORTEN the prefix and
    drop true pairs; the epsilon can only lengthen it (admitting a
    spurious candidate, which verify discards). The guard stays:
    adversarial corpora (all docs identical) still verify
    quadratically — this is a verification artifact, not a scale
    path."""
    # The prefix-filter lemma needs t ∈ (0, 1]: at t = 0 every pair
    # qualifies including shingle-DISJOINT ones, which no equi-join on
    # a shared token can emit (and "all pairs of the corpus" needs no
    # similarity machinery anyway); t > 1 makes the prefix length
    # non-positive (F.slice would raise mid-job). Fail loud at
    # declaration instead of silently under-reporting. (r11 review)
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"all_pairs_jaccard: threshold must be in (0, 1], got "
            f"{threshold}"
        )
    guard_all_pairs(df, "all_pairs_jaccard", force=force)
    t = track(
        df.select(F.col(id_col).alias("id"), shingles(text_col, n).alias("s"))
    )
    toks = t.select("id", F.explode_outer("s").alias("tok")).where(
        F.col("tok").isNotNull()
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("dfq"))
    ordered = (
        toks.join(dfreq, "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("dfq", "tok"))).alias("os"))
    )
    plen = (
        F.size("os")
        - F.ceil(F.lit(threshold) * F.size("os") - F.lit(1e-9)).cast("int")
        + F.lit(1)
    )
    ptoks = (
        ordered.select(
            "id", F.size("os").alias("sz"), F.explode(F.slice("os", F.lit(1), plen)).alias("p")
        )
        .select("id", "sz", F.col("p.tok").alias("tok"))
    )
    pa, pb = ptoks.alias("pa"), ptoks.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.id") < F.col("pb.id"))
            & (F.col("pa.sz") >= F.col("pb.sz") * threshold - F.lit(1e-9))
            & (F.col("pb.sz") >= F.col("pa.sz") * threshold - F.lit(1e-9)),
        )
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct()
    )
    jac = jaccard_set(F.col("sa"), F.col("sb"))
    out = (
        cand.join(t.select(F.col("id").alias("id_a"), F.col("s").alias("sa")), "id_a")
        .join(t.select(F.col("id").alias("id_b"), F.col("s").alias("sb")), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    # Declaration-time tripwire: downstream POLICY operators (the
    # clustering entry points) refuse frames carrying this marker —
    # all-pairs edges are sf-bounded ground truth, never a clustering
    # input (r10 census: two policy queries silently fed by this path
    # cost ~455 s each at sf0.1). Two layers (r11 review): COLUMN
    # METADATA on id_a survives the idioms that launder a plain Python
    # attribute — select/filter/persist/cache.track, even a parquet
    # round-trip — while the attribute still catches the frame itself.
    # A rename/rebuild of id_a can still strip it; the guard is a
    # tripwire, not a security boundary.
    out = out.withMetadata("id_a", {"oamap_all_pairs_edges": True})
    out._oamap_all_pairs_edges = True
    return out


def shingle_ids_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """The shared narrow (id, shingle-ids) table every shingle-based
    dedup detector starts from — tokenize (one md5 per token), combine
    into n-shingle ids. Build it ONCE per corpus snapshot and pass it to
    ``minhash_lsh_pairs`` / ``containment_pairs`` via ``ids_df`` when
    running several detectors over the same corpus (the all-signals
    composition) — otherwise each detector re-scans and re-tokenizes
    the corpus. The frame is NOT persisted: a caller that reads it more
    than once wraps the call in ``cache.track`` (and owns that
    lifetime); a single reader (a write to the persisted index) pays
    no cache fill. At 100 TB the equivalent move is materializing this
    table to storage once."""
    return df.select(
        F.col(id_col).alias("id"), token_id_array(text_col).alias("tids")
    ).select("id", combine_shingle_ids("tids", n).alias("ids"))


def flagged_shingle_ids_table(
    df: DataFrame, id_col: str, text_col: str, new_col: str | None = None, n: int = 3
) -> DataFrame:
    """(id, is_new, ids) — :func:`shingle_ids_table` with the arrival
    flag riding the narrow tokenize pass (no extra join or shuffle).
    Build ONCE per arrival batch and pass to BOTH incremental lexical
    detectors via ``ids_df`` so the corpus is tokenized once, not once
    per detector — at 100 TB the (id, ids) half is the persisted
    signature index and only arrival rows are new work per batch.

    ``new_col=None`` flags every row new with the literal true, which
    the probes' filters fold: the batch detectors and the arrival half
    of a steady probe. A null ``new_col`` flag fails loudly
    in-plan (the guard rides the is_new expression, which the probe
    filter / pair-direction predicate evaluate on every row): a
    silently-null flag would demote an arrival to corpus status and
    quietly skip its dedup — the same fail-loud convention as
    epoch_shuffle's key guards. Untracked, like
    :func:`shingle_ids_table`."""
    if new_col is None:
        is_new = F.lit(True)
    else:
        is_new = F.when(
            F.col(new_col).isNull(),
            F.raise_error(
                F.lit(f"incremental dedup: null {new_col} arrival flag")
            ).cast("boolean"),
        ).otherwise(F.col(new_col).cast("boolean"))
    return df.select(
        F.col(id_col).alias("id"),
        is_new.alias("is_new"),
        token_id_array(text_col).alias("tids"),
    ).select("id", "is_new", combine_shingle_ids("tids", n).alias("ids"))


def steady_ids_with_arrivals(
    arrivals: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The ``ids_df`` of a steady-state probe: the arrival batch's
    flagged shingle table (tokenizes ONLY the arrivals) plus its
    :func:`signature_table` ``sig``, unioned under the persisted corpus
    index reader (``index_df``: an (id, ids, sig) parquet scan, flagged
    ``is_new=False`` here). The is_new flags are literals, which the
    probes' filters fold, so each half of the union prunes away
    wherever only one side is consumed; a consumer that reads no
    ``sig`` prunes the arrivals' minhashes away too. The arrivals'
    shingle table is tracked: the probe's band and verify branches
    both read it (caller owns the lifetime)."""
    arr_ids = track(flagged_shingle_ids_table(arrivals, id_col, text_col, n=n))
    return index_df.select(
        "id", F.lit(False).alias("is_new"), "ids", "sig"
    ).unionByName(signature_table(arr_ids))


def pair_once_from_probe() -> Column:
    """Join predicate fragment ensuring each arrival-touching pair is
    generated exactly ONCE from the probe side: a (new, old) pair can
    only surface from its new member (any ordering allowed); a
    (new, new) pair would surface from both members, so only the
    id_a < id_b direction is kept. With every row new (the batch
    detectors) it folds to ``x.id < y.id``. Exactness matters beyond
    wasted work where the pair row carries a count (containment's
    shared_kept feeds the upper-bound prune; double counting would
    weaken the prune and re-admit the candidate mass it exists to
    drop). Expects the join to use aliases ``x`` (probe, new rows
    only) and ``y`` (full table with ``is_new``)."""
    return F.when(
        F.col("y.is_new"), F.col("x.id") < F.col("y.id")
    ).otherwise(F.col("x.id") != F.col("y.id"))


def _jaccard_verify(cand: DataFrame, ids_df: DataFrame, threshold: float) -> DataFrame:
    """Shared exact-Jaccard verify tail of the minhash pair builders:
    join candidate ids back to the cached shingle-id sets (id-set
    Jaccard == string-set Jaccard modulo 2⁻³¹ hash collisions; the
    oracle replays the identical ids) and keep pairs ≥ threshold."""
    sets = ids_df.select("id", F.col("ids").alias("s"))
    return (
        cand.join(
            sets.withColumnRenamed("id", "id_a").withColumnRenamed("s", "s_a"), "id_a"
        )
        .join(
            sets.withColumnRenamed("id", "id_b").withColumnRenamed("s", "s_b"), "id_b"
        )
        .withColumn("jaccard", jaccard_set(F.col("s_a"), F.col("s_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# The ONE MinHash signature length every persisted signature index
# and every probe must share (ADVICE r11 #3: a layout hard-coded at
# each persisting call site while the probes relied on the function
# defaults would silently desync the persisted index from the probe
# and drop pairs). The index persists ``sig`` (signature_table) and
# every probe bands it at probe time, so only k is persisted; the
# pair functions' keyword defaults stay literal (16/2) and tests pin
# that they agree.
MINHASH_K = 16
BAND_ROWS = 2
N_BANDS = MINHASH_K // BAND_ROWS


def _explode_bands(sig_df: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """Explode a signature table into one row per LSH band. Every
    column except ``sig`` is carried through unchanged, plus
    (band_idx, band_key). Band keys are string "sig_i ∘ sig_{i+1}"
    concatenations (no modular-combine overflow, portable to SQL) —
    the single source of the band layout shared by the batch and
    incremental pair builders, so the oracle replay stays in lockstep
    with both. The bands are one parsed expression."""
    keep = [c for c in sig_df.columns if c != "sig"]
    bands = ", ".join(
        f"named_struct('band_idx', {i}, 'band_key', concat_ws('_', "
        + ", ".join(f"sig[{i * rows_per_band + r}]" for r in range(rows_per_band))
        + "))"
        for i in range(n_bands)
    )
    return sig_df.select(*keep, F.expr(f"explode(array({bands})) AS band")).select(
        *keep, "band.band_idx", "band.band_key"
    )


def signature_table(ids_df: DataFrame) -> DataFrame:
    """A shingle-id table (id, ..., ids) plus its ``MINHASH_K``-long
    MinHash signature ``sig``: the persisted signature index layout,
    whose bands every MinHash probe explodes at probe time."""
    return ids_df.select("*", minhash_signature("ids", MINHASH_K).alias("sig"))


def _minhash_probe_pairs(
    ids_df: DataFrame,
    k: int,
    rows_per_band: int,
    threshold: float,
    bucket_cap: int | None = None,
) -> DataFrame:
    """The one MinHash band-candidate builder: arrival bands (``is_new``)
    probe the full band table, and candidates are verified with exact
    shingle Jaccard. ``ids_df`` is (id, is_new, ids[, sig]); rows
    without a stored ``sig`` are hashed here. ``bucket_cap`` applies
    the star fallback of :func:`minhash_lsh_pairs`, whose rows are all
    new."""
    if "sig" not in ids_df.columns:
        ids_df = ids_df.select("*", minhash_signature("ids", k).alias("sig"))
    elif k != MINHASH_K:
        raise ValueError(
            f"minhash pairs: ids_df carries a stored sig of "
            f"MINHASH_K={MINHASH_K} minhashes, which k={k} cannot band"
        )
    bands = _explode_bands(
        ids_df.select("id", "is_new", "sig"), k // rows_per_band, rows_per_band
    )
    star = None
    if bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_idx", "band_key")
        annot = bands.withColumn("cnt", F.count(F.lit(1)).over(w)).withColumn(
            "bmin", F.min("id").over(w)
        )
        bands = annot.where(F.col("cnt") <= bucket_cap).drop("cnt", "bmin")
        star = (
            annot.where((F.col("cnt") > bucket_cap) & (F.col("id") != F.col("bmin")))
            .select(F.col("bmin").alias("id_a"), F.col("id").alias("id_b"))
        )
    cand = (
        bands.where(F.col("is_new"))
        .select("id", "band_idx", "band_key")
        .alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & pair_once_from_probe(),
        )
        .select(
            F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
            F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
        )
    )
    if star is not None:
        cand = cand.unionByName(star)
    return _jaccard_verify(cand.distinct(), ids_df, threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.9,
    n: int = 3,
    bucket_cap: int | None = None,
    ids_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs over n-token shingles, verified with
    exact shingle Jaccard: the arrival probe of
    :func:`minhash_lsh_pairs_incremental` with every row new, where
    the pair-once predicate folds to ``x.id < y.id``. Bands use string
    keys "sig_i ∘ sig_{i+1}" (no modular-combine overflow, portable to
    SQL); the verify join reads only the shingle-id sets, not the
    k-hash signature subtree.

    ``bucket_cap`` is the 100 TB skew guard: a band bucket larger than
    the cap (a boilerplate cluster — thousands of near-identical docs
    sharing every band) would otherwise quadratic-blow its reducer
    (s² pairs on ONE key, unsplittable by AQE). Capped buckets emit a
    star — every member paired with the bucket's min id — which is
    linear in bucket size and keeps the duplicate group fully
    connected for downstream clustering (connected components recovers
    the same groups), at the cost of no longer listing every pairwise
    edge inside the giant bucket. None (default) = exact pair list,
    the oracle-checkable form.

    ``ids_df``: optionally pass a precomputed :func:`shingle_ids_table`
    (MUST be built with the same ``n``) so multi-detector pipelines
    tokenize the corpus once instead of once per detector.
    """
    # One narrow, persisted shingle-id table feeds everything: the md5
    # pass runs once per token (token_id_array), shingle ids are pure
    # modular arithmetic (combine_shingle_ids), and the persist means
    # the band join and both verify joins read cached arrays
    # instead of re-tokenizing the corpus per plan branch (4 branches
    # → measured ~8× at sf0.1). At 100 TB the equivalent move is
    # materializing this signature table to storage once per corpus
    # snapshot. The CALLER owns the cache lifetime: the returned
    # DataFrame is lazy, so unpersisting here would defeat the reuse —
    # long-lived sessions (bench sweeps, notebooks) should
    # spark.catalog.clearCache() between invocations (bench.py does).
    # The two-step selects are deliberate projection
    # boundaries: inlining `tids` into the shingle lambda or `ids`
    # into the k minhash expressions re-evaluates the hash subtree per
    # reference (measured 12–14× slower).
    if ids_df is None:
        ids_df = track(flagged_shingle_ids_table(df, id_col, text_col, n=n))
    else:
        ids_df = ids_df.withColumn("is_new", F.lit(True))
    return _minhash_probe_pairs(ids_df, k, rows_per_band, threshold, bucket_cap)


def minhash_lsh_pairs_incremental(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    new_col: str,
    k: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.9,
    n: int = 3,
    ids_df: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash+LSH: near-dup pairs that involve AT LEAST
    ONE new document — the continuous-ingestion shape, where an
    arrival batch is deduped against the accumulated corpus WITHOUT
    ever forming a corpus×corpus candidate.

    The band join is asymmetric: the left side keeps only arrival
    bands (``new_col`` true), the right side is the full band table,
    so a bucket with s members and m arrivals costs m·s candidate
    rows instead of s²/2 — and with |arrivals| ≪ |corpus| (the steady
    state) the whole run is linear in corpus size. At 100 TB the
    corpus half of the band table comes from the persisted signature
    index (built once per corpus snapshot, cf. shingle_ids_table);
    only arrival signatures are new work per batch. The boolean flag
    rides the narrow tokenize→shingle→signature pipeline, so there is
    no extra join or shuffle versus the batch form.

    Output pairs are normalized (id_a < id_b) and verified with exact
    shingle Jaccard by the same candidate builder as
    :func:`minhash_lsh_pairs` (which flags every row new): the result
    equals the batch pair list filtered to pairs touching an arrival
    (restriction commutes with banding — a pair's band collision does
    not depend on which pipeline found it), which is exactly what the
    SQL oracle replays.

    Boilerplate-cluster skew: an over-sized band bucket costs m·s
    here — linear in corpus bucket size, not quadratic. If the
    arrivals THEMSELVES form giant clusters, run the bucket_cap star
    of :func:`minhash_lsh_pairs` over the arrivals-only sub-table
    first and feed survivors here.

    ``ids_df``: optionally pass a precomputed
    :func:`flagged_shingle_ids_table` (same ``n``; columns
    (id, is_new, ids)) so multi-detector incremental pipelines
    tokenize the batch+corpus once, and so steady-state callers can
    feed the persisted corpus index unioned with fresh arrival rows
    instead of re-deriving everything from text.

    When ``ids_df`` carries a ``sig`` column (a persisted
    :func:`signature_table` index, e.g. via
    :func:`steady_ids_with_arrivals`, whose arrival half hashes only
    the arrivals), the bands are exploded from it: the corpus half of
    the band join is a pure columnar scan instead of the k minhashes
    over every corpus ids row per batch (the O(corpus) CPU term the
    r11 clustering curve measured, 0.068 ms/doc/batch). A stored
    ``sig`` is ``MINHASH_K`` long, so ``k`` must equal it. Without
    ``sig``, every row is hashed here. Signatures are deterministic
    per document, so the pair output is identical either way.
    """
    if df is None and ids_df is None:
        raise ValueError(
            "minhash_lsh_pairs_incremental: df=None is the steady-state "
            "form and requires ids_df (the persisted index unioned with "
            "the arrival rows)"
        )
    if ids_df is None:
        ids_df = track(flagged_shingle_ids_table(df, id_col, text_col, new_col, n))
    return _minhash_probe_pairs(ids_df, k, rows_per_band, threshold)


def ngram_window_overlap(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Exact duplicated-substring signal: for each document, how many
    of its distinct n-token windows also occur in at least one OTHER
    document (Lee et al. 2022's exact-substring dedup, arXiv:
    2107.06499, restricted to fixed-length windows so it stays a pure
    equi-join — no suffix array needed).

    Scale shape: one narrow token pass per doc builds int64 window ids
    (modular polynomial over token ids — no per-window hashing); only
    (doc_id, window_id) pairs ever shuffle. The duplicated-window set
    is found with one groupBy on the 8-byte window id; texts never
    leave their partitions. Complements MinHash (whole-doc near-dup)
    with within-doc contamination: a 1% boilerplate footer shared by
    millions of docs is invisible at Jaccard 0.9 but lights up here.

    Output: one row per document that has at least one window —
    (id, n_windows, n_dup_windows, dup_ratio)."""
    # One narrow, PERSISTED window-id table feeds both consumers (the
    # explode below and the final n_windows join) — unpersisted, the
    # md5 tokenize pass would run once per plan branch. Caller owns
    # the cache lifetime (cache.track), same as shingle_ids_table.
    ids = track(
        df.select(
            F.col(id_col).alias("id"), token_id_array(text_col).alias("tids")
        ).select("id", combine_shingle_ids("tids", n).alias("wids"))
    )
    # explode_outer + null filter, NOT plain explode: a plain explode
    # triggers InferFiltersFromGenerate — Catalyst infers
    # size(wids) > 0, pushes it below the projections, and inlines the
    # FULL window expression (md5 token transform re-evaluated per
    # element_at reference) into a per-row Filter. Measured 60× on the
    # identical shape in positional_window_table (commit f86e8e3).
    # The outer explode infers no filter; a windowless doc emits one
    # null row that the cheap attribute filter drops — output rows
    # are identical to the plain-explode form.
    exploded = ids.select("id", F.explode_outer("wids").alias("wid")).where(
        F.col("wid").isNotNull()
    )
    shared = (
        exploded.groupBy("wid")
        .agg(F.count_distinct("id").alias("ndocs"))
        .where(F.col("ndocs") > 1)
        .select("wid")
    )
    dup_counts = (
        exploded.join(shared, "wid")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        ids.select("id", F.size("wids").alias("n_windows"))
        .join(dup_counts, "id", "left")
        .select(
            "id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"), 4
            ).alias("dup_ratio"),
        )
    )


def positional_window_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """The (id, pos, wid) positional window-id table of
    :func:`duplicated_span_removal` — factored out so the steady-state
    form can PERSIST it as the corpus index and probe it with arrival
    batches, guaranteed to be built by the same tokenize/polynomial
    machinery as the in-operator path (no drift possible).

    tids projected FIRST: element_at in the window lambda re-evaluates
    its argument subtree, so an inline md5 transform would run n× per
    window (combine_shingle_ids' measured 12× trap).

    explode_outer + post-generate null filter, NOT plain explode: on a
    plain explode Catalyst's InferFiltersFromGenerate infers
    ``size(pw) > 0`` and pushes it below the projections, substituting
    the FULL window expression — with the md5 token transform inlined
    once per element_at reference — into a per-row Filter. Measured
    95 s vs 1 s at sf0.1 for this standalone table (the in-operator
    path dodges it because consumers prune the struct first). The
    outer explode infers no filter; empty-window docs emit one null
    row that the cheap attribute filter drops, so the output is
    identical."""
    from oamap_spark.functions.text import positional_window_ids

    return (
        df.select(F.col(id_col).alias("id"), token_id_array(text_col).alias("tids"))
        .select("id", positional_window_ids("tids", n).alias("pw"))
        .select("id", F.explode_outer("pw").alias("w"))
        .where(F.col("w").isNotNull())
        .select("id", F.col("w.pos").alias("pos"), F.col("w.wid").alias("wid"))
    )


def duplicated_span_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    probe_ids: DataFrame | None = None,
    w_df: DataFrame | None = None,
) -> DataFrame:
    """Duplicated-span REMOVAL — the surgery step of exact-substring
    dedup (Lee et al. 2022, arXiv:2107.06499): where
    :func:`ngram_window_overlap` only FLAGS contamination, this cuts
    it. Every n-token window occurring in more than one document is a
    duplicated window; per document, overlapping-or-adjacent
    duplicated windows merge into spans, the spans' tokens are
    removed, and the remainder is reassembled.

    Scale shape (all per-doc work stays partitioned by doc):
    1. one narrow token pass builds positional int64 window ids
       (modular polynomial — no per-window hashing);
    2. the shared-window set is one groupBy on the 8-byte wid; only
       (id, pos, wid) triples ever shuffle, texts stay put;
    3. span merge is a lag window PARTITIONED BY doc (a new span
       starts when the gap between consecutive duplicated window
       starts exceeds n);
    4. covered token positions materialize at ≤ n rows per duplicated
       window, and the kept text is rebuilt natively:
       ``transform(array_except(sequence(1, T), covered), p ->
       toks[p])`` — O(T) per doc, no UDF anywhere.

    Output: one row per document —
    (id, n_tokens, n_spans_cut, kept_char_len, cleaned_digest) where
    cleaned_digest = md5 of the space-rejoined kept tokens (md5('')
    for a fully-duplicated document). A real pipeline writes the
    cleaned text itself; the digest is the verifiable stand-in that
    keeps the gate engine-neutral.

    ``probe_ids`` (one ``id`` column) restricts the expensive per-doc
    tail — span merge, coverage, rebuild — to those documents: the
    incremental shape, where only an arrival batch needs surgery but
    the shared-window set still reflects the whole corpus (at scale
    the corpus half of the window-id table is the persisted index,
    exactly like the band/posting indexes of the other incremental
    twins). The output equals the full run filtered to ``probe_ids``
    (restriction commutes with the shared-set computation, which is
    never restricted).

    ``w_df`` (id, pos, wid) replaces the internal window-table build —
    the STEADY-STATE seam: a daily pipeline persists the corpus half
    of the window table once (:func:`positional_window_table`) and
    passes index ∪ arrival-windows here, so corpus text is never
    re-tokenized. ``df`` then only needs to cover the documents whose
    output rows are wanted (the arrivals), since toks/T feed nothing
    but the per-probe-doc rebuild."""
    from pyspark.sql import Window

    # toks/T branch carries NO md5 work; the (id, pos, wid) window
    # table is built in its own tokenize pass and persisted, so the
    # per-token md5 runs ONCE even though three consumers (shared set,
    # span merge, coverage) branch from it
    t = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("toks")
    ).withColumn("T", F.size("toks"))
    w = track(
        w_df if w_df is not None
        else positional_window_table(df, id_col, text_col, n)
    )
    shared = (
        w.groupBy("wid")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("wid")
    )
    if probe_ids is not None:
        probe = probe_ids.select(F.col(probe_ids.columns[0]).alias("id"))
        t = t.join(probe, "id", "left_semi")
    # dupw feeds BOTH the span count and the coverage explode —
    # persist it or the wid groupBy+join (the operator's only
    # shuffle-heavy stage) executes twice
    dupw = w.join(shared, "wid").select("id", "pos")
    if probe_ids is not None:
        dupw = dupw.join(probe, "id", "left_semi")
    dupw = track(dupw)
    ws = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(ws)
    flagged = dupw.withColumn(
        "f",
        F.when(prev.isNull() | (F.col("pos") > prev + n), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    nspans = flagged.groupBy("id").agg(
        F.sum("f").cast("long").alias("n_spans_cut")
    )
    cov = (
        dupw.select(
            "id", F.explode(F.sequence("pos", F.col("pos") + (n - 1))).alias("tp")
        )
        .groupBy("id")
        .agg(F.collect_set("tp").alias("cov"))
    )
    # guard T=0: Spark's sequence(1, 0) counts DOWN ([1, 0]), it does
    # not return empty — an empty doc must yield an empty position set
    all_pos = F.when(
        F.col("T") >= 1, F.sequence(F.lit(1), F.col("T"))
    ).otherwise(F.array().cast("array<int>"))
    kept = F.transform(
        F.array_except(all_pos, F.coalesce("cov", F.array().cast("array<int>"))),
        lambda p: F.element_at(F.col("toks"), p),
    )
    cleaned = F.array_join(kept, " ")
    return (
        t.join(nspans, "id", "left")
        .join(cov, "id", "left")
        .select(
            "id",
            F.col("T").cast("long").alias("n_tokens"),
            F.coalesce("n_spans_cut", F.lit(0)).cast("long").alias("n_spans_cut"),
            F.length(cleaned).cast("long").alias("kept_char_len"),
            F.md5(cleaned).alias("cleaned_digest"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int = 16,
    ids_df: DataFrame | None = None,
) -> DataFrame:
    """Near-INCLUSION dedup: pairs whose smaller shingle set is mostly
    inside the other's — containment C = |A∩B| / min(|A|, |B|) ≥
    ``threshold``. This is the doc-in-doc duplication Jaccard
    structurally misses: a document quoted whole inside a 10× longer
    one has J = |A∩B|/|A∪B| ≤ |A|/|B| ≈ 0.1 (no minhash band ever
    fires) but C ≈ 1.0.

    Candidates come from a DF-capped inverted index instead of minhash
    bands (bands estimate Jaccard, the wrong similarity here). The
    batch form is the arrival probe of
    :func:`containment_pairs_incremental` with every row new, where
    the pair-once predicate folds to ``x.id < y.id``. Postings (sid,
    id) carry ids only, never text; postings on shingles with document
    frequency above ``df_cap`` are DROPPED — the 100 TB skew guard. A
    boilerplate shingle shared by millions of docs would otherwise
    contribute df² candidate pairs on one key; dropping it loses only
    pairs whose ENTIRE overlap is boilerplate — exactly the pairs
    containment dedup exists to ignore. Candidate volume is bounded
    by df_cap · |postings|, and the exact verify runs only on
    candidates that survive the upper-bound prune.

    Recall caveat (documented, deliberate): a true containment pair
    sharing ONLY df-capped shingles is missed. Completeness within the
    guard: any pair sharing ≥ 1 sub-cap shingle is a candidate, and
    the exact verify decides — so unlike minhash there is no
    probabilistic miss on candidate pairs.

    ``ids_df``: optionally pass a precomputed :func:`shingle_ids_table`
    (MUST be built with the same ``n``) so multi-detector pipelines
    tokenize the corpus once instead of once per detector."""
    if ids_df is None:
        ids_df = track(flagged_shingle_ids_table(df, id_col, text_col, n=n))
    else:
        ids_df = ids_df.withColumn("is_new", F.lit(True))
    return containment_pairs_incremental(
        None, id_col, text_col, "is_new", n, threshold, df_cap, ids_df
    )


def _containment_prune_verify(
    cand: DataFrame, stats: DataFrame, sets_df: DataFrame, threshold: float
) -> DataFrame:
    """The containment tail over per-doc stats (id, sz, capped):
    integer upper-bound prune, then exact array verify on survivors
    only. ``sets_df`` carries (id, ids) for that verify.

    The prune loses no recall: containment = (shared_kept +
    shared_capped) / min(|A|, |B|) and shared_capped ≤ min(capped_A,
    capped_B), so any pair whose BOUND (shared_kept + min(capped)) /
    min(size) is below the threshold can be dropped on integer
    columns alone — the candidate join's groupBy count gives
    shared_kept for free, and the wide shingle arrays only ship for
    survivors. On a small-vocab corpus where docs share shingles by
    chance this prunes ~all of the candidate mass (sf0.1: 1.16M
    pair-sid incidences → a handful of verified pairs); on a real
    heavy-tailed corpus it is the same prune prefix-filter joins use.
    :func:`containment_pairs_incremental` derives the stats from its
    kept postings; the steady-state form from its persisted corpus
    tables."""
    bound = (
        F.col("shared_kept") + F.least("capped_a", "capped_b")
    ).cast("double") / F.least("sz_a", "sz_b")
    pruned = (
        cand.join(
            stats.select(
                F.col("id").alias("id_a"),
                F.col("sz").alias("sz_a"),
                F.col("capped").alias("capped_a"),
            ),
            "id_a",
        )
        .join(
            stats.select(
                F.col("id").alias("id_b"),
                F.col("sz").alias("sz_b"),
                F.col("capped").alias("capped_b"),
            ),
            "id_b",
        )
        .where(bound >= threshold)
        .select("id_a", "id_b")
    )
    sets = sets_df.select("id", F.col("ids").alias("s"))
    inter = F.size(F.array_intersect(F.col("s_a"), F.col("s_b")))
    cont = inter.cast("double") / F.least(F.size("s_a"), F.size("s_b"))
    return (
        pruned.join(
            sets.withColumnRenamed("id", "id_a").withColumnRenamed("s", "s_a"), "id_a"
        )
        .join(
            sets.withColumnRenamed("id", "id_b").withColumnRenamed("s", "s_b"), "id_b"
        )
        .withColumn("containment", cont)
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )


def containment_pairs_incremental(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    new_col: str,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int = 16,
    ids_df: DataFrame | None = None,
) -> DataFrame:
    """Incremental containment dedup: doc-in-doc pairs touching at
    least one new document. The posting join is asymmetric — the
    probe side keeps only ARRIVAL postings, so a sub-cap shingle with
    df members and m arrival postings contributes m·df candidate
    incidences instead of df²/2, and corpus×corpus candidates never
    form (linear in corpus size at steady state, like
    :func:`minhash_lsh_pairs_incremental`).

    Pair-direction discipline: a (new, old) pair can only surface
    from its new side, so any ordering is allowed there; a
    (new, new) pair would surface from BOTH sides, so the probe keeps
    only the id_a < id_b direction — this keeps ``shared_kept`` an
    exact per-pair count (double-counting would inflate the
    upper-bound prune, not just waste work). :func:`containment_pairs`
    is this probe with every row new, so the output equals the batch
    pair list restricted to arrival-touching pairs — what the SQL
    oracle replays.

    ``ids_df``: optionally pass a precomputed
    :func:`flagged_shingle_ids_table` (same ``n``), shared with
    :func:`minhash_lsh_pairs_incremental` so incremental
    multi-detector pipelines tokenize the batch+corpus once."""
    if df is None and ids_df is None:
        raise ValueError(
            "containment_pairs_incremental: df=None is the steady-state "
            "form and requires ids_df (the persisted index unioned with "
            "the arrival rows)"
        )
    if ids_df is None:
        ids_df = track(flagged_shingle_ids_table(df, id_col, text_col, new_col, n))
    post = ids_df.select("id", "is_new", F.explode("ids").alias("sid"))
    dfreq = post.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    # THREE consumers re-evaluate this subtree otherwise (the probe,
    # the build side and the kc aggregation of the prune stats): the
    # persist runs the explode + df aggregation + cap join once
    # (caller owns the lifetime via cache.track, like the shingle
    # tables)
    kept = track(
        post.join(dfreq.where(F.col("df") <= df_cap).select("sid"), "sid")
    )
    probe = kept.where(F.col("is_new")).select("id", "sid")
    build = kept.select("id", "is_new", "sid")
    cand = (
        probe.alias("x")
        .join(
            build.alias("y"),
            (F.col("x.sid") == F.col("y.sid")) & pair_once_from_probe(),
        )
        .groupBy(
            F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
            F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_kept"))
    )
    stats = ids_df.select("id", F.size("ids").alias("sz")).join(
        kept.groupBy("id").agg(F.count(F.lit(1)).alias("kc")), "id", "left"
    ).select(
        "id", "sz", (F.col("sz") - F.coalesce("kc", F.lit(0))).alias("capped")
    )
    return _containment_prune_verify(
        cand, stats, ids_df.select("id", "ids"), threshold
    )


def containment_corpus_tables(
    corpus_ids: DataFrame, df_cap: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus-side inputs of :func:`containment_pairs_incremental_steady`
    derived from a shingle-id table (id, ids): postings (id, sid),
    document frequencies (sid, df) and per-doc stats (id, sz, kc_base),
    where kc_base counts a doc's postings on sids with df ≤ ``df_cap``
    as sz minus its over-cap postings (over-cap sids are the
    boilerplate few, so that join side is small)."""
    post = corpus_ids.select("id", F.explode("ids").alias("sid"))
    dfreq = post.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    over = dfreq.where(F.col("df") > df_cap).select("sid")
    overcap = post.join(over, "sid").groupBy("id").agg(
        F.count(F.lit(1)).alias("oc")
    )
    stats = (
        corpus_ids.select("id", F.size("ids").alias("sz"))
        .join(overcap, "id", "left")
        .select(
            "id", "sz", (F.col("sz") - F.coalesce("oc", F.lit(0))).alias("kc_base")
        )
    )
    return post, dfreq, stats


def containment_pairs_incremental_steady(
    arr_ids: DataFrame,
    corpus_post: DataFrame,
    corpus_dfreq: DataFrame,
    corpus_stats: DataFrame,
    corpus_sets: DataFrame,
    threshold: float = 0.8,
    df_cap: int = 16,
) -> DataFrame:
    """STEADY-STATE incremental containment: the per-batch probe whose
    corpus-side inputs are PERSISTED tables built once per corpus
    snapshot — ``corpus_post`` (id, sid) postings, ``corpus_dfreq``
    (sid, df), ``corpus_stats`` (id, sz, kc_base) and ``corpus_sets``
    (id, ids) — so a batch never re-explodes corpus arrays,
    re-aggregates the full document frequencies, or re-materializes
    the corpus-wide kept posting set (r12, guide §2.4/§6; VERDICT r11
    "Next round #1": the O(corpus postings)-per-batch terms left after
    the r11 persist become O(arrival-touched postings) + narrow
    columnar corpus scans).

    Output is EXACTLY :func:`containment_pairs_incremental` over
    corpus ∪ arrivals (what the SQL oracle replays). The argument:

    - df ⊕: df_total(sid) = df_corpus(sid) + df_arrival(sid). Every
      shared sid of an arrival-touching pair lies in the arrival doc,
      so candidates and shared_kept counts only ever need kept status
      on ARRIVAL-TOUCHED sids: ``corpus_dfreq`` is joined against the
      (arrival-bounded) arrival dfreq, never re-derived.
    - probe = arrival postings on kept sids; build = corpus postings
      restricted to those same sids ∪ probe — the arrival-restricted
      semi-join: corpus postings stream through the join, and corpus
      postings on untouched sids never enter the candidate join (they
      could not match the probe anyway).
    - kc (kept-postings count per doc, feeding the upper-bound prune;
      ``capped = sz − kc``): arrival docs count their kept postings
      directly (all their sids are touched). Corpus docs use the
      persisted baseline kc_base = #postings with df_corpus ≤ cap,
      minus their postings on CROSSER sids — sids with
      df_corpus ≤ cap < df_total. Arrivals only ever ADD df, so kept
      status flips in exactly one direction and crossers are
      arrival-touched by construction; kc_base − crossed therefore
      equals the batch kc exactly (pinned by the cap-crossing
      property test in tests/test_llm_ops.py).

    The corpus tables come from :func:`containment_corpus_tables`, which
    MUST have been given this same ``df_cap``.
    """
    arr_post = arr_ids.select("id", F.explode("ids").alias("sid"))
    arr_dfreq = arr_post.groupBy("sid").agg(F.count(F.lit(1)).alias("adf"))
    # df ⊕ on arrival-touched sids that EXIST in the corpus: one
    # narrow scan of the persisted corpus dfreq joined to the
    # BROADCAST arrival dfreq — the arrival-restricted semi-join shape
    # (guide §3.2: broadcast the distinct-key side; arrivals ≪ corpus
    # is the steady-state contract, and Catalyst's estimate of an
    # aggregation over a cached frame is too pessimistic to pick the
    # broadcast itself). Arrival sids ABSENT from the corpus need no
    # row here: they are kept iff adf ≤ cap and can never cross (no
    # corpus postings to adjust).
    matched = track(
        corpus_dfreq.join(F.broadcast(arr_dfreq), "sid").select(
            "sid", F.col("df").alias("cdf"), "adf"
        )
    )
    # per-touched-corpus-sid verdicts, restricted to the two classes
    # any downstream consumer needs: KEPT (dft ≤ cap → candidate build
    # side) and CROSSED (cdf ≤ cap < dft → kc adjustment). Sids
    # already over the cap in the corpus alone match neither and are
    # dropped HERE — their (unbounded, boilerplate-sized) posting
    # lists must never be pulled through the join below.
    verdicts = matched.select(
        "sid",
        ((F.col("cdf") + F.col("adf")) <= df_cap).alias("kept"),
        (
            (F.col("cdf") <= df_cap)
            & ((F.col("cdf") + F.col("adf")) > df_cap)
        ).alias("crossed"),
    ).where(F.col("kept") | F.col("crossed"))
    # ONE corpus-postings scan serves both consumers: the candidate
    # build side reads the kept rows, the kc adjustment aggregates the
    # crossed rows. The restricted result is bounded by
    # cap × |touched sids| (arrival-bounded), so it persists cheaply.
    relevant = track(corpus_post.join(F.broadcast(verdicts), "sid"))
    # arrival sid kept iff df_total ≤ cap: adf ≤ cap pre-filters, the
    # anti-join removes corpus-matched sids whose ⊕ went over
    kept_sids = (
        arr_dfreq.where(F.col("adf") <= df_cap)
        .join(
            F.broadcast(matched.where((F.col("cdf") + F.col("adf")) > df_cap).select("sid")),
            "sid",
            "left_anti",
        )
        .select("sid")
    )

    probe = track(
        arr_post.join(F.broadcast(kept_sids), "sid").select("id", "sid")
    )
    build = (
        relevant.where(F.col("kept"))
        .select("id", F.lit(False).alias("is_new"), "sid")
        .unionByName(probe.select("id", F.lit(True).alias("is_new"), "sid"))
    )
    cand = (
        probe.alias("x")
        .join(
            build.alias("y"),
            (F.col("x.sid") == F.col("y.sid")) & pair_once_from_probe(),
        )
        .groupBy(
            F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
            F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_kept"))
    )

    arr_stats = (
        arr_ids.select("id", F.size("ids").alias("sz"))
        .join(
            probe.groupBy("id").agg(F.count(F.lit(1)).alias("kc")), "id", "left"
        )
        .select(
            "id", "sz", (F.col("sz") - F.coalesce("kc", F.lit(0))).alias("capped")
        )
    )
    crossed = (
        relevant.where(F.col("crossed"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("xc"))
    )
    cor_stats = corpus_stats.join(F.broadcast(crossed), "id", "left").select(
        "id",
        "sz",
        (
            F.col("sz") - (F.col("kc_base") - F.coalesce("xc", F.lit(0)))
        ).alias("capped"),
    )
    stats = cor_stats.unionByName(arr_stats)
    sets_df = corpus_sets.select("id", "ids").unionByName(
        arr_ids.select("id", "ids")
    )
    return _containment_prune_verify(cand, stats, sets_df, threshold)
