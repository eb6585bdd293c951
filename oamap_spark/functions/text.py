"""Text-analysis column functions for LLM-pipeline workloads.

All JVM-side Catalyst expressions (no Python UDFs): tokenization,
token stats, quality signals, language-ID heuristics, fingerprints,
and the *portable hash* primitive used by the dedup family.

Portable hash: ``md5`` is identical everywhere, and its first 15 hex
digits parse into a non-negative int64 in both Spark
(``conv(x,16,10)``) and DuckDB (``('0x'||x)::BIGINT``) — verified
bit-equal. Spark-native hot paths should prefer ``xxhash64`` (one JVM
op, no hex round-trip); the md5 form exists so the DuckDB oracle can
replay the exact same computation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: products a*x with a,x < 2^31 stay < 2^62, so
# modular arithmetic never overflows int64 in either engine.
HASH_P = 2_147_483_647

# Deterministic LCG-style coefficient pairs for the minhash family
# (a odd, in [1, P); b in [0, P)) — fixed constants shared verbatim by
# the Spark expressions and the SQL oracle.
def hash_coeffs(k: int) -> list[tuple[int, int]]:
    coeffs = []
    a, b = 1103515245, 12345
    x = 42
    for _ in range(k):
        x = (a * x + b) % HASH_P
        ai = (x | 1) % HASH_P
        x = (a * x + b) % HASH_P
        bi = x
        coeffs.append((ai, bi))
    return coeffs


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (documents.text is space-separated)."""
    return F.split(col, " ")


def portable_token_id(tok: Column) -> Column:
    """64-bit-ish (60-bit) integer id of a token, identical in Spark
    and DuckDB: first 15 hex digits of md5. SQL twin:
    ``('0x' || substring(md5(t),1,15))::BIGINT``."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def token_id_mod_p(tok: Column) -> Column:
    """Token id reduced into the modular hash field."""
    return portable_token_id(tok) % HASH_P


def token_ids(text_col: Column | str, distinct: bool = True) -> Column:
    """Array of (distinct) modular token ids for a document."""
    toks = tokens(text_col)
    if distinct:
        toks = F.array_distinct(toks)
    return F.transform(toks, token_id_mod_p)


SQL_TOKEN_IDS = (
    "list_transform(list_distinct(string_split({col}, ' ')), "
    "t -> ('0x' || substring(md5(t),1,15))::BIGINT % 2147483647)"
)


def shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles of a document (the set MinHash/Jaccard
    near-dup operates on). Token-level sets are degenerate when the
    vocabulary is small — every document contains almost every word —
    while the shingle universe is |vocab|^n, so only genuine near-dups
    overlap. Documents shorter than n tokens fall back to one shingle:
    the whole token stream."""
    toks = tokens(text_col)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, gram).otherwise(F.array(F.concat_ws(" ", toks)))
    )


# DuckDB twins ({tk} = a token-list expression, usually a CTE column).
SQL_SHINGLES = (
    "list_distinct(CASE WHEN len({tk}) >= 3 "
    "THEN [{tk}[i] || ' ' || {tk}[i+1] || ' ' || {tk}[i+2] "
    "for i in range(1, len({tk}) - 1)] "
    "ELSE [array_to_string({tk}, ' ')] END)"
)
SQL_IDS_OF = (
    "list_transform({lst}, t -> ('0x' || substring(md5(t),1,15))::BIGINT % 2147483647)"
)


def _ident(name: str) -> str:
    """A column name as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _spark_window_id(tids: str, n: int) -> str:
    """Spark SQL of the n-gram id at lambda position ``i`` of the
    token-id array ``tids``: ((t_i·31 + t_{i+1}) mod P · 31 + …) mod P."""
    expr = f"element_at({tids}, i)"
    for j in range(1, n):
        expr = f"({expr} * 31 + element_at({tids}, i + {j})) % {HASH_P}"
    return expr


def token_id_array(text_col: str) -> Column:
    """Positional (non-distinct) modular token ids of the column named
    ``text_col`` — the md5 pass runs once per token; downstream shingle
    ids are pure arithmetic. One parsed expression."""
    return F.expr(
        f"transform(split({_ident(text_col)}, ' '), "
        f"t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % {HASH_P})"
    )


def combine_shingle_ids(tids: str, n: int = 3) -> Column:
    """Distinct n-gram shingle ids from the *materialized* token-id
    array column named ``tids``: id = ((t₁·31 + t₂) mod P · 31 + t₃)
    mod P — no hashing per shingle, just modular arithmetic (products
    stay < 2⁶² for int64). Documents shorter than n tokens fall back to
    one id: the polynomial fold of the whole stream. One parsed
    expression.

    `tids` MUST name a projected column, not an inline expression: each
    element_at in the lambda re-evaluates its argument subtree, so an
    inline md5-transform would run 3·|shingles| times per row
    (measured 12× slower at sf0.1)."""
    t = _ident(tids)
    return F.expr(
        f"array_distinct(CASE WHEN size({t}) >= {n} "
        f"THEN transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> {_spark_window_id(t, n)}) "
        f"ELSE array(aggregate({t}, CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * 31 + x) % {HASH_P})) END)"
    )


# DuckDB twins ({tids} = a token-id-list CTE column).
SQL_TOKEN_ID_ARRAY = (
    "list_transform(string_split({col}, ' '), "
    "t -> ('0x' || substring(md5(t),1,15))::BIGINT % 2147483647)"
)


def sql_combine_shingle_ids(tids_sql: str, n: int = 3) -> str:
    """DuckDB twin of combine_shingle_ids for any n: the same unrolled
    ((…·31 + tᵢ) mod P) polynomial per window position."""
    expr = f"{tids_sql}[i]"
    for j in range(1, n):
        expr = f"(({expr}) * 31 + {tids_sql}[i+{j}]) % {HASH_P}"
    return (
        f"list_distinct(CASE WHEN len({tids_sql}) >= {n} "
        f"THEN [{expr} for i in range(1, len({tids_sql}) - {n - 2})] "
        f"ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), {tids_sql}), "
        f"(acc, x) -> (acc * 31 + x) % {HASH_P})] END)"
    )


SQL_COMBINE_SHINGLE_IDS = sql_combine_shingle_ids("{tids}", 3)


def positional_window_ids(tids: str, n: int = 8) -> Column:
    """POSITIONAL n-gram window ids of the token-id array column named
    ``tids`` — array<struct<pos,wid>> with pos the 1-based token offset
    of each window. Same modular polynomial as
    :func:`combine_shingle_ids` but NOT distinct and with no short-doc
    fallback: a document shorter than n tokens has no n-token window,
    hence no duplicated span to cut. Positions are what span surgery
    (duplicated-span removal) needs; the distinct variant serves
    set-similarity. One parsed expression."""
    t = _ident(tids)
    return F.expr(
        f"CASE WHEN size({t}) >= {n} "
        f"THEN transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> named_struct('pos', i, 'wid', {_spark_window_id(t, n)})) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, wid: BIGINT>>) END"
    )


def sql_positional_window_ids(tids_sql: str, n: int = 8) -> str:
    """DuckDB twin of positional_window_ids: list of {pos, wid}
    structs via the same unrolled polynomial (range() is
    end-exclusive, so the last window start is len − n + 1)."""
    expr = f"{tids_sql}[i]"
    for j in range(1, n):
        expr = f"(({expr}) * 31 + {tids_sql}[i+{j}]) % {HASH_P}"
    return (
        f"CASE WHEN len({tids_sql}) >= {n} "
        f"THEN [{{'pos': i, 'wid': {expr}}} for i in "
        f"range(1, len({tids_sql}) - {n - 2})] "
        f"ELSE [] END"
    )


def fingerprint(text_col: Column | str) -> Column:
    """Order-sensitive polynomial rolling hash over tokens (mod P) —
    oamap-style document fingerprint, portable to the oracle:
    fold(h -> (h*31 + tid) % P)."""
    ids = F.transform(tokens(text_col), token_id_mod_p)
    return F.aggregate(
        ids, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % HASH_P
    )


SQL_FINGERPRINT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({col}, ' '), "
    "t -> ('0x' || substring(md5(t),1,15))::BIGINT % 2147483647)), "
    "(acc, x) -> (acc * 31 + x) % 2147483647)"
)


def fingerprint_native(text_col: Column | str) -> Column:
    """Engine-native fast fingerprint (xxhash64 of the token stream) —
    the production hot path; hash VALUES are Spark-specific, the
    duplicate grouping they induce is engine-neutral.

    The token stream is serialized with a length-prefixed (netstring)
    encoding — ``len(tok) ':' tok`` concatenated — which is injective:
    no two distinct token streams share an encoding, so fingerprint
    equality ⇔ token-stream equality on ANY corpus (ADVICE r4 #4: the
    old '\\x1f' separator collided 'a\\x1fb' with 'a b'). Since
    :func:`tokens` is an invertible single-space split, token-stream
    equality ⇔ raw-text equality, which is exactly the grouping the
    DuckDB oracle replays on the raw text."""
    enc = F.transform(
        tokens(text_col),
        lambda t: F.concat(F.length(t).cast("string"), F.lit(":"), t),
    )
    return F.xxhash64(F.concat_ws("", enc))


def minhash_signature(ids: str, k: int) -> Column:
    """k-element MinHash signature over the modular token-id array
    column named ``ids``: sig_j = min_x (a_j*x + b_j) % P. Array of
    longs. One parsed expression."""
    t = _ident(ids)
    parts = [
        f"array_min(transform({t}, x -> (x * {a} + {b}) % {HASH_P}))"
        for a, b in hash_coeffs(k)
    ]
    return F.expr("array(" + ", ".join(parts) + ")")


def sql_minhash_signature(ids_sql: str, k: int) -> str:
    """DuckDB twin of minhash_signature (same constants)."""
    parts = [
        f"list_aggregate(list_transform({ids_sql}, x -> (x * {a} + {b}) % {HASH_P}), 'min')"
        for a, b in hash_coeffs(k)
    ]
    return "[" + ", ".join(parts) + "]"


def simhash32_native(ids_col: Column) -> Column:
    """32-bit SimHash from distinct token ids: bit b is set iff more
    than half the tokens have bit b set (majority vote with -1/+1
    weights). Pure counting form, native Column expression. NOTE: the
    32 `filter` branches cost Catalyst/codegen ~1.5 s of PLAN time per
    query — amortized over a 100 TB run, but real per-invocation; the
    hot declared paths use the Arrow twin :func:`simhash32` (identical
    integer logic, one numpy popcount per batch), same precedent as
    the embedding-LSH matmul signatures. This form remains the
    engine-side ground truth the equality test pins the UDF against."""
    def has_bit(mask: int):
        return lambda x: x.bitwiseAND(F.lit(mask)) != 0

    n = F.size(ids_col)
    total = F.lit(0).cast("long")
    for b in range(32):
        mask = 1 << b
        n_set = F.size(F.filter(ids_col, has_bit(mask)))
        total = total + F.when(n_set * 2 > n, F.lit(mask).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return total


def simhash32(ids_col: Column) -> Column:
    """32-bit SimHash, Arrow-batched numpy form (one popcount matrix
    per batch instead of 32 interpreted filter passes + a 32-branch
    codegen tree). Bit-identical to :func:`simhash32_native` and to
    the DuckDB twin :func:`sql_simhash32` — integer majority logic has
    no float divergence; equality is pinned in tests/test_llm_ops.py."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    # no type hints: annotations referencing the locally-imported pd
    # are unresolvable strings under `from __future__ import
    # annotations`, which trips pandas_udf's hint parser
    @F.pandas_udf(LongType())
    def _simhash(ids):
        # NULL array → 0, matching the native twin (size(NULL) is NULL
        # → every when() falls to otherwise(0))
        lens = ids.map(lambda x: 0 if x is None else len(x)).to_numpy(
            dtype=np.int64
        )
        n_rows = len(lens)
        if n_rows == 0 or lens.sum() == 0:
            return pd.Series(np.zeros(n_rows, dtype=np.int64))
        flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in ids if x is not None]
        )
        rows = np.repeat(np.arange(n_rows), lens)
        # per-bit bincount instead of a len(flat)×32 int64 bit matrix:
        # peak transient is ONE len(flat) float64 weights array (8 B
        # per token id, not 256 B) — with ~1k-token docs in 10k-row
        # Arrow batches the matrix form was multi-GB per core on the
        # path advertised as the 100 TB hot path (ADVICE r4 #1).
        # bincount weights are float64; counts < 2^53 stay exact.
        counts = np.empty((n_rows, 32), dtype=np.int64)
        for b in range(32):
            counts[:, b] = np.bincount(
                rows, weights=(flat >> b) & 1, minlength=n_rows
            ).astype(np.int64)
        maj = counts * 2 > lens[:, None]
        out = (maj * (np.int64(1) << np.arange(32, dtype=np.int64))).sum(axis=1)
        return pd.Series(out.astype(np.int64))

    return _simhash(ids_col)


def sql_simhash32(ids_sql: str) -> str:
    parts = [
        f"(CASE WHEN 2 * len(list_filter({ids_sql}, x -> (x & {1 << b}) != 0)) "
        f"> len({ids_sql}) THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    ]
    return "(" + " + ".join(parts) + ")"
