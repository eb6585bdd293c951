"""Training-data curation queries (LLM-pipeline surface, beyond the
reference): document chunking, PII scrubbing, deterministic weighted
corpus mixing, and train/benchmark contamination checks.

These are the operations a 100 TB pretraining pipeline runs between
raw crawl and tokenizer: every one is a narrow pass or a
bounded-key join — no driver-side loops, no all-pairs products — and
every one is oracle-gated (DuckDB replays the identical hash/regex/
window arithmetic)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oamap_spark.functions import text as X
from oamap_spark.operators.sampling import hash_threshold
from oamap_spark.queries.registry import register
from oamap_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Document chunking: overlapping token windows
# --------------------------------------------------------------------------
CHUNK = 32  # tokens per chunk
STRIDE = 24  # chunk start distance (CHUNK-STRIDE = 8 tokens overlap)


@register(
    "doc_chunk_windows",
    tags=("llm", "curation", "chunking"),
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
n AS (
  SELECT doc_id, tk,
         CASE WHEN len(tk) <= {CHUNK} THEN 1
              ELSE CAST(ceil((len(tk) - {CHUNK}) / {STRIDE}.0) AS INT) + 1 END
           AS n_chunks
  FROM t
),
x AS (SELECT doc_id, tk, unnest(range(0, n_chunks)) AS chunk_idx FROM n)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(tk[(1 + chunk_idx * {STRIDE}) :
                          least(len(tk), chunk_idx * {STRIDE} + {CHUNK})], ' ')
         AS chunk_text,
       CAST(least(len(tk) - chunk_idx * {STRIDE}, {CHUNK}) AS INT) AS n_tokens
FROM x
""",
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk every document into overlapping {CHUNK}-token windows at
    stride {STRIDE} (context-window packing / retrieval chunking). One
    narrow pass: split → per-row window-start sequence → explode →
    slice; no shuffle at all, embarrassingly parallel at any scale."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", X.tokens("text").alias("tk"))
    n_chunks = F.when(F.size("tk") <= CHUNK, F.lit(1)).otherwise(
        F.ceil((F.size("tk") - CHUNK) / F.lit(float(STRIDE))).cast("int") + 1
    )
    chunks = tk.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    )
    piece = F.slice(F.col("tk"), F.col("chunk_idx") * STRIDE + 1, F.lit(CHUNK))
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# PII scrubbing: mask emails / URLs / long digit runs
# --------------------------------------------------------------------------
# Patterns restricted to the regex intersection of Java (Spark) and
# RE2 (DuckDB): character classes, +, {m,}, alternation — no
# backrefs, no lookarounds.
RE_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
RE_URL = "https?://[^ ]+"
RE_LONGNUM = "[0-9]{6,}"


@register(
    "doc_scrub_pii",
    tags=("llm", "curation", "pii", "regex"),
    oracle=f"""
WITH s AS (
  SELECT doc_id, lang,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{RE_EMAIL}', '<EMAIL>', 'g'),
             '{RE_URL}', '<URL>', 'g'),
           '{RE_LONGNUM}', '<NUM>', 'g') AS scrubbed,
         length(regexp_replace(text, '{RE_EMAIL}', '#', 'g'))
           - length(text) AS d_email,
         length(regexp_replace(text, '{RE_LONGNUM}', '#', 'g'))
           - length(text) AS d_num
  FROM documents
)
SELECT doc_id, lang, length(scrubbed) AS scrubbed_len,
       CAST(d_email != 0 AS INT) AS has_email,
       CAST(d_num != 0 AS INT) AS has_longnum
FROM s
""",
)
def doc_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: emails → <EMAIL>, URLs → <URL>, 6+-digit runs →
    <NUM> — three chained regexp_replace passes, all JVM-side, narrow.
    Emits per-doc scrubbed length + hit flags (the corpus here is
    clean word soup, so flags are 0 — the oracle still proves both
    engines apply the identical regexes; synthetic-PII behavior is
    pinned in tests/test_curation.py)."""
    d = load_table(spark, sf_dir, "documents")
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), RE_EMAIL, "<EMAIL>"),
            RE_URL,
            "<URL>",
        ),
        RE_LONGNUM,
        "<NUM>",
    )
    return d.select(
        "doc_id",
        "lang",
        F.length(scrub).alias("scrubbed_len"),
        (F.length(F.regexp_replace(F.col("text"), RE_EMAIL, "#")) != F.length("text"))
        .cast("int")
        .alias("has_email"),
        (F.length(F.regexp_replace(F.col("text"), RE_LONGNUM, "#")) != F.length("text"))
        .cast("int")
        .alias("has_longnum"),
    )


def scrub_pii(text_col) -> F.Column:
    """Reusable scrub expression (the masking itself)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text_col, RE_EMAIL, "<EMAIL>"), RE_URL, "<URL>"
        ),
        RE_LONGNUM,
        "<NUM>",
    )


# --------------------------------------------------------------------------
# Deterministic weighted corpus mixture
# --------------------------------------------------------------------------
# Per-source sampling weights (a pretraining mixture: upweight the
# "high-quality" sources, downweight the tail). Membership is the
# md5-hash draw of operators/sampling.py — reproducible across runs,
# engines, and partitionings.
MIX_WEIGHTS = {f"src{i}": round(1.0 - 0.045 * i, 3) for i in range(20)}


@register(
    "corpus_mixture_weighted",
    tags=("llm", "curation", "sampling", "mixture"),
    oracle="WITH kept AS (\n  SELECT source, lang FROM documents\n  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <\n        CASE source\n"
    + "\n".join(
        f"          WHEN '{s}' THEN '{hash_threshold(w)}'"
        for s, w in MIX_WEIGHTS.items()
    )
    + """
          ELSE '0000' END
)
SELECT source, count(*) AS n_kept, count(DISTINCT lang) AS n_langs
FROM kept GROUP BY source
""",
)
def corpus_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: each source keeps a deterministic
    md5-hash fraction of its documents (src0 100% … src19 14.5%).
    A pure per-row predicate — no shuffle for the sampling itself,
    stable under corpus growth (a doc's fate never changes), and the
    exact mixture is reproducible on any engine. Emits per-source
    kept-counts."""
    d = load_table(spark, sf_dir, "documents")
    thr = F.create_map(
        *[F.lit(x) for kv in MIX_WEIGHTS.items() for x in (kv[0], hash_threshold(kv[1]))]
    )
    kept = d.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < F.coalesce(thr[F.col("source")], F.lit("0000"))
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.countDistinct("lang").alias("n_langs"),
    )


# --------------------------------------------------------------------------
# Train/benchmark contamination: n-gram overlap
# --------------------------------------------------------------------------
BENCH_FRACTION = 0.05  # held-out "benchmark" slice of the corpus
OVERLAP_N = 8  # 8-token grams, the usual contamination unit


@register(
    "train_benchmark_overlap",
    bench=True,
    tags=("llm", "curation", "contamination", "ngram"),
    oracle=f"""
WITH tid AS (
  SELECT doc_id, {X.SQL_TOKEN_ID_ARRAY.format(col='text')} AS tids,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
           < '{hash_threshold(BENCH_FRACTION)}' AS is_bench
  FROM documents
),
grams AS (
  SELECT doc_id, is_bench,
         unnest({X.sql_combine_shingle_ids('tids', OVERLAP_N)}) AS gid
  FROM tid
),
hits AS (
  SELECT b.doc_id AS bench_doc, t.doc_id AS train_doc, b.gid
  FROM grams b JOIN grams t ON b.gid = t.gid
  WHERE b.is_bench AND NOT t.is_bench
)
SELECT d.doc_id AS bench_doc,
       CAST(coalesce(count(DISTINCT h.train_doc), 0) AS BIGINT) AS n_train_docs,
       CAST(coalesce(count(DISTINCT h.gid), 0) AS BIGINT) AS n_shared_grams
FROM (SELECT doc_id FROM tid WHERE is_bench) d
LEFT JOIN hits h ON d.doc_id = h.bench_doc
GROUP BY d.doc_id
""",
)
def train_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination check: for every held-out benchmark document
    (deterministic 5% md5 slice), how many 8-token grams it shares
    with the training slice and with how many training docs. The gram
    join carries (doc_id, gram_id) ints only — the usual shape at
    100 TB: explode to the gram table once, equi-join on the gram id,
    aggregate; the tiny benchmark side broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    tid = d.select(
        "doc_id",
        X.token_id_array("text").alias("tids"),
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
            < hash_threshold(BENCH_FRACTION)
        ).alias("is_bench"),
    )
    grams = tid.select(
        "doc_id",
        "is_bench",
        F.explode(X.combine_shingle_ids("tids", OVERLAP_N)).alias("gid"),
    )
    bench = grams.where("is_bench").select(
        F.col("doc_id").alias("bench_doc"), "gid"
    )
    train = grams.where(~F.col("is_bench")).select(
        F.col("doc_id").alias("train_doc"), "gid"
    )
    hits = F.broadcast(bench).join(train, "gid")
    agg = hits.groupBy("bench_doc").agg(
        F.countDistinct("train_doc").alias("n_train_docs"),
        F.countDistinct("gid").alias("n_shared_grams"),
    )
    all_bench = tid.where("is_bench").select(F.col("doc_id").alias("bench_doc"))
    return (
        all_bench.join(agg, "bench_doc", "left")
        .select(
            "bench_doc",
            F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
        )
    )


@register(
    "train_decontaminated_census",
    tags=("llm", "curation", "contamination", "decontamination"),
    oracle=f"""
WITH dtid AS (
  SELECT doc_id, source, {X.SQL_TOKEN_ID_ARRAY.format(col='text')} AS tids,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
           < '{hash_threshold(BENCH_FRACTION)}' AS is_bench
  FROM documents
),
dgrams AS (
  SELECT doc_id, source, is_bench,
         unnest({X.sql_combine_shingle_ids('tids', OVERLAP_N)}) AS gid
  FROM dtid
),
bench_gids AS (
  SELECT DISTINCT gid FROM dgrams WHERE is_bench
),
dropped AS (
  SELECT DISTINCT t.doc_id
  FROM dgrams t JOIN bench_gids b USING (gid)
  WHERE NOT t.is_bench
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM dtid d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
WHERE NOT d.is_bench
GROUP BY d.source
""",
)
def train_decontaminated_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECONTAMINATION — the removal policy `train_benchmark_overlap`
    only reports on: drop every TRAINING document that shares at least
    one 8-token gram with the held-out benchmark slice (the GPT-3-
    style n-gram decontamination filter), and emit the per-source
    kept/dropped census a pipeline records before training. Scale
    shape: the probe is a LEFT SEMI join on an int64 gid — the train
    side never shuffles on anything wider. The benchmark-side gram set
    grows ~linearly with corpus size (distinct 8-grams of a 5% slice),
    so no broadcast is forced: the optimizer broadcasts while the set
    fits autoBroadcastJoinThreshold and falls back to a shuffled semi
    join beyond it, instead of OOMing a hinted broadcast at 100 TB
    (cf. train_benchmark_overlap, whose bench side stays hinted because
    it joins the AGGREGATED per-gram table, not the raw gram set)."""
    d = load_table(spark, sf_dir, "documents")
    tid = d.select(
        "doc_id",
        "source",
        X.token_id_array("text").alias("tids"),
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
            < hash_threshold(BENCH_FRACTION)
        ).alias("is_bench"),
    )
    grams = tid.select(
        "doc_id",
        "is_bench",
        F.explode(X.combine_shingle_ids("tids", OVERLAP_N)).alias("gid"),
    )
    bench_gids = grams.where("is_bench").select("gid").distinct()
    dropped = (
        grams.where(~F.col("is_bench"))
        .join(bench_gids, "gid", "left_semi")
        .select("doc_id")
        .distinct()
    )
    train = tid.where(~F.col("is_bench")).select("doc_id", "source")
    flagged = train.join(
        dropped.withColumn("__dropped", F.lit(1)), "doc_id", "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.sum(F.coalesce("__dropped", F.lit(0))).cast("long").alias("n_dropped"),
        F.sum(F.when(F.col("__dropped").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )


# --------------------------------------------------------------------------
# BPE-ish token counting
# --------------------------------------------------------------------------
# Letter runs, single digits, single punctuation — a GPT-2-flavored
# pre-tokenizer approximation restricted to the Java∩RE2 regex subset.
RE_BPE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


@register(
    "doc_bpe_token_estimate",
    tags=("llm", "curation", "tokens", "bpe"),
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
       CAST(len(regexp_extract_all(text, '{RE_BPE}')) AS INT) AS n_bpe,
       round(n_chars / len(regexp_extract_all(text, '{RE_BPE}')), 4)
         AS chars_per_token
FROM documents
""",
)
def doc_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count estimation: whitespace tokens vs a BPE-ish
    pre-tokenizer regex (letter runs | single digits | single
    punctuation) + chars-per-token ratio — the per-document cost
    accounting every training pipeline runs before packing. Narrow,
    JVM-side regexp_extract_all."""
    d = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(RE_BPE), 0))
    return d.select(
        "doc_id",
        F.size(X.tokens("text")).alias("n_ws"),
        n_bpe.cast("int").alias("n_bpe"),
        F.round(F.col("n_chars") / n_bpe, 4).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# Unigram LM quality score (perplexity proxy)
# --------------------------------------------------------------------------
@register(
    "doc_unigram_logprob_quality",
    tags=("llm", "curation", "quality", "lm"),
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT count(*) AS n FROM tok)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln(cnt.c / CAST(tot.n AS DOUBLE))), 6) AS avg_nll
FROM tok t, tot
JOIN cnt ON t.tok = cnt.tok
GROUP BY t.doc_id
""",
)
def doc_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: train corpus-level unigram
    frequencies, score each document by its mean negative log
    probability (the cheap perplexity proxy used for corpus quality
    filtering). Scale shape: one token-explode shuffle builds the
    count table — vocabulary-sized, so it BROADCASTS back onto the
    token stream; scoring is then narrow. ln over bit-identical
    doubles diverges ≤1 ulp between engines — invisible at round-6."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tok.join(F.broadcast(cnt), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("n").cast("double"))), 6).alias(
                "avg_nll"
            ),
        )
    )
    return scored


# --------------------------------------------------------------------------
# Sequence packing (context-window packing)
# --------------------------------------------------------------------------
SEQ_LEN = 128  # target training-sequence length in tokens


@register(
    "pack_sequences_greedy",
    tags=("llm", "curation", "packing"),
    oracle=f"""
WITH d AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
g AS (
  SELECT lang, list(n_tok ORDER BY doc_id) AS toks, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tok
  FROM d GROUP BY lang
),
packed AS (
  SELECT lang, n_docs, total_tok,
         list_reduce(
           list_prepend({{'n': CAST(0 AS BIGINT), 'used': CAST({SEQ_LEN} AS BIGINT)}},
                        list_transform(toks, t -> {{'n': CAST(t AS BIGINT), 'used': CAST(0 AS BIGINT)}})),
           (acc, x) -> CASE WHEN acc.used + x.n <= {SEQ_LEN}
                            THEN {{'n': acc.n, 'used': acc.used + x.n}}
                            ELSE {{'n': acc.n + 1, 'used': x.n}} END
         ) AS st
  FROM g
)
SELECT lang, n_docs, total_tok,
       st.n AS n_sequences,
       st.n * {SEQ_LEN} - total_tok AS pad_tokens
FROM packed
""",
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: greedily pack each language's documents
    (doc_id order) into {SEQ_LEN}-token training sequences — next-fit:
    a doc that doesn't fit opens a new sequence. The fold runs as a
    native `aggregate` over the per-group token-count array with a
    struct accumulator; both engines fold left-to-right, so sequence
    counts and padding waste match exactly. Scale shape: one shuffle
    to group, the fold is O(docs-per-group) inside the executor — at
    100 TB the grouping key would be (shard, lang) to bound group
    size."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang", "doc_id", F.size(X.tokens("text")).cast("long").alias("n_tok")
    )
    g = per_doc.groupBy("lang").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "n_tok"))).alias("docs"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tok"),
    )
    init = F.struct(
        F.lit(0).cast("long").alias("n"), F.lit(SEQ_LEN).cast("long").alias("used")
    )

    def step(acc, x):
        fits = (acc["used"] + x["n_tok"]) <= SEQ_LEN
        return F.struct(
            F.when(fits, acc["n"]).otherwise(acc["n"] + 1).alias("n"),
            F.when(fits, acc["used"] + x["n_tok"]).otherwise(x["n_tok"]).alias("used"),
        )

    packed = g.withColumn("st", F.aggregate(F.col("docs"), init, step))
    return packed.select(
        "lang",
        "n_docs",
        "total_tok",
        F.col("st.n").alias("n_sequences"),
        (F.col("st.n") * SEQ_LEN - F.col("total_tok")).alias("pad_tokens"),
    )


@register(
    "curation_pipeline_end_to_end",
    tags=("llm", "curation", "pipeline", "composition"),
    oracle="""
WITH q AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr
  FROM documents
),
filt AS (
  SELECT * FROM q WHERE n_tok BETWEEN 20 AND 400 AND ttr > 0.3
),
keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM filt
  GROUP BY md5(array_to_string(string_split(text, ' '), ' '))
),
sampled AS (
  SELECT f.lang, f.n_tok
  FROM filt f JOIN keepers k ON f.doc_id = k.doc_id
  WHERE substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 4) < '8000'
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM sampled GROUP BY lang
""",
)
def curation_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declared query: quality
    gate (token count 20–400, type-token ratio > 0.3) → exact dedup
    (whitespace-normalized digest, min-id canonical survives) →
    deterministic 50% hash sample → per-language token accounting.
    Every stage is the same primitive its standalone query uses, so
    this pins the COMPOSITION semantics — filters stay narrow, the
    dedup is the only text-keyed shuffle, sampling is a pure predicate,
    and Catalyst pipelines the whole thing into three stages."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    q = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).alias("n_tok"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
    )
    filt = q.where(F.col("n_tok").between(20, 400) & (F.col("ttr") > 0.3))
    digest = F.md5(F.concat_ws(" ", F.split(F.col("text"), " ")))
    keepers = filt.groupBy(digest.alias("dg")).agg(F.min("doc_id").alias("doc_id"))
    sampled = (
        filt.join(keepers.select("doc_id"), "doc_id")
        .where(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "8000")
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
