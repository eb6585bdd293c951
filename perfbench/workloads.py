"""The benchmark's three workloads and the op runner they share.

An op is one unit the timed loop measures: for the two query mixes one
registry query, built with ``fn(spark, data_dir)`` and then fully
materialized by a ``noop`` write; for the stream one call of
``cluster_maintenance_batch_body`` on one arrival batch. Every op is
verified; a wrong result or an exception counts as a failed op and the
run goes on.
"""

from __future__ import annotations

import gc
import math
import os
import statistics
import time
import traceback

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

RELATIONAL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "nested_filter_define_reduce",
    "compiled_nested_event_loop",
    "sessionize_events",
    "recursive_cte_subtree_stats",
]
CURATION = [
    "doc_repetition_signals",
    "dedup_span_removal",
    "dedup_embedding_banded",
    "dedup_minhash_incremental_steady",
]
WARM_ROUNDS = 2  # untimed rounds after the oracle round


# ---------------------------------------------------------------- verify

def _canon(c, dtype: T.DataType):
    """``c`` with floating values rounded and map entries sorted, so the
    row hash does not depend on summation order or map layout."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(c.cast("double"), 6)
    if isinstance(dtype, T.ArrayType):
        return F.transform(c, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(c[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        entry = T.StructType([T.StructField("key", dtype.keyType), T.StructField("value", dtype.valueType)])
        return F.array_sort(_canon(F.map_entries(c), T.ArrayType(entry)))
    return c


def observe(df: DataFrame, name: str) -> tuple[Observation, DataFrame]:
    """``df`` with an observation that, on whatever action runs it,
    computes (rows, hash sum, hash xor) over every column: an
    order-insensitive fingerprint of the whole result."""
    h = F.xxhash64(*[_canon(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields])
    obs = Observation(name)
    return obs, df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.shiftright(h, 16)).alias("hsum"),
        F.bit_xor(h).alias("hxor"),
    )


def fingerprint(obs: Observation) -> tuple:
    r = obs.get
    return (int(r["rows"]), r["hsum"], r["hxor"])


def materialize(df: DataFrame, name: str) -> tuple:
    """Fully compute every column of ``df`` with a ``noop`` write; return
    its fingerprint, observed on the same pass."""
    obs, observed = observe(df, name)
    observed.write.format("noop").mode("overwrite").save()
    return fingerprint(obs)


# ------------------------------------------------------------ op runner

class Ctx:
    """Everything one run shares: session, input paths, seed, spans and
    (in traced runs) the counter collector."""

    def __init__(self, spark, data_dir, work_dir, seed, spans, collector):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.spans = spans
        self.collector = collector
        self.ops: list[dict] = []
        self.setup_failures: list[str] = []
        self.probe_s = 0.0  # wall of the last wrapped dedup probe (stream, traced)

    def rng(self, *key: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *key])

    def run_op(self, op_id: str, kind: str, body, verify) -> dict:
        """Time ``body(rec)`` as one op, check it with ``verify(result)``
        and isolate it from the next op. ``body`` may add fields to
        ``rec``; its return value goes to ``verify``."""
        from oamap_spark import cache

        rec = {"op": op_id, "kind": kind, "ok": False, "err": None}
        if self.collector:
            self.collector.mark()
        start_wall = time.time()
        span = self.spans.open("op", op_id)
        try:
            result = body(rec)
            rec["wall"] = self.spans.close(span)
            end_wall = time.time()
            if self.collector:
                c0 = time.perf_counter()
                rec["counters"] = self.collector.collect(
                    start_wall, end_wall, rec.pop("build_end_wall", start_wall)
                )
                rec["counters"]["cache.tracked_frames"] = float(cache.tracked_count())
                rec["counters"]["cache.persisted_bytes"] = self.collector.cache_bytes()
                rec["collect_s"] = time.perf_counter() - c0
            err = verify(result)
            rec["ok"] = err is None
            rec["err"] = err
        except Exception:
            rec.setdefault("wall", self.spans.close(span))
            rec["err"] = traceback.format_exc(limit=3)
        span = self.spans.open("sweep", op_id)
        cache.sweep()
        self.spark.catalog.clearCache()
        # Settle before the next op: Spark's listeners finish this op's
        # events, and Python drops its JVM object proxies now rather
        # than in the middle of the next op.
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        gc.collect()
        rec["sweep_s"] = self.spans.close(span)
        if cache.tracked_count() != 0:
            rec["ok"] = False
            rec["err"] = "cache.sweep() left tracked frames"
        self.ops.append(rec)
        return rec


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else 0.0


# --------------------------------------------------------- query mixes

class QueryMix:
    """A fixed set of registry queries, run as rounds in a seeded order."""

    def __init__(self, names: list[str], input_tables: list[str]):
        self.names = names
        self.input_tables = input_tables
        self.ref: dict[str, tuple] = {}
        self.bad: dict[str, str] = {}

    def setup(self, ctx: Ctx) -> None:
        """Throwaway rounds. The first checks each query once against its
        DuckDB oracle and records the fingerprint every timed op of that
        query must reproduce; ``WARM_ROUNDS`` more run the timed ops'
        code path, verified, because the JIT keeps speeding rounds up
        for a while (the first timed round after a single warm-up round
        ran about 30% slow). All run in list order, not a seeded one,
        so every run starts timing after the same history."""
        from oamap_spark import cache
        from oamap_spark.plans.verify import compare_query
        from oamap_spark.queries import registry

        specs = registry.all_specs()
        self.fns = {n: specs[n].fn for n in self.names}
        span = ctx.spans.open("warmup")
        for n in self.names:
            q_span = ctx.spans.open("warmup.query", n)
            try:
                df = self.fns[n](ctx.spark, ctx.data_dir)
                if specs[n].oracle is None:
                    self.ref[n] = materialize(df, f"ref_{n}")
                else:
                    obs, observed = observe(df, f"ref_{n}")
                    errs = compare_query(
                        ctx.spark, ctx.data_dir, lambda *_: observed, specs[n].oracle
                    )
                    if errs:
                        self.bad[n] = f"oracle mismatch in setup: {errs[:2]}"
                    self.ref[n] = fingerprint(obs)
            except Exception:
                self.bad[n] = f"setup raised: {traceback.format_exc(limit=2)}"
            ctx.spans.close(q_span)
            cache.sweep()
            ctx.spark.catalog.clearCache()
        warm = Ctx(ctx.spark, ctx.data_dir, ctx.work_dir, ctx.seed, ctx.spans, None)
        for r in range(WARM_ROUNDS):
            for n in self.names:
                warm.run_op(f"w{r}.{n}", n, self._body(warm, n), self._verify(n))
        ctx.spans.close(span)
        ctx.setup_failures.extend(f"{n}: {e}" for n, e in self.bad.items())
        ctx.setup_failures.extend(f"warm-up {o['op']}: {o['err']}" for o in warm.ops if not o["ok"])
        self.input_rows = sum(
            pq.read_metadata(os.path.join(ctx.data_dir, f"{t}.parquet")).num_rows
            for t in self.input_tables
        )

    def _order(self, ctx: Ctx, round_idx: int) -> list[str]:
        return [self.names[i] for i in ctx.rng(round_idx).permutation(len(self.names))]

    def run(self, ctx: Ctx, seconds: float) -> dict:
        rounds: list[float] = []
        t_end = time.perf_counter() + seconds
        while not rounds or time.perf_counter() < t_end:
            r = len(rounds)
            span = ctx.spans.open("round", str(r))
            wall = 0.0
            for pos, n in enumerate(self._order(ctx, r)):
                rec = ctx.run_op(f"r{r}.{pos}.{n}", n, self._body(ctx, n), self._verify(n))
                wall += rec["wall"]
            ctx.spans.close(span)
            rounds.append(wall)
        per_kind = {n: [o["wall"] for o in ctx.ops if o["kind"] == n] for n in self.names}
        return {
            "mix_s": _median(rounds),
            "query_geomean_s": _geomean([_median(w) for w in per_kind.values()]),
            # the median round's mean op wall: the median of one round's
            # differently sized queries jumps between queries run to run
            "batch_s_p50": _median(rounds) / len(self.names),
            "docs_per_s": self.input_rows * len(rounds) / sum(rounds),
            "rounds": len(rounds),
        }

    def _body(self, ctx: Ctx, name: str):
        def body(rec: dict):
            span = ctx.spans.open("queries.build", rec["op"])
            df = self.fns[name](ctx.spark, ctx.data_dir)
            rec["build_s"] = ctx.spans.close(span)
            rec["build_end_wall"] = time.time()
            span = ctx.spans.open("queries.action", rec["op"])
            out = materialize(df, rec["op"])
            rec["action_s"] = ctx.spans.close(span)
            rec["rows"] = out[0]
            return out

        return body

    def _verify(self, name: str):
        def verify(out: tuple):
            if name in self.bad:
                return self.bad[name]
            want = self.ref.get(name)
            if want is None:
                return "no reference from setup"
            return None if out == want else f"fingerprint {out} != setup {want}"

        return verify


# -------------------------------------------------------------- stream

class SteadyStream:
    """Seeded arrival batches of ``documents`` folded one at a time by
    the cluster-maintenance batch body into one set of fresh state dirs.
    Setup folds the first ``warm_batches`` (the warm-up); the timed loop
    then folds one batch per op, each probing the index the earlier
    batches persisted, until the time is up. A stream's round is one
    batch."""

    def __init__(self, batch_docs: int, warm_batches: int):
        self.batch_docs = batch_docs
        self.warm_batches = warm_batches

    def _stage(self, ctx: Ctx) -> None:
        """One parquet file per arrival batch: ``documents`` is generated
        in arrival order (``datagen.arrival_documents``)."""
        table = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"))
        out = os.path.join(ctx.work_dir, "arrivals")
        os.makedirs(out, exist_ok=True)
        self.files, self.batch_ids = [], []
        for i in range(0, table.num_rows, self.batch_docs):
            f = os.path.join(out, f"batch_{i // self.batch_docs:03d}.parquet")
            rows = table.slice(i, self.batch_docs)
            pq.write_table(rows, f)
            self.files.append(f)
            self.batch_ids.append(set(rows.column("doc_id").to_pylist()))

    def setup(self, ctx: Ctx) -> None:
        from oamap_spark import cache
        from oamap_spark.operators.dedup import minhash_lsh_pairs

        span = ctx.spans.open("staging")
        self._stage(ctx)
        root = os.path.join(ctx.work_dir, "state")
        self.dirs = [os.path.join(root, x) for x in ("index", "pairs", "asg")]
        ctx.spans.close(span)
        span = ctx.spans.open("warmup")
        warm = Ctx(ctx.spark, ctx.data_dir, ctx.work_dir, ctx.seed, ctx.spans, None)
        for i in range(self.warm_batches):
            self._fold(warm, i)
        err = next((o["err"] for o in warm.ops if not o["ok"]), None)
        if err:
            ctx.setup_failures.append(f"warm-up batches failed: {err}")
        ctx.spans.close(span)
        # One-shot pairs over every staged document. A pair depends only
        # on its two documents, so the one-shot result over the batches
        # a run folds is this set restricted to their documents.
        span = ctx.spans.open("reference")
        docs = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet"))
        pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=16, rows_per_band=2, threshold=0.9)
        self.all_pairs = {_pair(r) for r in pairs.select("id_a", "id_b").collect()}
        cache.sweep()
        ctx.spark.catalog.clearCache()
        ctx.spans.close(span)
        if not self.all_pairs:
            ctx.setup_failures.append("one-shot reference found no near-duplicate pairs")

    def _fold(self, ctx: Ctx, i: int) -> dict:
        """Fold batch ``i`` into the state dirs as one op."""
        from oamap_spark.streaming import pipelines as P

        f = self.files[i]
        root = os.path.dirname(self.dirs[0])
        before = _du(root) if ctx.collector else 0

        def body(rec):
            P.cluster_maintenance_batch_body(ctx.spark.read.parquet(f), i, *self.dirs)
            rec["probe_s"] = ctx.probe_s

        rec = ctx.run_op(f"b{i}", f"batch{i:03d}", body, lambda _: None)
        if ctx.collector:
            rec["state_bytes"] = _du(root)
            rec["state_added"] = rec["state_bytes"] - before
            rec["pairs_out"] = rec["rows"] = _rows(os.path.join(self.dirs[1], f"batch={i}"))
            rec["arrival_bytes"] = os.path.getsize(f)
        return rec

    def _check(self, ctx: Ctx, folded: int) -> str | None:
        """Compare the state after ``folded`` batches with the one-shot
        pairs and their components over the same documents."""
        docs = set().union(*self.batch_ids[:folded])
        want_pairs = {p for p in self.all_pairs if p[0] in docs and p[1] in docs}
        want_asg = _min_id_components(want_pairs)
        try:
            pairs = {_pair(r) for r in ctx.spark.read.parquet(self.dirs[1]).select("id_a", "id_b").collect()}
            asg = {
                (r["node"], r["cluster_id"])
                for r in ctx.spark.read.parquet(os.path.join(self.dirs[2], f"gen={folded - 1}")).collect()
            }
        except Exception:
            return traceback.format_exc(limit=2)
        if pairs != want_pairs:
            return f"pairs {len(pairs)} != one-shot {len(want_pairs)}"
        if asg != want_asg:
            return f"assignment of {len(asg)} nodes != one-shot {len(want_asg)}"
        return None

    def run(self, ctx: Ctx, seconds: float) -> dict:
        """Fold batches until ``seconds`` are up (or the batches run out);
        a wrong final state fails every timed op."""
        from oamap_spark.streaming import pipelines as P

        probe = P.incremental_dedup_batch_body
        if ctx.collector:
            def timed_probe(*a, **kw):
                span = ctx.spans.open("streaming.probe")
                try:
                    return probe(*a, **kw)
                finally:
                    ctx.probe_s = ctx.spans.close(span)
            P.incremental_dedup_batch_body = timed_probe
        i = self.warm_batches
        t_end = time.perf_counter() + seconds
        try:
            while i < len(self.files) and (i == self.warm_batches or time.perf_counter() < t_end):
                self._fold(ctx, i)
                i += 1
        finally:
            P.incremental_dedup_batch_body = probe
        err = self._check(ctx, i)
        if err:
            for rec in ctx.ops:
                rec["ok"], rec["err"] = False, rec["err"] or err
        walls = [o["wall"] for o in ctx.ops]
        n_docs = sum(len(ids) for ids in self.batch_ids[self.warm_batches:i])
        return {
            "mix_s": _median(walls),
            "query_geomean_s": _geomean(walls),
            "batch_s_p50": _median(walls),
            "docs_per_s": n_docs / sum(walls),
            "rounds": len(walls),
        }


def _min_id_components(pairs: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """(node, smallest node id of its component) for every node of
    ``pairs``: the one-shot cluster assignment, by union-find."""
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(x, root(x)) for x in list(parent)}


def _pair(r) -> tuple[int, int]:
    a, b = r["id_a"], r["id_b"]
    return (a, b) if a <= b else (b, a)


def _du(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
