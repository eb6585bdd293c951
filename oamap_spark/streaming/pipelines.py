"""Structured Streaming pipelines over the events table.

oamap has no streaming surface (absent from oamap/operations.py [H]);
this is the §7.7 extension: the same events analytics, expressed as
incremental plans. Each pipeline reads the events parquet as a file
stream (schema pinned from a batch read — required by readStream),
applies watermark/window/state, and drains with trigger(availableNow)
into a memory sink so the driver contract (batch DataFrame out) and
the DuckDB oracle still apply. At scale the identical plan runs
against a live file/Kafka source with the same semantics — that is
the point of Structured Streaming's unified model.

Windowed/session aggregations drain in append mode: a window emits
exactly once when the watermark finalizes it (window_end ≤ max event
time − delay) and its state is evicted, so the plans are safe on a
true unbounded source; the oracles clip to the same finalization
line. Complete mode is reserved for genuinely-retained state with a
bounded keyspace (stream-static enrich counts, latest-per-user).
"""

from __future__ import annotations

import contextlib
import itertools
import logging
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

_log = logging.getLogger(__name__)


# shuffle partitions of every stateful stream and its foreachBatch jobs
STREAM_SHUFFLE_PARTITIONS = 8


@contextlib.contextmanager
def stream_shuffle_partitions(spark: SparkSession):
    """Size stateful-stream shuffle partitions to state volume, not to
    the session's batch default (r11, guide §2.2 "fewer, larger
    partitions"). A stateful streaming query bakes
    ``spark.sql.shuffle.partitions`` into its state layout at first
    start, AQE never coalesces it, and EVERY micro-batch then pays one
    state-store commit (and, for the Python stateful path, one Arrow
    worker round-trip) per partition — at the bench SFs the per-batch
    state is a few thousand keys, so 32-200 partitions are pure
    per-batch overhead (measured at sf0.1: stream_stateful_user_counts
    15.0 s at 32 partitions → 2.8 s at 8). These pipelines create a
    fresh checkpoint per run, so the count is free to choose here; a
    production deployment sizes :data:`STREAM_SHUFFLE_PARTITIONS` to
    stateful-key volume (state layout is fixed for the life of a
    checkpoint, so pick for the target scale, not the first day).
    Batch jobs inside foreachBatch bodies inherit the same setting
    while the stream runs; AQE still coalesces those by size. The
    session value is restored on exit — the driver owns the session.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

_sink_ids = itertools.count()


def _stream_dir(sf_dir: str) -> str:
    """The file-stream source wants a directory it can monitor; the
    testdata ships single .parquet files. Build (once) a /tmp dir per
    sf containing a symlink to the events file — on a real deployment
    the source would already be a landing directory."""
    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join("/tmp", "oamap_spark_stream", key, "events")
    link = os.path.join(d, "events.parquet")
    target = os.path.join(sf_dir, "events.parquet")
    if not os.path.islink(link):
        os.makedirs(d, exist_ok=True)
        try:
            os.symlink(target, link)
        except FileExistsError:
            # only tolerable if a concurrent run won the check-then-
            # create race with the SAME target; a pre-existing regular
            # file or foreign symlink would silently stream stale data
            if not (os.path.islink(link) and os.readlink(link) == target):
                raise
    elif os.readlink(link) != target:
        raise RuntimeError(
            f"stream staging link {link!r} points at "
            f"{os.readlink(link)!r}, expected {target!r} — remove it"
        )
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events parquet as a file stream, normalized to the same
    (``ts_ns`` bigint, ``ts`` µs-timestamp) pair as the batch loader
    (:func:`oamap_spark.sources.tables.normalize_events`) so stream and
    batch plans share semantics whatever the parquet ts encoding is."""
    from oamap_spark.sources.tables import normalize_events

    path = _stream_dir(sf_dir)
    schema = spark.read.parquet(path).schema
    raw = spark.readStream.schema(schema).parquet(path)
    return normalize_events(raw)


def drain_to_memory(
    stream: DataFrame, *, output_mode: str, spark: SparkSession
) -> DataFrame:
    """Run a bounded replay of the stream (availableNow) into a memory
    sink and return the sink as a batch DataFrame."""
    name = f"oamap_stream_sink_{next(_sink_ids)}"
    with stream_shuffle_partitions(spark):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def tumbling_counts(events: DataFrame, *, watermark: str = "1 day") -> DataFrame:
    """1-day tumbling windows per event_type: count + value sum.
    Watermark bounds state at scale (windows older than max-event-time
    − 1 day are finalized and evicted)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("day"), "event_type", "n", "sum_value")
    )


def streaming_distinct_keys(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup: first-seen wins per (user_id,
    event_type); emits each key once. State is one entry per distinct
    key — the watermarked variant (dropDuplicatesWithinWatermark)
    bounds it in time for unbounded sources."""
    return events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


def user_sessions(events: DataFrame, *, gap: str = "30 minutes") -> DataFrame:
    """Per-user sessions with an inactivity gap via session_window —
    Spark merges events closer than the gap into one [start, end)
    session; equivalent to the batch islands (lag > gap ⇒ new island)
    formulation. One streaming aggregation only: per-user rollups
    happen batch-side on the drained sink (chained stateful aggs are
    not supported in a single streaming query)."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream-static join: enrich each streaming micro-batch with a
    batch dimension table. The static side is re-planned per
    micro-batch (picking up dim refreshes) and broadcast when small —
    the standard 100 TB pattern for attaching slowly-changing
    dimensions to an event firehose without a stateful join."""
    return events.join(F.broadcast(dim), on, how)


def dedup_within_watermark(events: DataFrame, keys: list[str], delay: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with *time-bounded* state:
    dropDuplicatesWithinWatermark keeps a key's state only until the
    watermark passes its event time, so an unbounded source can't grow
    state forever (plain dropDuplicates state is unbounded). Duplicates
    arriving within the delay window are suppressed; each key is
    emitted once, on first arrival (append mode)."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(keys)


def view_purchase_interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    purchases within 1 hour AFTER a view by the same user. Both sides
    carry watermarks and the join condition bounds event-time distance,
    so each side's state is evictable — the canonical funnel join that
    runs unchanged on an unbounded source. (A self-join: both streams
    are filtered branches of the same events source.)"""
    v = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 day")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "view_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
        )
    )


def view_purchase_interval_join_outer(events: DataFrame) -> DataFrame:
    """LEFT OUTER variant of the stream-stream interval join: views
    with no purchase within the hour emit a null match — but only once
    the watermark proves no match can still arrive. On a bounded
    availableNow replay that finalization line is
    ``view_ts + 1h < max(ts) − watermark_delay``; views younger than
    it remain in state at termination and are NOT emitted (exactly
    what a restart would resume with)."""
    v = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 day")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
            "left_outer",
        )
        .select("view_id", "user_id", "purchase_id")
    )


def foreach_batch_upsert_latest(
    events: DataFrame, spark: SparkSession, target_dir: str
) -> None:
    """Streaming UPSERT sink via ``foreachBatch``: each micro-batch
    merges its per-user latest event into a parquet target keyed by
    user_id — the lakehouse merge pattern with plain parquet (no ACID
    table format in this container, so the merge is read-union-dedup-
    overwrite per batch; on Delta/Iceberg the identical foreachBatch
    body would issue MERGE INTO and the rest of the plan is
    unchanged). Winner per key is max(ts_us, event_id) — the µs-exact
    (ts_ns div 1000) key both engines agree on (the shared events-
    timestamp convention, see pointer_self_prev_event) — a keyed
    comparison, so the final state is independent of micro-batch
    arrival order and replays idempotently."""
    from pyspark.sql import Window

    def upsert(batch: DataFrame, batch_id: int) -> None:
        updates = batch.select(
            "user_id",
            "event_id",
            "event_type",
            F.expr("ts_ns div 1000").alias("ts_us"),
        )
        # ONLY a target that was never written starts fresh; reading
        # an existing one raises on any failure (corrupt target,
        # schema drift, transient IO) — silently replacing accumulated
        # state with one batch would emit wrong results, not an error.
        if os.path.isdir(target_dir):
            merged = batch.sparkSession.read.parquet(target_dir).unionByName(updates)
        else:
            merged = updates
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts_us"), F.desc("event_id")
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        # materialize before overwrite: the plan reads the same files
        # it is about to replace
        latest.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            target_dir
        )

    with stream_shuffle_partitions(spark):
        q = (
            events.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", target_dir + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def staged_documents_slices(
    spark: SparkSession, sf_dir: str, n_slices: int = 4
) -> str:
    """documents split into ``n_slices`` ordered arrival slices (by
    source number), one parquet file each with increasing mtime, so
    ``maxFilesPerTrigger=1`` + availableNow replays one micro-batch
    per slice — the continuous-ingestion shape for the streaming
    incremental-dedup pipeline. Slices are written by SPARK (coalesce
    to one part file, renamed into place — no table data through the
    driver) into a fresh mkdtemp per invocation (concurrent runs
    never race; swept at process exit, sources/staging.py)."""
    import glob
    import shutil

    from oamap_spark.sources.staging import staging_path

    out = staging_path("oamap_docstream_", "slices")
    os.makedirs(out, exist_ok=True)
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src_num = F.substring("source", 4, 10).cast("int")
    per = 20 // n_slices  # sources are src0..src19 at every SF
    # ONE partitioned write instead of n_slices coalesce(1) jobs (r12,
    # guide §5 driver round-trips): repartition by the slice id gives
    # each slice value a single task, so every __slice=<i> directory
    # holds exactly one part file, renamed into the flat mtime-ordered
    # layout the maxFilesPerTrigger=1 replay consumes.
    slice_id = F.least(
        F.floor(src_num / F.lit(per)).cast("int"), F.lit(n_slices - 1)
    )
    tmp = os.path.join(out, "_tmp_slices")
    (
        d.withColumn("__slice", slice_id)
        .repartition(n_slices, "__slice")
        .write.partitionBy("__slice")
        .mode("overwrite")
        .parquet(tmp)
    )
    for i in range(n_slices):
        (pf,) = glob.glob(os.path.join(tmp, f"__slice={i}", "part-*.parquet"))
        dst = os.path.join(out, f"slice_{i:02d}.parquet")
        os.rename(pf, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    shutil.rmtree(tmp)
    return out


def partition_ids(d: str, key: str, below: int | None = None) -> set[int]:
    """The ids N of the ``<key>=N`` partitions under ``d`` (optionally
    only those strictly below ``below``, the replay-idempotency
    restriction): a filesystem listing, no Spark job."""
    import glob

    ids = {
        int(os.path.basename(p).split("=")[1])
        for p in glob.glob(os.path.join(d, f"{key}=*"))
    }
    return ids if below is None else {i for i in ids if i < below}


def _present(col: str, index_dir: str) -> Column:
    """``col`` with an in-plan guard against a null value: a read with
    a given schema returns nulls for a column the file lacks, so an
    index partition written before the ``(id, ids, sig)`` layout fails
    here instead of silently yielding no pairs (the same fail-loud
    convention as the null ``is_new`` guard)."""
    msg = f"incremental dedup: a row of the index {index_dir} has no {col}"
    return F.coalesce(F.col(col), F.raise_error(F.lit(msg))).alias(col)


def incremental_dedup_batch_body(
    batch: DataFrame, batch_id: int, index_dir: str, pairs_dir: str
) -> DataFrame:
    """One micro-batch of the continuous-ingestion dedup loop —
    module-level so the replay-idempotency contract is directly
    testable (call it twice with the same batch_id: the second run
    must leave both partitions byte-identical in content). Returns a
    reader over the written ``pairs/batch=<batch_id>`` partition. See
    :func:`foreach_batch_incremental_minhash` for the invariants."""
    from oamap_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        shingle_ids_table,
        signature_table,
    )

    bspark = batch.sparkSession
    _log.info(
        "incremental dedup batch %d: reading index batches %s of %s",
        batch_id, sorted(partition_ids(index_dir, "batch", below=batch_id)),
        index_dir,
    )
    # INDEX FIRST: the one pass that tokenizes and minhashes the
    # arrivals writes them as this batch's index partition, and the
    # probe below reads only parquet, so no arrival frame is cached.
    arr = signature_table(shingle_ids_table(batch, "doc_id", "text", n=3))
    arr.write.mode("overwrite").parquet(os.path.join(index_dir, f"batch={batch_id}"))
    # batch <= batch_id: a REPLAYED micro-batch (at-least-once
    # foreachBatch) never reads a later batch, and its overwrite above
    # replaced its own first attempt, so no id is read twice. The
    # schema is the written frame's, so the read infers nothing (no
    # footer job); is_new = (batch = batch_id) is a partition filter,
    # so the probe side scans this batch's partition only. An
    # unreadable earlier partition raises in the scan.
    index_schema = StructType(arr.schema.fields + [StructField("batch", LongType())])
    ids_df = (
        bspark.read.schema(index_schema)
        .parquet(index_dir)
        .where(F.col("batch") <= batch_id)
        .select(
            "id",
            (F.col("batch") == batch_id).alias("is_new"),
            _present("ids", index_dir),
            _present("sig", index_dir),
        )
    )
    pairs = minhash_lsh_pairs_incremental(
        None, "doc_id", "text", "is_new", ids_df=ids_df
    )
    out = os.path.join(pairs_dir, f"batch={batch_id}")
    pairs.write.mode("overwrite").parquet(out)
    return bspark.read.schema(pairs.schema).parquet(out)


def foreach_batch_incremental_minhash(
    docs: DataFrame, spark: SparkSession, index_dir: str, pairs_dir: str
) -> None:
    """Streaming continuous-ingestion near-dedup (foreachBatch): each
    micro-batch of documents is deduped against the ACCUMULATED corpus
    via the asymmetric incremental band join
    (operators/dedup.py:minhash_lsh_pairs_incremental), fed from a
    persisted parquet signature index. Index first: the batch
    tokenizes and minhashes ONLY its own documents, in the one pass
    that writes them as its own (id, ids, sig) index partition; the
    probe then reads the index partitions up to and including its own
    (its own flagged new), so it bands stored signatures only and no
    batch re-scans or re-hashes the corpus.

    Every near-dup pair is emitted exactly ONCE — in the micro-batch
    where its LATER member arrives (same-batch pairs once, by the
    probe-direction discipline) — so the accumulated pairs table
    equals the one-shot batch pair list regardless of how the stream
    was sliced: that invariant is what lets the DuckDB oracle replay
    the plain batch pipeline against a streaming query's output.

    foreachBatch is at-least-once, so exactly-once must be engineered
    at the sink: both writes land in a deterministic per-batch
    subdirectory (``batch=<batch_id>``) with ``overwrite`` — a
    replayed micro-batch rewrites its own index partition (content-
    identical) before its probe reads it, and then its own pairs
    partition, instead of double-appending pairs or duplicating index
    rows, which would multiply verify-join output. The probe reads
    ``batch <= batch_id`` only, so a replay never sees a later batch.
    A crash between the two writes leaves ``index/batch=<batch_id>``
    without its pairs; the replay overwrites it and emits the same
    pairs. Readers see ``batch`` as a partition column and project
    it away."""
    def body(batch: DataFrame, batch_id: int) -> None:
        incremental_dedup_batch_body(batch, batch_id, index_dir, pairs_dir)

    with stream_shuffle_partitions(spark):
        q = (
            docs.writeStream.foreachBatch(body)
            .option("checkpointLocation", pairs_dir + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


#: The ``(node, cluster_id)`` layout of every assignment generation.
ASSIGNMENT_SCHEMA = StructType(
    [StructField(c, LongType()) for c in ("node", "cluster_id")]
)


def cluster_maintenance_batch_body(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    pairs_dir: str,
    asg_dir: str,
) -> None:
    """One micro-batch of the continuous CLUSTER-MAINTENANCE loop:
    the incremental-dedup body first (this batch's arrival-touching
    pairs vs the accumulated signature index), then the assignment
    fold — the batch's pairs merge into the previous generation via
    operators/clustering.py:apply_components_update, and the NEXT
    generation lands at ``gen=<batch_id>``.

    Replay idempotency (foreachBatch is at-least-once): a replayed
    batch folds against the latest generation STRICTLY BELOW its own
    id — never its own first attempt — and ``overwrite``s its own
    generation directory; apply_components_update is deterministic
    and idempotent on its inputs, so the rewrite is byte-equal in
    content. Module-level so the contract is directly testable.

    Persisted-state guard: below ``batch_id``, the latest generation
    in ``asg_dir`` must be the latest index batch in ``index_dir``
    (both none on a fresh stream). A fresh assignment dir paired with
    an existing index would fold against an empty assignment and
    silently drop every earlier cluster; a fresh index beside an
    existing assignment would emit no pair against the earlier
    corpus; an assignment that stops short of the index (a batch whose
    index partition landed but whose fold did not, never replayed)
    would drop that batch's pairs from every later generation. Each
    raises ``RuntimeError`` before anything is written.

    The pairs readback and the assignment read take their schemas
    from the written pairs frame and :data:`ASSIGNMENT_SCHEMA`, so no
    read infers one."""
    from oamap_spark.operators.clustering import (
        apply_components_update,
        local_frame,
    )

    gen = max(partition_ids(asg_dir, "gen", below=batch_id), default=None)
    idx = max(partition_ids(index_dir, "batch", below=batch_id), default=None)
    if gen != idx:
        raise RuntimeError(
            f"cluster maintenance batch {batch_id}: below it, {asg_dir} "
            f"ends at gen={gen} but {index_dir} ends at batch={idx}; the "
            f"assignment and the index must end at the same batch"
        )
    _log.info(
        "cluster maintenance batch %d: reading gen=%s of %s",
        batch_id, gen, asg_dir,
    )
    pairs = incremental_dedup_batch_body(
        batch, batch_id, index_dir, pairs_dir
    ).select("id_a", "id_b")
    bspark = batch.sparkSession
    if gen is not None:
        asg = bspark.read.schema(ASSIGNMENT_SCHEMA).parquet(
            os.path.join(asg_dir, f"gen={gen}")
        )
    else:  # first batch: no prior state
        asg = local_frame(bspark, ASSIGNMENT_SCHEMA, [[], []])
    apply_components_update(asg, pairs).write.mode("overwrite").parquet(
        os.path.join(asg_dir, f"gen={batch_id}")
    )


def foreach_batch_cluster_maintenance(
    docs: DataFrame,
    spark: SparkSession,
    index_dir: str,
    pairs_dir: str,
    asg_dir: str,
) -> None:
    """Streaming continuous-ingestion CLUSTERING: every micro-batch
    extends :func:`foreach_batch_incremental_minhash`'s loop with the
    policy layer — near-dup edges fold into a generation-versioned
    cluster assignment, so at any point ``gen=<latest>`` IS the
    corpus's current duplicate-cluster state (what a decontamination
    or keeper pass would consume), without any batch ever re-reading
    corpus text or re-shuffling the corpus graph. The final
    generation equals one-shot batch clustering over the full pair
    list however the stream was sliced — the incremental pair
    emission is exactly-once per pair, and apply_components_update
    folds to the same fixpoint in any arrival order (both halves of
    that claim are driver-gated through the recursive-CTE oracle)."""

    def body(batch: DataFrame, batch_id: int) -> None:
        cluster_maintenance_batch_body(
            batch, batch_id, index_dir, pairs_dir, asg_dir
        )

    with stream_shuffle_partitions(spark):
        q = (
            docs.writeStream.foreachBatch(body)
            .option("checkpointLocation", asg_dir + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
