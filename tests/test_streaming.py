"""Streaming tests: oracle compares for the declared streaming
queries, stream-vs-batch equivalence, and a custom stateful operator
via applyInPandasWithState (the §7.7 'custom stateful op' slot)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oamap_spark.plans.verify import compare_query
from oamap_spark.sources.tables import load_table
from oamap_spark.streaming import pipelines as P
from tests.conftest import SF_SMOKE

import __spark_entry__ as entrymod


def test_streaming_oracles(spark):
    q, o = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "stream_tumbling_daily_counts",
        "stream_distinct_user_event_keys",
        "stream_user_sessions",
    ):
        errs = compare_query(spark, SF_SMOKE, q[name], o[name])
        assert not errs, f"{name}: {errs}"


def test_stream_tumbling_equals_batch_window(spark):
    """The streaming windowed agg must equal the same F.window agg run
    in batch over the same file (unified-model check)."""
    stream = P.drain_to_memory(
        P.tumbling_counts(P.read_events_stream(spark, SF_SMOKE)),
        output_mode="complete",
        spark=spark,
    )
    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("day"), "event_type", "n", "sum_value")
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_apply_in_pandas_with_state_counts(spark):
    """applyInPandasWithState running counts must equal batch
    groupBy().count() after a bounded replay."""
    from oamap_spark.streaming.stateful import running_user_counts

    ev = P.read_events_stream(spark, SF_SMOKE)
    sink = P.drain_to_memory(
        running_user_counts(ev), output_mode="update", spark=spark
    )
    got = {r["user_id"]: r["n_events"] for r in sink.collect()}
    exact = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exact


def test_session_window_matches_batch_islands(spark):
    """session_window sessions must match the batch lag-islands image
    per user (>= gap ⇒ new session), clipped to the append-mode
    finalization line: only sessions whose end (last event + gap) the
    final watermark passed (max event time − 1 day) have emitted."""
    q = entrymod.queries()
    stream_rows = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in q["stream_user_sessions"](spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    from pyspark.sql import Window

    gap_us = 30 * 60 * 1_000_000
    wm_us = (
        ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0] - 86_400 * 1_000_000
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = (
        ev.select("user_id", F.unix_micros("ts").alias("t"), "event_id")
        .withColumn(
            "is_new",
            F.when(F.col("t") - F.lag("t").over(w) >= gap_us, 1).otherwise(0),
        )
        .withColumn("sid", F.sum("is_new").over(w))
    )
    finalized = (
        seq.groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("t").alias("last_t"))
        .where(F.col("last_t") + gap_us <= wm_us)
    )
    batch_rows = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in finalized.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    assert stream_rows == batch_rows


def test_foreach_batch_parquet_sink(spark, tmp_path):
    """foreachBatch: the escape hatch for sinks Structured Streaming
    lacks natively — each micro-batch DataFrame is handed to arbitrary
    batch code (idempotent by batch_id at scale). Draining the events
    stream through a foreachBatch parquet writer must reproduce the
    source exactly."""
    from oamap_spark.streaming import pipelines as P

    out = str(tmp_path / "sink")
    ev = P.read_events_stream(spark, SF_SMOKE).select("event_id", "user_id", "value")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = ev.writeStream.foreachBatch(write_batch).trigger(availableNow=True).start()
    q.awaitTermination()

    got = spark.read.parquet(out)
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    assert got.count() == src.count()
    assert got.exceptAll(src).count() == 0


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once incremental semantics across restarts: a second
    availableNow run against the SAME checkpoint must process only the
    files that landed since the first run — the file-source offset log
    is the replay cursor."""
    import shutil

    from pyspark.sql import functions as F

    land = tmp_path / "landing"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    land.mkdir()
    src = "/root/testdata/sf0.001/events.parquet"
    shutil.copy(src, land / "batch1.parquet")

    schema = spark.read.parquet(str(land)).schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(land))
            .withColumnRenamed("ts", "ts_ns")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    n_src = spark.read.parquet(src).count()
    run_once()
    assert spark.read.parquet(str(sink)).count() == n_src

    # second file lands; resume from the same checkpoint
    shutil.copy(src, land / "batch2.parquet")
    run_once()
    out = spark.read.parquet(str(sink))
    assert out.count() == 2 * n_src  # batch1 NOT reprocessed
    # and a third run with nothing new is a no-op
    run_once()
    assert spark.read.parquet(str(sink)).count() == 2 * n_src


def test_transform_with_state_gate_or_runs(spark):
    """transformWithStateInPandas (Spark 4 StatefulProcessor): when the
    protobuf runtime dep is present the drained availableNow output
    must equal the batch groupBy image; in this container (no
    protobuf, no pip) the operator must fail fast with the documented
    ImportError rather than crash the streaming worker mid-query."""
    import pytest
    from pyspark.sql import functions as F

    from oamap_spark.streaming import pipelines as P
    from oamap_spark.streaming.stateful import (
        transform_with_state_available,
        user_profile_stateful,
    )
    from tests.conftest import SF_SMOKE

    ev = P.read_events_stream(spark, SF_SMOKE)
    if not transform_with_state_available():
        # The fail-fast ImportError contract IS verified; the runtime
        # availableNow-vs-batch equivalence has NEVER executed in this
        # container (protobuf absent, pip unavailable) — xfail, not
        # skip, so the gap stays machine-visible in every test report
        # (VERDICT r3 "Next round #7"; COVERAGE.md §2.D).
        with pytest.raises(ImportError, match="protobuf"):
            user_profile_stateful(ev)
        pytest.xfail(
            "transformWithStateInPandas runtime path untested here: "
            "protobuf worker dep absent and pip unavailable; only the "
            "documented fail-fast ImportError is verified"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = P.drain_to_memory(
        user_profile_stateful(ev), output_mode="update", spark=spark
    )
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("n_types").alias("n_types"))
    )
    exact = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.countDistinct("event_type").alias("nt"))
    )
    bad = final.join(exact, "user_id").filter(
        (F.col("n_events") != F.col("n")) | (F.col("n_types") != F.col("nt"))
    )
    assert bad.count() == 0


def _time_sliced_stream(spark, tmp_path, n_slices=6):
    """events split into contiguous TIME slices, one parquet file each
    with increasing mtime, so maxFilesPerTrigger=1 under availableNow
    yields one micro-batch per slice and the watermark ADVANCES between
    micro-batches — the multi-batch replay shape the single-file drain
    (one batch, watermark never moves mid-run) cannot produce."""
    import os

    import numpy as np

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .orderBy("ts")
    )
    pdf = ev.toPandas()
    src = tmp_path / "slices"
    src.mkdir()
    # integer-boundary splits (np.array_split on a DataFrame trips a
    # pandas swapaxes deprecation); rows are already ts-sorted so each
    # chunk is a contiguous time slice
    bounds = np.linspace(0, len(pdf), n_slices + 1).astype(int)
    for i, chunk in enumerate(
        pdf.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])
    ):
        p = str(src / f"slice_{i:02d}.parquet")
        # µs timestamps: ns-encoded parquet would read back as bigint
        # under spark.sql.legacy.parquet.nanosAsLong=true
        chunk.to_parquet(p, coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        # pandas wrote tz-naive parquet (TIMESTAMP_NTZ); watermarks
        # require the session-tz TIMESTAMP type (UTC session — exact)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return stream, pdf


def _state_progress(query):
    """(numRowsTotal, numRowsRemoved) per micro-batch that reported a
    state operator, oldest first."""
    import json as _json

    out = []
    for prog in query.recentProgress:
        ops = _json.loads(prog.json).get("stateOperators") or []
        if ops:
            out.append(
                (
                    sum(o.get("numRowsTotal", 0) for o in ops),
                    sum(o.get("numRowsRemoved", 0) for o in ops),
                )
            )
    return out


def test_dedup_within_watermark_state_stays_bounded(spark, tmp_path):
    """VERDICT r5 #6: the value-level oracles prove WHAT the dedup
    emits; this proves the state story — dropDuplicatesWithinWatermark
    state must be EVICTED as the watermark advances, or an unbounded
    source grows state forever. Six 5-day micro-batches with a 1-hour
    delay: every batch's keys expire before the next batch's watermark,
    so peak state ≈ one slice, with actual removals recorded."""
    stream, pdf = _time_sliced_stream(spark, tmp_path)
    n_rows = len(pdf)
    deduped = P.dedup_within_watermark(stream, ["event_id"], delay="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("state_bound_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .start()
    )
    q.awaitTermination()
    stats = _state_progress(q)
    assert len(stats) >= 3, f"expected multi-batch replay, got {stats}"
    removed = sum(r for _, r in stats)
    assert removed > 0, f"watermark never evicted state: {stats}"
    peak = max(t for t, _ in stats)
    assert peak < n_rows // 2, (
        f"state peaked at {peak} of {n_rows} input keys — watermark "
        f"eviction is not bounding state: {stats}"
    )


def test_stream_stream_join_state_stays_bounded(spark, tmp_path):
    """Same multi-batch replay for the interval stream-stream join:
    both sides carry watermarks and the join condition bounds event-
    time distance, so view/purchase state older than the horizon must
    be dropped as micro-batches advance — bounded state is what makes
    the funnel join runnable on an unbounded source."""
    stream, pdf = _time_sliced_stream(spark, tmp_path)
    # only view/purchase rows ever enter join state — the falsifiable
    # no-eviction ceiling is THEIR count, not the full event count
    # (r6 review: peak < n_rows could never fail, views+purchases are
    # ~40% of events at every SF)
    relevant = int(pdf["event_type"].isin(["view", "purchase"]).sum())
    joined = P.view_purchase_interval_join(stream)
    q = (
        joined.writeStream.format("memory")
        .queryName("state_bound_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_join"))
        .start()
    )
    q.awaitTermination()
    stats = _state_progress(q)
    assert len(stats) >= 3, f"expected multi-batch replay, got {stats}"
    assert sum(r for _, r in stats) > 0, f"join state never evicted: {stats}"
    peak = max(t for t, _ in stats)
    assert peak < relevant // 2, (
        f"join state peaked at {peak} of {relevant} view/purchase rows "
        f"— watermarks are not bounding join state: {stats}"
    )


def test_stream_shuffle_partitions_sets_and_restores(spark, monkeypatch):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(P, "STREAM_SHUFFLE_PARTITIONS", 3)
    with P.stream_shuffle_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_cluster_maintenance_without_generation_raises(
    spark, monkeypatch
):
    """A stream that folded no micro-batch leaves no ``gen=<N>``
    assignment; the query says so instead of reading ``gen=None``."""
    monkeypatch.setattr(
        P, "foreach_batch_cluster_maintenance", lambda *a, **k: None
    )
    q = entrymod.queries()["stream_cluster_maintenance"]
    with pytest.raises(RuntimeError, match="wrote no assignment generation"):
        q(spark, SF_SMOKE)


def test_session_turns_console_progress_bars_off(spark):
    """The stage progress bars redraw over stderr with carriage returns
    and would glue onto the harnesses' `# label: ...` lines."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"


def test_incremental_dedup_batch_unreadable_index_raises(spark, tmp_path):
    """Only an index with no earlier batch starts empty: an existing
    but unreadable one (a non-parquet file in batch=0) raises instead
    of silently probing the arrivals against an empty corpus."""
    index_dir = tmp_path / "index"
    (index_dir / "batch=0").mkdir(parents=True)
    (index_dir / "batch=0" / "part-00000.parquet").write_bytes(b"not parquet")
    arrivals = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="not a Parquet file"):
        P.incremental_dedup_batch_body(
            arrivals, 1, str(index_dir), str(tmp_path / "pairs")
        )


def test_incremental_dedup_batch_pre_sig_index_raises(spark, tmp_path):
    """The probe reads the index with the written partition's schema,
    which fills a column a file lacks with nulls: an index partition
    from before the ``(id, ids, sig)`` layout raises in-plan instead of
    silently yielding no pairs against it."""
    index_dir = tmp_path / "index"
    spark.createDataFrame(
        [(1, [11, 22, 33])], "id long, ids array<bigint>"
    ).write.parquet(str(index_dir / "batch=0"))
    arrivals = spark.createDataFrame(
        [(2, "a b c d"), (3, "a b c e")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match=f"index {index_dir} has no sig"):
        P.incremental_dedup_batch_body(
            arrivals, 1, str(index_dir), str(tmp_path / "pairs")
        )
