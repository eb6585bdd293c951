"""cache.track/sweep: caller-owned persists must be reclaimable and
must not accumulate across repeated invocations (ADVICE r5 #3)."""

from __future__ import annotations

from oamap_spark import cache
from oamap_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _persisted_ids(spark) -> set[int]:
    """Ids of the RDDs the JVM holds persisted. Compared as sets, not
    counts: Spark's ContextCleaner frees earlier tests' unreferenced
    (e.g. localCheckpoint) RDDs asynchronously, so the global count
    can fall while a test runs."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_two_invocations_leave_cache_flat(spark):
    """Two full invocations of a persist()-ing operator, swept after
    each: no RDD the test persisted may stay in the JVM's
    persistent-RDD registry — the accumulation VERDICT r6 #5 flagged."""
    from oamap_spark.operators.dedup import minhash_lsh_pairs

    cache.sweep()
    spark.catalog.clearCache()
    base = _persisted_ids(spark)
    d = load_table(spark, SF_SMOKE, "documents")
    for _ in range(2):
        minhash_lsh_pairs(d, "doc_id", "text").count()
        assert cache.tracked_count() >= 1  # the signature table
        assert cache.sweep() >= 1
    assert _persisted_ids(spark) - base == set()
    assert cache.tracked_count() == 0


def test_recall_gate_persists_are_tracked(spark):
    """The ANN recall gate persists two tiny frames per invocation —
    both must be registered with the sweep hook."""
    from oamap_spark.queries.llm_similarity import (
        _exact_top5,
        _with_recall_gate,
        ann_production_topk_ids,
    )

    cache.sweep()
    spark.catalog.clearCache()
    base = _persisted_ids(spark)
    e = load_table(spark, SF_SMOKE, "embeddings")
    before = cache.tracked_count()
    _with_recall_gate(_exact_top5(e), ann_production_topk_ids(e)).count()
    assert cache.tracked_count() == before + 2  # exact + hits
    cache.sweep()
    assert _persisted_ids(spark) - base == set()


def test_sweep_idempotent_and_clearcache_compatible(spark):
    """sweep() after clearCache() (bench.py calls both) must not
    raise; a second sweep with nothing tracked returns 0."""
    from oamap_spark.operators.heavyhitters import heavy_hitters

    d = load_table(spark, SF_SMOKE, "documents")
    heavy_hitters(d.selectExpr("explode(split(text, ' ')) AS w"), "w",
                  capacity=20, min_frac=0.06).count()
    spark.catalog.clearCache()  # out-of-band clear first
    assert cache.sweep() >= 1   # handles still tracked; unpersist is a no-op
    assert cache.sweep() == 0


def test_release_unpersists_and_untracks_only_that_frame(spark):
    """release() unpersists one tracked frame and drops exactly its
    registry entry; the other tracked frame stays for the sweep."""
    cache.sweep()
    a = cache.track(spark.range(3))
    b = cache.track(spark.range(3))
    cache.release(a)
    assert not a.is_cached and b.is_cached
    assert cache.tracked_count() == 1
    assert cache.sweep() == 1


def test_stream_dedup_body_leaves_registry_flat(spark, tmp_path):
    """A foreachBatch stream never sweeps, so each micro-batch of the
    dedup body must hand back every frame it tracked: N batches leave
    tracked_count() where it started."""
    from oamap_spark.streaming.pipelines import incremental_dedup_batch_body

    base = "the quick brown fox jumps over the lazy dog again and again"
    before = cache.tracked_count()
    for i in range(3):
        batch = spark.createDataFrame(
            [(2 * i, base), (2 * i + 1, base + " today")],
            "doc_id long, text string",
        )
        incremental_dedup_batch_body(
            batch, i, str(tmp_path / "index"), str(tmp_path / "pairs")
        )
        assert cache.tracked_count() == before, i
    assert spark.read.parquet(str(tmp_path / "pairs")).count() > 0
