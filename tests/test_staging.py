"""sources/staging.py: per-invocation-unique staging paths, swept at
process exit (ADVICE r4 #3 — the format gates must not leak /tmp), and
the staged-once lifecycle of the steady-state tables."""

from __future__ import annotations

import os

import pytest

from oamap_spark.sources import staging
from tests.conftest import SF_SMOKE


def test_staging_paths_unique_and_tracked():
    a = staging.staging_path("oamap_test_", "leaf")
    b = staging.staging_path("oamap_test_", "leaf")
    assert a != b
    for p in (a, b):
        root = os.path.dirname(p)
        assert os.path.isdir(root), "mkdtemp root must exist"
        assert not os.path.exists(p), "leaf must be left to the writer"
        assert root in staging._ROOTS


def test_cleanup_removes_all_roots():
    # snapshot the process-global registry: other tests in this pytest
    # process may still hold lazy readers over THEIR staged roots
    others = staging._ROOTS[:]
    staging._ROOTS.clear()
    try:
        p = staging.staging_path("oamap_test_", "leaf")
        root = os.path.dirname(p)
        os.makedirs(p)
        with open(os.path.join(p, "data"), "w") as f:
            f.write("x")
        staging._cleanup()
        assert not os.path.exists(root)
        assert staging._ROOTS == []
        # registry keeps working after a sweep (atexit may run after
        # an explicit cleanup without error)
        staging._cleanup()
    finally:
        staging._ROOTS.extend(others)



def _counting_build(spark, calls, rows):
    def build():
        calls.append(1)
        return spark.createDataFrame([(r,) for r in rows], "v long")

    return build


def _values(df):
    return sorted(r["v"] for r in df.collect())


def test_staged_once_builds_once_per_key(spark, monkeypatch):
    monkeypatch.setattr(staging, "_STAGED", {})
    calls = []
    build = _counting_build(spark, calls, [1, 2])
    first = staging.staged_once(spark, "/data/sfA", "t", build)
    assert staging.staged_once(spark, "/data/sfA", "t", build) is first
    assert calls == [1] and _values(first) == [1, 2]


def test_staged_once_second_sf_dir_gets_its_own_table(spark, monkeypatch):
    monkeypatch.setattr(staging, "_STAGED", {})
    calls = []
    a = staging.staged_once(spark, "/data/sfA", "t", _counting_build(spark, calls, [1]))
    b = staging.staged_once(spark, "/data/sfB", "t", _counting_build(spark, calls, [2]))
    assert calls == [1, 1] and set(a.inputFiles()).isdisjoint(b.inputFiles())
    assert (_values(a), _values(b)) == ([1], [2])


def test_staged_once_failed_build_memoizes_nothing(spark, monkeypatch):
    monkeypatch.setattr(staging, "_STAGED", {})

    def broken():
        raise ValueError("build failed")

    with pytest.raises(ValueError, match="build failed"):
        staging.staged_once(spark, "/data/sfA", "t", broken)
    assert staging._STAGED == {}
    calls = []
    df = staging.staged_once(spark, "/data/sfA", "t", _counting_build(spark, calls, [3]))
    assert calls == [1] and _values(df) == [3]


def test_staged_once_path_carries_steady_prefix(spark, monkeypatch):
    monkeypatch.setattr(staging, "_STAGED", {})
    files = staging.staged_once(
        spark, "/data/sfA", "bands", _counting_build(spark, [], [1])
    ).inputFiles()
    assert files and all("/oamap_steady_bands_" in f for f in files), files


def test_steady_probe_second_call_runs_no_write_job(spark, monkeypatch):
    """The first dedup_minhash_incremental_steady call in a process
    writes the corpus signature index; the second runs only the jobs
    that reading the documents table runs on its own."""
    import uuid

    from oamap_spark.queries.llm_dedup import dedup_minhash_incremental_steady
    from oamap_spark.sources.tables import load_table

    monkeypatch.setattr(staging, "_STAGED", {})
    sc = spark.sparkContext

    def jobs_of(fn):
        group = f"staged_once_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    read_only = jobs_of(lambda: load_table(spark, SF_SMOKE, "documents"))
    first = jobs_of(lambda: dedup_minhash_incremental_steady(spark, SF_SMOKE))
    second = jobs_of(lambda: dedup_minhash_incremental_steady(spark, SF_SMOKE))
    assert first > read_only and second == read_only, (read_only, first, second)
    assert set(staging._STAGED) == {(SF_SMOKE, "idx")}
