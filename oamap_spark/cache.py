"""Caller-owned persist() tracking (ADVICE r5 #3 / VERDICT r6 #5).

Several operators persist narrow intermediates whose lifetime the
CALLER must own — the returned DataFrame is lazy, so unpersisting
inside the operator would defeat the reuse the persist exists for
(the minhash/simhash signature tables, the Misra–Gries summary, the
ANN recall-gate's exact/hits frames). In a long-lived process that
invokes these repeatedly (a bench sweep, the driver's scoring loop, a
notebook), the cache entries accumulate: each entry is bounded in
size but the COUNT is unbounded.

:func:`track` is the one-line hook those operators now route their
persists through; :func:`sweep` unpersists everything tracked since
the last sweep. Callers that consume a returned DataFrame and are
done with it call ``sweep()`` (bench.py does, between queries, on top
of ``spark.catalog.clearCache()``); callers that want the reuse
across several actions simply sweep later. Thread-safety: the
registry is a plain list guarded by a lock — track/sweep may be
called from parallel test workers sharing one session.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame


_LOCK = threading.Lock()
_FRAMES: list[DataFrame] = []


def track(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """persist ``df`` at ``level`` and register it for :func:`sweep`.
    Returns ``df`` (persisted) so call sites stay one-line.

    Default is ``MEMORY_AND_DISK_DESER`` — the same level a bare
    ``df.persist()`` uses — NOT PySpark's ``MEMORY_AND_DISK``, which
    is *serialized* and taxes every warm read with deserialization
    (VERDICT r7 "What's wrong #1": the r7 ``track()`` migration
    silently flipped operators from deserialized to serialized
    storage; the a/b for the two regressed bench queries is recorded
    in SCALE.md). Operators whose persisted intermediate is large
    relative to executor memory at the target SF may opt into
    serialized storage explicitly via ``level=``; that is a deliberate
    memory-vs-CPU trade to record, not a default."""
    df.persist(level)
    with _LOCK:
        _FRAMES.append(df)
    return df


def release(df: DataFrame) -> None:
    """Unpersist ``df`` now and drop it from the registry (matched by
    identity): for a caller done with a tracked frame before the next
    :func:`sweep`. A bare ``unpersist()`` leaves the entry behind, so a
    loop that never sweeps (a foreachBatch stream) would grow the
    registry by one frame and its JVM handle per call. If the
    unpersist raises, the entry stays for a later sweep."""
    df.unpersist()
    with _LOCK:
        _FRAMES[:] = [f for f in _FRAMES if f is not df]


def sweep(blocking: bool = False) -> int:
    """Unpersist every tracked frame; returns how many were swept.
    Safe to call with no session activity in flight; frames already
    unpersisted elsewhere (clearCache) unpersist as a no-op. Only the
    stopped-session failure is swallowed — a real unpersist error on a
    live session propagates (r7 review finding #5: silently
    under-sweeping reintroduces the accumulation this module fixes)."""
    with _LOCK:
        frames, _FRAMES[:] = list(_FRAMES), []
    n = 0
    first_err: Exception | None = None
    for df in frames:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception as ex:
            try:
                alive = not df.sparkSession.sparkContext._jsc.sc().isStopped()
            except Exception:
                alive = False
            if alive:
                # finish the loop first: raising mid-loop would leak
                # the unswept tail (already removed from the registry,
                # so unreachable forever — r7 review finding); every
                # live-session failure re-enters the registry so a
                # later sweep can retry it
                with _LOCK:
                    _FRAMES.append(df)
                if first_err is None:
                    first_err = ex
    if first_err is not None:
        raise first_err
    return n


def tracked_count() -> int:
    with _LOCK:
        return len(_FRAMES)
