"""Process-lifetime staging directories for side-effecting queries.

The format-gate queries (CSV/XML/ORC round-trips, partitioned/Z-order
writes, the foreachBatch upsert sink) stage through a FRESH mkdtemp
per invocation so concurrent runs — driver scoring alongside a local
replay, or pytest-xdist — can never race on a shared /tmp path. That
freshness leaked (ADVICE r4 #3): every invocation left a full copy of
its staged table behind, and repeated scoring accumulated unbounded
disk. Every root created here is therefore registered for one
``shutil.rmtree`` sweep at interpreter exit — uniqueness per
invocation is preserved (no reuse, no races), but the copies share the
process's lifetime instead of the machine's.

The steady-state dedup family's persisted corpus tables go through
:func:`staged_once`, built on the :func:`steady_split` of documents.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_ROOTS: list[str] = []


def _cleanup() -> None:
    while _ROOTS:
        shutil.rmtree(_ROOTS.pop(), ignore_errors=True)


atexit.register(_cleanup)


def staging_path(prefix: str, leaf: str) -> str:
    """A path inside a fresh mkdtemp root that is auto-removed at
    process exit. The leaf itself is NOT created (Spark writers insist
    on creating their target)."""
    base = tempfile.mkdtemp(prefix=prefix)
    _ROOTS.append(base)
    return os.path.join(base, leaf)


def staged_for(sf_dir: str, leaf: str) -> str:
    """Staging path for a format-gate query: per-invocation-unique,
    with the sf tag in the prefix for debuggability only."""
    return staging_path(
        f"oamap_fmt_{os.path.basename(sf_dir.rstrip('/'))}_", leaf
    )


# (sf_dir, name) -> reader over the staged parquet table; reentrant
# because a build may stage the table it derives from
_STAGED: dict[tuple[str, str], DataFrame] = {}
_STAGED_LOCK = threading.RLock()


def staged_once(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The persisted table ``name`` for ``sf_dir``: the first call
    writes ``build()`` under an ``oamap_steady_<name>_`` staging root
    and memoizes a parquet reader over it; later calls return that same
    reader, so a probe pays neither the build nor a footer/schema pass.
    A reader is an immutable lazy plan, so reusing it caches no data. A
    ``build`` (or write) that raises memoizes nothing and the next call
    retries."""
    key = (sf_dir, name)
    with _STAGED_LOCK:
        reader = _STAGED.get(key)
        if reader is None:
            df = build()
            path = staging_path(f"oamap_steady_{name}_", name)
            df.write.parquet(path)
            reader = _STAGED[key] = spark.read.parquet(path)
    return reader


def steady_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The steady-state family's (corpus, arrivals) split of
    ``documents``: sources src0-src17 (90%) are the persisted corpus,
    src18-src19 the arrival batch."""
    src_num = F.substring("source", 4, 10).cast("int")
    return docs.where(src_num < 18), docs.where(src_num >= 18)
