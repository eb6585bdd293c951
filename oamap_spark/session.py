"""SparkSession bootstrap and per-session configuration.

The driver hands us an already-built SparkSession, so anything we need
must be settable at *runtime* (``spark.conf.set``), not builder-time.
``configure_session`` is idempotent and is called at the top of every
declared query.

Scale notes (100 TB design intent):
- AQE stays on (default in Spark 3.2+/4.x): runtime coalescing of
  shuffle partitions, skew-join splitting, dynamic join strategy.
- ``spark.sql.session.timeZone=UTC``: testdata timestamps are tz-naive
  parquet; pinning UTC makes Spark's LTZ interpretation agree with the
  DuckDB oracle (and with any cluster regardless of machine tz).
- Arrow on for any pandas interchange (vectorized, not pickled rows).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable configs applied to every session we touch.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Match numpy/DuckDB permissive numeric semantics (no ANSI overflow
    # errors mid-query); decided per SURVEY.md §7.8.
    "spark.sql.ansi.enabled": "false",
    # Nested schema pruning so struct/array queries read only touched
    # leaves from parquet (oamap's lazy-array-fetch equivalent).
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS) which Spark refuses to read
    # natively ([PARQUET_TYPE_ILLEGAL]); read as bigint nanos and let
    # sources.tables re-derive a µs timestamp (exactness preserved in
    # ts_ns).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let AQE coalesce shuffle partitions by SIZE, not down to
    # defaultParallelism: with the default (true), every small shuffle
    # is padded out to one partition per core — scheduler overhead
    # dominates sub-GB stages (measured ~25-35% of q3/q5/minhash wall
    # at sf0.1). Spark's own docs recommend false for real workloads;
    # at 100 TB shuffles exceed the advisory size and behavior is
    # identical, while small intermediate stages (post-filter dims,
    # candidate sets) stop paying per-core scheduling tax.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime configs (idempotent); safe on driver-owned sessions."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable on this build: leave the default.
            pass
    return spark


def positive_int_env(var: str, default: str, what: str) -> int:
    """Read ``$var`` (``default`` when unset) as a positive integer.
    Anything else raises ``ValueError`` naming the variable, before a
    caller passes the value on to Spark."""
    raw = os.environ.get(var, default)
    if not raw.strip().isdecimal() or int(raw) == 0:
        raise ValueError(f"${var} must be a positive integer ({what}), got {raw!r}")
    return int(raw)


def get_spark(app_name: str = "oamap-spark", cpus: int | None = None) -> SparkSession:
    """Build a local session (tests / bench). The production path would
    receive its session from the cluster launcher instead."""
    if cpus is None:
        cpus = positive_int_env("SPARK_GRAFT_CPUS", "32", "local cores")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # One shuffle partition per local core; on a real cluster this
        # would be sized to data volume (AQE coalesces downward anyway).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # The carriage-return-redrawn stage bars share stderr with the
        # harnesses' `# label: ...` lines and glue onto them.
        .config("spark.ui.showConsoleProgress", "false")
    )
    return configure_session(builder.getOrCreate())
