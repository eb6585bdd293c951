"""Central registry of declared queries.

Every operator from SURVEY.md §2 lands here as a named query: a Spark
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a
DuckDB oracle SQL string. The driver runs both sides at sf0.01 and
compares row-count + schema + order-insensitive value hash, with
columns sorted by name — so **every computed column must carry the same
alias in both**.

Discipline for the float-hash oracle (SURVEY.md §7.8): aggregate sums
over doubles are rounded (``round(x, 2)``) on BOTH sides so the
engines' (identical to ~1e-9 relative) floating-point sums hash equal.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    """Decorator: declare a query. ``oracle=None`` → driver records the
    weaker rows-only check (reserved for genuinely non-SQL ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=_wrap(fn),
            oracle=oracle,
            tags=tags,
            doc=fn.__doc__ or "",
            bench=bench,
        )
        return fn

    return deco


def _wrap(fn: QueryFn) -> QueryFn:
    """Apply session config (UTC, ANSI-off, nested pruning) before the
    query body runs — the driver owns the session, so config must be
    applied at call time."""
    from oamap_spark.session import configure_session

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        configure_session(spark)
        return fn(spark, sf_dir)

    wrapped.__doc__ = fn.__doc__
    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


def all_specs() -> dict[str, QuerySpec]:
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {n: spec.fn for n, spec in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        n: spec.oracle for n, spec in _REGISTRY.items() if spec.oracle is not None
    }


def bench_queries() -> dict[str, QueryFn]:
    """The bench headline set, in registration order like every other
    view of the registry, so round-over-round per-query diffs compare
    like sweep positions."""
    return {n: spec.fn for n, spec in _REGISTRY.items() if spec.bench}
