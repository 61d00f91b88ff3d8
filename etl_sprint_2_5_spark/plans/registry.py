"""Query registry backing the driver contract (__spark_entry__.py).

Each registered query is:
- a Spark plan builder ``fn(spark, sf_dir) -> DataFrame``;
- an equivalent ANSI-SQL oracle string for DuckDB (or None for
  genuinely non-SQL-expressible operators — the driver then records a
  weaker rows-only check);
- a ``covers`` tag list naming the SURVEY.md §2 operator ids the query
  exercises, so coverage is auditable line-by-line.

Cross-engine determinism rules every query here follows:
- every computed column is aliased identically on both sides;
- double aggregates are ROUNDed on both sides;
- timestamps cross the boundary as epoch microseconds (bigint);
- any array crossing the boundary is sorted then joined to a string
  (hash comparison is value-based; array order must be deterministic).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    covers: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def materialize_release(df: DataFrame, *cached: DataFrame) -> DataFrame:
    """Collect a SMALL final result into a local-relation DataFrame,
    then unpersist the cached intermediates it was built from.

    Queries that cache() intermediates but return a lazy plan cannot
    unpersist before returning (the caller's collect would recompute),
    so without this the caches outlive the query and accumulate across
    registry runs ('Asked to cache already cached data' warnings +
    executor storage creep). Only for results that are safely
    driver-sized (aggregates, reports, top-k).

    The rows come from ``df`` itself, so they match its schema by
    construction: per-row schema verification is skipped (it cost
    ~5 s per million rows, more than the collect)."""
    out = df.sparkSession.createDataFrame(
        df.collect(), df.schema, verifySchema=False
    )
    for c in cached:
        c.unpersist()
    return out


def query(name: str, oracle: str | None, covers: tuple[str, ...] = ()):  # noqa: ANN201
    """Decorator registering a plan builder under ``name``."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, covers=covers, doc=(fn.__doc__ or "")
        )
        return fn

    return wrap
