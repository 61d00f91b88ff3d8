"""Stable offset/limit pagination — SURVEY.md §2.5 W4 / §2.10 Q2.

The reference paginates via ES ``from/size`` (search_api/api.py:85-87)
and Django's Paginator (views.py:44-63). Spark has no stable OFFSET on
an unordered DataFrame, so a page is an offset/limit over an explicit
total order (sort keys MUST end in a unique column, or pages are
nondeterministic across runs — we enforce that by requiring a
tiebreak key).

Scale note: ``orderBy → offset → limit`` plans as one
TakeOrderedAndProject — each partition keeps its top page·limit rows
in a bounded heap and the driver merges them; there is no global sort
and no single-partition window. The heap grows with the page number,
so for deep pagination over huge data prefer keyset pagination (see
operators/keyset.py) — this operator is the serving-layer parity path
where pages are shallow (an API page).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def paginate(
    df: DataFrame,
    order_by: list[Column],
    tiebreak: Column,
    page: int,
    limit: int,
) -> DataFrame:
    """Return rows (page-1)*limit+1 .. page*limit in the given order."""
    if page < 1 or limit < 1:
        raise ValueError("page and limit must be >= 1")  # P8 param validation
    return df.orderBy(*order_by, tiebreak).offset((page - 1) * limit).limit(limit)


def top_k_per_group(
    df: DataFrame,
    partition_by: list[Column],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """row_number-based per-group top-k (keeps the rank column)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)
