"""Serving-layer query compiler — SURVEY.md §2.10 Q1-Q5.

Translates validated request params into DataFrame plans over the gold
views, mirroring the two reference APIs:

- Flask search API (/root/reference/search_api/api.py:41-111): point
  lookup, list+sort+paginate, weighted multi-field search;
- Django admin API (movie_admin/.../views.py:26-76): role-array
  listing with a count/total_pages envelope.

Param validation replicates the pydantic gate (api.py:65-79, P8):
invalid input raises BadRequest before any plan is built (the HTTP
layer's 422). Missing documents return None (the 404 path,
api.py:53-55, views.py:72-76).

The serving contract assumes gold views are the "index" (S6): modest
result pages over a pre-built denormalized DataFrame. Over a view read
straight from parquet (``sink.read_view``), the admin count and the
search idf statistics are summed from per-file statistics memoized
across requests (operators/view_stats.py, Elasticsearch's per-segment
model; the scorer finds the search statistics itself), so a request
runs one Spark job, its page. Any other frame (filtered, derived,
in-memory) aggregates its own rows per request.
At cluster scale the gold view is the thing you'd actually ship to
ES/OpenSearch via the connector; these operators are the
engine-internal equivalent with identical envelopes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators.pagination import paginate
from etl_sprint_2_5_spark.operators.textops import score_page, with_fulltext_score
from etl_sprint_2_5_spark.operators.view_stats import view_count

SORT_FIELDS = ("id", "title", "imdb_rating")
ORDERS = ("asc", "desc")

# ES multi_match boosts (search_api/api.py:94-100); each name array is
# matched as one space-joined string
SEARCH_FIELDS = {
    "title": 4.0,
    "description": 3.0,
    "array_join(genres_names, ' ')": 2.0,
    "array_join(actors_names, ' ')": 4.0,
    "array_join(writers_names, ' ')": 1.0,
    "array_join(directors_names, ' ')": 3.0,
}


class BadRequest(ValueError):
    """Invalid request params (HTTP 422 in the reference)."""


# analyzer name → with_fulltext_score's ``stem`` option
STEM = {"plain": False, "en": True, "ru_en": "ru_en"}
ANALYZERS = tuple(STEM)


@dataclass
class ListParams:
    limit: int = 50
    page: int = 1
    sort: str = "id"
    sort_order: str = "asc"
    search: str | None = None
    # "plain" = raw-token match (oracle-expressible default); "en" =
    # Porter; "ru_en" = the reference's full ES analyzer chain
    # (movies.es.schema.json:4-40) — standard tokenize → lowercase →
    # english_stop → Porter → russian_stop → Snowball-Russian
    analyzer: str = "plain"

    def __post_init__(self) -> None:
        if self.limit < 1 or self.page < 1:
            raise BadRequest("limit and page must be positive")
        if self.sort not in SORT_FIELDS:
            raise BadRequest(f"sort must be one of {SORT_FIELDS}")
        if self.sort_order not in ORDERS:
            raise BadRequest(f"sort_order must be one of {ORDERS}")
        if self.analyzer not in ANALYZERS:
            raise BadRequest(f"analyzer must be one of {ANALYZERS}")


def get_movie(movies: DataFrame, movie_id: str) -> Row | None:
    """Q1/Q5: point lookup; None ⇒ caller's 404."""
    hits = movies.where(F.col("id") == F.lit(movie_id)).limit(1).collect()
    return hits[0] if hits else None


def list_movies(movies: DataFrame, params: ListParams) -> DataFrame:
    """Q2/Q3: optional search scoring, then sort + stable pagination.

    With ``search``: order by relevance desc (ties by id, as ES does by
    internal doc id), like api.py:93-100. Without: explicit sort field.
    The movie rows are scored in place: no join back to ``movies``. The
    search text is analyzed like the documents (lowercased and split by
    the analyzer's tokenizer).
    """
    if params.search:
        scored = with_fulltext_score(
            movies, (params.search,), SEARCH_FIELDS, stem=STEM[params.analyzer]
        )
        return score_page(scored, F.col("id"), params.page, params.limit)
    col = F.col(params.sort)
    order = [col.desc() if params.sort_order == "desc" else col.asc()]
    return paginate(movies, order, F.col("id"), params.page, params.limit)


def admin_movie_list(movies: DataFrame, page: int = 1, per_page: int = 50) -> dict:
    """Q4: Django-style envelope — count, total_pages, prev/next, and
    the page of documents ordered by title (views.py:44-63)."""
    if page < 1:
        raise BadRequest("page must be positive")
    total = view_count(movies)
    if total is None:
        total = movies.count()  # A6
    total_pages = max(1, math.ceil(total / per_page))
    rows = paginate(
        movies, [F.col("title").asc()], F.col("id"), page, per_page
    )
    return {
        "count": total,
        "total_pages": total_pages,
        "prev": page - 1 if page > 1 else None,
        "next": page + 1 if page < total_pages else None,
        "results": rows,
    }
