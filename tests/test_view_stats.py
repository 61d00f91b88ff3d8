"""Per-file view statistics (operators/view_stats.py): the full-text
idf statistics and the admin count of a parquet view, memoized per
data file, must equal the from-scratch aggregate after every
maintenance wave, drop the files a sink swapped away, and leave a warm
request one Spark job."""

from __future__ import annotations

import datetime as dt
import logging
import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.api.query import (
    SEARCH_FIELDS,
    STEM,
    ListParams,
    admin_movie_list,
    list_movies,
)
from etl_sprint_2_5_spark.cost import tracked
from etl_sprint_2_5_spark.operators import view_stats
from etl_sprint_2_5_spark.operators.textops import (
    _query_terms,
    corpus_term_stats,
    score_page,
    with_fulltext_score,
)
from etl_sprint_2_5_spark.operators.view_stats import view_count, view_files, view_term_stats
from etl_sprint_2_5_spark.pipeline.movie_gold import movies_gold
from etl_sprint_2_5_spark.pipeline.normalize import normalize
from etl_sprint_2_5_spark.sources.parquet import load_documents_spread, load_table
from etl_sprint_2_5_spark.streaming.ivm import run_to_completion
from etl_sprint_2_5_spark.streaming.movie_pipelines import movie_pipelines
from etl_sprint_2_5_spark.streaming.sink import read_bucketed_view, read_view
from etl_sprint_2_5_spark.streaming.state import OffsetStore
from tests.conftest import SF_SMOKE
from tests.fixtures_legacy import as_dataframes
from tests.test_api import _mirror_movies, _mirror_pages
from tests.test_ivm import T0, _mutate, loader, write_base

QUERY = ("renamed", "person", "quux", "movie", "drama", "the", "running")
LOG = "etl_sprint_2_5_spark.operators.view_stats"


def _rename_again(spark, tmp):
    """The person ``_mutate`` renamed becomes "Quux Zyx" at T0+2h."""
    ld = loader(spark, tmp)
    p = ld("person")
    who = p.orderBy("id").first()["id"]
    hit = F.col("id") == who
    p = p.withColumn(
        "full_name", F.when(hit, F.lit("Quux Zyx")).otherwise(F.col("full_name"))
    ).withColumn(
        "updated_at",
        F.when(hit, F.lit(T0 + dt.timedelta(hours=2))).otherwise(F.col("updated_at")),
    )
    p.write.parquet(f"{tmp}/base/person.parquet.new")
    shutil.rmtree(f"{tmp}/base/person.parquet")
    shutil.move(f"{tmp}/base/person.parquet.new", f"{tmp}/base/person.parquet")


def _memo_paths() -> set[str]:
    return {k[0][0] for k in view_stats._VOCAB} | {k[0] for k in view_stats._ROWS}


def _page(movies, search: str, analyzer: str) -> list:
    params = ListParams(search=search, limit=10, analyzer=analyzer)
    return [(r["id"], r["score"]) for r in list_movies(movies, params).collect()]


@pytest.mark.parametrize("n_buckets", [0, 16], ids=["flat", "bucketed"])
def test_view_stats_equal_from_scratch_after_each_wave(spark, tmp_path, caplog,
                                                       n_buckets):
    """A backfill then two CDC waves (titles, a person rename, a new
    credit; then a second rename) through ``movie_pipelines``. After
    each: the footer count equals ``count()`` and the summed per-file
    counters equal ``corpus_term_stats`` for all three analyzers; a
    search sees the renamed person; a filtered frame (the per-request
    aggregate) gives the same page; the memo holds no file a sink
    swapped away; and a version re-indexes only its new files."""
    tmp = str(tmp_path)
    write_base(spark, tmp)
    gold = f"{tmp}/gold/movies_gold"
    pipes = [replace(p, n_buckets=n_buckets)
             for p in movie_pipelines(f"{tmp}/gold", batch_size=50)]
    offsets = OffsetStore(f"{tmp}/offsets.json")
    ld = loader(spark, tmp)
    read = read_bucketed_view if n_buckets else read_view
    caplog.set_level(logging.DEBUG, logger=LOG)
    fields = tuple(SEARCH_FIELDS)
    seen: set = set()
    for wave, (mutate, name) in enumerate(
        ((None, None), (_mutate, "renamed"), (_rename_again, "quux"))
    ):
        if mutate is not None:
            mutate(spark, tmp)
        assert run_to_completion(spark, pipes, ld, offsets) > 0
        movies = read(spark, gold)
        files = view_files(movies)
        assert files, "a maintained view must take the per-file path"
        assert view_count(movies) == movies.count()
        caplog.clear()
        for analyzer, stem in STEM.items():
            terms = _query_terms(QUERY, stem)
            assert view_term_stats(movies, terms, SEARCH_FIELDS, stem) == (
                corpus_term_stats(movies, terms, fields, stem)
            ), (wave, analyzer)
        # one build per analyzer, each over this version's new files only
        new = [f for f in files if f not in seen]
        built = [r.getMessage() for r in caplog.records if r.name == LOG]
        assert len(built) == len(STEM), built
        assert all(m.startswith(f"view statistics: {len(new)} files indexed")
                   for m in built), (len(new), built)
        if wave and n_buckets:
            assert len(new) < len(files)  # untouched buckets keep their stats
        seen |= set(files)
        if name:
            page = _page(movies, name, "plain")
            assert page and page == _page(movies.where(F.col("id").isNotNull()), name, "plain")
        assert view_term_stats(movies.where(F.col("id").isNotNull()), QUERY,
                               SEARCH_FIELDS) is None
        # bounded memo: every entry's file is still on disk unchanged
        memo = _memo_paths()
        assert all(os.path.exists(p) for p in memo)
        gone = {f[0] for f in seen if not os.path.exists(f[0])}
        assert not gone & memo
        if wave and not n_buckets:
            assert gone  # the flat sink swapped the previous version away


def test_parquet_pages_match_python_mirror(spark, tmp_path):
    """The pure-Python tf·idf mirror over the same rows, served from a
    three-file parquet view (NULL fields and arrays included): the
    per-file statistics give exactly the mirror's pages."""
    path = str(tmp_path / "mirror")
    _mirror_movies(spark).repartition(3).write.parquet(path)
    movies = spark.read.parquet(path)
    assert len(view_files(movies)) > 1
    for query in ("night", "o'brien night", "lee ann ray drama", "zzz"):
        want = _mirror_pages(query, limit=2)
        for page, expected in enumerate(want, start=1):
            got = list_movies(movies, ListParams(search=query, limit=2, page=page))
            assert [(r["id"], r["score"]) for r in got.collect()] == expected, query


@pytest.mark.parametrize(
    "stem, query, analyzed, fields",
    [
        (False, ("spark", "nosuchtermxyz"), ("spark", "nosuchtermxyz"), ("text", "source")),
        (True, ("running", "merges", "nosuchtermxyz"), ("run", "merg", "nosuchtermxyz"),
         ("text",)),
    ],
    ids=["plain", "en"],
)
def test_spread_documents_take_the_per_file_path(spark, stem, query, analyzed, fields):
    """The repartitioned documents frame the fulltext queries score
    (``load_documents_spread``) lists its file, and its per-file
    statistics equal the aggregate, keyed by the analyzed query terms:
    a term absent from the corpus counts df 0, and an ``en`` query is
    keyed by its stems. A filtered frame falls back to the per-request
    aggregate and returns the same page."""
    docs = load_documents_spread(spark, SF_SMOKE)
    files = view_files(docs)
    assert files and files == view_files(load_table(spark, "documents", SF_SMOKE))
    terms = _query_terms(query, stem)
    assert terms == analyzed
    stats = view_term_stats(docs, terms, fields, stem)
    assert stats == corpus_term_stats(docs, terms, fields, stem)
    assert set(stats["df"]) == {(f, t) for f in fields for t in analyzed}
    assert all(stats["df"][(f, "nosuchtermxyz")] == 0 for f in fields)
    filtered = docs.where(F.col("doc_id").isNotNull())
    assert view_files(filtered) is None

    def page(frame):
        scored = with_fulltext_score(frame, query, dict.fromkeys(fields, 1.0), stem)
        top = score_page(scored, F.col("doc_id"), 1, 20)
        return [(r["doc_id"], r["score"]) for r in top.collect()]

    assert page(docs) and page(docs) == page(filtered)


def _jobs(spark, action) -> tuple[int, object]:
    with tracked(spark, "view_stats_budget") as t:
        out = action()
    return t.cost().jobs, out


def test_warm_search_and_admin_run_one_job(spark, tmp_path):
    """Over a ``read_view`` frame a warm search and an admin page each
    run one Spark job (their page), and admin's count equals
    ``count()``."""
    path = str(tmp_path / "movies_gold")
    movies_gold(normalize(*as_dataframes(spark))).repartition(3).write.parquet(path)
    movies = read_view(spark, path)
    params = ListParams(search="movie drama", limit=5)
    list_movies(movies, params).collect()  # cold: indexes the view's files
    jobs, rows = _jobs(spark, lambda: list_movies(movies, params).collect())
    assert jobs == 1 and rows
    jobs, env = _jobs(spark, lambda: admin_movie_list(movies, page=2, per_page=7))
    assert jobs == 0
    jobs, rows = _jobs(spark, lambda: env["results"].collect())
    assert jobs == 1 and len(rows) == 7
    assert env["count"] == movies.count()


def test_concurrent_cold_requests_index_each_file_once(spark, tmp_path, caplog):
    """More threads than cores ask a fresh view for its statistics and
    count at once: every answer equals the from-scratch aggregate, and
    the files are indexed by one build, not one per thread."""
    path = str(tmp_path / "movies_gold")
    movies_gold(normalize(*as_dataframes(spark))).repartition(3).write.parquet(path)
    movies = spark.read.parquet(path)
    fields = tuple(SEARCH_FIELDS)
    terms = _query_terms(QUERY, False)
    caplog.set_level(logging.DEBUG, logger=LOG)
    workers = 2 * (os.cpu_count() or 4)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(workers) as pool:
            stats = [f.result(timeout=300) for f in [
                pool.submit(view_term_stats, movies, terms, SEARCH_FIELDS)
                for _ in range(workers)
            ]]
            counts = [f.result(timeout=300) for f in [
                pool.submit(view_count, movies) for _ in range(workers)
            ]]
    finally:
        sys.setswitchinterval(interval)
    want = corpus_term_stats(movies, terms, fields)
    assert all(s == want for s in stats)
    assert set(counts) == {movies.count()}
    assert len([r for r in caplog.records if r.name == LOG]) == 1
