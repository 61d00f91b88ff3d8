"""Per-file statistics of a parquet view: a row count and full-text
term statistics without a corpus scan per request.

Elasticsearch, the reference's serving store, keeps document
frequencies per segment and sums them at query time
(search_api/api.py:94-100); PostgreSQL answers the admin count
(views.py:44-63). The parquet twin of a segment is a data file: sink
writes never modify a file in place, they write new ones and drop old
ones. So statistics are memoized per file, keyed by (path, size,
mtime_ns), and each request sums its own terms' counters over the
view's current files on the driver:

- the row count comes from the parquet footer (pyarrow; no Spark job);
- the vocabulary counters (``textops.term_counters``: per (field, term)
  document frequency and per-field token-length sums) are built by ONE
  aggregate over the files not yet indexed, grouped by file, and
  collected through Arrow. They are also keyed by the fields and the
  analyzer.

A flat-sink version is all new files, so its first search indexes the
whole view once; a bucketed version re-indexes only its new bucket
dirs. The memo keeps only files that are still on disk unchanged: every
build drops the entries of files a sink swapped away. It lives in the
process, so each process builds the statistics of a file once.

This applies when the frame's optimized plan is a bare parquet relation
on the local filesystem (``sink.read_view``, a rewrite-mode
``read_bucketed_view``, ``spark.read.parquet``), optionally under
repartitions, which move rows between partitions but keep every row
(``load_documents_spread``). For any other frame (filtered, derived,
in-memory, delta-mode merge-on-read) the functions return None and the
caller runs its own aggregate (``with_fulltext_score`` does so itself).
"""

from __future__ import annotations

import logging
import os
import threading
import time
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators.textops import term_counters, term_stats_dict

log = logging.getLogger(__name__)

# (local path, size, mtime_ns): one immutable data file
FileKey = tuple[str, int, int]


@dataclass
class _Vocab:
    """One file's counters: rows, per-field token-length sums and per-field
    {term: document frequency}."""

    n: int
    lengths: list[int]
    dfs: list[dict[str, int]]


# the memo is process-wide, like the parquet files it describes; every
# update and sweep holds the lock, so concurrent requests never iterate
# a dict another one is changing, and a file is indexed once
_LOCK = threading.Lock()
_ROWS: dict[FileKey, int] = {}
_VOCAB: dict[tuple[FileKey, tuple[str, ...], bool | str], _Vocab] = {}


# logical nodes that move rows between partitions without adding,
# dropping or changing any
_REPARTITIONS = ("Repartition", "RepartitionByExpression")


def _local_path(uri: str) -> str | None:
    u = urlparse(uri)
    return unquote(u.path) if u.scheme in ("", "file") else None


def view_files(df: DataFrame) -> list[FileKey] | None:
    """The data files of ``df`` when its optimized plan is a bare,
    unpartitioned parquet relation on the local filesystem, under any
    number of repartitions; else None. Listing reads the relation's
    cached file index: no Spark job."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return None
    plan = jdf.queryExecution().optimizedPlan()
    while plan.getClass().getSimpleName() in _REPARTITIONS:
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or rel.partitionSchema().length() > 0
    ):
        return None
    files = []
    for uri in df.inputFiles():
        path = _local_path(uri)
        if path is None:
            return None
        try:
            st = os.stat(path)
        except OSError:  # swapped away under a stale frame
            return None
        files.append((path, st.st_size, st.st_mtime_ns))
    return files


def _sweep() -> None:
    """Drop the entries of files that are gone or changed on disk
    (caller holds ``_LOCK``)."""
    live: dict[FileKey, bool] = {}

    def alive(key: FileKey) -> bool:
        if key not in live:
            try:
                st = os.stat(key[0])
                live[key] = (st.st_size, st.st_mtime_ns) == key[1:]
            except OSError:
                live[key] = False
        return live[key]

    for k in [k for k in _ROWS if not alive(k)]:
        del _ROWS[k]
    for k in [k for k in _VOCAB if not alive(k[0])]:
        del _VOCAB[k]


def view_count(df: DataFrame) -> int | None:
    """``df.count()`` from the parquet footers of its files, or None when
    ``df`` is not a bare parquet view."""
    files = view_files(df)
    if files is None:
        return None
    with _LOCK:
        new = [f for f in files if f not in _ROWS]
        if new:
            import pyarrow.parquet as pq

            for f in new:
                _ROWS[f] = pq.read_metadata(f[0]).num_rows
            _sweep()
        return sum(_ROWS[f] for f in files)


def _index(df: DataFrame, files: list[FileKey], fields: tuple[str, ...],
           stem: bool | str) -> bool:
    """Build and memoize the counters of ``files`` in one Spark job
    (caller holds ``_LOCK``); False when a file's rows could not be told
    apart by path."""
    t0 = time.perf_counter()
    spark = df.sparkSession
    scan = spark.read.schema(df.schema).parquet(*[f[0] for f in files])
    table = term_counters(
        scan, fields, stem, by=F.col("_metadata.file_path")
    ).toArrow()
    pos = {f: i for i, f in enumerate(fields)}
    # a file without rows has no counters
    vocab = {f[0]: _Vocab(0, [0] * len(fields), [{} for _ in fields]) for f in files}
    cols = table.to_pydict()
    for by, field, term, n in zip(cols["by"], cols["field"], cols["term"], cols["n"]):
        v = vocab.get(_local_path(by))
        if v is None:  # a path spelled differently from the listing
            return False
        if field is None:
            v.n = n
        elif term is None:
            v.lengths[pos[field]] = n
        else:
            v.dfs[pos[field]][term] = n
    for f in files:
        _VOCAB[(f, fields, stem)] = vocab[f[0]]
    _sweep()
    log.debug("view statistics: %d files indexed, %d terms, %.3f s", len(files),
              sum(len(d) for v in vocab.values() for d in v.dfs),
              time.perf_counter() - t0)
    return True


def view_term_stats(
    df: DataFrame, terms: tuple[str, ...], fields, stem: bool | str = False
) -> dict | None:
    """``corpus_term_stats(df, terms, fields, stem)`` (``terms`` already
    analyzed) summed from the per-file counters of ``df``'s files, or
    None when ``df`` is not a bare parquet view. Only files not indexed
    yet are read."""
    files = view_files(df)
    if files is None:
        return None
    fields = tuple(fields)
    with _LOCK:
        new = [f for f in files if (f, fields, stem) not in _VOCAB]
        if new and not _index(df, new, fields, stem):
            return None
        vocab = [_VOCAB[(f, fields, stem)] for f in files]
    return term_stats_dict(
        sum(v.n for v in vocab),
        {
            (field, t): sum(v.dfs[i].get(t, 0) for v in vocab)
            for i, field in enumerate(fields)
            for t in terms
        },
        {field: sum(v.lengths[i] for v in vocab) for i, field in enumerate(fields)},
    )
