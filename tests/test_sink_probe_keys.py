"""The bucketed upsert's ``probe_keys`` fast path.

The IVM caller already holds the affected-id frame its rebuild was
restricted by — a guaranteed superset of the batch's keys — so the
touched-bucket probe can run over that bounded frame instead of
executing the (join/agg-heavy) batch plan an extra time. The contract
is checked, not trusted: these tests pin that

- an exact probe set produces the byte-same merge result as the
  default (probe-over-batch) path;
- a PROPER superset (ids whose docs were replaced-away) still merges
  correctly and never loses unprobed buckets' rows;
- a probe that misses a batch key's bucket aborts the commit loudly
  BEFORE any row could be dropped, leaving the view unchanged;
- an empty probe with a non-empty batch violates the superset
  contract and raises.
"""

from __future__ import annotations

import pytest


def _imports():
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.streaming import sink

    return F, sink


def _bdf(spark, rows):
    return spark.createDataFrame(rows, "id long, val long")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _rows_of(df):
    return sorted((r.id, r.val) for r in df.collect())


def _seed(spark, sink, path, n=64, n_buckets=4):
    from pyspark.sql import functions as F

    base = spark.range(0, n).select(
        F.col("id"), (F.col("id") * 10).alias("val")
    )
    sink.upsert_keyed_parquet_bucketed(
        spark, base, path, key="id", n_buckets=n_buckets
    )
    return {(i, i * 10) for i in range(n)}


def test_exact_probe_matches_default_path(spark, tmp_path):
    _, sink = _imports()
    view = str(tmp_path / "v")
    exp = _seed(spark, sink, view)
    batch = _bdf(spark, [(3, 999), (7, 777)])
    n = sink.upsert_keyed_parquet_bucketed(
        spark, batch, view, key="id", n_buckets=4,
        probe_keys=_ids(spark, [3, 7]),
    )
    assert n >= 1
    exp = {r for r in exp if r[0] not in (3, 7)} | {(3, 999), (7, 777)}
    assert set(_rows_of(sink.read_bucketed_view(spark, view))) == exp


def test_superset_probe_keeps_unmatched_buckets(spark, tmp_path):
    """Probed-but-absent ids (docs replaced-away by the rebuild) must
    not lose rows: every bucket the probe touches is re-merged with an
    empty batch slice — an identity rewrite — and unprobed buckets'
    manifest entries stay byte-identical."""
    _, sink = _imports()
    view = str(tmp_path / "v")
    exp = _seed(spark, sink, view, n_buckets=4)
    man_before = sink.load_manifest(view)
    batch = _bdf(spark, [(5, 555)])
    # probe covers buckets of many ids, but the batch only carries 5
    sink.upsert_keyed_parquet_bucketed(
        spark, batch, view, key="id", n_buckets=4,
        probe_keys=_ids(spark, [5, 6, 7, 8]),
    )
    exp = {r for r in exp if r[0] != 5} | {(5, 555)}
    assert set(_rows_of(sink.read_bucketed_view(spark, view))) == exp
    # a bucket outside every probed id's hash is untouched on disk
    from etl_sprint_2_5_spark.streaming.sink import _kb_expr, _layout_of

    man_after = sink.load_manifest(view)
    kb_of = _kb_expr(_layout_of(man_after, 4), "id")
    probed_kbs = {
        r.kb
        for r in _ids(spark, [5, 6, 7, 8]).withColumn("kb", kb_of).collect()
    }
    for kb in range(4):
        if kb not in probed_kbs:
            assert man_before["buckets"][str(kb)] == (
                man_after["buckets"][str(kb)]
            )


def test_probe_missing_a_batch_bucket_aborts(spark, tmp_path):
    _, sink = _imports()
    view = str(tmp_path / "v")
    exp = _seed(spark, sink, view, n_buckets=4)
    # find two ids in DIFFERENT buckets so the probe can miss one
    from etl_sprint_2_5_spark.streaming.sink import (
        _kb_expr,
        _layout_of,
        load_manifest,
    )
    from pyspark.sql import functions as F

    man = load_manifest(view)
    kb_of = _kb_expr(_layout_of(man, 4), "id")
    kbs = {
        r.id: r.kb
        for r in _bdf(spark, [(i, 0) for i in range(16)])
        .withColumn("kb", kb_of)
        .collect()
    }
    a = 0
    b = next(i for i, kb in kbs.items() if kb != kbs[a])
    batch = _bdf(spark, [(a, 111), (b, 222)])
    with pytest.raises(ValueError, match="absent from the touched-bucket"):
        sink.upsert_keyed_parquet_bucketed(
            spark, batch, view, key="id", n_buckets=4,
            probe_keys=_ids(spark, [a]),  # misses b's bucket
        )
    # nothing committed, nothing lost
    assert set(_rows_of(sink.read_bucketed_view(spark, view))) == exp


def test_empty_probe_with_rows_violates_contract(spark, tmp_path):
    _, sink = _imports()
    view = str(tmp_path / "v")
    exp = _seed(spark, sink, view, n_buckets=4)
    batch = _bdf(spark, [(1, 111)])
    with pytest.raises(ValueError, match="superset"):
        sink.upsert_keyed_parquet_bucketed(
            spark, batch, view, key="id", n_buckets=4,
            probe_keys=_ids(spark, []),
        )
    assert set(_rows_of(sink.read_bucketed_view(spark, view))) == exp
