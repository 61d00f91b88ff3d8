"""Prepared-artifact serving path (artifacts.py): the persisted IVF
centroids, shingle sets, codes and sketch tables must be
BIT-IDENTICAL to the inline training path (training is deterministic),
artifacts must be reused (no retrain on the second call), and a
regenerated corpus must self-invalidate via the fingerprint."""

from __future__ import annotations

import pytest

from etl_sprint_2_5_spark import artifacts as A

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def artifact_dir(tmp_path, monkeypatch):
    monkeypatch.setenv(A.ARTIFACT_DIR_ENV, str(tmp_path / "arts"))
    return tmp_path / "arts"


def _centroid_rows(df):
    return sorted(
        (r["vec_id"], tuple(r["embedding"])) for r in df.collect()
    )


def test_ivf_centroids_prepared_equals_inline(spark, artifact_dir):
    inline = A.prepared_ivf_centroids(spark, SF_DIR, use_artifact=False)
    prepared = A.prepared_ivf_centroids(spark, SF_DIR)
    assert _centroid_rows(prepared) == _centroid_rows(inline)
    # artifact landed on disk under the env-pointed root
    dirs = list(artifact_dir.glob("ivf_centroids-*"))
    assert len(dirs) == 1 and (dirs[0] / "_SUCCESS").exists()


def test_ivf_centroids_artifact_reused_not_retrained(spark, artifact_dir, monkeypatch):
    A.prepared_ivf_centroids(spark, SF_DIR)

    def boom(*a, **k):
        raise AssertionError("retrained despite artifact present")

    import etl_sprint_2_5_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "train_ivf_centroids", boom)
    again = A.prepared_ivf_centroids(spark, SF_DIR)
    assert again.count() > 0


def test_shingle_index_prepared_equals_inline(spark, artifact_dir):
    inline = {
        r["doc_id"]: list(r["hs"])
        for r in A.prepared_shingle_index(
            spark, SF_DIR, use_artifact=False
        ).collect()
    }
    prepared = {
        r["doc_id"]: list(r["hs"])
        for r in A.prepared_shingle_index(spark, SF_DIR).collect()
    }
    assert prepared == inline and len(prepared) > 0
    dirs = list(artifact_dir.glob("shingle_index-*"))
    assert len(dirs) == 1 and (dirs[0] / "_SUCCESS").exists()


def test_quantized_codes_prepared_equals_inline(spark, artifact_dir):
    inline = {
        r["vec_id"]: (list(r["qvec"]), r["qvec_scale"])
        for r in A.prepared_quantized_codes(
            spark, SF_DIR, use_artifact=False
        ).collect()
    }
    prepared = {
        r["vec_id"]: (list(r["qvec"]), r["qvec_scale"])
        for r in A.prepared_quantized_codes(spark, SF_DIR).collect()
    }
    assert prepared == inline and len(prepared) > 0


def test_pq_index_prepared_equals_inline(spark, artifact_dir):
    """The codebook and the codes are published together by one rename:
    one key dir holding both, no tmp dir left, and both equal the
    inline build."""
    rows = lambda df: sorted(tuple(map(str, r)) for r in df.collect())  # noqa: E731
    inline = A.prepared_pq_index(spark, SF_DIR, use_artifact=False)
    prepared = A.prepared_pq_index(spark, SF_DIR)
    assert [rows(df) for df in prepared] == [rows(df) for df in inline]
    assert all(rows(df) for df in prepared)
    dirs = list(artifact_dir.glob("pq_index-*"))
    assert len(dirs) == 1 and not dirs[0].name.count(".tmp")
    assert all((dirs[0] / part / "_SUCCESS").exists() for part in ("codebook", "codes"))


def test_fingerprint_invalidates_on_table_change(tmp_path, monkeypatch):
    src = tmp_path / "sf"
    src.mkdir()
    f = src / "embeddings.parquet"
    f.write_bytes(b"one")
    fp1 = A.table_fingerprint(str(src), "embeddings")
    f.write_bytes(b"three")  # size + mtime change
    assert A.table_fingerprint(str(src), "embeddings") != fp1


def test_ann_ivf_query_identical_with_and_without_artifact(spark, artifact_dir):
    """The registered query through the prepared path returns exactly
    the inline-trained result (what the DuckDB oracle computes)."""
    from etl_sprint_2_5_spark.operators.similarity import (
        assign_cells_gemm,
        ivf_topk,
        train_ivf_centroids,
    )
    from etl_sprint_2_5_spark.plans import load_all
    from etl_sprint_2_5_spark.plans.registry import REGISTRY
    from etl_sprint_2_5_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    load_all()
    got = [
        tuple(r)
        for r in REGISTRY["ann_ivf_topk"].fn(spark, SF_DIR).collect()
    ]

    e = load_table(spark, "embeddings", SF_DIR)
    seeds = e.where(F.col("vec_id") % 100 == 0)
    cents = train_ivf_centroids(e, seeds, "vec_id", "embedding", 2)
    assigned = assign_cells_gemm(e, cents, "vec_id", "embedding")
    q = assigned.where(F.col("vec_id") < 8)
    want = [
        tuple(r)
        for r in ivf_topk(assigned, q, "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == want and len(got) > 0


def test_stale_artifact_not_probed_after_source_mutation(
    spark, artifact_dir, tmp_path, monkeypatch
):
    """The driver regenerates testdata every round: after a source
    parquet is REPLACED, the previously-persisted artifact must NOT
    be probed — the changed fingerprint has to trigger a retrain, and
    the retrained artifact must reflect the new data. (The unit-level
    fingerprint test above checks the key function; this one checks
    the full prepared-path behavior.)"""
    import shutil as sh

    import etl_sprint_2_5_spark.operators.similarity as sim

    src = tmp_path / "sf"
    src.mkdir()
    sh.copy(f"{SF_DIR}/embeddings.parquet", src / "embeddings.parquet")

    first = _centroid_rows(A.prepared_ivf_centroids(spark, str(src)))
    assert len(list(artifact_dir.glob("ivf_centroids-*"))) == 1

    # regenerate the source: same schema, shifted contents
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    half = e.where(e.vec_id % 2 == 0)
    tmp_out = tmp_path / "regen"
    half.coalesce(1).write.parquet(str(tmp_out))
    (src / "embeddings.parquet").unlink()
    part = next(tmp_out.glob("*.parquet"))
    sh.copy(part, src / "embeddings.parquet")

    calls = {"n": 0}
    real = sim.train_ivf_centroids

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(sim, "train_ivf_centroids", counting)
    second = _centroid_rows(A.prepared_ivf_centroids(spark, str(src)))
    assert calls["n"] == 1, "stale artifact was probed instead of retraining"
    assert len(list(artifact_dir.glob("ivf_centroids-*"))) == 2
    assert second != first  # the retrained artifact sees the new data

    # and the new artifact is itself reused (no third training run)
    A.prepared_ivf_centroids(spark, str(src)).count()
    assert calls["n"] == 1


def test_algo_version_bump_invalidates_artifact(
    spark, artifact_dir, monkeypatch
):
    """Editing a training algorithm must not silently serve the old
    artifact: bumping ALGO_VERSION for the kind changes the cache key
    and forces a retrain."""
    import etl_sprint_2_5_spark.operators.similarity as sim

    A.prepared_ivf_centroids(spark, SF_DIR).count()
    assert len(list(artifact_dir.glob("ivf_centroids-*"))) == 1

    calls = {"n": 0}
    real = sim.train_ivf_centroids

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(sim, "train_ivf_centroids", counting)
    monkeypatch.setitem(A.ALGO_VERSION, "ivf_centroids", 999)
    A.prepared_ivf_centroids(spark, SF_DIR).count()
    assert calls["n"] == 1
    assert len(list(artifact_dir.glob("ivf_centroids-*"))) == 2


# ---------------------------------------------------- sketch artifacts


def test_hll_day_registers_prepared_equals_inline(spark, artifact_dir):
    """The persisted per-day HLL registers are BIT-IDENTICAL to an
    inline build (salted-md5 determinism) — the property that lets
    hll_weekly_active_users serve from the artifact while its DuckDB
    oracle rebuilds inline and still gates cell-for-cell."""
    inline = A.prepared_hll_day_registers(spark, SF_DIR, use_artifact=False)
    prepared = A.prepared_hll_day_registers(spark, SF_DIR)
    rows = lambda df: sorted(  # noqa: E731
        (r["day_num"], r["bucket"], r["reg"]) for r in df.collect()
    )
    assert rows(prepared) == rows(inline) and rows(inline)
    dirs = list(artifact_dir.glob("hll_day_registers-*"))
    assert len(dirs) == 1 and (dirs[0] / "_SUCCESS").exists()


def test_dd_price_histogram_prepared_equals_inline(spark, artifact_dir):
    inline = A.prepared_dd_price_histogram(spark, SF_DIR, use_artifact=False)
    prepared = A.prepared_dd_price_histogram(spark, SF_DIR)
    rows = lambda df: sorted(  # noqa: E731
        (r["g"], r["bucket_id"], r["n"]) for r in df.collect()
    )
    assert rows(prepared) == rows(inline) and rows(inline)
    assert list(artifact_dir.glob("dd_price_histogram-*"))


def test_cms_cells_prepared_equals_inline(spark, artifact_dir):
    inline = A.prepared_cms_custkey_cells(spark, SF_DIR, use_artifact=False)
    prepared = A.prepared_cms_custkey_cells(spark, SF_DIR)
    rows = lambda df: sorted(  # noqa: E731
        (r["row"], r["bucket"], r["n"]) for r in df.collect()
    )
    assert rows(prepared) == rows(inline) and rows(inline)
    assert list(artifact_dir.glob("cms_cells-*"))


def test_hll_day_registers_artifact_reused_not_rebuilt(
    spark, artifact_dir, monkeypatch
):
    A.prepared_hll_day_registers(spark, SF_DIR)

    def boom(*a, **k):
        raise AssertionError("rebuilt despite artifact present")

    import etl_sprint_2_5_spark.operators.sketch as sk

    monkeypatch.setattr(sk, "hll_build", boom)
    again = A.prepared_hll_day_registers(spark, SF_DIR)
    assert again.count() > 0


def test_kmv_week_samples_prepared_equals_inline(spark, artifact_dir):
    """The persisted per-week KMV bottom-k samples are BIT-IDENTICAL
    to an inline build (salted-md5 + deterministic bottom-k), and the
    per-week slice IS kmv_build of that week — the fold property that
    lets kmv_churn_served skip the events rescan while its oracle
    rebuilds inline and still gates hash-for-hash."""
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.operators.sketch import kmv_build
    from etl_sprint_2_5_spark.sources.parquet import load_table

    inline = A.prepared_kmv_week_samples(spark, SF_DIR, use_artifact=False)
    prepared = A.prepared_kmv_week_samples(spark, SF_DIR)
    rows = lambda df: sorted(  # noqa: E731
        (r["week_num"], r["hv"]) for r in df.collect()
    )
    assert rows(prepared) == rows(inline) and rows(inline)
    assert list(artifact_dir.glob("kmv_week_samples-*"))

    # one stored week slice == kmv_build on that week's event slice
    w0 = min(w for w, _ in rows(prepared))
    ev = load_table(spark, "events", SF_DIR)
    wk0 = ev.where(
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000 div 7")
        == F.lit(w0)
    )
    direct = sorted(r["hv"] for r in kmv_build(wk0, "user_id").collect())
    stored = [hv for w, hv in rows(prepared) if w == w0]
    assert stored == direct
