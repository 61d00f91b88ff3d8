"""Prepared-artifact serving path — train once, probe many.

The IVF centroid training (operators/similarity.py
train_ivf_centroids), the PQ codebook, the dedup shingle index and the
sketch tables are index-build steps: at 100 TB they run ONCE offline
and every query probes the persisted result (the faiss / search-index
convention). Running them inside the query is only a small-SF
convenience — this module makes the train-once path real. (Full-text
term statistics are not persisted here: the scorer sums per-file
counters memoized in the process, operators/view_stats.py.)

Artifacts are keyed by a fingerprint of the source parquet (name,
size, mtime) plus every training parameter plus a manually-bumped
per-kind ALGO_VERSION, so a regenerated table, a changed config, or
an edited training algorithm self-invalidates and simply retrains. Training is
fully deterministic (no RNG anywhere), so the prepared path is
bit-identical to the inline path — the DuckDB oracles, which always
train inline, stay green either way (pytest asserts equality).

Writes are atomic: train → write to a tmp dir → rename into place
(``_publish``). A concurrent preparer loses the rename race harmlessly
(same bytes). Artifacts live under <repo>/.artifacts (git-ignored), or
$SPARK_GRAFT_ARTIFACT_DIR.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

ARTIFACT_DIR_ENV = "SPARK_GRAFT_ARTIFACT_DIR"

# Bump the entry for an artifact kind whenever its TRAINING CODE
# changes semantics (train_ivf_centroids, quantize_embeddings,
# hashed_shingle_sets, the analyzer chain). The version is folded into
# the cache key, so an algorithm edit self-invalidates cached
# artifacts instead of silently serving stale state until --cold.
ALGO_VERSION = {
    "ivf_centroids": 1,
    "quantized_codes": 1,
    "shingle_index": 1,
    "pq_index": 1,
    "hll_day_registers": 1,
    "dd_price_histogram": 1,
    "cms_cells": 1,
    "kmv_week_samples": 1,
}


def artifact_root() -> Path:
    env = os.environ.get(ARTIFACT_DIR_ENV)
    if env:
        return Path(env)
    return Path(__file__).resolve().parents[1] / ".artifacts"


def table_fingerprint(sf_dir: str, table: str) -> str:
    """Identity of a source table file: md5 over (path, size,
    mtime_ns). Cheap (one stat), changes whenever the driver
    regenerates testdata."""
    p = Path(sf_dir) / f"{table}.parquet"
    st = p.stat()
    key = f"{p.resolve()}|{st.st_size}|{st.st_mtime_ns}"
    return hashlib.md5(key.encode()).hexdigest()[:16]


def _key(parts: dict) -> str:
    parts = dict(parts, algo=ALGO_VERSION[parts["kind"]])
    return hashlib.md5(
        json.dumps(parts, sort_keys=True).encode()
    ).hexdigest()[:16]


def _publish(dest: Path, write) -> None:  # noqa: ANN001
    """Let ``write(tmp)`` fill a tmp dir next to ``dest`` and publish it
    with one atomic rename; losing the race to an identical writer is
    harmless (same deterministic bytes), so the loser's dir is
    discarded."""
    tmp = dest.with_name(dest.name + f".tmp{os.getpid()}")
    write(tmp)
    try:
        tmp.rename(dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _persist_df(spark: SparkSession, kind: str, key: str, build) -> DataFrame:  # noqa: ANN001
    """Shared read-or-train-and-publish dance: serve the parquet
    artifact when present, else write the frame ``build()`` returns
    and publish it."""
    dest = artifact_root() / f"{kind}-{key}"
    if not (dest / "_SUCCESS").exists():
        _publish(dest, lambda tmp: build().write.mode("overwrite").parquet(str(tmp)))
    return spark.read.parquet(str(dest))


# --------------------------------------------------------------------
# IVF centroids
# --------------------------------------------------------------------


def prepared_ivf_centroids(
    spark: SparkSession,
    sf_dir: str,
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 100,
    iters: int = 2,
    use_artifact: bool = True,
) -> DataFrame:
    """Trained IVF centroids for ``table`` at ``sf_dir`` — read from
    the persisted artifact when present, else train (deterministic
    Lloyd) and persist. ``use_artifact=False`` forces the inline path
    (the pytest equality witness)."""
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.operators.similarity import train_ivf_centroids
    from etl_sprint_2_5_spark.sources.parquet import load_table

    corpus = load_table(spark, table, sf_dir)
    seeds = corpus.where(F.col(id_col) % centroid_mod == 0)
    if not use_artifact:
        return train_ivf_centroids(corpus, seeds, id_col, vec_col, iters)

    key = _key(
        {
            "kind": "ivf_centroids",
            "fp": table_fingerprint(sf_dir, table),
            "table": table,
            "id": id_col,
            "vec": vec_col,
            "mod": centroid_mod,
            "iters": iters,
        }
    )
    return _persist_df(
        spark, "ivf_centroids", key,
        lambda: train_ivf_centroids(
            corpus, seeds, id_col, vec_col, iters
        ).coalesce(1),
    )


# --------------------------------------------------------------------
# int8 quantized embedding codes (the compressed ANN index)
# --------------------------------------------------------------------


def prepared_quantized_codes(
    spark: SparkSession,
    sf_dir: str,
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_artifact: bool = True,
) -> DataFrame:
    """Symmetric-int8 codes (id, qvec array<int>, qvec_scale) as a
    persisted artifact — the compressed ANN index (4× less data moved
    per scan). Quantization is floor(x·s+0.5), IEEE-exact and
    deterministic, so artifact and inline are identical; the oracle
    re-quantizes from floats and stays green."""
    from etl_sprint_2_5_spark.operators.quantize import quantize_embeddings
    from etl_sprint_2_5_spark.sources.parquet import load_table

    def inline() -> DataFrame:
        return quantize_embeddings(
            load_table(spark, table, sf_dir), id_col, vec_col
        ).select(id_col, "qvec", "qvec_scale")

    if not use_artifact:
        return inline()

    key = _key(
        {
            "kind": "quantized_codes",
            "fp": table_fingerprint(sf_dir, table),
            "table": table,
            "id": id_col,
            "vec": vec_col,
        }
    )
    return _persist_df(spark, "quantized_codes", key, inline)


# --------------------------------------------------------------------
# Hashed shingle sets (the persisted dedup index)
# --------------------------------------------------------------------


def prepared_shingle_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    use_artifact: bool = True,
) -> DataFrame:
    """Per-doc hashed shingle sets (doc_id, hs array<long>) as a
    persisted artifact — the dedup INDEX. MinHash-LSH, cluster, and
    incremental dedup all start from these integers; at corpus scale
    the shingling+md5 pass over the raw text is the expensive step
    and runs once per corpus, not once per query. Deterministic
    (md5-based), so artifact and inline are identical; the DuckDB
    oracles recompute from text and stay green."""
    from etl_sprint_2_5_spark.operators.dedup import hashed_shingle_sets
    from etl_sprint_2_5_spark.sources.parquet import load_documents_spread

    def inline() -> DataFrame:
        return hashed_shingle_sets(
            load_documents_spread(spark, sf_dir), text_col, id_col, n
        )

    if not use_artifact:
        return inline()

    key = _key(
        {
            "kind": "shingle_index",
            "fp": table_fingerprint(sf_dir, table),
            "table": table,
            "text": text_col,
            "id": id_col,
            "n": n,
        }
    )
    return _persist_df(spark, "shingle_index", key, inline)


# --------------------------------------------------------------------
# Product-quantization index (codebook + per-vector codes)
# --------------------------------------------------------------------


def prepared_pq_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_artifact: bool = True,
) -> "tuple[DataFrame, DataFrame]":
    """The PQ index as a prepared artifact pair: the trained codebook
    (m, code, cv array<bigint>) and the compressed corpus codes
    (id, codes array<int> — ~8 bytes/vector, the 32× ADC-scan lever).
    Training (one deterministic Lloyd round over int8 subvectors,
    operators/pq.py) is pure integer arithmetic, so artifact and
    inline builds are bit-identical and the DuckDB oracle reproduces
    the exact codes. Returns (codebook, codes)."""
    from etl_sprint_2_5_spark.operators.pq import encode_pq, train_pq_codebook

    def inline() -> "tuple[DataFrame, DataFrame]":
        q8 = prepared_quantized_codes(
            spark, sf_dir, table=table, id_col=id_col, vec_col=vec_col,
            use_artifact=use_artifact,
        ).select(id_col, "qvec")
        cb = train_pq_codebook(q8, id_col, "qvec")
        return cb, encode_pq(q8, cb, id_col, "qvec")

    if not use_artifact:
        return inline()

    key = _key(
        {
            "kind": "pq_index",
            "fp": table_fingerprint(sf_dir, table),
            "table": table,
            "id": id_col,
            "vec": vec_col,
        }
    )
    # the codebook and the codes are one logical artifact: both live
    # under a single parent key directory published by ONE rename, so
    # a crash can never leave the pair half-visible (a codebook without
    # its codes used to wedge the retrain on ENOTEMPTY)
    dest = artifact_root() / f"pq_index-{key}"
    cb_dest, codes_dest = dest / "codebook", dest / "codes"
    if not ((cb_dest / "_SUCCESS").exists() and (codes_dest / "_SUCCESS").exists()):

        def write(tmp: Path) -> None:
            cb, codes = inline()
            cb.coalesce(1).write.mode("overwrite").parquet(str(tmp / "codebook"))
            codes.write.mode("overwrite").parquet(str(tmp / "codes"))

        _publish(dest, write)
    return spark.read.parquet(str(cb_dest)), spark.read.parquet(str(codes_dest))


# --------------------------------------------------------------------
# Mergeable sketch tables (HLL day registers / DD histogram / CMS cells)
# --------------------------------------------------------------------
#
# The sketch family's whole 100-TB argument is that the summary is
# PERSISTED once per corpus slice and probed forever: a day of events
# collapses to m HLL registers, a fact column to ~256 histogram
# buckets, a join key to depth×width counters — after which WAU/MAU,
# quantile, and join-size questions fold from the artifact without
# rescanning. These prepared_* functions make that serving path real
# with the same fingerprint+ALGO_VERSION+atomic-rename machinery as
# the ANN/dedup indexes. Every build is deterministic (salted-md5
# hashes, integer buckets), so artifact == inline bit-for-bit and the
# DuckDB oracles — which always rebuild inline — stay green either way
# (tests/test_artifacts.py asserts the equality).


def prepared_hll_day_registers(
    spark: SparkSession,
    sf_dir: str,
    *,
    b: int = 6,
    use_artifact: bool = True,
) -> DataFrame:
    """Per-day HLL user registers (day_num, bucket, reg) over events —
    the persisted form of hll_daily_active_users' sketch: m rows per
    day forever, from which ANY date-range distinct (DAU/WAU/MAU)
    folds by register max without rescanning events."""
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.operators.sketch import hll_build
    from etl_sprint_2_5_spark.sources.parquet import load_table

    def inline() -> DataFrame:
        ev = load_table(spark, "events", sf_dir)
        days = ev.select(
            F.expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .cast("long")
            .alias("day_num"),
            "user_id",
        )
        return hll_build(days, "user_id", group_cols=("day_num",), b=b)

    if not use_artifact:
        return inline()
    key = _key(
        {
            "kind": "hll_day_registers",
            "fp": table_fingerprint(sf_dir, "events"),
            "b": b,
        }
    )
    return _persist_df(spark, "hll_day_registers", key, lambda: inline().coalesce(1))


def prepared_dd_price_histogram(
    spark: SparkSession,
    sf_dir: str,
    *,
    use_artifact: bool = True,
) -> DataFrame:
    """Per-returnflag DDSketch-style price histogram (g, bucket_id, n)
    over lineitem cents — ≤ ~256 integer buckets per group, the
    persisted quantile summary ddsketch_price_quantiles builds."""
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.operators.sketch import dd_build
    from etl_sprint_2_5_spark.sources.parquet import load_table

    def inline() -> DataFrame:
        li = load_table(spark, "lineitem", sf_dir)
        cents = li.select(
            F.col("l_returnflag").alias("g"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        return dd_build(cents, "c", group_cols=("g",))

    if not use_artifact:
        return inline()
    key = _key(
        {
            "kind": "dd_price_histogram",
            "fp": table_fingerprint(sf_dir, "lineitem"),
        }
    )
    return _persist_df(spark, "dd_price_histogram", key, lambda: inline().coalesce(1))


def prepared_cms_custkey_cells(
    spark: SparkSession,
    sf_dir: str,
    *,
    table: str = "orders",
    key_col: str = "o_custkey",
    width: int = 8192,
    depth: int = 4,
    use_artifact: bool = True,
) -> DataFrame:
    """CMS cells (row, bucket, n) over a join key — the persisted
    frequency sketch cms_join_size_estimate builds per side; two such
    artifacts answer a join-size question with a broadcast join of
    two tiny cell tables."""
    from etl_sprint_2_5_spark.operators.sketch import cms_build
    from etl_sprint_2_5_spark.sources.parquet import load_table

    def inline() -> DataFrame:
        return cms_build(
            load_table(spark, table, sf_dir), key_col, width=width, depth=depth
        )

    if not use_artifact:
        return inline()
    key = _key(
        {
            "kind": "cms_cells",
            "fp": table_fingerprint(sf_dir, table),
            "table": table,
            "key": key_col,
            "w": width,
            "d": depth,
        }
    )
    return _persist_df(spark, "cms_cells", key, lambda: inline().coalesce(1))


def prepared_kmv_week_samples(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = 256,
    use_artifact: bool = True,
) -> DataFrame:
    """Per-week KMV bottom-k user-hash samples (week_num, hv) over
    events — the persisted form of kmv_weekly_churn's sketches, same
    precedent as the HLL day registers: ≤ k rows per week forever,
    from which ANY week-pair set-algebra question (churn, overlap,
    union) folds via operators/sketch.kmv_set_estimates WITHOUT
    rescanning events. The per-week bottom-k of the distinct hash set
    is exactly kmv_build on that week's slice (the KMV fold property,
    gated by kmv_sliced_merge), so serving from the artifact is
    bit-identical to building inline.

    Build shape: one distinct over (week, hash) — map-side partial —
    then one shuffle on week_num with a per-week sorted row_number
    filter; each week forwards ≤ k rows. At 100 TB this is the
    train-once index build; every churn question afterwards reads
    weeks × k rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.operators.sketch import kmv_hash
    from etl_sprint_2_5_spark.sources.parquet import load_table

    def inline() -> DataFrame:
        ev = load_table(spark, "events", sf_dir)
        wk_hashes = (
            ev.select(
                F.expr("unix_micros(date_trunc('day', ts)) div 86400000000")
                .cast("long")
                .alias("day_num"),
                "user_id",
            )
            .select(
                F.expr("day_num div 7").cast("long").alias("week_num"),
                kmv_hash("user_id").alias("hv"),
            )
            .distinct()
        )
        rn = F.row_number().over(
            Window.partitionBy("week_num").orderBy("hv")
        )
        return (
            wk_hashes.withColumn("rn", rn)
            .where(F.col("rn") <= k)
            .select("week_num", "hv")
        )

    if not use_artifact:
        return inline()
    key = _key(
        {
            "kind": "kmv_week_samples",
            "fp": table_fingerprint(sf_dir, "events"),
            "k": k,
        }
    )
    return _persist_df(spark, "kmv_week_samples", key, lambda: inline().coalesce(1))


def prepare_all(spark: SparkSession, sf_dir: str) -> None:
    """Build (or find) every artifact the served queries probe at
    ``sf_dir`` — the offline index-build phase, run once before any
    query that reads them — and index the documents file's term
    statistics in this process's memo, which does not outlive it."""
    from etl_sprint_2_5_spark.operators.view_stats import view_term_stats
    from etl_sprint_2_5_spark.sources.parquet import load_documents_spread

    prepared_ivf_centroids(spark, sf_dir).count()
    prepared_shingle_index(spark, sf_dir).count()
    prepared_hll_day_registers(spark, sf_dir).count()
    prepared_kmv_week_samples(spark, sf_dir).count()
    codebook, codes = prepared_pq_index(spark, sf_dir)
    codebook.count(), codes.count()
    # the per-file counters are vocabulary-wide: one lookup with the
    # fulltext queries' fields and analyzer builds them, whatever the term
    view_term_stats(load_documents_spread(spark, sf_dir), ("spark",), ("text", "source"))
