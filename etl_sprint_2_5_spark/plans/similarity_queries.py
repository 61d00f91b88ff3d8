"""Similarity-search queries over the embeddings table, with exact
DuckDB oracles (both strategies are fully deterministic — ranking on
round(cos,6) with id tiebreak)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators.similarity import (
    assign_cells_gemm,
    brute_force_topk_gemm,
    ivf_topk,
)
from etl_sprint_2_5_spark.plans.registry import materialize_release, query
from etl_sprint_2_5_spark.sources.parquet import load_table
from etl_sprint_2_5_spark.streaming.gate import streaming_gate, write_feed

_N_QUERIES = 8  # vec_id < 8 are the query vectors
_K = 5
_CENTROID_MOD = 100  # vec_id % 100 == 0 are the fixed IVF centroids

_DUCK_COS = (
    "round(list_cosine_similarity(a.embedding::DOUBLE[], "
    "q.embedding::DOUBLE[]), 6)"
)


# every other vector scored against each query vector (exact kNN)
_EXACT_SCORED = f"""
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             {_DUCK_COS} AS cos
      FROM embeddings a, embeddings q
      WHERE q.vec_id < {_N_QUERIES} AND a.vec_id <> q.vec_id"""
# the same, restricted to each query's own cell of ``assigned`` (IVF)
_CELL_SCORED = f"""
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             {_DUCK_COS} AS cos
      FROM assigned a JOIN assigned q ON a.centroid_id = q.centroid_id
      WHERE q.vec_id < {_N_QUERIES} AND a.vec_id <> q.vec_id"""


def _top_k(src: str, cols: str = "query_id, neighbor_id, cos, rank") -> str:
    """The oracles' final cut: rank ``src``'s rows per query by cos
    with neighbor-id tiebreak and keep the top ``_K``."""
    return f"""ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM {src}
    )
    SELECT {cols}
    FROM ranked WHERE rank <= {_K}
    ORDER BY query_id, rank
    """


def _nearest_cells(
    cent: str, alias: str, emb: bool = True, where: str = "", keep: str = "rn = 1"
) -> str:
    """Each vector of ``embeddings {alias}`` (the raw ``where`` tail
    filters them) with its nearest cells of centroid CTE ``cent`` by
    round(cos,6) with centroid-id tiebreak; ``keep`` bounds the cells
    per vector and ``emb`` carries the embedding along."""
    e_out, e_in = (", embedding", f", {alias}.embedding") if emb else ("", "")
    return f"""
      SELECT vec_id{e_out}, centroid_id FROM (
        SELECT {alias}.vec_id{e_in}, c.centroid_id,
               row_number() OVER (
                 PARTITION BY {alias}.vec_id
                 ORDER BY round(list_cosine_similarity(
                   {alias}.embedding::DOUBLE[], c.emb), 6) DESC,
                   c.centroid_id) AS rn
        FROM embeddings {alias}, {cent} c{where}
      ) WHERE {keep}"""


def _ivf_assigned(
    train_where: str = "", emb: bool = True, materialized: bool = False
) -> str:
    """``WITH`` the trained centroids and every vector's cell
    (``assigned``), the head of every IVF oracle."""
    cells = _nearest_cells(f"cent{_IVF_ITERS}", "a", emb)
    mat = " MATERIALIZED" if materialized else ""
    return f"""WITH {_ivf_trained_ctes(_IVF_ITERS, train_where)}, assigned AS{mat} ({cells}
    )"""


def _ivf_probes(emb: bool = True, materialized: bool = False) -> str:
    """The query vectors' ``_NPROBE`` nearest cells (``probes``)."""
    cells = _nearest_cells(
        f"cent{_IVF_ITERS}", "q", emb, f"\n        WHERE q.vec_id < {_N_QUERIES}",
        f"rn <= {_NPROBE}",
    )
    mat = " MATERIALIZED" if materialized else ""
    return f"""probes AS{mat} ({cells}
    )"""


@query(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH scored AS ({_EXACT_SCORED}
    ), {_top_k('scored')}""",
    covers=("X-ann-brute",),
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: the query set rides the task closure, each
    Arrow batch gemm-scores and emits only its local top-k, the final
    rank sees (N/batch)·Q·k rows. The O(Q·N) correctness baseline."""
    e = load_table(spark, "embeddings", sf_dir)
    queries = e.where(F.col("vec_id") < _N_QUERIES)
    return brute_force_topk_gemm(e, queries, "vec_id", "embedding", _K).orderBy(
        "query_id", "rank"
    )


_IVF_ITERS = 2  # Lloyd refinement rounds (mirrored in the oracle CTEs)


def _ivf_trained_ctes(iters: int, train_where: str = "") -> str:
    """Unrolled k-means: cent0 = mod-key seeds; each round re-assigns
    by round(cos,6)+centroid_id and averages members element-wise,
    rounding components to 6 decimals (the cross-engine pin).
    ``train_where`` (an extra AND-predicate on vec_id) restricts the
    TRAINING population — the index-upsert query trains on the base
    corpus only while assignment still covers every vector."""
    extra = f" AND ({train_where})" if train_where else ""
    parts = [
        f"""cent0 AS MATERIALIZED (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE vec_id % {_CENTROID_MOD} = 0{extra}
    )"""
    ]
    for i in range(1, iters + 1):
        where_i = f" WHERE true{extra}" if train_where else ""
        cells = _nearest_cells(f"cent{i - 1}", "a", where=where_i)
        parts.append(f"""asg{i} AS MATERIALIZED ({cells}
    )""")
        parts.append(f"""cent{i} AS MATERIALIZED (
      SELECT centroid_id, list(round(v, 6) ORDER BY i) AS emb FROM (
        SELECT centroid_id, i, avg(v) AS v FROM (
          SELECT centroid_id, unnest(embedding::DOUBLE[]) AS v,
                 generate_subscripts(embedding, 1) AS i
          FROM asg{i})
        GROUP BY centroid_id, i)
      GROUP BY centroid_id
    )""")
    return ", ".join(parts)


def _ivf_topk_oracle(train_where: str = "") -> str:
    """Top-k within each query's own cell: ann_ivf_topk, its streaming
    twin and the index-upsert gate (centroids trained on
    ``train_where``)."""
    return f"""
    {_ivf_assigned(train_where)}, scored AS ({_CELL_SCORED}
    ), {_top_k('scored')}"""


@query(
    "ann_ivf_topk",
    oracle=_ivf_topk_oracle(),
    covers=("X-ann-ivf",),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN with TRAINED centroids: mod-key seed rows
    (vec_id % 100 == 0) refined by deterministic k-means
    (train_ivf_centroids, 2 Lloyd rounds — mirrored in the oracle's
    unrolled CTEs), nearest-cell assignment at build, probe restricted
    to the query's cell — the partition-pruned scale path.

    Centroids come from the PREPARED artifact (artifacts.py): trained
    once per corpus fingerprint, persisted as parquet, probed by every
    subsequent query — the train-once/probe-many serving shape. The
    first run (or a regenerated corpus) trains inline; training is
    deterministic, so artifact and inline results are bit-identical
    (tests/test_artifacts.py asserts it) and the oracle stays green
    either way. This is ``ivf_search`` at nprobe=1 — see that
    function for the recall/latency dial."""
    return ivf_search(spark, sf_dir, nprobe=1)


@query(
    "embedding_quantization",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(floor(x * (127.0 / list_max(
                      list_transform(embedding::DOUBLE[], y -> abs(y))))
                    + 0.5) AS INT)) AS qv
      FROM embeddings
    )
    SELECT vec_id,
           CAST(list_min(qv) AS INT)  AS q_min,
           CAST(list_max(qv) AS INT)  AS q_max,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INT) AS n_saturated
    FROM q
    ORDER BY vec_id
    """,
    covers=("X-ann-quantize",),
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of every embedding, reported as
    per-vector integer stats (min/max/checksum/saturation count) so
    the oracle comparison is engine-exact. The 4× memory lever for
    the ANN family."""
    from etl_sprint_2_5_spark.operators.quantize import quantize_embeddings

    e = load_table(spark, "embeddings", sf_dir)
    q = quantize_embeddings(e, "vec_id", "embedding")
    return q.select(
        "vec_id",
        F.array_min("qvec").alias("q_min"),
        F.array_max("qvec").alias("q_max"),
        F.aggregate("qvec", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.size(F.filter("qvec", lambda x: F.abs(x) == 127)).alias("n_saturated"),
    ).orderBy("vec_id")


_QUANT_CAND = 20  # int8 candidate pool = 4x the final k


@query(
    "ann_quantized_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding,
             list_transform(embedding::DOUBLE[],
               x -> CAST(floor(x * (127.0 / list_max(
                      list_transform(embedding::DOUBLE[], y -> abs(y))))
                    + 0.5) AS INT)) AS qv
      FROM embeddings
    ),
    scored AS (
      SELECT qq.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(list_dot_product(a.qv, qq.qv) AS BIGINT) AS dot_q
      FROM q a, q qq
      WHERE qq.vec_id < {_N_QUERIES} AND a.vec_id <> qq.vec_id
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot_q DESC, neighbor_id) AS crank
        FROM scored
      ) WHERE crank <= {_QUANT_CAND}
    ),
    rescored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          qq.embedding::DOUBLE[]), 6) AS cos
      FROM cand c
      JOIN embeddings a  ON a.vec_id = c.neighbor_id
      JOIN embeddings qq ON qq.vec_id = c.query_id
    ),
    {_top_k('rescored')}""",
    covers=("X-ann-quantized",),
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage quantized ANN — the production memory/bandwidth
    pattern: score the whole corpus in the int8 domain (integer dot
    products: 4× less data moved, EXACT cross-engine arithmetic — no
    float rounding contract needed for the candidate cut), keep a
    4k candidate pool per query, then rescore only the pool in full
    float precision for the final top-k. Recall loss is confined to
    what int8 mis-ranks OUT of a 4× pool; the float stage orders
    everything the user sees. Candidate selection is a per-partition
    partial top-k on BIGINT scores (same merge shape as the gemm
    brute force). The int8 codes probe the prepared artifact
    (artifacts.prepared_quantized_codes) — the compressed index is
    built once per corpus, not re-quantized per query."""
    from etl_sprint_2_5_spark.artifacts import prepared_quantized_codes
    from etl_sprint_2_5_spark.operators.dedup import cosine_pandas
    from etl_sprint_2_5_spark.operators.similarity import round6_col
    from pyspark.sql import Window

    e = load_table(spark, "embeddings", sf_dir)
    q8 = prepared_quantized_codes(spark, sf_dir).select("vec_id", "qvec")
    queries = (
        q8.where(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("qvec").alias("q_qv"))
    )
    dot_q = F.aggregate(
        F.zip_with("qvec", "q_qv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        q8.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot_q.alias("dot_q"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("dot_q"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("crank", F.row_number().over(wc))
        .where(F.col("crank") <= _QUANT_CAND)
        .select("query_id", "neighbor_id")
    )
    emb_n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"))
    emb_q = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    rescored = (
        cand.join(emb_n, "neighbor_id")
        .join(F.broadcast(emb_q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            round6_col(cosine_pandas("n_emb", "q_emb")).alias("cos"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= _K)
        .orderBy("query_id", "rank")
    )


_FILTER_LABEL = 3


@query(
    "ann_filtered_topk",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings a, embeddings q
      WHERE q.vec_id < {_N_QUERIES}
        AND a.label = {_FILTER_LABEL}
        AND a.vec_id <> q.vec_id
    ),
    {_top_k('scored')}""",
    covers=("X-ann-filtered",),
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (the vector-DB 'filtered ANN'
    shape): the label predicate is applied as an ordinary DataFrame
    filter BEFORE scoring, so Catalyst pushes it into the parquet
    scan — no vector is decoded, moved, or scored outside the
    filtered stratum (pre-filtering, not post-filtering: post would
    return < k rows whenever the filter is selective). Scoring and
    ranking reuse the gemm partial-top-k path unchanged."""
    e = load_table(spark, "embeddings", sf_dir)
    queries = e.where(F.col("vec_id") < _N_QUERIES)
    corpus = e.where(F.col("label") == _FILTER_LABEL)
    return brute_force_topk_gemm(
        corpus, queries, "vec_id", "embedding", _K
    ).orderBy("query_id", "rank")


_NPROBE = 2


def ivf_search(
    spark: SparkSession,
    sf_dir: str,
    *,
    nprobe: int = 1,
    k: int = _K,
    n_queries: int = _N_QUERIES,
) -> DataFrame:
    """The parametrized IVF probe path — THE recall/latency dial.
    Centroids come from the prepared artifact (train-once), the
    corpus is single-cell assigned, and each query fans out to its
    ``nprobe`` nearest cells before the cell-pruned top-k. The two
    registered queries are this function at nprobe=1 and nprobe=2;
    callers (and tests/test_ann_recall.py's sweep) can turn the dial
    freely — probing every cell degenerates to exact brute force.

    Measured on the sf0.1 fixture (warm session, 8 queries, k=5,
    ~1 cell per 100 vectors): recall@5 vs brute force climbs
    nprobe=1 0.325 / 2 0.450 / 4 0.650 at flat wall-clock (1.2s /
    1.3s / 1.2s — the fixture is small enough that scheduling, not
    the candidate scan, dominates). Absolute recall is low because
    the fixture embeddings carry no planted cluster structure, so
    recall is Voronoi-coverage-bound (see tests/test_ann_recall.py's
    bar rationale); the MONOTONE climb toward the nprobe=all-cells
    brute-force ceiling (sweep-tested to exactly 1.0) is the
    property that transfers to real corpora, where the candidate
    scan is the cost and this dial trades it directly for recall."""
    from etl_sprint_2_5_spark.artifacts import prepared_ivf_centroids

    e = load_table(spark, "embeddings", sf_dir)
    centroids = prepared_ivf_centroids(
        spark, sf_dir, centroid_mod=_CENTROID_MOD, iters=_IVF_ITERS
    )
    # cache: the assignment feeds BOTH sides of the cell self-join —
    # without it the corpus gemm pass runs twice
    assigned = assign_cells_gemm(e, centroids, "vec_id", "embedding").cache()
    if nprobe == 1:
        q_cells = assigned.where(F.col("vec_id") < n_queries)
    else:
        queries = e.where(F.col("vec_id") < n_queries)
        q_cells = assign_cells_gemm(
            queries, centroids, "vec_id", "embedding", nprobe=nprobe
        )
    return ivf_topk(assigned, q_cells, "vec_id", "embedding", k).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_ivf_nprobe_topk",
    oracle=f"""
    {_ivf_assigned()}, {_ivf_probes()}, scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             {_DUCK_COS} AS cos
      FROM assigned a JOIN probes q ON a.centroid_id = q.centroid_id
      WHERE a.vec_id <> q.vec_id
    ), {_top_k('scored')}""",
    covers=("X-ann-ivf-nprobe",),
)
def ann_ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with nprobe=2 — the recall lever: each query searches
    its TWO nearest cells instead of one, trading 2× the probed rows
    for recall on queries that sit near a cell boundary (the classic
    IVF recall/latency dial; tests/test_ann_recall.py's sweep
    quantifies monotone recall up to the brute-force ceiling).
    Corpus vectors stay single-cell (the partition-pruned layout is
    unchanged); only the tiny query side fans out, so the join stays
    broadcast-shaped at scale. This is ``ivf_search`` at nprobe=2 —
    see that function for the measured recall/latency curve."""
    return ivf_search(spark, sf_dir, nprobe=_NPROBE)


_UPSERT_BASE = "vec_id % 10 <> 9"  # 90% of vectors are the existing
# index; vec_id % 10 == 9 is the arriving batch ("upserts")


@query(
    "ann_index_upsert_topk",
    oracle=_ivf_topk_oracle(_UPSERT_BASE),
    covers=("X-ann-upsert",),
)
def ann_index_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the continuously-growing
    vector index: centroids are trained on the BASE corpus only (90%
    of vectors; the frozen index), and the arriving 10% batch joins
    the index with a single deterministic assignment pass against the
    frozen centroids — NO retrain, no re-assignment of the base, which
    is exactly how IVF indexes absorb upserts in production (periodic
    retrain is a separate offline event; the artifact path already
    covers it). Queries then search the MERGED index and new vectors
    are immediately retrievable (the pytest asserts upserted ids
    appear among the top-k neighbors).

    Scale shape: the upsert cost is one gemm assignment over the new
    batch only — O(batch x cells) — plus an append to the assigned
    table; nothing touches the existing postings. The oracle mirrors
    the base-only training via a filtered unrolled-k-means CTE."""
    from etl_sprint_2_5_spark.operators.similarity import train_ivf_centroids

    e = load_table(spark, "embeddings", sf_dir)
    base = e.where(F.expr(_UPSERT_BASE))
    seeds = base.where(F.col("vec_id") % _CENTROID_MOD == 0)
    frozen = train_ivf_centroids(
        base, seeds, "vec_id", "embedding", _IVF_ITERS
    ).cache()
    # the existing index: base assigned once; the upsert: ONLY the new
    # batch runs an assignment pass against the frozen centroids
    base_cells = assign_cells_gemm(base, frozen, "vec_id", "embedding")
    new_cells = assign_cells_gemm(
        e.where(~F.expr(_UPSERT_BASE)), frozen, "vec_id", "embedding"
    )
    merged = base_cells.unionByName(new_cells).cache()
    q_cells = merged.where(F.col("vec_id") < _N_QUERIES)
    return ivf_topk(merged, q_cells, "vec_id", "embedding", _K).orderBy(
        "query_id", "rank"
    )


# --- CountSketch (feature-hashing) projection ANN ----------------------
# 64-d -> 16-d sparse random projection: input dim i lands in output
# bucket i % 16 with a deterministic sign from md5("proj-v1:i") (the
# Charikar CountSketch / Weinberger feature-hashing construction — a
# JL-type projection with one nonzero per input dim, so projecting is
# O(d), not O(d·d')). Signs are plan-build-time CONSTANTS embedded
# identically in the Spark expression and the DuckDB oracle.
_CS_OUT = 16
_CS_C = 40  # candidates per query from the projected space


def _cs_sign(i: int) -> int:
    import hashlib

    return 1 if hashlib.md5(f"proj-v1:{i}".encode()).digest()[0] & 1 else -1


_CS_SIGNS = [_cs_sign(i) for i in range(64)]


def _cs_project_sql(alias: str) -> str:
    """DuckDB list_value(...) of the 16 bucket sums, terms in ascending
    input-dim order (matches the Spark expression's fold order)."""
    buckets = []
    for j in range(_CS_OUT):
        terms = [
            f"{alias}.embedding[{i + 1}]::DOUBLE * ({_CS_SIGNS[i]})"
            for i in range(64)
            if i % _CS_OUT == j
        ]
        buckets.append(" + ".join(terms))
    return "list_value(" + ", ".join(buckets) + ")"


def _cs_project_col(vec_col: str):
    """Spark array<double> of the 16 bucket sums, same term order."""
    buckets = []
    for j in range(_CS_OUT):
        term_cols = [
            F.element_at(F.col(vec_col), i + 1).cast("double")
            * F.lit(float(_CS_SIGNS[i]))
            for i in range(64)
            if i % _CS_OUT == j
        ]
        acc = term_cols[0]
        for t in term_cols[1:]:
            acc = acc + t
        buckets.append(acc)
    return F.array(*buckets)


@query(
    "ann_countsketch_topk",
    oracle=f"""
    WITH proj AS (
      SELECT a.vec_id, a.embedding,
             {_cs_project_sql('a')} AS pvec
      FROM embeddings a
    ), cand AS (
      SELECT query_id, neighbor_id, embedding, qembedding FROM (
        SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
               a.embedding, q.embedding AS qembedding,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(a.pvec, q.pvec), 6)
                          DESC, a.vec_id) AS crank
        FROM proj a, proj q
        WHERE q.vec_id < {_N_QUERIES} AND a.vec_id <> q.vec_id
      ) WHERE crank <= {_CS_C}
    ), ranked AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(embedding::DOUBLE[],
                                          qembedding::DOUBLE[]), 6) AS cos,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(embedding::DOUBLE[],
                                                     qembedding::DOUBLE[]), 6)
                        DESC, neighbor_id) AS rank
      FROM cand
    )
    SELECT query_id, neighbor_id, cos, rank
    FROM ranked WHERE rank <= {_K}
    ORDER BY query_id, rank
    """,
    covers=("X-ann-countsketch",),
)
def ann_countsketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN via CountSketch projection: candidates are ranked
    in the 16-d projected space (4× cheaper per comparison, and at
    scale the 4× smaller vectors are the shuffle/bandwidth lever the
    way int8 codes are in ann_quantized_topk), then the top
    {_CS_C}-per-query candidates are re-ranked by EXACT 64-d cosine.

    Projection is a per-row map-side expression (one nonzero per
    input dim — O(d) work, no shuffle); candidate generation
    broadcasts the 8 projected queries; re-rank joins the tiny
    candidate set back to full vectors map-side. The only shuffles
    are the two per-query top-k windows over already-cut sets.
    Determinism: ranking on round(cos, 6) with id tiebreak at BOTH
    stages, so the candidate cut and the final order are
    engine-independent."""
    from etl_sprint_2_5_spark.operators.dedup import cosine_pandas
    from etl_sprint_2_5_spark.operators.similarity import round6_col
    from pyspark.sql import Window

    e = load_table(spark, "embeddings", sf_dir)
    proj = e.select(
        "vec_id", "embedding", _cs_project_col("embedding").alias("pvec")
    )
    q = proj.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qemb"),
        F.col("pvec").alias("_qpvec"),
    )
    scored = (
        proj.join(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "embedding",
            "_qemb",
            round6_col(cosine_pandas("pvec", "_qpvec")).alias("pcos"),
        )
    )
    cw = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("neighbor_id"))
    cand = (
        scored.withColumn("crank", F.row_number().over(cw))
        .where(F.col("crank") <= _CS_C)
        .drop("pcos", "crank")
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn(
            "cos", round6_col(cosine_pandas("embedding", "_qemb"))
        )
        .withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= _K)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------
# Product quantization (PQ) — Jégou et al. 2011, the 32× index lever
# --------------------------------------------------------------------

_PQ_CAND = 40  # ADC candidate pool = 8x the final k (coarser quantizer)

# integer squared L2 between two 8-long BIGINT lists (aliases s, c)
_PQ_D2 = (
    "list_sum(list_transform(range(1, 9), i -> "
    "(s.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) * "
    "(s.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))"
)


def _pq_ctes() -> str:
    """Shared oracle CTE chain mirroring operators/pq.py exactly:
    int8 quantization → 8 subvectors → 16 fixed seeds per subspace →
    one Lloyd round (integer sq-L2 assignment, floored integer mean)
    → encode. Every step is integer arithmetic, so codes are
    bit-identical across engines."""
    return f"""qv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(floor(x * (127.0 / list_max(
                      list_transform(embedding::DOUBLE[], y -> abs(y))))
                    + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    sub AS MATERIALIZED (
      SELECT vec_id, CAST(m AS INT) AS m, qv[m*8+1 : m*8+8] AS sv
      FROM qv, (SELECT unnest(range(8)) AS m)
    ),
    seed AS MATERIALIZED (
      SELECT m, CAST(rn - 1 AS INT) AS code, sv AS cv
      FROM (SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
            FROM sub WHERE vec_id % 7 = 3)
      WHERE rn <= 16
    ),
    pq_asg1 AS MATERIALIZED (
      SELECT vec_id, m, code, sv FROM (
        SELECT s.vec_id, s.m, c.code, s.sv,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_PQ_D2}, c.code) AS rn
        FROM sub s JOIN seed c ON s.m = c.m
      ) WHERE rn = 1
    ),
    cb AS MATERIALIZED (
      SELECT m, code, list(cv ORDER BY i) AS cv FROM (
        SELECT m, code, i,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
        FROM (SELECT m, code, unnest(sv) AS v, generate_subscripts(sv, 1) AS i
              FROM pq_asg1)
        GROUP BY m, code, i)
      GROUP BY m, code
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_PQ_D2}, c.code) AS rn
        FROM sub s JOIN cb c ON s.m = c.m
      ) WHERE rn = 1
    )"""


# the PQ oracles' tail: cut the ADC candidate pool, rescore it in exact
# float cosine, keep the top k
_PQ_RESCORE_TOP_K = f"""cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id) AS crank
        FROM adc) WHERE crank <= {_PQ_CAND}
    ),
    rescored AS (
      SELECT c2.query_id, c2.neighbor_id,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[]), 6) AS cos
      FROM cand c2
      JOIN embeddings a ON a.vec_id = c2.neighbor_id
      JOIN embeddings q ON q.vec_id = c2.query_id
    ),
    {_top_k('rescored')}"""


@query(
    "ann_pq_topk",
    oracle=f"""
    WITH {_pq_ctes()},
    adc AS (
      SELECT qs.vec_id AS query_id, x.vec_id AS neighbor_id,
             CAST(sum(list_dot_product(qs.sv, c.cv)) AS BIGINT) AS score
      FROM codes x
      JOIN cb c ON x.m = c.m AND x.code = c.code
      JOIN sub qs ON qs.m = x.m
      WHERE qs.vec_id < {_N_QUERIES} AND x.vec_id <> qs.vec_id
      GROUP BY 1, 2
    ),
    {_PQ_RESCORE_TOP_K}""",
    covers=("X-ann-pq",),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) — the third and
    strongest compression rung of the family (int8 = 4×, CountSketch
    = 4×, PQ = 32×): every vector is stored as 8 four-bit-sized codes
    into per-subspace codebooks trained by one deterministic Lloyd
    round over the int8 domain; the candidate scan reads ONLY the
    codes column and scores each vector as a BIGINT sum of 8
    query-codebook dot-product table lookups (symmetric ADC), then
    the 8×k pool is re-ranked in exact float cosine.

    Cross-engine exactness: unlike the IVF family (round-6 float
    pin), the entire PQ index and candidate cut are INTEGER
    arithmetic — quantize floor(x·s+0.5), integer squared-L2 encode,
    floored-integer-mean Lloyd update, BIGINT ADC sums — so codes and
    candidates are bit-identical to the oracle by construction; only
    the final re-rank uses the repo-wide round(cos,6)+id contract.

    Index and codebook probe the PREPARED artifact
    (artifacts.prepared_pq_index — train once per corpus fingerprint,
    scan many); first run trains inline, bit-identical either way
    (tests/test_pq.py asserts it)."""
    from etl_sprint_2_5_spark.artifacts import prepared_pq_index
    from etl_sprint_2_5_spark.operators.dedup import cosine_pandas
    from etl_sprint_2_5_spark.operators.pq import adc_topc
    from etl_sprint_2_5_spark.operators.similarity import round6_col

    e = load_table(spark, "embeddings", sf_dir)
    codebook, codes = prepared_pq_index(spark, sf_dir)
    from etl_sprint_2_5_spark.artifacts import prepared_quantized_codes

    query_q8 = (
        prepared_quantized_codes(spark, sf_dir)
        .where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "qvec")
    )
    cand = adc_topc(codes, codebook, query_q8, "vec_id", "qvec", _PQ_CAND).select(
        "query_id", "neighbor_id"
    )
    emb_n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"))
    emb_q = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    rescored = (
        cand.join(emb_n, "neighbor_id")
        .join(F.broadcast(emb_q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            round6_col(cosine_pandas("n_emb", "q_emb")).alias("cos"),
        )
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= _K)
        .orderBy("query_id", "rank")
    )


@query(
    "pq_code_stats",
    oracle=f"""
    WITH {_pq_ctes()},
    members AS (
      SELECT m, code, count(*) AS n FROM codes GROUP BY 1, 2
    )
    SELECT cb.m, cb.code,
           CAST(coalesce(mem.n, 0) AS BIGINT) AS n_members,
           CAST(list_sum(cb.cv) AS BIGINT) AS cv_sum
    FROM cb LEFT JOIN members mem ON cb.m = mem.m AND cb.code = mem.code
    ORDER BY cb.m, cb.code
    """,
    covers=("X-ann-pq",),
)
def pq_code_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ INDEX itself under the hash gate: per (subspace, code)
    the trained-codebook component checksum and the number of corpus
    vectors encoded to it — bit-exact integers, so this row set
    verifies the trained codebook and every stored code directly
    (ann_pq_topk only witnesses them through the candidate cut).
    Doubles as the index-health profile a corpus team reads: dead
    codes (n_members=0) and hot codes signal a retrain."""
    from etl_sprint_2_5_spark.artifacts import prepared_pq_index

    codebook, codes = prepared_pq_index(spark, sf_dir)
    exploded = codes.select(F.posexplode("codes").alias("m", "code"))
    members = exploded.groupBy("m", "code").agg(F.count("*").alias("n"))
    return (
        codebook.join(F.broadcast(members), ["m", "code"], "left")
        .select(
            "m",
            "code",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_members"),
            F.aggregate("cv", F.lit(0).cast("long"), lambda a, x: a + x).alias(
                "cv_sum"
            ),
        )
        .orderBy("m", "code")
    )


_PRUNE_CAP = 30  # per-cluster keep quota


@query(
    "cluster_balanced_prune",
    oracle=f"""
    {_ivf_assigned(emb=False)}, ranked AS (
      SELECT centroid_id, vec_id,
             row_number() OVER (PARTITION BY centroid_id
                                ORDER BY vec_id) AS rk
      FROM assigned
    )
    SELECT centroid_id,
           count(*) AS n_members,
           CAST(sum(CASE WHEN rk <= {_PRUNE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(count(*)
                - sum(CASE WHEN rk <= {_PRUNE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pruned,
           CAST(sum(CASE WHEN rk <= {_PRUNE_CAP} THEN vec_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM ranked GROUP BY centroid_id ORDER BY centroid_id
    """,
    covers=("X-curation-cluster-balance",),
)
def cluster_balanced_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus pruning — the embedding-space curation
    move from SemDeDup / DataComp-style pipelines: assign every vector
    to its trained IVF cell, then cap each cell at a fixed quota so
    over-dense regions (near-duplicate content modes) cannot dominate
    the training mix. Keep rule inside a cell is deterministic lowest
    vec_id; the kept SET is verified through the gate (per-cell
    kept_id_sum checksum), not just the counts.

    Scale shape: assignment probes the prepared centroid artifact via
    one map-side Arrow gemm pass (assign_cells_gemm — zero shuffles);
    the quota rank + rollup share ONE shuffle on centroid_id. Cells,
    not vectors, cross to the driver. At 100 TB the same plan runs
    with cells as write-time partitions and the quota applied per
    partition."""
    from etl_sprint_2_5_spark.artifacts import prepared_ivf_centroids
    from pyspark.sql import Window

    e = load_table(spark, "embeddings", sf_dir)
    cent = prepared_ivf_centroids(spark, sf_dir)
    assigned = assign_cells_gemm(e, cent, "vec_id", "embedding").select(
        "vec_id", "centroid_id"
    )
    w = Window.partitionBy("centroid_id").orderBy("vec_id")
    ranked = assigned.withColumn("rk", F.row_number().over(w))
    kept = F.when(F.col("rk") <= _PRUNE_CAP, 1).otherwise(0)
    return (
        ranked.groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(kept).cast("long").alias("n_kept"),
            (F.count("*") - F.sum(kept)).cast("long").alias("n_pruned"),
            F.sum(
                F.when(F.col("rk") <= _PRUNE_CAP, F.col("vec_id")).otherwise(0)
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
        .orderBy("centroid_id")
    )


@query(
    "ann_ivfpq_topk",
    oracle=f"""
    {_ivf_assigned(emb=False, materialized=True)},
    {_ivf_probes(emb=False, materialized=True)},
    {_pq_ctes()},
    adc AS MATERIALIZED (
      SELECT p.vec_id AS query_id, x.vec_id AS neighbor_id,
             CAST(sum(list_dot_product(qs.sv, c.cv)) AS BIGINT) AS score
      FROM codes x
      JOIN assigned a2 ON a2.vec_id = x.vec_id
      JOIN probes p ON p.centroid_id = a2.centroid_id
      JOIN cb c ON x.m = c.m AND x.code = c.code
      JOIN sub qs ON qs.m = x.m AND qs.vec_id = p.vec_id
      WHERE x.vec_id <> p.vec_id
      GROUP BY 1, 2
    ),
    {_PQ_RESCORE_TOP_K}""",
    covers=("X-ann-ivfpq",),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — the canonical billion-scale composition (faiss's
    workhorse index, Jégou et al. 2011 §IV): the IVF cell assignment
    prunes WHICH vectors each query scores (nprobe=2 cells instead of
    the whole corpus) and PQ compresses WHAT the scan reads per
    vector (8 codes instead of 64 floats). Both halves probe their
    prepared artifacts (trained centroids; codebook+codes) and keep
    their standalone determinism contracts: cell assignment/probing
    on round-6 cosine, the ADC cut pure BIGINT, final re-rank
    round-6 float on the bounded pool.

    Scale shape: the composition ADDS no shuffle — cells ride the
    codes scan as one join column (at 100 TB: a write-time partition
    key, so the per-query restriction is partition PRUNING), the
    probe list (Q·nprobe pairs) ships in the task closure, and the
    scan still emits only per-batch partial top-C."""
    from etl_sprint_2_5_spark.artifacts import (
        prepared_ivf_centroids,
        prepared_pq_index,
        prepared_quantized_codes,
    )
    from etl_sprint_2_5_spark.operators.dedup import cosine_pandas
    from etl_sprint_2_5_spark.operators.pq import adc_topc
    from etl_sprint_2_5_spark.operators.similarity import round6_col
    from pyspark.sql import Window

    e = load_table(spark, "embeddings", sf_dir)
    cent = prepared_ivf_centroids(spark, sf_dir)
    cells = assign_cells_gemm(e, cent, "vec_id", "embedding").select(
        "vec_id", "centroid_id"
    )
    probe_rows = assign_cells_gemm(
        e.where(F.col("vec_id") < _N_QUERIES), cent, "vec_id", "embedding",
        nprobe=_NPROBE,
    ).select("vec_id", "centroid_id").collect()
    query_cells: dict = {}
    for r in probe_rows:
        query_cells.setdefault(r["vec_id"], set()).add(r["centroid_id"])

    codebook, codes = prepared_pq_index(spark, sf_dir)
    codes_cells = codes.join(cells, "vec_id")
    query_q8 = (
        prepared_quantized_codes(spark, sf_dir)
        .where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "qvec")
    )
    cand = adc_topc(
        codes_cells, codebook, query_q8, "vec_id", "qvec", _PQ_CAND,
        query_cells=query_cells,
    ).select("query_id", "neighbor_id")

    emb_n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"))
    emb_q = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    rescored = (
        cand.join(emb_n, "neighbor_id")
        .join(F.broadcast(emb_q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            round6_col(cosine_pandas("n_emb", "q_emb")).alias("cos"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= _K)
        .orderBy("query_id", "rank")
    )


@query(
    "streaming_ann_topk",
    oracle=_ivf_topk_oracle(),
    covers=("X-ann-live",),
)
def streaming_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE serving twin of ann_ivf_topk, hash-gated by the SAME
    oracle: query vectors arrive as a two-file Structured Streaming
    feed and each micro-batch is IVF-searched against the static
    prepared index (trained centroids + cached corpus assignment)
    inside foreachBatch — the continuous-queries-over-frozen-index
    shape of a vector-serving deployment, and the streaming
    counterpart of ann_index_upsert_topk's frozen-centroid contract.

    Per batch: assign the arriving queries to their nearest trained
    cell with the zero-shuffle Arrow gemm pass, probe only that cell,
    and write the batch's top-k to a deterministic batch_id
    subdirectory in overwrite mode (the idempotent-retry idiom of
    streaming/doc_dedup.py — a retried batch rewrites, never
    duplicates). Queries are row-independent, so the union over
    micro-batches is cell-for-cell the batch answer: one oracle
    binds both execution modes. The corpus-side assignment is
    computed ONCE and cached across batches; at scale it is the
    persisted cell-partitioned index and each micro-batch touches
    only the probed cells' partitions."""
    from etl_sprint_2_5_spark.artifacts import prepared_ivf_centroids
    from etl_sprint_2_5_spark.operators.similarity import (
        assign_cells_gemm,
        ivf_topk,
    )

    e = load_table(spark, "embeddings", sf_dir)
    centroids = prepared_ivf_centroids(
        spark, sf_dir, centroid_mod=_CENTROID_MOD, iters=_IVF_ITERS
    )
    assigned = assign_cells_gemm(e, centroids, "vec_id", "embedding").cache()
    qs = e.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "embedding")

    with streaming_gate(spark, "streaming_ann_topk") as gate:
        feed, out = f"{gate.dir}/feed", f"{gate.dir}/out"
        write_feed(feed, *(qs.where(F.col("vec_id") % 2 == h) for h in (0, 1)))

        def search_batch(batch_df, batch_id: int) -> None:
            q_cells = assign_cells_gemm(batch_df, centroids, "vec_id", "embedding")
            ivf_topk(assigned, q_cells, "vec_id", "embedding", _K).write.mode(
                "overwrite"
            ).parquet(f"{out}/batch_id={batch_id}")

        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        try:
            gate.drain(stream.writeStream.foreachBatch(search_batch))
            res = (
                spark.read.option("recursiveFileLookup", "true")
                .parquet(out)
                .orderBy("query_id", "rank")
            )
            return materialize_release(res)
        finally:
            assigned.unpersist()


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             a.label AS neighbor_label,
             {_DUCK_COS} AS cos
      FROM embeddings a, embeddings q
      WHERE q.vec_id < {_N_QUERIES}
        AND a.vec_id <> q.vec_id
        AND a.label <> q.label
    ), {_top_k('scored', 'query_id, neighbor_id, neighbor_label, cos, rank')}""",
    covers=("X-ann-hard-negatives",),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    anchor, the top-k most-similar vectors carrying a DIFFERENT
    label — the pairs that actually move a contrastive loss, mined
    corpus-wide (the batch-hard strategy of the public
    in-batch-negatives literature, e.g. Robinson et al. 2021).

    The label-mismatch predicate rides INSIDE the broadcast join
    condition, so every corpus row scores only against the anchors it
    could serve as a negative for — the filter runs before the Arrow
    cosine, not after ranking (filter-then-score, the same
    push-below-the-expensive-op rule as ann_filtered_topk). Anchors
    ship as one broadcast; the corpus is scanned once with no
    shuffle before the final per-anchor top-k window. At 100x the
    same shape holds, or the scan composes with the IVF cell pruning
    of ivf_search for an approximate variant."""
    from etl_sprint_2_5_spark.operators.dedup import cosine_pandas
    from etl_sprint_2_5_spark.operators.similarity import round6_col

    e = load_table(spark, "embeddings", sf_dir)
    anchors = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("label").alias("_qlabel"),
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cv"),
        F.col("label").alias("neighbor_label"),
    )
    scored = corpus.join(
        F.broadcast(anchors),
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neighbor_label") != F.col("_qlabel")),
    ).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        round6_col(cosine_pandas("_qv", "_cv")).alias("cos"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _K)
        .select("query_id", "neighbor_id", "neighbor_label", "cos", "rank")
        .orderBy("query_id", "rank")
    )


@query(
    "ann_recall_report",
    oracle=f"""
    {_ivf_assigned()}, ivf_scored AS ({_CELL_SCORED}
    ), ivf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM ivf_scored
      ) WHERE rank <= {_K}
    ), brute_scored AS ({_EXACT_SCORED}
    ), brute_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM brute_scored
      ) WHERE rank <= {_K}
    ), hits AS (
      SELECT b.query_id FROM brute_topk b
      JOIN ivf_topk i ON i.query_id = b.query_id
                     AND i.neighbor_id = b.neighbor_id
    ), stats AS (
      SELECT (SELECT count(*) FROM brute_topk) AS nb,
             (SELECT count(*) FROM ivf_topk)   AS ni,
             (SELECT count(*) FROM hits)       AS nh
    )
    SELECT nb AS n_true_topk, ni AS n_ivf_topk, nh AS n_hits,
           CASE WHEN nb = 0 THEN 0 ELSE nh * 1000000 // nb END AS recall_ppm
    FROM stats
    """,
    covers=("X-ann-recall-audit",),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit for the IVF path, AS an oracle-gated query —
    the serving-quality measurement next to lsh_recall_report's dedup
    twin: brute-force top-k is the ground truth, nprobe=1 IVF is the
    approximation, and the overlap lands as integer counts + BIGINT-
    div ppm recall. tests/test_ann_recall.py sweeps the nprobe dial
    (1/2/4 -> monotone recall to the all-cells ceiling of exactly
    1.0); this query pins the operating point's number under the
    cross-engine hash gate so an index or analyzer regression that
    silently degrades recall fails verification, not just a
    statistical test. Costs one brute pass over the corpus (the
    truth) plus the cell-pruned probe — the same price as running
    the two queries it compares."""
    e = load_table(spark, "embeddings", sf_dir)
    queries = e.where(F.col("vec_id") < _N_QUERIES)
    brute = brute_force_topk_gemm(
        e, queries, "vec_id", "embedding", _K
    ).select("query_id", "neighbor_id")
    ivf = ivf_search(spark, sf_dir, nprobe=1).select("query_id", "neighbor_id")
    hits = brute.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    nb = brute.agg(F.count(F.lit(1)).alias("nb"))
    ni = ivf.agg(F.count(F.lit(1)).alias("ni"))
    nh = hits.agg(F.count(F.lit(1)).alias("nh"))
    return (
        nb.crossJoin(ni)
        .crossJoin(nh)
        .select(
            F.col("nb").alias("n_true_topk"),
            F.col("ni").alias("n_ivf_topk"),
            F.col("nh").alias("n_hits"),
            F.when(F.col("nb") == 0, F.lit(0).cast("long"))
            .otherwise(F.expr("nh * 1000000 div nb"))
            .alias("recall_ppm"),
        )
    )
