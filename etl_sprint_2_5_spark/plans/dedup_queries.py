"""Deduplication queries over the documents/embeddings tables, each
with an exact DuckDB oracle (the oracle replicates the same md5-based
signatures, so even MinHash/SimHash are hash-verified, not rows-only).

Shared normalization contract (both engines, identical):
  tokens(text)  = non-empty pieces of lower(text) with [^a-z0-9]+ → ' '
  shingles(text)= distinct 3-word shingles of tokens
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators.dedup import (
    connected_components,
    embedding_near_dups,
    exact_dedup,
    hashed_shingle_sets,
    lsh_candidate_pairs,
    minhash_signature,
    simhash,
    token_fingerprint,
    verify_jaccard,
)
from etl_sprint_2_5_spark.functions.text import MINHASH_PERMS
from etl_sprint_2_5_spark.functions.text import word_shingles
from etl_sprint_2_5_spark.plans.registry import materialize_release, query
from etl_sprint_2_5_spark.sources.parquet import (
    load_documents_spread,
    load_table,
)

# DuckDB fragments mirroring functions/text.py exactly.
_DUCK_TOKS = (
    "list_filter(string_split(trim(regexp_replace(lower(text),"
    "'[^a-z0-9]+', ' ', 'g')), ' '), t -> len(t) > 0)"
)
_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(0, greatest(len(tk) - 3, 0)),"
    " i -> array_to_string(tk[i+1:i+3], ' ')))"
)
_DUCK_PERMS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PERMS)
)

# Stop-shingle guard for the posting-list (inverted index) joins: a
# shingle in more than this many documents is boilerplate, not
# duplication evidence, and its posting would expand df² pairs — the
# skewed-shuffle scale-killer. Mirrored EXACTLY in the DuckDB oracles
# so the hash gate verifies the capped semantics. Never fires on the
# fixture corpora (max observed df is 25 at sf0.1) — the guard is for
# the 100 TB shape; the adversarial-fixture pytest exercises it.
MAX_SHINGLE_DF = 1000


@query(
    "dedup_exact",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           min(doc_id)                                             AS keeper,
           count(*)                                                AS n_docs,
           string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id::VARCHAR) AS member_ids
    FROM fp
    GROUP BY fingerprint
    ORDER BY fingerprint
    """,
    covers=("X-dedup-exact", "A4", "U2"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 of normalized text, hash-groupBy, keeper=min id."""
    d = load_documents_spread(spark, sf_dir)
    return exact_dedup(d, "text", "doc_id").orderBy("fingerprint")


@query(
    "dedup_token_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    )
    SELECT md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS fingerprint,
           count(*)     AS n_docs,
           min(doc_id)  AS keeper
    FROM toks
    GROUP BY fingerprint
    HAVING count(*) > 1
    ORDER BY fingerprint
    """,
    covers=("X-dedup-fingerprint",),
)
def dedup_token_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-collision fingerprint dedup: groups whose sorted distinct
    token sets are identical (catches shuffled/duplicated tokens)."""
    d = load_documents_spread(spark, sf_dir)
    fp = token_fingerprint(d, "text", "doc_id")
    return (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .where(F.col("n_docs") > 1)
        .orderBy("fingerprint")
    )


# Shared CTE chain: tokenize -> shingle -> 60-bit hash -> minhash ->
# LSH bands -> candidate pairs -> exact-Jaccard verified pairs. Used by
# the pair query AND the cluster query.
_MINHASH_VERIFIED_CTES = f"""toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ), sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM toks
    ), hsh AS (                       -- one 60-bit int hash per shingle
      SELECT doc_id,
             list_transform(shingles,
                 s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
      FROM sh
    ), mh AS (                        -- integer universal-hash minhash
      SELECT doc_id, t.seed,
             list_min(list_transform(hs,
                 h -> (t.a * (h % 2147483647) + t.b) % 2147483647)) AS minh
      FROM hsh, (VALUES {_DUCK_PERMS}) AS t(seed, a, b)
    ), bands AS (                     -- 4 bands x 3 rows
      SELECT doc_id, seed // 3 AS band,
             string_agg(minh::VARCHAR, ',' ORDER BY seed) AS band_key
      FROM mh GROUP BY doc_id, seed // 3
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT c.id_a, c.id_b,
             round(len(list_intersect(sa.hs, sb.hs))::DOUBLE /
                   (len(sa.hs) + len(sb.hs)
                    - len(list_intersect(sa.hs, sb.hs))), 4) AS jaccard
      FROM cand c
      JOIN hsh sa ON sa.doc_id = c.id_a
      JOIN hsh sb ON sb.doc_id = c.id_b
      WHERE round(len(list_intersect(sa.hs, sb.hs))::DOUBLE /
                  (len(sa.hs) + len(sb.hs)
                   - len(list_intersect(sa.hs, sb.hs))), 4) >= 0.5
    )"""

# connected-component labels over the verified pairs (each doc's
# smallest reachable id), the head of every cluster-level oracle
_MINHASH_LABEL_CTES = f"""WITH RECURSIVE {_MINHASH_VERIFIED_CTES}, sym AS (
      SELECT id_a AS a, id_b AS b FROM verified
      UNION SELECT id_b, id_a FROM verified
    ), reach AS (
      SELECT a AS src, b AS dst FROM sym
      UNION
      SELECT r.src, s.b AS dst FROM reach r JOIN sym s ON r.dst = s.a
    ), labels AS (
      SELECT src AS doc_id, least(min(dst), src) AS label
      FROM reach GROUP BY src
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_VERIFIED_CTES}
    SELECT id_a, id_b, jaccard FROM verified
    ORDER BY id_a, id_b
    """,
    covers=("X-dedup-minhash",),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12 integer permutations over 60-bit shingle hashes) +
    LSH(4 bands x 3) + exact-Jaccard verify on the hashed sets.

    One md5 per shingle TOTAL (the old per-seed rehash did 12); the
    only shuffles are the band-key bucketing and the final pair verify
    - the linear-cost near-dup pattern that survives corpus scale.

    The shingle sets come from the PREPARED index artifact
    (artifacts.prepared_shingle_index): the md5 shingling pass over
    raw text runs once per corpus, every dedup query probes the
    integer index — deterministic, so the text-recomputing oracle
    stays green."""
    # cache: the hashed shingle sets feed the signature AND both sides
    # of the verify join - 8 bytes/shingle, not the shingle strings
    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index

    shingled = prepared_shingle_index(spark, sf_dir).cache()
    signed = minhash_signature(shingled, num_hashes=12)
    pairs = lsh_candidate_pairs(signed, "doc_id", num_hashes=12, rows_per_band=3)
    return verify_jaccard(pairs, shingled, "doc_id", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({_DUCK_TOKS}) AS tk FROM documents
    ), hsh AS (
      SELECT doc_id,
             list_transform(tk, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hv
      FROM toks
    )
    SELECT doc_id,
           array_to_string(list_transform(generate_series(0, 31), i ->
             CASE WHEN list_aggregate(list_transform(hv, h ->
                    CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END),
                    'sum') >= 0
             THEN '1' ELSE '0' END), '') AS simhash
    FROM hsh
    ORDER BY doc_id
    """,
    covers=("X-dedup-simhash",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (md5-prefix bit votes),
    computed as an in-array fold — verified bit-for-bit by the oracle."""
    d = load_documents_spread(spark, sf_dir)
    return simhash(d, "text", "doc_id").orderBy("doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ), sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM toks
    ), hsh AS (
      SELECT doc_id,
             list_transform(shingles,
                 s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
      FROM sh
    ), ex AS (
      SELECT doc_id, unnest(hs) AS s FROM hsh
    ), dfc AS (                       -- per-shingle document frequency
      SELECT s, count(*) AS df FROM ex GROUP BY s
    ), kept AS (                      -- stop-shingle cap (df <= K)
      SELECT ex.doc_id, ex.s
      FROM ex JOIN dfc ON ex.s = dfc.s AND dfc.df <= {MAX_SHINGLE_DF}
    ), sz AS (                        -- sizes over the CAPPED sets
      SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
    ), co AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter::DOUBLE / (la.n + lb.n - inter), 4) AS jaccard
    FROM co
    JOIN sz la ON la.doc_id = co.id_a
    JOIN sz lb ON lb.doc_id = co.id_b
    WHERE round(inter::DOUBLE / (la.n + lb.n - inter), 4) >= 0.5
    ORDER BY id_a, id_b
    """,
    covers=("X-dedup-ngram",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard WITHOUT LSH: inverted-index self-join on shared
    shingles (only co-occurring pairs are scored — no all-pairs scan),
    then exact Jaccard from co-occurrence counts. Postings are guarded
    by the ``capped_postings`` stop-shingle filter (df ≤
    MAX_SHINGLE_DF) — a boilerplate shingle would otherwise expand df²
    pairs from one key; Jaccard sets are the capped vocabulary on both
    engines. Shingle sets probe the prepared index artifact."""
    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index
    from etl_sprint_2_5_spark.operators.dedup import inverted_index_jaccard

    sh = prepared_shingle_index(spark, sf_dir)
    return inverted_index_jaccard(
        sh, "doc_id", "hs", threshold=0.5, max_df=MAX_SHINGLE_DF
    ).orderBy("id_a", "id_b")


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 6) AS cos
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 6) >= 0.4
    ORDER BY id_a, id_b
    """,
    covers=("X-dedup-cosine",),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, blocked by label (the coarse-cluster
    key) — all-pairs only within a block, cosine in double precision."""
    e = load_table(spark, "embeddings", sf_dir)
    return embedding_near_dups(
        e, "vec_id", "embedding", "label", threshold=0.4
    ).orderBy("id_a", "id_b")


@query(
    "dedup_srp_lsh",
    oracle="""
    WITH aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(generate_series(1, 64),
               d -> (embedding::DOUBLE[])[d] * (1.0 + ((d % 7) - 3) / 1000.0))
      FROM embeddings WHERE vec_id % 50 = 0
    ), q AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(x * (127.0 / list_max(
                    list_transform(v, y -> abs(y)))) + 0.5) AS BIGINT)) AS qv
      FROM aug
    ), planes AS (
      SELECT j, list_transform(generate_series(1, 64),
               d -> ('0x' || substr(md5('srp:' || j || ':' || d), 1, 15))::BIGINT
                    % 2001 - 1000) AS r
      FROM (SELECT unnest(generate_series(0, 255)) AS j)
    ), bits AS (
      SELECT q.vec_id, p.j,
             CASE WHEN list_sum(list_transform(generate_series(1, 64),
                    d -> q.qv[d] * p.r[d])) >= 0 THEN 1 ELSE 0 END AS bit
      FROM q, planes p
    ), bands AS (
      SELECT vec_id, j // 16 AS band,
             CAST(sum(bit * (1 << (j % 16))) AS BIGINT) AS bkey
      FROM bits GROUP BY vec_id, j // 16
    ), caps AS (
      SELECT band, bkey FROM bands GROUP BY band, bkey HAVING count(*) <= 500
    ), kept AS (
      SELECT b.vec_id, b.band, b.bkey FROM bands b
      JOIN caps ON caps.band = b.band AND caps.bkey = b.bkey
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cos,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates
    FROM cand c
    JOIN aug ea ON ea.vec_id = c.id_a
    JOIN aug eb ON eb.vec_id = c.id_b
    WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.9
    ORDER BY id_a, id_b
    """,
    covers=("X-dedup-srp-lsh",),
)
def dedup_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via SIGN-RANDOM-PROJECTION LSH (Charikar
    2002) at the PRODUCTION operating point: true near-duplicates
    (cos >= 0.9), 256 hyperplane sign bits per vector banded 16x16.
    SRP needs long bands — a random near-orthogonal pair matches a
    k-bit band w.p. ~2^-k, so the 4-bit bands that suit MinHash would
    flood this join with ~40% of ALL pairs; at 16 bits the random
    collision rate is ~1.5e-5 per band while a true near-dup
    (p_bit ~ 0.93+) still hits any of the 16 bands w.p. ~99%+.

    The fixture corpus has no pairs above cos 0.5 (verified), so —
    exactly like the curation module's synthetic-PII pattern — the
    corpus is AUGMENTED with deterministic, SQL-expressible twins:
    every 50th vector gains a copy perturbed per-component by
    (1 + ((d%7)-3)/1000), cos ~ 0.999. The gate then pins that SRP
    finds every twin, that nothing else crosses 0.9, AND (as a gated
    constant column) the exact candidate-pair count the banding dial
    produces.

    Engine-exactness: bits are pure BIGINT arithmetic (md5-derived
    integer planes x int8-quantized components, |dot| <= 127*1000*64)
    computed as ONE numpy int64 gemm per Arrow batch; the verify
    cosine is double round-6 HALF_UP on both engines. Scale shape:
    signature+banding map-side, one (band, key) shuffle, degenerate
    buckets capped at 500, only candidate pairs carry two vectors."""
    from etl_sprint_2_5_spark.operators.dedup import cosine_pandas, srp_band_keys
    from etl_sprint_2_5_spark.operators.quantize import quantize_embeddings
    from etl_sprint_2_5_spark.operators.similarity import round6_col

    base = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    twins = base.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64),"
            " d -> element_at(v, d) * (1.0 + ((d % 7) - 3) / 1000.0))"
        ).alias("v"),
    )
    # fan the narrow corpus across cores (the quantize/perturb
    # transforms are interpreted per-element — serial on the 2-file
    # scan layout) and cache: the verify stage reads aug twice more
    aug = (
        base.unionByName(twins)
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    q8 = quantize_embeddings(aug, "vec_id", "v")
    keys = srp_band_keys(q8, "vec_id", "qvec", n_bands=16, rows_per_band=16)
    bands = keys.select(
        "vec_id", F.posexplode("bkeys").alias("band", "bkey")
    )
    caps = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") <= 500)
        .select("band", "bkey")
    )
    kept = bands.join(caps, ["band", "bkey"])
    a = kept.select("band", "bkey", F.col("vec_id").alias("id_a"))
    b = kept.select("band", "bkey", F.col("vec_id").alias("id_b"))
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cand = cand.cache()  # read by the count column AND the verify join
    n_cand = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    ea = aug.select(F.col("vec_id").alias("id_a"), F.col("v").alias("_va"))
    eb = aug.select(F.col("vec_id").alias("id_b"), F.col("v").alias("_vb"))
    verified = (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            round6_col(cosine_pandas("_va", "_vb")).alias("cos"),
        )
        .where(F.col("cos") >= 0.9)
        .crossJoin(F.broadcast(n_cand))
        .orderBy("id_a", "id_b")
    )
    from etl_sprint_2_5_spark.plans.registry import materialize_release as _mr

    return _mr(verified, aug, cand)


@query(
    "dedup_clusters",
    oracle=f"""
    {_MINHASH_LABEL_CTES}
    SELECT label AS cluster_rep,
           count(*) AS n_docs,
           string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS members
    FROM labels
    GROUP BY label
    ORDER BY cluster_rep
    """,
    covers=("X-dedup-clusters",),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the verified
    minhash-LSH pairs, one row per component with the min-id
    representative (the doc a pipeline keeps) and the sorted member
    list. The oracle computes the same components via a recursive
    transitive-closure CTE. Shingle sets probe the same prepared
    index artifact as dedup_minhash_lsh."""
    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index

    shingled = prepared_shingle_index(spark, sf_dir).cache()
    signed = minhash_signature(shingled, num_hashes=12)
    pairs = lsh_candidate_pairs(signed, "doc_id", num_hashes=12, rows_per_band=3)
    verified = verify_jaccard(pairs, shingled, "doc_id", threshold=0.5)
    cc = connected_components(verified.select("id_a", "id_b"))
    return (
        cc.groupBy(F.col("label").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("members"),
        )
        .orderBy("cluster_rep")
    )


_INCOMING = ("src16", "src17", "src18", "src19")
_DUCK_INCOMING = "('src16', 'src17', 'src18', 'src19')"


# one oracle gates both execution modes (stream == batch parity is
# additionally pytest-asserted in tests/test_stream_doc_dedup.py)
_INCREMENTAL_DEDUP_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, text, source IN {_DUCK_INCOMING} AS is_new
      FROM documents
    ), ex_tier AS (
      SELECT i.doc_id, min(c.doc_id) AS match_id
      FROM base i JOIN base c
        ON md5(i.text) = md5(c.text) AND i.is_new AND NOT c.is_new
      GROUP BY i.doc_id
    ), toks AS (
      SELECT doc_id, is_new, {_DUCK_TOKS} AS tk FROM base
    ), sh AS (
      SELECT doc_id, is_new, {_DUCK_SHINGLES} AS shingles FROM toks
    ), hsh AS (
      SELECT doc_id, is_new,
             list_transform(shingles,
                 s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
      FROM sh
    ), ex AS (
      SELECT doc_id, is_new, unnest(hs) AS s FROM hsh
    ), dfc AS (                       -- df over the CORPUS only: the
      SELECT s, count(*) AS df        -- stop list is a property of
      FROM ex WHERE NOT is_new        -- the persisted index, stable
      GROUP BY s                      -- across incoming batch chops
    ), kept AS (                      -- stop-shingle cap (df <= K);
      SELECT ex.doc_id, ex.is_new, ex.s   -- incoming-only shingles
      FROM ex LEFT JOIN dfc ON ex.s = dfc.s  -- have no corpus df row
      WHERE coalesce(dfc.df, 0) <= {MAX_SHINGLE_DF}
    ), sz AS (                        -- sizes over the CAPPED sets
      SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
    ), co AS (
      SELECT i.doc_id AS id_i, c.doc_id AS id_c, count(*) AS inter
      FROM kept i JOIN kept c ON i.s = c.s AND i.is_new AND NOT c.is_new
      GROUP BY 1, 2
    ), near_tier AS (
      SELECT id_i AS doc_id, min(id_c) AS match_id
      FROM co
      JOIN sz li ON li.doc_id = co.id_i
      JOIN sz lc ON lc.doc_id = co.id_c
      WHERE round(inter::DOUBLE / (li.n + lc.n - inter), 4) >= 0.5
      GROUP BY id_i
    )
    SELECT b.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                WHEN n.doc_id IS NOT NULL THEN 'near'
                ELSE 'unique' END AS verdict,
           coalesce(e.match_id, n.match_id, -1) AS match_id
    FROM base b
    LEFT JOIN ex_tier e ON b.doc_id = e.doc_id
    LEFT JOIN near_tier n ON b.doc_id = n.doc_id
    WHERE b.is_new
    ORDER BY b.doc_id
    """


@query(
    "incremental_dedup",
    oracle=_INCREMENTAL_DEDUP_ORACLE,
    covers=("X-dedup-incremental",),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the shape every
    continuously-ingesting pipeline runs: the last four sources are
    the INCOMING batch, everything else is the existing corpus; each
    incoming doc is classified 'exact' (byte-identical text via md5
    join), 'near' (shingle-Jaccard >= 0.5 via the inverted-index
    cross-set join — only candidate pairs sharing a shingle are
    scored, never corpus x batch), or 'unique'.

    Scale shape: the corpus side of both joins is the big side and is
    only ever touched by hash join on md5/shingle keys; at 100 TB the
    corpus fingerprint and shingle-posting tables are the persisted
    dedup index this query incrementally probes. Two hot-key guards:
    the exact tier pre-aggregates the corpus to one (md5 → min id) row
    per fingerprint (a viral text duplicated millions of times joins
    as ONE row, not millions), and the near tier drops every shingle
    whose CORPUS df exceeds MAX_SHINGLE_DF so no boilerplate shingle
    can expand quadratically. The cap population is corpus-only by
    design: the stop list is then a stable property of the persisted
    index, independent of how incoming data is chopped into batches —
    which is what makes the streaming twin (streaming/doc_dedup.py)
    bit-identical to this query under ANY micro-batch boundary. (An
    incoming-only boilerplate shingle is uncapped but harmless here:
    it has no corpus postings to join, so the inc×corpus candidate
    join cannot expand on it.) The shingle sets probe the prepared
    index artifact — exactly the 'persisted dedup index' this query's
    docstring promises at 100 TB."""
    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index

    d = load_documents_spread(spark, sf_dir)
    base = d.select(
        "doc_id", "text", F.col("source").isin(*_INCOMING).alias("is_new")
    )
    hashes = base.select("doc_id", "is_new", F.md5("text").alias("h"))
    inc_h = hashes.where(F.col("is_new")).select(
        F.col("doc_id").alias("id_i"), "h"
    )
    # one row per distinct corpus fingerprint: min-id pre-aggregation
    # commutes with the per-incoming-doc min below, so the result is
    # identical and the join can never expand on a hot text
    cor_h = (
        hashes.where(~F.col("is_new"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("id_c"))
    )
    ex_tier = inc_h.join(cor_h, "h").select("id_i", F.col("id_c").alias("ex_match"))
    sh = prepared_shingle_index(spark, sf_dir).join(
        base.select("doc_id", "is_new"), "doc_id"
    )
    occ = sh.select("doc_id", "is_new", F.explode("hs").alias("s"))
    # corpus-only stop list (see docstring); sizes are counted over
    # the SURVIVING shingles so Jaccard's numerator/denominator agree
    # (mirrored in the oracle's dfc/kept/sz CTEs)
    stop = (
        occ.where(~F.col("is_new"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > MAX_SHINGLE_DF)
        .select("s")
    )
    kept = occ.join(stop, "s", "left_anti").cache()
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inc_p = kept.where(F.col("is_new")).select(F.col("doc_id").alias("id_i"), "s")
    cor_p = kept.where(~F.col("is_new")).select(F.col("doc_id").alias("id_c"), "s")
    co = (
        inc_p.join(cor_p, "s")
        .groupBy("id_i", "id_c")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_i = sizes.select(F.col("doc_id").alias("id_i"), F.col("n").alias("n_i"))
    sz_c = sizes.select(F.col("doc_id").alias("id_c"), F.col("n").alias("n_c"))
    near_tier = (
        co.join(sz_i, "id_i")
        .join(sz_c, "id_c")
        .where(
            F.round(
                F.col("inter")
                / (F.col("n_i") + F.col("n_c") - F.col("inter")).cast("double"),
                4,
            )
            >= 0.5
        )
        .groupBy("id_i")
        .agg(F.min("id_c").alias("near_match"))
    )
    inc = base.where(F.col("is_new")).select("doc_id")
    out = (
        inc.join(ex_tier, inc.doc_id == ex_tier.id_i, "left")
        .join(near_tier, inc.doc_id == near_tier.id_i, "left")
        .select(
            "doc_id",
            F.when(F.col("ex_match").isNotNull(), "exact")
            .when(F.col("near_match").isNotNull(), "near")
            .otherwise("unique")
            .alias("verdict"),
            F.coalesce("ex_match", "near_match", F.lit(-1)).alias("match_id"),
        )
    )
    return out.orderBy("doc_id")


@query(
    "crossdoc_ngram_dup_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_DUCK_TOKS} AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(tk) - 5, 0)),
               i -> array_to_string(tk[i+1:i+5], ' ')))) AS gram
      FROM toks
    ),
    df AS (
      SELECT gram, count(DISTINCT doc_id) AS gram_docs FROM grams GROUP BY gram
    ),
    per_doc AS (
      SELECT g.doc_id, g.source,
             count(*) AS n_grams,
             CAST(sum(CASE WHEN d.gram_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_grams
      FROM grams g JOIN df d ON g.gram = d.gram
      GROUP BY g.doc_id, g.source
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_grams) AS BIGINT)   AS total_grams,
           CAST(sum(dup_grams) AS BIGINT) AS shared_grams,
           CAST(floor(CAST(sum(dup_grams) AS DOUBLE)
                      / CAST(sum(n_grams) AS DOUBLE) * 1e6 + 0.5e0) AS BIGINT)
             AS dup_ppm
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
    covers=("X-dedup-crossdoc-diagnostic",),
)
def crossdoc_ngram_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplication diagnostic (the RefinedWeb/Gopher
    corpus-health measure): per source, what fraction of 5-gram
    occurrences also appear in at least one OTHER document. Unlike
    dedup_* (which emit keep/drop decisions) this measures residual
    duplication — the number a curation team tracks per snapshot to
    decide whether another dedup pass pays for itself.

    Scale shape: gram doc-frequency is an inverted-index aggregate
    (shuffle on the gram), the join back to occurrences reuses the
    same gram key (co-partitioned), and the per-doc then per-source
    rollups are map-side combinable. Nothing is all-pairs; the
    dup_ppm ratio is int/int→double (exact inputs) crossed as
    floor(x*1e6+0.5) fixed-point."""
    d = load_documents_spread(spark, sf_dir)
    grams = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(word_shingles("text", 5))).alias("gram"),
    )
    df_counts = grams.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("gram_docs")
    )
    per_doc = (
        grams.join(df_counts, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("gram_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("dup_grams"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("dup_grams").cast("long").alias("shared_grams"),
            F.floor(
                F.sum("dup_grams").cast("double")
                / F.sum("n_grams").cast("double")
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("source")
    )


_SEM_THRESHOLD = 0.4  # cosine floor for "same meaning" (SemDeDup eps)


def _sem_oracle() -> str:
    from etl_sprint_2_5_spark.plans.similarity_queries import _ivf_assigned

    return f"""
    {_ivf_assigned()}, pairs AS (
      SELECT b.vec_id AS vec_id, a.vec_id AS prior_id,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS cos
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    )
    SELECT vec_id, min(prior_id) AS dup_of,
           max(cos) AS max_cos,
           count(*) AS n_close
    FROM pairs WHERE cos >= {_SEM_THRESHOLD}
    GROUP BY vec_id
    ORDER BY vec_id
    """


@query("semantic_dedup", oracle=_sem_oracle(), covers=("X-dedup-semantic",))
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings into IVF cells with the
    PREPARED trained centroids (artifacts.py — the same k-means the
    ANN index uses), compute pairwise cosine only WITHIN a cell, and
    mark every vector that has a smaller-id same-cell neighbor above
    the threshold as a duplicate of the smallest such neighbor.

    Scale shape: never all-pairs over the corpus — the quadratic term
    is bounded per cell (cells ≈ corpus/k by construction, and the
    cell key partitions the self-join), which is exactly the SemDeDup
    design: cluster first so the O(n²) happens in k small buckets.
    Pair cosine is the Arrow-vectorized numpy path (same as
    ann_quantized's rescore — 4× faster than the codegen fold on the
    wide pair stream) rounded to 6; round-6 pins the cross-engine
    agreement with DuckDB's list_cosine_similarity."""
    from etl_sprint_2_5_spark.artifacts import prepared_ivf_centroids
    from etl_sprint_2_5_spark.operators.dedup import cosine_pandas
    from etl_sprint_2_5_spark.operators.similarity import (
        assign_cells_gemm,
        round6_col,
    )

    e = load_table(spark, "embeddings", sf_dir)
    centroids = prepared_ivf_centroids(spark, sf_dir)
    # cache: the assignment feeds BOTH sides of the cell self-join —
    # without it the corpus gemm pass runs twice
    assigned = assign_cells_gemm(e, centroids, "vec_id", "embedding").cache()
    a = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("prior_id"),
        F.col("embedding").alias("_ea"),
    )
    b = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("_eb"),
    )
    pairs = (
        a.join(b, "centroid_id")
        .where(F.col("prior_id") < F.col("vec_id"))
        .select(
            "vec_id",
            "prior_id",
            round6_col(cosine_pandas(F.col("_ea"), F.col("_eb"))).alias("cos"),
        )
    )
    return (
        pairs.where(F.col("cos") >= _SEM_THRESHOLD)
        .groupBy("vec_id")
        .agg(
            F.min("prior_id").alias("dup_of"),
            F.max("cos").alias("max_cos"),
            F.count(F.lit(1)).alias("n_close"),
        )
        .orderBy("vec_id")
    )


@query(
    "streaming_incremental_dedup",
    oracle=_INCREMENTAL_DEDUP_ORACLE,
    covers=("X-dedup-incremental-stream",),
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of incremental_dedup, hash-verified against
    the SAME DuckDB oracle: the incoming four sources are written to
    a file feed, consumed as Structured Streaming micro-batches, and
    classified exact/near/unique against the static corpus index
    (streaming/doc_dedup.py — prepared shingle artifact, corpus-side
    stop list, checkpointed exactly-once). Verdicts are batch-chop
    invariant, so the streamed result equals the batch query
    bit-for-bit and the one oracle gates both execution modes."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index
    from etl_sprint_2_5_spark.streaming.doc_dedup import (
        CorpusDedupIndex,
        stream_doc_dedup,
    )
    from etl_sprint_2_5_spark.streaming.gate import streaming_gate

    d = load_documents_spread(spark, sf_dir)
    incoming = d.where(F.col("source").isin(*_INCOMING)).select(
        "doc_id", "text"
    )
    corpus = d.where(~F.col("source").isin(*_INCOMING)).select(
        "doc_id", "text"
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    with streaming_gate(spark, "streaming_incremental_dedup") as gate:
        feed, out = f"{gate.dir}/feed", f"{gate.dir}/out"
        incoming.coalesce(2).write.parquet(feed)
        # corpus side probes the prepared shingle artifact — the
        # persisted dedup index — instead of reshingling raw text
        corpus_sh = prepared_shingle_index(spark, sf_dir).join(
            corpus.select("doc_id"), "doc_id"
        )
        index = CorpusDedupIndex(
            corpus, shingles=corpus_sh, max_df=MAX_SHINGLE_DF
        )
        stream_doc_dedup(spark, index, feed, schema, out, gate.checkpoint())
        sink = spark.read.parquet(out).select("doc_id", "verdict", "match_id")
        return materialize_release(sink).orderBy("doc_id")


_SIMHASH_HAMMING = 1  # near-dup when ≤ 1 of 32 bits differs (the
# fixture vocabulary is tiny, so 32-bit signatures cluster tightly —
# the 64-bit variant below runs the web-scale 64-bit/≤3 point)
_SIMHASH_MAX_BUCKET = 1000  # degenerate band-bucket guard (LSH twin)
_SIMHASH64_HAMMING = 3  # the classic Manku et al. web-scale threshold


def _simhash_band_pairs(
    sigs: DataFrame,
    word_cols: tuple[str, ...],
    hamming_max: int,
    max_bucket: int = _SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """Band-bucketed Hamming pairing over a SimHash signature held as
    one or more 32-bit integer words (column names in ``word_cols``,
    doc ids in ``doc_id``): band each word into 4×8-bit keys, bucket-
    join within bands (capped at ``max_bucket`` members — degenerate
    buckets like the all-zero boilerplate signature never expand),
    verify exact Hamming with per-word xor+bit_count. With B total
    bands, a pair differing in fewer than B bits intact in at least
    one band — banding is a LOSSLESS candidate filter whenever
    ``hamming_max < B`` (1 < 4 for the 32-bit caller, 3 < 8 for the
    64-bit one). All integer arithmetic, identical on both engines;
    the 32-bit and 64-bit registered queries are this one function
    at different word counts/thresholds."""
    n_bands_per_word = 4
    band_structs = []
    b = 0
    for wc in word_cols:
        for j in range(n_bands_per_word):
            band_structs.append(
                F.struct(
                    F.lit(b).alias("b"),
                    F.shiftright(F.col(wc), 8 * j)
                    .bitwiseAND(F.lit(255))
                    .alias("bv"),
                )
            )
            b += 1
    assert hamming_max < b, "banding would not be lossless"
    bands = sigs.select(
        "doc_id", *word_cols, F.explode(F.array(*band_structs)).alias("k")
    ).select("doc_id", *word_cols, "k.b", "k.bv")
    buckets = (
        bands.groupBy("b", "bv")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .select("b", "bv")
    )
    kept = bands.join(buckets, ["b", "bv"])
    left = kept.select(
        "b",
        "bv",
        F.col("doc_id").alias("id_a"),
        *[F.col(w).alias(f"{w}_a") for w in word_cols],
    )
    right = kept.select(
        "b",
        "bv",
        F.col("doc_id").alias("id_b"),
        *[F.col(w).alias(f"{w}_b") for w in word_cols],
    )
    cand = (
        left.join(right, ["b", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            *[f"{w}_a" for w in word_cols],
            *[f"{w}_b" for w in word_cols],
        )
        .distinct()
    )
    hamming = None
    for w in word_cols:
        term = F.bit_count(F.col(f"{w}_a").bitwiseXOR(F.col(f"{w}_b")))
        hamming = term if hamming is None else hamming + term
    return (
        cand.where(hamming <= hamming_max)
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


@query(
    "simhash_near_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({_DUCK_TOKS}) AS tk FROM documents
    ), ex AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
      FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
    ), votes AS (
      SELECT doc_id, count(*) AS n,
             {", ".join(f"CAST(sum((h >> {i}) & 1) AS BIGINT) AS b{i}" for i in range(32))}
      FROM ex GROUP BY doc_id
    ), sig AS (
      SELECT doc_id,
             CAST({" + ".join(f"(CASE WHEN 2 * b{i} >= n THEN (1::BIGINT << {i}) ELSE 0 END)" for i in range(32))}
             AS BIGINT) AS s
      FROM votes
    ), bands AS (
      SELECT doc_id, s, b, (s >> (8 * b)) & 255 AS bv
      FROM sig, generate_series(0, 3) AS t(b)
    ), buckets AS (
      SELECT b, bv FROM bands GROUP BY b, bv
      HAVING count(*) BETWEEN 2 AND {_SIMHASH_MAX_BUCKET}
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
             x.s AS sa, y.s AS sb
      FROM bands x
      JOIN buckets k ON x.b = k.b AND x.bv = k.bv
      JOIN bands y ON y.b = x.b AND y.bv = x.bv AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {_SIMHASH_HAMMING}
    ORDER BY id_a, id_b
    """,
    covers=("X-dedup-simhash-pairs",),
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS — the signature's pairing half: band the
    32-bit signature into 4×8-bit keys (a difference of fewer bits
    than bands leaves at least one band intact, so banding is a
    lossless candidate filter at the Hamming threshold), bucket-join within bands, verify exact
    Hamming distance with one xor+bit_count — all integer arithmetic,
    identical on both engines.

    Scale shape mirrors MinHash-LSH: the only shuffles are the band
    bucketing and the pair distinct; degenerate buckets (e.g. the
    all-zero signature of boilerplate) are capped at
    {max_bucket} members, the same guard as lsh_candidate_pairs."""
    d = load_documents_spread(spark, sf_dir)
    # the signature string is LSB-first (char k = bit k); reverse to
    # MSB-first and conv() turns it into the integer with vote k at
    # bit k — exactly the oracle's Σ (vote_k << k)
    sigs = simhash(d, "text", "doc_id").select(
        "doc_id",
        F.conv(F.reverse(F.col("simhash")), 2, 10).cast("long").alias("s"),
    )
    return _simhash_band_pairs(sigs, ("s",), _SIMHASH_HAMMING)


def _simhash64_sig_ctes() -> str:
    """DuckDB CTEs producing the two-word 64-bit signature (lo, hi)
    per doc — the oracle mirror of operators/dedup.py simhash64."""
    lo_votes = ", ".join(
        f"CAST(sum((hlo >> {i}) & 1) AS BIGINT) AS lo{i}" for i in range(32)
    )
    hi_votes = ", ".join(
        f"CAST(sum((hhi >> {i}) & 1) AS BIGINT) AS hi{i}" for i in range(32)
    )
    lo_sum = " + ".join(
        f"(CASE WHEN 2 * lo{i} >= n THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(32)
    )
    hi_sum = " + ".join(
        f"(CASE WHEN 2 * hi{i} >= n THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(32)
    )
    return f"""toks AS (
      SELECT doc_id, list_distinct({_DUCK_TOKS}) AS tk FROM documents
    ), ex AS (
      SELECT doc_id, md5(t) AS m
      FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
    ), hw AS (
      SELECT doc_id, ('0x' || substr(m, 1, 8))::BIGINT AS hlo,
                     ('0x' || substr(m, 9, 8))::BIGINT AS hhi
      FROM ex
    ), votes AS (
      SELECT doc_id, count(*) AS n, {lo_votes}, {hi_votes}
      FROM hw GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, CAST({lo_sum} AS BIGINT) AS lo,
                     CAST({hi_sum} AS BIGINT) AS hi
      FROM votes
    )"""


@query(
    "simhash64_near_pairs",
    oracle=f"""
    WITH {_simhash64_sig_ctes()}, bands AS (
      SELECT doc_id, lo, hi, b,
             CASE WHEN b < 4 THEN (lo >> (8 * b)) & 255
                  ELSE (hi >> (8 * (b - 4))) & 255 END AS bv
      FROM sig, generate_series(0, 7) AS t(b)
    ), buckets AS (
      SELECT b, bv FROM bands GROUP BY b, bv
      HAVING count(*) BETWEEN 2 AND {_SIMHASH_MAX_BUCKET}
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
             x.lo AS la, x.hi AS ha, y.lo AS lb, y.hi AS hb
      FROM bands x
      JOIN buckets k ON x.b = k.b AND x.bv = k.bv
      JOIN bands y ON y.b = x.b AND y.bv = x.bv AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS INT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
          <= {_SIMHASH64_HAMMING}
    ORDER BY id_a, id_b
    """,
    covers=("X-dedup-simhash64-pairs",),
)
def simhash64_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the WEB-SCALE operating point: 64-bit
    signature (two 32-bit words, operators/dedup.py simhash64),
    Hamming threshold 3, 8×8-bit banding — the classic Manku et al.
    configuration. Identical plan shape to the 32-bit pairing (the
    two queries share _simhash_band_pairs): band bucketing + capped
    bucket join + exact xor/bit_count verify; 3 < 8 bands keeps the
    banding a lossless candidate filter. Property tests assert the
    LO word equals the 32-bit signature bit-for-bit and that the
    banded pairing equals brute-force all-pairs Hamming on the
    fixture."""
    from etl_sprint_2_5_spark.operators.dedup import simhash64

    d = load_documents_spread(spark, sf_dir)
    sigs = simhash64(d, "text", "doc_id").select(
        "doc_id", F.col("sim_lo").alias("lo"), F.col("sim_hi").alias("hi")
    )
    return _simhash_band_pairs(sigs, ("lo", "hi"), _SIMHASH64_HAMMING)


_SPAN_K = 15  # span length in tokens. Lee et al. 2021 ("Deduplicating
# Training Data Makes Language Models Better") uses 50-token spans on
# web corpora; the fixture documents average ~55 tokens, so 15 keeps
# the operating point proportionate while exercising identical plan
# shapes. Docs shorter than K tokens contribute zero spans — substring
# dedup deliberately does NOT fall back to whole-document comparison
# (that is dedup_exact's job).


@query(
    "dedup_repeated_substrings",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ), base AS (
      SELECT doc_id, len(tk) AS n_tokens, tk FROM toks
    ), poss AS (
      SELECT doc_id, tk, unnest(generate_series(0, n_tokens - {_SPAN_K})) AS pos
      FROM base WHERE n_tokens >= {_SPAN_K}
    ), occ AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(array_to_string(tk[pos+1:pos+{_SPAN_K}], ' ')),
              1, 15))::BIGINT AS s
      FROM poss
    ), df AS (
      SELECT s, count(DISTINCT doc_id) AS d FROM occ GROUP BY s
    ), dup AS (
      SELECT occ.doc_id, occ.pos
      FROM occ JOIN df ON occ.s = df.s AND df.d >= 2
    ), cov AS (
      SELECT doc_id,
             greatest(0, pos + {_SPAN_K} - 1
               - greatest(coalesce(max(pos + {_SPAN_K} - 1) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1),
                 pos - 1)) AS newly
      FROM dup
    ), agg AS (
      SELECT doc_id, count(*) AS dup_spans,
             CAST(sum(newly) AS BIGINT) AS covered_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT b.doc_id,
           b.n_tokens,
           greatest(b.n_tokens - {_SPAN_K} + 1, 0) AS n_spans,
           coalesce(a.dup_spans, 0) AS dup_spans,
           coalesce(a.covered_tokens, 0) AS covered_tokens,
           CASE WHEN b.n_tokens = 0 THEN 0
                ELSE (coalesce(a.covered_tokens, 0) * 1000000) // b.n_tokens
           END AS dup_ppm
    FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
    ORDER BY b.doc_id
    """,
    covers=("X-dedup-substring",),
)
def dedup_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (the public Lee et al. 2021
    repeated-span pattern): every K-token window of every document is
    hashed; a window whose exact token sequence appears in >= 2
    DISTINCT documents is a duplicated span. Per document we report
    the span counts and the number of TOKENS covered by the union of
    its duplicated spans (overlapping spans merged with a
    gaps-and-islands sweep), plus that coverage as truncated parts
    per million — the number a corpus team reads as "this fraction of
    my tokens is boilerplate someone else also has". Runs right after
    document-level dedup in a training pipeline: near-identical DOCS
    are already gone, this finds the shared paragraphs inside
    otherwise-unique ones.

    Scale shape: span doc-frequency is an inverted-index AGGREGATE
    (map-side combinable shuffle on the span hash), and the dup-span
    join is occurrences x one-row-per-hash — linear in occurrences,
    never pairwise, so a boilerplate span in a million documents
    costs one df row and per-occurrence probes (no MAX_SHINGLE_DF cap
    needed: nothing here expands df^2, unlike the Jaccard posting
    self-joins). The coverage union is a per-document window
    (bounded by document length). Hashes are the same 60-bit
    md5-prefix integers as every other dedup signature, so the
    oracle verifies them bit-for-bit."""
    from pyspark.sql import Window

    from etl_sprint_2_5_spark.functions.text import tokenize

    K = _SPAN_K
    d = load_documents_spread(spark, sf_dir)
    base = d.select(
        "doc_id",
        tokenize("text").alias("tk"),
    ).select("doc_id", F.size("tk").cast("long").alias("n_tokens"), "tk")
    # positional K-token spans, each hashed to the shared 60-bit
    # md5-prefix integer; slice copies K elements per position (O(n*K)
    # per row with constant K — not the O(n^2) full-suffix slice)
    spans = F.expr(
        f"transform(sequence(0, cast(size(tk) as int) - {K}), "
        f"i -> struct(i AS pos, cast(conv(substring(md5("
        f"array_join(slice(tk, i + 1, {K}), ' ')), 1, 15), 16, 10) "
        f"as bigint) AS s))"
    )
    occ = (
        base.where(F.col("n_tokens") >= K)
        .select("doc_id", F.explode(spans).alias("z"))
        .select("doc_id", F.col("z.pos").alias("pos"), F.col("z.s").alias("s"))
    )
    # span doc-frequency via the two-level distinct aggregate + join —
    # the SKEW-BOUNDED shape (r15 verdict item 4). The r15 window form
    # (df = max(dense_rank) over (partition by s)) consumed the span
    # stream once, but it concentrated EVERY occurrence of one span in
    # a single window group: one task sorts/buffers a mega-frequent
    # boilerplate span's whole occurrence stream, and a window group is
    # the one structure AQE's skew handling can NOT split (guide §2.5 —
    # it splits join partitions only). The two constraints are mutually
    # exclusive in Catalyst: a plan fork re-executes its subtree, so
    # any single-Generate formulation must funnel all of a span's
    # occurrences through one window group, while any skew-robust
    # formulation pays the span-hash Generate twice. This form is
    # skew-robust END TO END:
    # - countDistinct plans as two aggregates — partial dedup on
    #   (s, doc_id) then count on s, BOTH map-side combinable, so a
    #   hot span contributes ≤1 row per map task per level (the
    #   "salted two-level count" with doc_id as the salt);
    # - the dup-occurrence probe is a semi-join: broadcast when the
    #   dup-span set is small (it is here), AQE-skew-splittable
    #   sort-merge when it is not — no single-task hot group anywhere.
    # Measured cost of the second Generate at sf0.1: ~5% on a ~1.7s
    # query (r15's interleaved A/B) — the price of removing the only
    # unsplittable hot-key structure in the dedup family.
    dfc = occ.groupBy("s").agg(F.countDistinct("doc_id").alias("d"))
    dup = occ.join(
        dfc.where(F.col("d") >= 2).select("s"), "s", "left_semi"
    ).select("doc_id", "pos")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    end = F.col("pos") + F.lit(K - 1)
    prev_end = F.max(F.col("pos") + F.lit(K - 1)).over(w)
    newly = F.greatest(
        F.lit(0),
        end - F.greatest(F.coalesce(prev_end, F.lit(-1)), F.col("pos") - 1),
    )
    agg = (
        dup.select("doc_id", newly.alias("newly"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_spans"),
            F.sum("newly").cast("long").alias("covered_tokens"),
        )
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.greatest(F.col("n_tokens") - F.lit(K - 1), F.lit(0))
            .cast("long")
            .alias("n_spans"),
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.when(F.col("n_tokens") == 0, F.lit(0))
            .otherwise(
                F.expr("(coalesce(covered_tokens, 0) * 1000000) div n_tokens")
            )
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("doc_id")
    )


_BLOOM_M = 4096  # bits — deliberately small so the fixture exercises
# real false positives (~400 corpus docs x 3 hashes -> ~25% bit load,
# ~1.5% FP rate); at corpus scale m grows with n and the words table
# stays m/32 BIGINTs (a 1-billion-doc filter at 10 bits/doc is ~400MB
# — broadcastable, or kept as a tiny co-partitioned table)
_BLOOM_K = 3  # salted hash functions


@query(
    "bloom_membership_filter",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, md5(text) AS h, source IN {_DUCK_INCOMING} AS is_new
      FROM documents
    ), pos AS (
      SELECT doc_id, is_new, h,
             ('0x' || substr(md5(h || ':' || i), 1, 15))::BIGINT % {_BLOOM_M}
               AS p
      FROM base, generate_series(0, {_BLOOM_K - 1}) AS t(i)
    ), words AS (                    -- the Bloom filter: set bits per
      SELECT p // 32 AS word,        -- 32-bit word (BIGINT-safe shifts)
             bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS mask
      FROM pos WHERE NOT is_new GROUP BY p // 32
    ), probe AS (
      SELECT pos.doc_id,
             min(CASE WHEN w.mask IS NOT NULL
                       AND (w.mask & (1::BIGINT << CAST(pos.p % 32 AS INT)))
                           <> 0
                 THEN 1 ELSE 0 END) AS all_bits
      FROM pos LEFT JOIN words w ON pos.p // 32 = w.word
      WHERE pos.is_new
      GROUP BY pos.doc_id
    ), exact AS (
      SELECT DISTINCT i.doc_id
      FROM base i JOIN base c ON i.h = c.h AND i.is_new AND NOT c.is_new
    )
    SELECT b.doc_id,
           p.all_bits AS bloom_hit,
           CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_hit,
           CASE WHEN p.all_bits = 1 AND e.doc_id IS NOT NULL
                  THEN 'true_positive'
                WHEN p.all_bits = 1 THEN 'false_positive'
                ELSE 'true_negative' END AS class
    FROM base b
    JOIN probe p ON b.doc_id = p.doc_id
    LEFT JOIN exact e ON b.doc_id = e.doc_id
    WHERE b.is_new
    ORDER BY b.doc_id
    """,
    covers=("X-dedup-bloom",),
)
def bloom_membership_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership gate for incremental dedup — the front
    door a 100 TB ingest pipeline puts BEFORE the exact fingerprint
    join: the corpus's md5 fingerprints are folded into an m-bit
    Bloom filter stored as m/32 little-endian 32-bit words (BIGINT
    cells, k salted md5-derived bit positions per fingerprint,
    bit_or aggregation — mergeable across partitions and across
    corpus snapshots by construction). Each incoming doc probes its
    k bits; only Bloom-positives need the exact corpus join, so at
    scale the big shuffle runs over (dup_rate + fp_rate) of the
    batch instead of all of it. The query emits the per-doc audit:
    bloom_hit, exact_hit, and the class label — Bloom's zero-false-
    negative guarantee means 'exact_hit=1, bloom_hit=0' is
    impossible (pytest-asserted), and m is sized so the fixture
    exercises genuine false positives rather than vacuously passing.

    All arithmetic is integer/md5 and mirrored in the oracle: word
    index p//32, bit p%32 (shifts stay under 2^31 — DuckDB's <<
    overflow-checks at bit 63), salted positions from
    md5(h || ':' || i)."""
    d = load_documents_spread(spark, sf_dir)
    base = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.col("source").isin(*_INCOMING).alias("is_new"),
    )
    pos = base.select(
        "doc_id",
        "is_new",
        "h",
        F.explode(
            F.array(*[
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat("h", F.lit(f":{i}"))), 1, 15
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _BLOOM_M
                )
                for i in range(_BLOOM_K)
            ])
        ).alias("p"),
    )
    words = (
        pos.where(~F.col("is_new"))
        .groupBy((F.col("p") / 32).cast("long").alias("word"))
        .agg(
            F.bit_or(F.expr("shiftleft(1L, cast(p % 32 as int))")).alias(
                "mask"
            )
        )
    )
    probe = (
        pos.where(F.col("is_new"))
        .join(
            words,
            (F.col("p") / 32).cast("long") == F.col("word"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.min(
                F.when(
                    F.col("mask").isNotNull()
                    & (
                        F.expr(
                            "mask & shiftleft(1L, cast(p % 32 as int))"
                        )
                        != 0
                    ),
                    1,
                ).otherwise(0)
            ).alias("bloom_hit")
        )
    )
    exact = (
        base.where(F.col("is_new"))
        .select("doc_id", "h")
        .join(
            base.where(~F.col("is_new")).select("h").distinct(),
            "h",
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("_e", F.lit(1))
    )
    return (
        base.where(F.col("is_new"))
        .select("doc_id")
        .join(probe, "doc_id")
        .join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.when(F.col("_e").isNotNull(), 1).otherwise(0).alias("exact_hit"),
            F.when(
                (F.col("bloom_hit") == 1) & F.col("_e").isNotNull(),
                "true_positive",
            )
            .when(F.col("bloom_hit") == 1, "false_positive")
            .otherwise("true_negative")
            .alias("class"),
        )
        .orderBy("doc_id")
    )


@query(
    "leakage_safe_split",
    oracle=f"""
    {_MINHASH_LABEL_CTES}, units AS (
      SELECT d.doc_id, coalesce(l.label, d.doc_id) AS unit
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    )
    SELECT doc_id, unit AS cluster_label,
           CASE WHEN ('0x' || substr(md5('split-v1' || unit::VARCHAR), 1, 8))::BIGINT
                     % 10000 < 8000 THEN 'train'
                WHEN ('0x' || substr(md5('split-v1' || unit::VARCHAR), 1, 8))::BIGINT
                     % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM units
    ORDER BY doc_id
    """,
    covers=("X-curation-leakage-split",),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-AWARE train/val/test split — the reason training
    pipelines dedup at all (Lee et al. 2021): a per-document hash
    split sends near-duplicate documents to BOTH sides, leaking
    training text into eval. Here the split unit is the near-dup
    CLUSTER (connected components over the verified MinHash-LSH
    pairs; singleton docs are their own unit), salted-md5-bucketed
    with the same 80/10/10 arithmetic as dataset_split — so a whole
    near-dup family lands on one side atomically, and the assignment
    keeps hash_split's replay properties (stable across runs,
    engines, and corpus growth, since a cluster's min-id label is
    stable unless the cluster itself changes).

    Scale shape: reuses the prepared shingle artifact, the banded
    LSH candidate join, and the byte-gated connected components —
    then one broadcast-size label join and a stateless hash. The
    pytest proves the guarantee (zero cross-side near-dup pairs)
    and that the naive per-doc split DOES leak on the same fixture."""
    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index
    from etl_sprint_2_5_spark.operators.curation import hash_split

    shingled = prepared_shingle_index(spark, sf_dir).cache()
    signed = minhash_signature(shingled, num_hashes=12)
    pairs = lsh_candidate_pairs(signed, "doc_id", num_hashes=12, rows_per_band=3)
    verified = verify_jaccard(pairs, shingled, "doc_id", threshold=0.5)
    cc = connected_components(verified.select("id_a", "id_b"))
    d = load_documents_spread(spark, sf_dir).select("doc_id")
    units = d.join(
        cc.select(F.col("id").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("unit")
    )
    s = hash_split(units, "unit", {"train": 0.8, "val": 0.1, "test": 0.1})
    return s.select(
        "doc_id", F.col("unit").alias("cluster_label"), "split"
    ).orderBy("doc_id")


@query(
    "dedup_keep_longest",
    oracle=f"""
    {_MINHASH_LABEL_CTES}, ranked AS (
      SELECT l.label, l.doc_id, d.n_chars,
             row_number() OVER (
               PARTITION BY l.label
               ORDER BY d.n_chars DESC, l.doc_id) AS rn
      FROM labels l JOIN documents d ON l.doc_id = d.doc_id
    )
    SELECT label AS cluster_rep,
           max(CASE WHEN rn = 1 THEN doc_id END)  AS keeper,
           max(CASE WHEN rn = 1 THEN n_chars END) AS keeper_chars,
           CAST(count(*) - 1 AS BIGINT)           AS n_dropped,
           string_agg(CASE WHEN rn > 1 THEN doc_id::VARCHAR END, ','
                      ORDER BY doc_id)            AS dropped_ids
    FROM ranked
    GROUP BY label
    ORDER BY cluster_rep
    """,
    covers=("X-dedup-keep-longest",),
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster representative SELECTION — the curation decision after
    clustering: within each near-dup cluster keep the LONGEST member
    (highest n_chars, id tiebreak; the RefinedWeb/MassiveText
    heuristic — the longest variant usually subsumes truncated
    copies), drop the rest. Complements dedup_clusters (min-id
    keeper: cheapest deterministic choice) with the quality-aware
    choice a production pipeline actually ships.

    Scale shape: clustering reuses the prepared shingle artifact +
    banded LSH + byte-gated CC; selection is one n_chars join and a
    per-cluster window (bounded by cluster size — clusters are
    near-dup families, not the corpus)."""
    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index
    from pyspark.sql import Window

    shingled = prepared_shingle_index(spark, sf_dir).cache()
    signed = minhash_signature(shingled, num_hashes=12)
    pairs = lsh_candidate_pairs(signed, "doc_id", num_hashes=12, rows_per_band=3)
    verified = verify_jaccard(pairs, shingled, "doc_id", threshold=0.5)
    cc = connected_components(verified.select("id_a", "id_b"))
    d = load_documents_spread(spark, sf_dir).select("doc_id", "n_chars")
    ranked = (
        cc.select(F.col("id").alias("doc_id"), "label")
        .join(d, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("label").orderBy(
                    F.desc("n_chars"), F.asc("doc_id")
                )
            ),
        )
    )
    return (
        ranked.groupBy(F.col("label").alias("cluster_rep"))
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias(
                "keeper_chars"
            ),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") > 1, F.col("doc_id"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("dropped_ids"),
        )
        .orderBy("cluster_rep")
    )


_SEG_TOKENS = 10  # tokens per segment ("line" stand-in — corpus has no \n)
_SEG_PK = 1_048_576  # pk = doc_id·2^20 + seg_no (seg_no ≪ 2^20 by construction)


@query(
    "line_dedup_clean",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ), base AS (
      SELECT doc_id, len(tk) AS n_tokens, tk FROM toks
    ), segs AS (
      SELECT doc_id, CAST(seg_no AS BIGINT) AS seg_no,
             array_to_string(tk[seg_no*{_SEG_TOKENS}+1 :
                                seg_no*{_SEG_TOKENS}+{_SEG_TOKENS}], ' ')
               AS seg_text,
             len(tk[seg_no*{_SEG_TOKENS}+1 :
                    seg_no*{_SEG_TOKENS}+{_SEG_TOKENS}]) AS seg_len
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(0,
                     CAST(ceil(len(tk) / {_SEG_TOKENS}.0) AS BIGINT) - 1))
                     AS seg_no
            FROM base WHERE len(tk) > 0)
    ), h AS (
      SELECT doc_id, seg_no, seg_text, seg_len,
             ('0x' || substr(md5(seg_text), 1, 15))::BIGINT AS s,
             doc_id * {_SEG_PK} + seg_no AS pk
      FROM segs
    ), firsts AS (
      SELECT s, min(pk) AS min_pk FROM h GROUP BY s
    ), kept AS (
      SELECT h.doc_id, h.seg_no, h.seg_text, h.seg_len
      FROM h JOIN firsts ON h.s = firsts.s AND h.pk = firsts.min_pk
    ), clean AS (
      SELECT doc_id, string_agg(seg_text, ' ' ORDER BY seg_no) AS t,
             CAST(sum(seg_len) AS BIGINT) AS kept_tokens,
             count(*) AS kept_segs
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           CAST(ceil(b.n_tokens / {_SEG_TOKENS}.0) AS BIGINT) AS n_segs,
           CAST(ceil(b.n_tokens / {_SEG_TOKENS}.0) AS BIGINT)
             - coalesce(c.kept_segs, 0) AS dropped_segs,
           CASE WHEN b.n_tokens = 0 THEN 1000000
                ELSE coalesce(c.kept_tokens, 0) * 1000000 // b.n_tokens
           END AS kept_ppm,
           md5(coalesce(c.t, '')) AS clean_md5
    FROM base b LEFT JOIN clean c ON b.doc_id = c.doc_id
    ORDER BY b.doc_id
    """,
    covers=("X-dedup-line-clean",),
)
def line_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact dedup that REWRITES the corpus — the C4 /
    FineWeb policy (Raffel et al. 2020 §2.2 "we discarded all but one
    of any three-sentence span occurring more than once"): every
    duplicated segment is dropped everywhere except its single global
    first occurrence, and each document is REASSEMBLED from its kept
    segments. This is the family's only rewriting operator —
    dedup_repeated_substrings measures boilerplate coverage, this one
    produces the cleaned corpus a training run actually reads. The
    fixture corpus has no newlines, so "lines" are non-overlapping
    {10}-token segments (the policy, hashing, and reassembly are
    identical either way; the md5 of every rebuilt document crosses
    the oracle gate, so the rewrite itself is hash-verified).

    Keep policy: global first occurrence under the total order
    (doc_id, seg_no), packed as one BIGINT (doc_id·2^20 + seg_no) so
    "first" is a map-side-combinable MIN — unique segments are their
    own first occurrence, so one rule covers df=1 and df>1.

    Scale shape: linear end-to-end — one shuffle on the 60-bit
    segment hash for the MIN (no df cap needed: an aggregate, never a
    posting self-join), the keep-filter join is occurrences × one-
    row-per-hash, and reassembly is one shuffle on doc_id bounded by
    document length. Nothing pairwise, segments cross shuffles as
    (hash, pk) integers; only the doc_id reassembly moves text."""
    from etl_sprint_2_5_spark.functions.text import tokenize
    from etl_sprint_2_5_spark.sources.parquet import load_documents_spread

    docs = load_documents_spread(spark, sf_dir)
    base = docs.select(
        "doc_id", tokenize("text").alias("tk")
    ).withColumn("n_tokens", F.size("tk").cast("long"))

    nseg = F.ceil(F.col("n_tokens") / F.lit(float(_SEG_TOKENS))).cast("long")
    seg_arr = F.transform(
        F.sequence(F.lit(0).cast("long"), nseg - 1),
        lambda i: F.struct(
            i.alias("seg_no"),
            F.concat_ws(
                " ", F.slice("tk", (i * _SEG_TOKENS + 1).cast("int"), _SEG_TOKENS)
            ).alias("seg_text"),
            F.size(
                F.slice("tk", (i * _SEG_TOKENS + 1).cast("int"), _SEG_TOKENS)
            ).cast("long").alias("seg_len"),
        ),
    )
    segs = (
        base.where(F.col("n_tokens") > 0)
        .select("doc_id", F.inline(seg_arr))
    )
    h = segs.select(
        "doc_id",
        "seg_no",
        "seg_text",
        "seg_len",
        F.conv(F.substring(F.md5("seg_text"), 1, 15), 16, 10)
        .cast("long")
        .alias("s"),
        (F.col("doc_id") * _SEG_PK + F.col("seg_no")).alias("pk"),
    )
    firsts = h.groupBy("s").agg(F.min("pk").alias("min_pk"))
    kept = h.join(firsts, "s").where(F.col("pk") == F.col("min_pk"))
    clean = (
        kept.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("seg_no", "seg_text"))
            ).alias("_segs"),
            F.sum("seg_len").alias("kept_tokens"),
            F.count("*").alias("kept_segs"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.transform("_segs", lambda x: x["seg_text"])
            ).alias("t"),
            "kept_tokens",
            "kept_segs",
        )
    )
    return (
        base.select("doc_id", "n_tokens", nseg.alias("n_segs"))
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_segs",
            (F.col("n_segs") - F.coalesce("kept_segs", F.lit(0))).alias(
                "dropped_segs"
            ),
            F.when(F.col("n_tokens") == 0, F.lit(1000000).cast("long"))
            .otherwise(
                F.expr("coalesce(kept_tokens, 0) * 1000000 div n_tokens")
            )
            .alias("kept_ppm"),
            F.md5(F.coalesce("t", F.lit(""))).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# the LSH audits' shared inputs: capped-postings exact-Jaccard truth
# pairs (J >= 0.5) and the 12-permutation MinHash signature
_LSH_AUDIT_CTES = f"""WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ), sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM toks
    ), hsh AS MATERIALIZED (
      SELECT doc_id,
             list_transform(shingles,
                 s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
      FROM sh
    ), ex AS (
      SELECT doc_id, unnest(hs) AS s FROM hsh
    ), dfc AS (
      SELECT s, count(*) AS df FROM ex GROUP BY s
    ), kept AS MATERIALIZED (
      SELECT ex.doc_id, ex.s
      FROM ex JOIN dfc ON ex.s = dfc.s AND dfc.df <= {MAX_SHINGLE_DF}
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
    ), co AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), true_pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM co
      JOIN sz la ON la.doc_id = co.id_a
      JOIN sz lb ON lb.doc_id = co.id_b
      WHERE round(inter::DOUBLE / (la.n + lb.n - inter), 4) >= 0.5
    ), mh AS MATERIALIZED (
      SELECT doc_id, t.seed,
             list_min(list_transform(hs,
                 h -> (t.a * (h % 2147483647) + t.b) % 2147483647)) AS minh
      FROM hsh, (VALUES {_DUCK_PERMS}) AS t(seed, a, b)
    )"""


@query(
    "lsh_recall_report",
    oracle=f"""
    {_LSH_AUDIT_CTES}, bands AS (
      SELECT doc_id, seed // 3 AS band,
             string_agg(minh::VARCHAR, ',' ORDER BY seed) AS band_key
      FROM mh GROUP BY doc_id, seed // 3
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), hits AS (
      SELECT t.id_a FROM true_pairs t
      JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    ), stats AS (
      SELECT (SELECT count(*) FROM true_pairs) AS nt,
             (SELECT count(*) FROM cand)       AS nc,
             (SELECT count(*) FROM hits)       AS nh
    )
    SELECT nt AS n_true_pairs, nc AS n_lsh_candidates, nh AS n_hits,
           CASE WHEN nt = 0 THEN 0 ELSE nh * 1000000 // nt END AS recall_ppm,
           CASE WHEN nc = 0 THEN 0 ELSE nh * 1000000 // nc END AS precision_ppm
    FROM stats
    """,
    covers=("X-dedup-lsh-audit",),
)
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-of-approximation audit for the LSH dedup path, AS a
    query: ground truth = the inverted-index exact-Jaccard pairs
    (dedup_ngram_jaccard's capped-postings semantics, J >= 0.5),
    approximation = the MinHash 4x3 band candidates BEFORE verify;
    reported as integer counts plus recall/precision in ppm (BIGINT
    div — no float crosses the gate).

    This is the measurement a production dedup pipeline runs when
    tuning bands x rows: recall tells you what the banding loses at
    the threshold, precision tells you what the verify stage pays.
    Both sides reuse the prepared shingle-index artifact and the
    truth side is the capped postings join — the audit costs the same
    as running the two dedup queries it compares, never all-pairs.
    (tests/test_property_round5.py's banding property pins the
    analytic r=1.0 losslessness case; this query measures the real
    corpus at r=0.5+.)"""
    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index
    from etl_sprint_2_5_spark.operators.dedup import (
        inverted_index_jaccard,
        lsh_candidate_pairs,
        minhash_signature,
    )

    sh = prepared_shingle_index(spark, sf_dir).cache()
    true_pairs = inverted_index_jaccard(
        sh, "doc_id", "hs", threshold=0.5, max_df=MAX_SHINGLE_DF
    ).select("id_a", "id_b")
    cand = lsh_candidate_pairs(
        minhash_signature(sh, num_hashes=12),
        "doc_id",
        num_hashes=12,
        rows_per_band=3,
    ).cache()
    hits = true_pairs.join(cand, ["id_a", "id_b"], "left_semi")
    nt = true_pairs.agg(F.count(F.lit(1)).alias("nt"))
    nc = cand.agg(F.count(F.lit(1)).alias("nc"))
    nh = hits.agg(F.count(F.lit(1)).alias("nh"))
    report = (
        nt.crossJoin(nc)
        .crossJoin(nh)
        .select(
            F.col("nt").alias("n_true_pairs"),
            F.col("nc").alias("n_lsh_candidates"),
            F.col("nh").alias("n_hits"),
            F.when(F.col("nt") == 0, F.lit(0).cast("long"))
            .otherwise(F.expr("nh * 1000000 div nt"))
            .alias("recall_ppm"),
            F.when(F.col("nc") == 0, F.lit(0).cast("long"))
            .otherwise(F.expr("nh * 1000000 div nc"))
            .alias("precision_ppm"),
        )
    )
    return materialize_release(report, sh, cand)


def _sweep_band_ctes(r: int) -> str:
    """Band/candidate CTE pair for a 12-hash signature cut into
    rows_per_band=r (suffix _r to keep names distinct in one WITH)."""
    return f"""bands_{r} AS MATERIALIZED (
      SELECT doc_id, seed // {r} AS band,
             string_agg(minh::VARCHAR, ',' ORDER BY seed) AS band_key
      FROM mh GROUP BY doc_id, seed // {r}
    ), cand_{r} AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands_{r} a JOIN bands_{r} b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )"""


def _sweep_row_sql(r: int) -> str:
    n_bands = 12 // r
    return f"""
    SELECT '{n_bands}x{r}' AS config,
           (SELECT count(*) FROM true_pairs) AS n_true_pairs,
           (SELECT count(*) FROM cand_{r})   AS n_candidates,
           (SELECT count(*) FROM true_pairs t
             JOIN cand_{r} c ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hits"""


@query(
    "lsh_band_sweep",
    oracle=f"""
    {_LSH_AUDIT_CTES}, {", ".join(_sweep_band_ctes(r) for r in (2, 3, 4, 6))},
    raw AS ({" UNION ALL ".join(_sweep_row_sql(r) for r in (2, 3, 4, 6))})
    SELECT config, n_true_pairs, n_candidates, n_hits,
           CASE WHEN n_true_pairs = 0 THEN 0
                ELSE n_hits * 1000000 // n_true_pairs END AS recall_ppm,
           CASE WHEN n_candidates = 0 THEN 0
                ELSE n_hits * 1000000 // n_candidates END AS precision_ppm
    FROM raw
    ORDER BY config
    """,
    covers=("X-dedup-lsh-sweep",),
)
def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bands×rows TUNING CURVE in one pass: every way to cut the
    12-hash MinHash signature (6x2, 4x3, 3x4, 2x6) banded and scored
    against the same capped-postings exact-Jaccard truth — the sweep
    an operator runs before fixing the dedup operating point, as one
    oracle-gated query. More bands with fewer rows -> higher recall,
    more candidates (the S-curve steepens left); the fixture corpus
    shows the monotone candidate growth and the recall ordering
    directly in the four rows.

    The expensive inputs are computed ONCE and shared: one shingle
    pass (the prepared artifact), one 12-permutation signature, one
    truth join; each config re-cuts the cached signature — banding
    itself is a per-row transform, so the sweep costs one extra
    band-key shuffle per config, never a new corpus scan. Recall and
    precision land as BIGINT-div ppm."""
    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index
    from etl_sprint_2_5_spark.operators.dedup import (
        inverted_index_jaccard,
        lsh_candidate_pairs,
        minhash_signature,
    )

    sh = prepared_shingle_index(spark, sf_dir).cache()
    true_pairs = (
        inverted_index_jaccard(
            sh, "doc_id", "hs", threshold=0.5, max_df=MAX_SHINGLE_DF
        )
        .select("id_a", "id_b")
        .cache()
    )
    signed = minhash_signature(sh, num_hashes=12).cache()
    rows = []
    cands = []
    for r in (2, 3, 4, 6):
        cand = lsh_candidate_pairs(
            signed, "doc_id", num_hashes=12, rows_per_band=r
        ).cache()
        cands.append(cand)
        hits = true_pairs.join(cand, ["id_a", "id_b"], "left_semi")
        rows.append(
            true_pairs.agg(F.count(F.lit(1)).alias("n_true_pairs"))
            .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
            .select(
                F.lit(f"{12 // r}x{r}").alias("config"),
                "n_true_pairs",
                "n_candidates",
                "n_hits",
            )
        )
    out = rows[0]
    for df in rows[1:]:
        out = out.unionAll(df)
    sweep = out.select(
        "config",
        "n_true_pairs",
        "n_candidates",
        "n_hits",
        F.when(F.col("n_true_pairs") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("n_hits * 1000000 div n_true_pairs"))
        .alias("recall_ppm"),
        F.when(F.col("n_candidates") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("n_hits * 1000000 div n_candidates"))
        .alias("precision_ppm"),
    ).orderBy("config")
    return materialize_release(sweep, sh, true_pairs, signed, *cands)


@query(
    "minhash_estimate_accuracy",
    oracle=f"""
    WITH {_MINHASH_VERIFIED_CTES}, matches AS (
      SELECT v.id_a, v.id_b, v.jaccard,
             (SELECT count(*) FROM mh a JOIN mh b
                ON a.seed = b.seed AND a.minh = b.minh
              WHERE a.doc_id = v.id_a AND b.doc_id = v.id_b) AS n_match
      FROM verified v
    )
    SELECT id_a, id_b, jaccard AS exact_jaccard,
           CAST(n_match AS BIGINT)            AS n_match,
           n_match * 1000000 // 12            AS est_ppm
    FROM matches
    ORDER BY id_a, id_b
    """,
    covers=("X-dedup-minhash-accuracy",),
)
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash ESTIMATOR itself under the gate: for every
    verified near-dup pair, the signature-level Jaccard estimate
    (matching components / 12, integer ppm) lands NEXT TO the exact
    set Jaccard — the per-pair view of the unbiasedness property
    (E[matches/k] = J) whose aggregate form justifies trusting 12
    integers per document instead of the shingle sets. The expected
    absolute error at k=12 is ~sqrt(J(1-J)/12) ≈ 0.14 at J=0.5, and
    the fixture rows show exactly that spread; production k trades
    signature bytes for it linearly. Cost: the pairs are the already-
    verified candidates and signatures are the prepared-index
    minhashes — the estimator audit adds one zip-and-count over k
    integers per pair, no new scan."""
    from etl_sprint_2_5_spark.artifacts import prepared_shingle_index
    from etl_sprint_2_5_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        verify_jaccard,
    )

    sh = prepared_shingle_index(spark, sf_dir).cache()
    signed = minhash_signature(sh, num_hashes=12).cache()
    pairs = lsh_candidate_pairs(signed, "doc_id", num_hashes=12, rows_per_band=3)
    verified = verify_jaccard(pairs, sh, "doc_id", threshold=0.5)
    sa = signed.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("_sa"))
    sb = signed.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("_sb"))
    n_match = F.size(
        F.filter(
            F.zip_with("_sa", "_sb", lambda a, b: a == b),
            lambda x: x,
        )
    ).cast("bigint")
    acc = (
        verified.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("jaccard").alias("exact_jaccard"),
            n_match.alias("n_match"),
            F.expr("size(filter(zip_with(_sa, _sb, (a, b) -> a = b), x -> x))"
                   " * 1000000 div 12").alias("est_ppm"),
        )
        .orderBy("id_a", "id_b")
    )
    return materialize_release(acc, sh, signed)
