"""Corpus-curation queries (PII scrub, contamination check, repetition
scoring) with exact DuckDB oracles.

The documents fixture is punctuation-free word soup with no contact
data, so the PII and repetition queries AUGMENT the text with a
deterministic, SQL-expressible synthetic tail (same expression in both
engines) — the operator logic (redaction counts, duplicate-line
accounting) is then exercised on true positives and true negatives
instead of vacuous zeros.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators.curation import (
    contamination_overlap,
    pii_scrub,
    repetition_stats,
)
from etl_sprint_2_5_spark.plans.registry import materialize_release, query
from etl_sprint_2_5_spark.plans.text_queries import (
    _DUCK_SHINGLES_T,
    _DUCK_TOKS,
    _duck_hits,
)
from etl_sprint_2_5_spark.sources.parquet import (
    load_documents_spread,
    load_table,
)


@query(
    "text_pii_scrub",
    oracle="""
    WITH aug AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 2 = 0
                  THEN text || ' contact ' || source ||
                       '@example.com or call +1 (555) 123-' ||
                       lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  ELSE text END AS text
      FROM documents
    ), scrubbed AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
             regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') AS t1
      FROM aug
    ), final AS (
      SELECT doc_id, source, n_emails,
             len(regexp_extract_all(t1, '\\+?[0-9][0-9() \\-]{7,}[0-9]')) AS n_phones,
             regexp_replace(t1, '\\+?[0-9][0-9() \\-]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
      FROM scrubbed
    )
    SELECT source,
           count(*)                                   AS n_docs,
           CAST(sum(n_emails) AS BIGINT)              AS total_emails,
           CAST(sum(n_phones) AS BIGINT)              AS total_phones,
           CAST(sum(length(scrubbed)) AS BIGINT)      AS total_scrubbed_chars
    FROM final
    GROUP BY source
    ORDER BY source
    """,
    covers=("X-curation-pii",),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email+phone redaction rolled up per source. Even doc_ids get a
    deterministic synthetic contact tail (both engines build the same
    string), odd ones stay clean — counts verify redaction fires
    exactly where it should."""
    d = load_documents_spread(spark, sf_dir)
    aug = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact "),
                F.col("source"),
                F.lit("@example.com or call +1 (555) 123-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    s = pii_scrub(aug, "text", "doc_id").join(
        d.select("doc_id", "source"), "doc_id"
    )
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("total_emails"),
            F.sum("n_phones").alias("total_phones"),
            F.sum(F.length("scrubbed")).alias("total_scrubbed_chars"),
        )
        .orderBy("source")
    )


@query(
    "contamination_check",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ), sh AS (
      SELECT doc_id, {_DUCK_SHINGLES_T} AS shingles FROM toks
    ), bench AS (
      SELECT list_distinct(flatten(list(shingles))) AS bs
      FROM sh WHERE doc_id % 97 = 0
    ), scored AS (
      SELECT s.doc_id,
             len(s.shingles) AS n_shingles,
             len(list_intersect(s.shingles, b.bs)) AS n_contaminated
      FROM sh s, bench b
      WHERE s.doc_id % 97 <> 0
    )
    SELECT doc_id, n_shingles, n_contaminated,
           round(n_contaminated / greatest(n_shingles, 1), 4) AS contamination
    FROM scored
    ORDER BY contamination DESC, doc_id
    LIMIT 50
    """,
    covers=("X-curation-contamination",),
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination: word-3-gram overlap of every corpus
    doc against the benchmark docs (doc_id % 97 == 0 plays the eval
    set). The benchmark shingle set broadcasts; the corpus is scored
    map-side with no shuffle."""
    d = load_documents_spread(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0)
    out = contamination_overlap(corpus, bench, "text", "doc_id", n=3)
    return (
        out.select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.greatest(F.col("n_shingles"), F.lit(1)),
                4,
            ).alias("contamination"),
        )
        .orderBy(F.desc("contamination"), F.asc("doc_id"))
        .limit(50)
    )


@query(
    "text_repetition",
    oracle="""
    WITH aug AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0
                  THEN text || '. boilerplate footer. boilerplate footer. boilerplate footer'
                  ELSE text END AS text
      FROM documents
    ), lines AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(text, '\\. '), x -> len(x) > 0) AS ls
      FROM aug
    ), stats AS (
      SELECT doc_id, source,
             len(ls) AS n_lines,
             len(ls) - len(list_distinct(ls)) AS n_dup_lines,
             round(CASE WHEN len(ls) > 0
                   THEN (len(ls) - len(list_distinct(ls))) / len(ls)
                   ELSE 0.0 END, 4) AS dup_line_frac,
             round(CASE WHEN list_sum(list_transform(ls, x -> length(x))) > 0
                   THEN (list_sum(list_transform(ls, x -> length(x)))
                         - list_sum(list_transform(list_distinct(ls), x -> length(x))))
                        / list_sum(list_transform(ls, x -> length(x)))
                   ELSE 0.0 END, 4) AS dup_char_frac
      FROM lines
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_dup_lines) AS BIGINT) AS total_dup_lines,
           round(avg(dup_line_frac), 4) AS avg_dup_line_frac,
           round(avg(dup_char_frac), 4) AS avg_dup_char_frac
    FROM stats
    GROUP BY source
    ORDER BY source
    """,
    covers=("X-curation-repetition",),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition rollup per source. Every third doc gets
    a deterministic repeated-sentence footer; the duplicate-line and
    duplicate-char fractions must light up exactly there."""
    d = load_documents_spread(spark, sf_dir)
    aug = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(
                    ". boilerplate footer. boilerplate footer. boilerplate footer"
                ),
            ),
        ).otherwise(F.col("text")),
    )
    r = repetition_stats(aug, "text", "doc_id").join(
        d.select("doc_id", "source"), "doc_id"
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_dup_lines").alias("total_dup_lines"),
            F.round(F.avg("dup_line_frac"), 4).alias("avg_dup_line_frac"),
            F.round(F.avg("dup_char_frac"), 4).alias("avg_dup_char_frac"),
        )
        .orderBy("source")
    )


# ---- end-to-end curation funnel -------------------------------------
# Composes language-ID, quality scoring, and near-dup clustering into
# the decision a training-data pipeline actually makes per document:
# keep = (pred_lang = en) AND (quality >= 0.65) AND (not a non-keeper
# member of a near-dup cluster). Reported as a per-source funnel so
# every stage's effect is visible (and the output is small + stable).
_QUALITY_MIN = 0.65


def _curation_oracle() -> str:
    from etl_sprint_2_5_spark.plans.dedup_queries import _MINHASH_LABEL_CTES
    from etl_sprint_2_5_spark.plans.text_queries import _DUCK_TOKS, _duck_hits

    return f"""
    {_MINHASH_LABEL_CTES}, nonkeepers AS (
      SELECT doc_id FROM labels WHERE doc_id <> label
    ), ltoks AS (
      SELECT doc_id, source, text, {_DUCK_TOKS} AS tk FROM documents
    ), scorecard AS (
      SELECT doc_id, source,
             CASE WHEN greatest({_duck_hits('de')}, {_duck_hits('en')},
                                {_duck_hits('es')}, {_duck_hits('fr')}) = 0 THEN 'und'
                  WHEN {_duck_hits('de')} = greatest({_duck_hits('de')}, {_duck_hits('en')},
                                {_duck_hits('es')}, {_duck_hits('fr')}) THEN 'de'
                  WHEN {_duck_hits('en')} = greatest({_duck_hits('de')}, {_duck_hits('en')},
                                {_duck_hits('es')}, {_duck_hits('fr')}) THEN 'en'
                  WHEN {_duck_hits('es')} = greatest({_duck_hits('de')}, {_duck_hits('en')},
                                {_duck_hits('es')}, {_duck_hits('fr')}) THEN 'es'
                  ELSE 'fr' END AS pred_lang,
             round(0.4 * least(length(text) / 400.0, 1.0)
                 + 0.4 * (CASE WHEN len(tk) > 0
                          THEN len(list_distinct(tk))::DOUBLE / len(tk) ELSE 0 END)
                 + 0.2 * (1 - (CASE WHEN len(tk) > 0
                          THEN {_duck_hits('en')}::DOUBLE / len(tk) ELSE 0 END)),
                 4) AS quality
      FROM ltoks
    ), flags AS (
      SELECT s.source,
             (s.pred_lang = 'en')                        AS ok_lang,
             (s.quality >= {_QUALITY_MIN})               AS ok_q,
             (nk.doc_id IS NULL)                         AS ok_uniq
      FROM scorecard s LEFT JOIN nonkeepers nk USING (doc_id)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN ok_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
           CAST(sum(CASE WHEN ok_lang AND ok_q THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_quality,
           CAST(sum(CASE WHEN ok_lang AND ok_q AND ok_uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM flags
    GROUP BY source
    ORDER BY source
    """


@query(
    "corpus_curation_pipeline",
    oracle=_curation_oracle(),
    covers=("X-curation-pipeline",),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation decision, as a per-source funnel:
    documents → English (marker-vote language ID) → quality ≥ 0.65 →
    not a redundant near-dup (connected-component non-keepers from
    minhash-LSH pairs are dropped). Composes the individual operators
    exactly as a 100 TB ingestion job would chain them; every stage is
    a doc_id-keyed join of an already-verified operator output."""
    from etl_sprint_2_5_spark.operators.dedup import (
        connected_components,
        hashed_shingle_sets,
        lsh_candidate_pairs,
        minhash_signature,
        verify_jaccard,
    )
    from etl_sprint_2_5_spark.operators.textops import language_id, quality_score

    d = load_documents_spread(spark, sf_dir)
    lang = language_id(d, "text", "doc_id").select("doc_id", "pred_lang")
    qual = quality_score(d, "text", "doc_id").select("doc_id", "quality")

    shingled = hashed_shingle_sets(d, "text", "doc_id").cache()
    signed = minhash_signature(shingled, num_hashes=12)
    pairs = lsh_candidate_pairs(signed, "doc_id", num_hashes=12, rows_per_band=3)
    verified = verify_jaccard(pairs, shingled, "doc_id", threshold=0.5)
    cc = connected_components(verified.select("id_a", "id_b"))
    nonkeepers = cc.where(F.col("id") != F.col("label")).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("_dup")
    )

    flags = (
        d.select("doc_id", "source")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .join(F.broadcast(nonkeepers), "doc_id", "left")
        .select(
            "source",
            (F.col("pred_lang") == "en").alias("ok_lang"),
            (F.col("quality") >= _QUALITY_MIN).alias("ok_q"),
            F.col("_dup").isNull().alias("ok_uniq"),
        )
    )
    out = (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("ok_lang"), 1).otherwise(0)).alias("n_lang"),
            F.sum(
                F.when(F.col("ok_lang") & F.col("ok_q"), 1).otherwise(0)
            ).alias("n_lang_quality"),
            F.sum(
                F.when(F.col("ok_lang") & F.col("ok_q") & F.col("ok_uniq"), 1)
                .otherwise(0)
            ).alias("n_keep"),
        )
        .orderBy("source")
    )
    # per-source report is driver-sized: collect and release the
    # shingle cache so nothing outlives the query's action
    return materialize_release(out, shingled)


@query(
    "dataset_split",
    oracle="""
    WITH assigned AS (
      SELECT source,
             CASE WHEN ('0x' || substr(md5('split-v1' || doc_id::VARCHAR), 1, 8))::BIGINT
                       % 10000 < 8000 THEN 'train'
                  WHEN ('0x' || substr(md5('split-v1' || doc_id::VARCHAR), 1, 8))::BIGINT
                       % 10000 < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT source, split, count(*) AS n_docs
    FROM assigned
    GROUP BY source, split
    ORDER BY source, split
    """,
    covers=("X-curation-split",),
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split via salted-md5
    bucketing, rolled up per (source, split). Assignment is stable
    across runs, engines, and corpus growth — the properties random()
    sampling can't give a reproducible pipeline."""
    from etl_sprint_2_5_spark.operators.curation import hash_split

    d = load_table(spark, "documents", sf_dir)
    s = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        s.groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


@query(
    "domain_mixing",
    oracle="""
    WITH rated AS (
      SELECT doc_id, source,
             CASE CAST(substr(source, 4, 10) AS INT) % 4
                  WHEN 0 THEN 2.5 WHEN 1 THEN 1.0
                  WHEN 2 THEN 0.5 ELSE 0.25 END AS rate
      FROM documents
    ), assigned AS (
      SELECT doc_id, source, rate,
             ('0x' || substr(md5('mix-v1' || doc_id::VARCHAR), 1, 8))::BIGINT
               % 10000 AS bucket
      FROM rated
    ), copies AS (
      SELECT doc_id, source,
             CAST(floor(rate) AS BIGINT)
             + (CASE WHEN bucket < (rate - floor(rate)) * 10000
                     THEN 1 ELSE 0 END) AS n_copies
      FROM assigned
    ), exploded AS (
      SELECT doc_id, source,
             unnest(generate_series(1, n_copies)) AS copy_id
      FROM copies WHERE n_copies >= 1
    )
    SELECT source,
           count(*)                      AS n_rows,
           count(DISTINCT doc_id)        AS n_docs,
           CAST(max(copy_id) AS BIGINT)  AS max_copies
    FROM exploded
    GROUP BY source
    ORDER BY source
    """,
    covers=("X-curation-mixing",),
)
def domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing: per-source sampling rates
    {2.5, 1.0, 0.5, 0.25} by source number mod 4 — sources are
    up-sampled (repeated with copy_id) or down-sampled via md5
    bucketing, then rolled up per source. The mixing decision is a
    map-side generator: no shuffle touches the corpus until the
    reporting aggregate."""
    from etl_sprint_2_5_spark.operators.curation import weighted_sample

    d = load_table(spark, "documents", sf_dir)
    n = F.substring("source", 4, 10).cast("int") % 4
    rate = (
        F.when(n == 0, 2.5)
        .when(n == 1, 1.0)
        .when(n == 2, 0.5)
        .otherwise(0.25)
    )
    mixed = weighted_sample(d.select("doc_id", "source"), "doc_id", rate)
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("copy_id").alias("max_copies"),
        )
        .orderBy("source")
    )


@query(
    "sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS tok,
             md5('pack-v1' || doc_id::VARCHAR) AS okey
      FROM documents
    ), sharded AS (
      SELECT *, ('0x' || substr(okey, 1, 8))::BIGINT % 4 AS shard FROM toks
    ), packed AS (
      SELECT source, shard, tok,
             sum(tok) OVER (PARTITION BY source, shard
                            ORDER BY okey, doc_id
                            ROWS UNBOUNDED PRECEDING) - tok AS start
      FROM sharded
    ), assigned AS (
      SELECT source, shard, tok,
             CAST(floor(start / 512) AS BIGINT) AS pack_id
      FROM packed
    ), packs AS (
      SELECT source, shard, pack_id,
             count(*) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS pack_tokens
      FROM assigned GROUP BY source, shard, pack_id
    )
    SELECT source,
           count(*)                          AS n_packs,
           CAST(sum(n_docs) AS BIGINT)       AS n_docs,
           CAST(sum(pack_tokens) AS BIGINT)  AS total_tokens,
           CAST(max(pack_tokens) AS BIGINT)  AS max_pack_tokens
    FROM packs
    GROUP BY source
    ORDER BY source
    """,
    covers=("X-curation-packing",),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (budget 512 approx-LLM
    tokens, 4 shards per source), reported as per-source pack
    statistics. The window sort is per (source, shard) — parallelism
    scales with shard count, never a global sort."""
    from etl_sprint_2_5_spark.operators.curation import pack_sequences

    d = load_documents_spread(spark, sf_dir)
    d2 = d.select(
        "doc_id",
        "source",
        F.ceil(F.length("text") / 4.0).cast("long").alias("tok"),
    )
    packed = pack_sequences(
        d2, "doc_id", "tok", budget=512, part_cols=("source",), shards=4
    )
    packs = packed.groupBy("source", "shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("pack_tokens"),
    )
    return (
        packs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("pack_tokens").alias("total_tokens"),
            F.max("pack_tokens").alias("max_pack_tokens"),
        )
        .orderBy("source")
    )


@query(
    "stratified_eval_sample",
    oracle="""
    WITH ranked AS (
      SELECT source, lang, doc_id,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY md5('strat-v1' || doc_id::VARCHAR),
                                         doc_id) AS sample_rank
      FROM documents
    )
    SELECT source, lang, doc_id, sample_rank
    FROM ranked WHERE sample_rank <= 3
    ORDER BY source, lang, sample_rank
    """,
    covers=("X-curation-stratified",),
)
def stratified_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly min(3, |stratum|) docs
    per (source, lang) in md5 order — the eval-set carving / manual
    inspection sampler. The window runs on the narrow key projection
    only (payload would be joined back on doc_id at scale)."""
    from etl_sprint_2_5_spark.operators.curation import stratified_sample

    d = load_table(spark, "documents", sf_dir)
    s = stratified_sample(d, ("source", "lang"), "doc_id", k=3)
    return s.orderBy("source", "lang", "sample_rank")


@query(
    "weighted_doc_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln((('0x' || substr(md5('wsample-v1' || doc_id::VARCHAR), 1, 15))::BIGINT
                 + 1) / 1152921504606846976.0)
             / n_chars AS es_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, n_chars
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT 100
    """,
    covers=("X-curation-weighted-sample",),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each doc draws u from a salted md5
    (not a PRNG — retry/replay stable), gets key u^(1/weight), and
    the global top-k by key is an exact weighted sample. Ranking by
    ln(u)/w is monotone-equivalent to u^(1/w) and avoids the pow; the
    top-k is a per-partition partial TopK then a single k-row merge —
    no global sort. Weight = n_chars (longer docs proportionally more
    likely), +1 on the 60-bit draw keeps u strictly positive."""
    d = load_table(spark, "documents", sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wsample-v1"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(1152921504606846976.0)
    keyed = d.where(F.col("n_chars") > 0).select(
        "doc_id",
        "n_chars",
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    return (
        keyed.orderBy(F.desc("es_key"), F.asc("doc_id"))
        .select("doc_id", "n_chars")
        .limit(100)
    )


@query(
    "domain_quota_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, text, {_DUCK_TOKS} AS tk
      FROM documents
    ), q AS (
      SELECT doc_id, source,
             round(0.4 * least(length(text) / 400.0, 1.0)
                 + 0.4 * (CASE WHEN len(tk) > 0
                          THEN len(list_distinct(tk))::DOUBLE / len(tk)
                          ELSE 0 END)
                 + 0.2 * (1 - (CASE WHEN len(tk) > 0
                          THEN {_duck_hits('en')}::DOUBLE / len(tk)
                          ELSE 0 END)), 4) AS quality
      FROM toks
    ), ranked AS (
      SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS rk
      FROM q
    )
    SELECT doc_id, source, quality, CAST(rk AS BIGINT) AS rk
    FROM ranked
    WHERE rk <= 10
    ORDER BY source, rk
    """,
    covers=("X-curation-quota",),
)
def domain_quota_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota enforcement: keep the 10 highest-quality
    documents per source (the Dolma/RefinedWeb per-domain cap that
    stops any one domain from dominating the training mix). A bounded
    window per source — rank by (quality DESC, doc_id) is a total
    order because quality is round(…,4)."""
    from etl_sprint_2_5_spark.operators.textops import quality_score

    from pyspark.sql import Window

    d = load_documents_spread(spark, sf_dir)
    q = quality_score(d, "text", "doc_id").join(
        d.select("doc_id", "source"), "doc_id"
    )
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        q.select(
            "doc_id", "source", "quality",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 10)
        .orderBy("source", "rk")
    )


@query(
    "corpus_shuffle_shards",
    oracle="""
    WITH hashed AS (
      SELECT doc_id,
             md5('shuffle-epoch0:' || doc_id::VARCHAR) AS h
      FROM documents
    ), sharded AS (
      SELECT doc_id, h,
             ('0x' || substr(h, 1, 8))::BIGINT % 8 AS shard
      FROM hashed
    )
    SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
    FROM sharded
    ORDER BY shard, pos
    """,
    covers=("X-curation-shuffle",),
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: the training-order primitive every
    LLM data pipeline runs before writing shards. Each doc gets a
    salted md5 hash (salt = epoch tag, so epoch 1 is a fresh
    permutation by changing one literal); shard = first 8 hex digits
    mod NSHARDS, position within the shard = rank by (hash, doc_id).

    Scale shape: hashing and shard assignment are map-side; the only
    shuffle is the partition-by-shard window — shards sort
    INDEPENDENTLY in parallel (the terasort pattern minus the global
    total order nobody needs: readers consume shards, not a single
    sequence). No global sort, no driver bottleneck; at 100 TB this
    is exactly `repartition(shard).sortWithinPartitions(h)` feeding
    the shard writer. Stable across runs, engines and retries —
    properties rand()-based shuffling cannot give a resumable
    pipeline."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir).select("doc_id")
    h = F.md5(F.concat(F.lit("shuffle-epoch0:"), F.col("doc_id").cast("string")))
    hv = F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("long")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.withColumn("h", h)
        .withColumn("shard", hv % 8)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


@query(
    "dsir_importance_selection",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_DUCK_TOKS}) AS tok FROM documents
    ), bt AS (
      SELECT doc_id, source,
             ('0x' || substr(md5('dsir-v1' || tok), 1, 8))::BIGINT % 256
               AS bucket,
             CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ist
      FROM toks
    ), counts AS (
      SELECT bucket,
             CAST(sum(ist) AS BIGINT)     AS t_c,
             CAST(sum(1 - ist) AS BIGINT) AS r_c
      FROM bt GROUP BY bucket
    ), consts AS (
      SELECT CAST(sum(t_c) AS BIGINT) AS nt,
             CAST(sum(r_c) AS BIGINT) AS nr
      FROM counts
    ), lr AS (
      SELECT bucket,
             CAST(floor(
               (ln((t_c + 1) / CAST(nt + 256 AS DOUBLE))
                - ln((r_c + 1) / CAST(nr + 256 AS DOUBLE))) * 1e6 + 0.5e0
             ) AS BIGINT) AS lr_ppm
      FROM counts, consts
    ), scored AS (
      SELECT b.doc_id, b.source,
             count(*)                     AS n_tokens,
             CAST(sum(lr_ppm) AS BIGINT)  AS lr_total_ppm
      FROM bt b JOIN lr USING (bucket)
      GROUP BY b.doc_id, b.source
    )
    SELECT doc_id, source, n_tokens, lr_total_ppm
    FROM scored
    ORDER BY lr_total_ppm DESC, doc_id
    LIMIT 100
    """,
    covers=("X-curation-dsir",),
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — the public
    hashed-n-gram construction): rank raw documents by how much more
    likely their tokens are under the TARGET distribution (source
    'src0' plays the target corpus) than under the raw distribution.

    Features are hashed unigrams (md5 -> 256 buckets); both
    distributions are add-one-smoothed bucket frequencies; a doc's
    importance is the sum of per-bucket log-likelihood ratios.
    Ratios are fixed-pointed to ppm BIGINTs before the per-doc sum,
    so the score is an order-independent integer — exactly
    hash-stable across engines (the unigram_lm_surprisal trick).

    Scale shape: the bucket table is 256 rows (broadcast — at ANY
    corpus size, since buckets are fixed); the token stream shuffles
    once for bucket counts (map-side partial agg) and once for the
    per-doc sum; selection is a TakeOrdered top-100, no global
    sort. This is the standard pretraining-data selection pass run
    over the full raw corpus at 100 TB."""
    from etl_sprint_2_5_spark.operators.curation import dsir_scores

    d = load_documents_spread(spark, sf_dir)
    caches: list = []
    scored = dsir_scores(
        d, "text", "doc_id", F.col("source") == "src0",
        cache_registry=caches,
    )
    # cut to the top-100 BEFORE attaching metadata: the selection is a
    # TakeOrdered over the score table, and the source join is then a
    # broadcast of 100 rows against the corpus instead of a
    # corpus-sized shuffle join
    top = scored.orderBy(F.desc("lr_total_ppm"), F.asc("doc_id")).limit(100)
    out = (
        d.select("doc_id", "source")
        .join(F.broadcast(top), "doc_id")
        .select("doc_id", "source", "n_tokens", "lr_total_ppm")
        .orderBy(F.desc("lr_total_ppm"), F.asc("doc_id"))
    )
    # top-100 is driver-sized: collect and release the 256-row bucket
    # cache so nothing outlives the query's action (verdict item 3)
    return materialize_release(out, *caches)


@query(
    "training_shard_pipeline",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ), gated AS (
      SELECT doc_id, len(tk) AS n_tokens,
             md5(array_to_string(list_sort(tk), ' ')) AS fp
      FROM toks WHERE len(tk) >= 20
    ), deduped AS (
      SELECT doc_id, n_tokens FROM (
        SELECT doc_id, n_tokens,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ), train AS (
      SELECT doc_id, n_tokens FROM deduped
      WHERE ('0x' || substr(md5('split-v1' || doc_id::VARCHAR), 1, 8))::BIGINT
            % 10000 < 8000
    ), sharded AS (
      SELECT doc_id, n_tokens,
             md5('shuffle-epoch0:' || doc_id::VARCHAR) AS h,
             ('0x' || substr(md5('shuffle-epoch0:' || doc_id::VARCHAR), 1, 8))::BIGINT
               % 4 AS shard
      FROM train
    ), packed AS (
      SELECT shard, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // 2048 AS pack_id
      FROM sharded
    )
    SELECT shard, CAST(pack_id AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM packed
    GROUP BY shard, pack_id
    ORDER BY shard, pack_id
    """,
    covers=("X-curation-shard-pipeline",),
)
def training_shard_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining-shard build, composed from the
    engine's curation primitives in one plan: token-count quality
    gate → bag-of-words-fingerprint exact dedup (keep lowest id) →
    salted-hash 80% train split → deterministic epoch shuffle into 4
    shards → 2048-token sequence packing — reported as per-(shard,
    pack) document/token counts.

    Scale shape: three shuffles total for five pipeline stages — the
    fingerprint window (dedup), the shard window (position AND pack
    cumsum share one exchange: same partitioning, same ordering), and
    the final rollup. The gate, split and shard assignment are
    map-side md5/length arithmetic; nothing materializes between
    stages. This is the composition a 100 TB corpus actually runs
    nightly, expressed as one Catalyst plan so the optimizer sees —
    and prunes across — stage boundaries."""
    from pyspark.sql import Window

    from etl_sprint_2_5_spark.functions.text import tokenize

    d = load_documents_spread(spark, sf_dir)
    gated = d.select(
        "doc_id",
        F.size(tokenize("text")).alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.array_sort(tokenize("text")))).alias("fp"),
    ).where(F.col("n_tokens") >= 20)
    dw = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(dw))
        .where(F.col("rn") == 1)
        .drop("rn", "fp")
    )
    split_bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split-v1"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    train = deduped.where(split_bucket < 8000)
    h = F.md5(F.concat(F.lit("shuffle-epoch0:"), F.col("doc_id").cast("string")))
    sharded = train.withColumn("h", h).withColumn(
        "shard", F.conv(F.substring("h", 1, 8), 16, 10).cast("long") % 4
    )
    pw = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        sharded.withColumn("cum_before", F.sum("n_tokens").over(pw))
        .withColumn(
            "pack_id", F.expr("coalesce(cum_before, 0) div 2048")
        )
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("shard", "pack_id")
    )
