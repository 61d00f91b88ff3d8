"""Streaming incremental document dedup against the persisted corpus
index — the continuous-ingest twin of the batch ``incremental_dedup``
query (plans/dedup_queries.py).

The batch query classifies one incoming batch against the corpus;
this module runs the SAME tiers per micro-batch of a Structured
Streaming file feed (the change-feed convention of
streaming/structured.py): every arriving document is classified
'exact' (byte-identical normalized-text md5 already in the corpus),
'near' (shingle-Jaccard ≥ threshold against a corpus doc), or
'unique', and the verdicts land in a parquet sink. End-to-end the
pipeline is exactly-once: ``checkpointLocation`` makes the feed
consumption exactly-once, and the sink writes each micro-batch to a
deterministic ``batch_id=N`` subdirectory with overwrite mode, so a
batch retried after a partial sink commit REWRITES the same
directory instead of appending duplicate verdict rows (the same
idempotent-upsert argument as streaming/sink.py and es_sink.py).

The corpus side is built ONCE — callers pass the prepared shingle
index (artifacts.prepared_shingle_index) via ``shingles=`` — and
joined per batch; the stream never rescans corpus text. The
stop-shingle cap is computed over the CORPUS occurrences only (a
property of the persisted index, stable across batches): per-batch
caps would make verdicts depend on how the feed is chopped into
micro-batches. The batch ``incremental_dedup`` query and its DuckDB
oracle use the SAME corpus-only cap, so stream == batch == oracle
with no population divergence (tests assert all three).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators.dedup import hashed_shingle_sets
from etl_sprint_2_5_spark.streaming.gate import drain


class CorpusDedupIndex:
    """Static (per-run) corpus side of the streaming dedup: exact-tier
    fingerprints, capped shingle postings, and surviving set sizes —
    at scale, all three are the persisted dedup index."""

    def __init__(
        self,
        corpus: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        shingles: DataFrame | None = None,
        max_df: int = 1000,
    ) -> None:
        self.id_col = id_col
        self.text_col = text_col
        self.max_df = max_df
        self.fingerprints = (
            corpus.select(F.md5(text_col).alias("h"), F.col(id_col))
            .groupBy("h")
            .agg(F.min(id_col).alias("id_c"))
            .cache()
        )
        sh = (
            shingles
            if shingles is not None
            else hashed_shingle_sets(corpus, text_col, id_col)
        )
        occ = sh.select(F.col(id_col), F.explode("hs").alias("s"))
        dfc = occ.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
        # corpus-side stop list: boilerplate shingles never enter the
        # postings, so no batch can expand quadratically on one key
        self.stop = dfc.where(F.col("_df") > max_df).select("s").cache()
        kept = occ.join(self.stop, "s", "left_anti")
        self.postings = kept.select(
            F.col(id_col).alias("id_c"), "s"
        ).cache()
        self.sizes = (
            self.postings.groupBy("id_c")
            .agg(F.count(F.lit(1)).alias("n_c"))
            .cache()
        )

    def classify(self, batch: DataFrame, threshold: float = 0.5) -> DataFrame:
        """Classify one batch of (id, text) rows against the corpus:
        → (doc_id, verdict ∈ exact|near|unique, match_id)."""
        id_col, text_col = self.id_col, self.text_col
        ex = (
            batch.select(F.col(id_col), F.md5(text_col).alias("h"))
            .join(self.fingerprints, "h")
            .select(F.col(id_col).alias("id_i"), F.col("id_c").alias("ex_match"))
        )
        sh_i = hashed_shingle_sets(batch, text_col, id_col)
        occ_i = sh_i.select(F.col(id_col), F.explode("hs").alias("s")).join(
            self.stop, "s", "left_anti"
        )
        sz_i = occ_i.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_i"))
        co = (
            occ_i.join(self.postings, "s")
            .groupBy(F.col(id_col).alias("id_i"), "id_c")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        near = (
            co.join(sz_i.select(F.col(id_col).alias("id_i"), "n_i"), "id_i")
            .join(self.sizes, "id_c")
            .where(
                F.round(
                    F.col("inter")
                    / (F.col("n_i") + F.col("n_c") - F.col("inter")).cast(
                        "double"
                    ),
                    4,
                )
                >= threshold
            )
            .groupBy("id_i")
            .agg(F.min("id_c").alias("near_match"))
        )
        inc = batch.select(id_col)
        return (
            inc.join(ex, inc[id_col] == ex.id_i, "left")
            .join(near, inc[id_col] == near.id_i, "left")
            .select(
                id_col,
                F.when(F.col("ex_match").isNotNull(), "exact")
                .when(F.col("near_match").isNotNull(), "near")
                .otherwise("unique")
                .alias("verdict"),
                F.coalesce("ex_match", "near_match", F.lit(-1)).alias(
                    "match_id"
                ),
            )
        )


def stream_doc_dedup(
    spark: SparkSession,
    index: CorpusDedupIndex,
    feed_dir: str,
    feed_schema,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
):
    """Classify a streaming document feed against the corpus index,
    writing (doc_id, verdict, match_id) per micro-batch to
    ``out_path/batch_id=N`` (partition-style, so a plain parquet read
    of ``out_path`` unions all batches). Per-batch overwrite of the
    deterministic subdirectory makes the sink an idempotent upsert
    keyed by batch_id — a retry after a partial commit replaces, not
    duplicates. Drains the feed's backlog and returns the terminated
    StreamingQuery."""
    feed = spark.readStream.schema(feed_schema).parquet(feed_dir)

    def process(batch_df, batch_id: int) -> None:  # noqa: ANN001
        if batch_df.isEmpty():
            return
        index.classify(batch_df, threshold).write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    writer = feed.writeStream.foreachBatch(process).outputMode("update")
    return drain(writer, checkpoint_dir, "doc_dedup")
