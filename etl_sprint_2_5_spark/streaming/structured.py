"""Structured Streaming wrapper for the IVM pipelines — SURVEY.md §7
phase 5's second half: the same rebuild logic under Spark's own
checkpointing instead of the hand-rolled offset store.

Source: a change-feed directory per base table (each micro-batch =
newly arrived files of changed rows — the file-source analog of the
reference's keyset poll, daemon.py:90-129). Spark's
``checkpointLocation`` persists which files were consumed, replacing
OffsetStore; ``foreachBatch`` calls ``ivm.apply_changes``, the batch
drain's own fan-out → restricted rebuild → idempotent upsert core
(sink retries included), so the exactly-once-effect argument (T3)
carries over unchanged: a replayed micro-batch re-upserts the same
documents.

Both starters drain through ``streaming.gate.drain``: the backlog is
consumed under ``Trigger.AvailableNow`` (batch-incremental mode) with a
bounded wait, and the returned query has terminated. That holds for
registered Python data sources too (sources/pg_stream), which Spark
drives through its AvailableNow wrapper. A resident daemon would run
the same body under ``processingTime`` polling instead (T1,
daemon.py:537-542).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from etl_sprint_2_5_spark.streaming.gate import drain
from etl_sprint_2_5_spark.streaming.ivm import (
    Pipeline,
    TableLoader,
    apply_changes,
)


def stream_pipeline(
    spark: SparkSession,
    p: Pipeline,
    feed_dir: str,
    feed_schema: StructType,
    load: TableLoader,
    checkpoint_dir: str,
    row_counter: list | None = None,
):
    """Drain one pipeline's change-feed directory as a Structured
    Streaming query; returns the terminated StreamingQuery.

    ``row_counter``: optional list the per-batch row counts are
    appended to — the exact consumed-row accounting. (The progress
    API's numInputRows is NOT that number under foreachBatch: every
    action on batch_df re-reads the micro-batch's files and each read
    adds to numInputRows, so a body that probes emptiness and then
    aggregates reports up to 2× the real rows.)"""

    changed_stream = spark.readStream.schema(feed_schema).parquet(feed_dir)
    return stream_pipeline_from(
        spark, p, changed_stream, load, checkpoint_dir, row_counter=row_counter
    )


def stream_pipeline_from(
    spark: SparkSession,
    p: Pipeline,
    changed_stream,  # noqa: ANN001 - streaming DataFrame of changed rows
    load: TableLoader,
    checkpoint_dir: str,
    row_counter: list | None = None,
):
    """The pipeline body over an ARBITRARY change-feed stream — each
    micro-batch goes through ``ivm.apply_changes`` as in
    :func:`stream_pipeline`, source-agnostic: file feeds, Kafka, or a
    registered Python data source (sources/pg_stream's live-PG keyset
    source). Drains the backlog and returns the terminated query."""

    def process(batch_df, batch_id: int) -> None:  # noqa: ANN001
        n = batch_df.count()
        if row_counter is not None:
            row_counter.append(n)
        if n:
            apply_changes(spark, [(p, batch_df)], load)

    writer = changed_stream.writeStream.foreachBatch(process).outputMode("update")
    return drain(writer, checkpoint_dir, p.name)
