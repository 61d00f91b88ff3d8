"""The IVM maintenance loop under the driver's oracle hash gate —
the reference's architectural core (the CDC daemon) proven by the
SAME gate that proves every relational query, not just by pytest.

The reference daemon (/root/reference/postgres_to_es/
daemon.py:497-542) runs per-source pipelines: keyset-scan a source
table after its (updated_at, id) cursor → fan changed rows out to
affected document ids (identity for the fact table, bridge join for
dimensions, daemon.py:132-152) → rebuild exactly those documents with
the full denormalization query → idempotent keyed upsert → advance
the cursor only after the sink returned (daemon.py:118-129).

Here the loop runs for real through streaming/ivm.py over a staged
snapshot of the testdata star schema (orders=fact, customer=dim,
lineitem=bridge/detail), in two phases:

- **phase A (backfill)**: epoch-0 cursors, multiple keyset cycles per
  pipeline (batch_size ≈ n/3 forces ≥3 batches — the cursor really
  advances mid-table);
- **mutate**: a deterministic subset of customers is renamed and a
  deterministic subset of orders re-prioritized, with updated_at
  bumped past every phase-A timestamp (the CDC write);
- **phase B (incremental)**: the same loop drains ONLY the mutated
  rows (pinned: the consumed-row count is part of the gated output),
  the customer changes fanning out through the orders bridge to the
  affected documents.

The returned table is the maintained view itself plus the phase-B
consumed count; the DuckDB oracle is the from-scratch rebuild (one
denormalizing SQL statement over the mutated base tables) — so the
hash gate proves **incremental == batch** end-to-end, and proves the
fan-out found every affected document (a missed doc would surface a
stale pre-mutation name and break the hash).
"""

from __future__ import annotations

import datetime as dt
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.plans.registry import materialize_release, query
from etl_sprint_2_5_spark.sources.parquet import load_table
from etl_sprint_2_5_spark.streaming.gate import streaming_gate, write_feed
from etl_sprint_2_5_spark.streaming.ivm import snapshot_loader
from etl_sprint_2_5_spark.streaming.sink import (
    buckets_for,
    dir_bytes,
    read_bucketed_view,
)

# synthetic CDC clock: all base rows carry T0 + small per-key offsets
# (so keyset batches have real ts progression); mutations land at T1,
# strictly after every base timestamp
_T0 = 1717243200  # 2024-06-01 12:00:00 UTC, epoch seconds
_T1 = _T0 + 86400


def _ts(expr) -> F.Column:  # noqa: ANN001
    return F.timestamp_seconds(expr)


def _base_frames(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """The three pre-mutation source snapshots with deterministic
    cursors (shared by the parquet-staged twins and the live-PG
    scenario, which COPYies them into a real database instead)."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        _ts(F.lit(_T0) + (F.col("o_orderkey") % 5) * 60).alias("updated_at"),
    )
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        "c_name",
        _ts(F.lit(_T0) + (F.col("c_custkey") % 3) * 60).alias("updated_at"),
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("li_id"),
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
        )
        .cast("bigint")
        .alias("cents"),
        _ts(F.lit(_T0) + (F.col("l_orderkey") % 7) * 60).alias("updated_at"),
    )
    return {"orders": orders, "customer": cust, "lineitem": li}


# the three change-feed row schemas: the staged parquet feeds and the
# live-PG reads carry the same columns
_FEED_SCHEMAS = {
    "orders": (
        "o_orderkey long, o_custkey long, o_orderpriority string, "
        "updated_at timestamp"
    ),
    "customer": "c_custkey long, c_name string, updated_at timestamp",
    "lineitem": (
        "li_id long, l_orderkey long, cents long, updated_at timestamp"
    ),
}


def _stage_base(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Write the pre-mutation snapshots with deterministic cursors."""
    for name, df in _base_frames(spark, sf_dir).items():
        df.write.mode("overwrite").parquet(f"{base}/{name}")


def _loader(spark: SparkSession, base: str):
    """A ``load`` over the staged snapshots under ``base``; every call
    reads afresh. ``run_to_completion`` resolves each table once per
    drain itself, so the batch gates hand it this plain loader for
    both phases and phase B sees the mutated snapshots."""
    return lambda name: spark.read.parquet(f"{base}/{name}")


def _memo_loader(spark: SparkSession, base: str):
    """:func:`_loader` with each table resolved ONCE, for the streaming
    gate: its ``foreachBatch`` bodies call ``load`` per micro-batch and
    the streaming path does not snapshot (a long-running stream is not
    quiescent between micro-batches), so without the memo every batch
    would rebuild each table's file index and re-read its footers. The
    gate's feeds are quiescent within a phase, so one relation per
    table serves every micro-batch of the phase; the gate builds a
    FRESH loader after the CDC mutate, because a loader carried across
    it would serve a stale file index over deleted files."""
    return snapshot_loader(_loader(spark, base))


def _mutate(spark: SparkSession, sf_dir: str, base: str) -> None:
    """The CDC writes: rename customers (c_custkey % 10 == 0),
    re-prioritize orders (o_orderkey % 13 == 0), both stamped T1."""
    cust_hit = F.col("c_custkey") % 10 == 0
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        F.when(cust_hit, F.upper(F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(cust_hit, _ts(F.lit(_T1)))
        .otherwise(_ts(F.lit(_T0) + (F.col("c_custkey") % 3) * 60))
        .alias("updated_at"),
    )
    cust.write.mode("overwrite").parquet(f"{base}/customer")

    ord_hit = F.col("o_orderkey") % 13 == 0
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        F.when(ord_hit, F.lit("MUTATED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        F.when(ord_hit, _ts(F.lit(_T1)))
        .otherwise(_ts(F.lit(_T0) + (F.col("o_orderkey") % 5) * 60))
        .alias("updated_at"),
    )
    orders.write.mode("overwrite").parquet(f"{base}/orders")


def _rebuild_docs(load, ids: DataFrame) -> DataFrame:  # noqa: ANN001
    """The J3/A1-shaped doc build restricted to the affected ids —
    the SAME plan phase A and phase B run (incremental == batch by
    construction, daemon.py:155-200's single rebuild query). The
    affected-id semi-join is pushed below the lineitem aggregate, so
    a cycle aggregates only the affected orders' items."""
    keys = F.broadcast(ids.withColumnRenamed("id", "o_orderkey"))
    o = load("orders").join(keys, "o_orderkey", "left_semi")
    c = load("customer").select("c_custkey", "c_name")
    li = (
        load("lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .join(keys, "o_orderkey", "left_semi")
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .join(li, "o_orderkey", "left")
        .select(
            "o_orderkey",
            "c_name",
            "o_orderpriority",
            F.coalesce(F.col("n_items"), F.lit(0)).cast("bigint").alias("n_items"),
            F.coalesce(F.col("revenue_cents"), F.lit(0))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


def _docs_pipelines(
    gold: str, nb: int, sizes: dict | None = None, sink_mode: str = "rewrite",
    compact_every: int = 0, rebuild=_rebuild_docs,  # noqa: ANN001
    batch_fn=None, bridge_fn=None,  # noqa: ANN001
):
    """The three maintenance pipelines (fact, dimension-via-bridge,
    child-fact fan-out) shared by every docs gate: the rewrite-sink
    gate, its log-structured delta twin, the streaming twin and the
    live-PG gates. ``sizes`` sets each pipeline's keyset batch size
    (the streaming twins keep the default: their micro-batches come
    from the stream); the live-PG gates pass their source-native
    ``rebuild``, a ``batch_fn(name)`` keyset producer factory and the
    customer fan-out's ``bridge_fn``."""
    from etl_sprint_2_5_spark.streaming.ivm import FanOut, Pipeline

    common = dict(
        rebuild=rebuild, sink_path=gold, doc_key="o_orderkey",
        n_buckets=nb, sink_mode=sink_mode, compact_every=compact_every,
    )

    def pipeline(name: str, id_field: str, fanout: FanOut) -> Pipeline:
        extra = {}
        if sizes is not None:
            extra["batch_size"] = sizes[name]
        if batch_fn is not None:
            extra["batch_fn"] = batch_fn(name)
        return Pipeline(
            name=name, source=name, cursor_field="updated_at",
            id_field=id_field, fanout=fanout, **common, **extra,
        )

    return [
        pipeline("orders", "o_orderkey", FanOut(id_field="o_orderkey")),
        pipeline(
            "customer",
            "c_custkey",
            # dimension change → affected facts via the bridge
            # (get_table_ids_by_join, daemon.py:139-152)
            FanOut(
                id_field="c_custkey",
                bridge="orders",
                join_field="o_custkey",
                select_field="o_orderkey",
                bridge_fn=bridge_fn,
            ),
        ),
        pipeline("lineitem", "li_id", FanOut(id_field="l_orderkey")),
    ]


def _docs_view(spark: SparkSession, gold: str, consumed_b: int) -> DataFrame:
    """The maintained view plus the gated phase-B consumed count,
    materialized before the staging dir disappears."""
    docs = (
        read_bucketed_view(spark, gold)
        .withColumn("phase_b_rows", F.lit(consumed_b).cast("bigint"))
        .orderBy("o_orderkey")
    )
    return materialize_release(docs)


def _two_phase_docs(
    spark: SparkSession, sf_dir: str, prefix: str, **sink
) -> DataFrame:
    """Backfill, CDC mutate, incremental drain over parquet-staged
    snapshots; ``sink`` is the pipelines' ``sink_mode``/``compact_every``."""
    from etl_sprint_2_5_spark.streaming.ivm import run_to_completion
    from etl_sprint_2_5_spark.streaming.state import OffsetStore

    with tempfile.TemporaryDirectory(prefix=prefix) as tmp:
        base, gold = f"{tmp}/base", f"{tmp}/gold/docs"
        _stage_base(spark, sf_dir, base)
        # bucket count from TARGET BUCKET SIZE, not a magic number
        # (buckets_for docstring has the 100-TB math: ~1 GiB/bucket ->
        # ~100k buckets at 100 TB; floors to 16 on this toy base)
        nb = buckets_for(dir_bytes(base))

        load = _loader(spark, base)

        # batch_size ≈ n/2 per source: every pipeline needs ≥2 keyset
        # cycles for the backfill, so the cursor provably advances
        # mid-table (T7's bounded batches + T8's drain-to-empty loop)
        sizes = {
            name: max(1, load(name).count() // 2 + 1)
            for name in ("orders", "customer", "lineitem")
        }
        pipelines = _docs_pipelines(gold, nb, sizes, **sink)
        offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)

        run_to_completion(spark, pipelines, load, offsets)  # phase A: backfill
        _mutate(spark, sf_dir, base)  # the CDC writes
        # phase B: the drain loads the mutated snapshots afresh
        consumed_b = run_to_completion(spark, pipelines, load, offsets)
        return _docs_view(spark, gold, consumed_b)


def _docs_oracle(subset: int = 1) -> str:
    """The from-scratch rebuild over the mutated base tables that
    every docs gate is hashed against; ``subset`` > 1 restricts orders
    and lineitems to ``o_orderkey % subset == 0``, the slice the
    live-PG gates stage."""
    with_o, orders, li_where = "", "orders", ""
    if subset > 1:
        with_o = f"""o AS (
      SELECT o_orderkey, o_custkey, o_orderpriority
      FROM orders WHERE o_orderkey % {subset} = 0
    ), """
        orders, li_where = "o", f" WHERE l_orderkey % {subset} = 0"
    return f"""
    WITH {with_o}mut_cust AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN upper(c_name)
                  ELSE c_name END AS c_name
      FROM customer
    ), mut_ord AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 13 = 0 THEN 'MUTATED'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM {orders}
    ), li AS (
      SELECT l_orderkey AS o_orderkey,
             count(*) AS n_items,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                                 + 0.5) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
      FROM lineitem{li_where} GROUP BY l_orderkey
    ), meta AS (
      SELECT (SELECT count(*) FROM customer WHERE c_custkey % 10 = 0)
           + (SELECT count(*) FROM {orders} WHERE o_orderkey % 13 = 0)
             AS phase_b_rows
    )
    SELECT o.o_orderkey AS o_orderkey, c.c_name, o.o_orderpriority,
           COALESCE(li.n_items, 0)       AS n_items,
           COALESCE(li.revenue_cents, 0) AS revenue_cents,
           m.phase_b_rows
    FROM mut_ord o
    JOIN mut_cust c ON o.o_custkey = c.c_custkey
    LEFT JOIN li   ON li.o_orderkey = o.o_orderkey
    CROSS JOIN meta m
    ORDER BY o.o_orderkey
    """


_DOCS_ORACLE = _docs_oracle()
# the live-PG gates stage orders/lineitems with o_orderkey % 20 == 0
_PG_LIVE_ORACLE = _docs_oracle(subset=20)


@query(
    "ivm_maintained_docs",
    oracle=_DOCS_ORACLE,
    covers=("T2", "T3", "T4", "T7", "T8", "X-ivm-live"),
)
def ivm_maintained_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full maintenance phases through streaming/ivm.py, gated
    against a from-scratch DuckDB rebuild (module docstring has the
    full story). ``phase_b_rows`` — the number of source rows the
    incremental phase consumed — is a gated column: if the cursors
    failed to exclude already-seen rows (or missed the mutated ones)
    the count, not just the doc values, breaks the hash.

    Sink: the bucket-pruned keyed upsert (n_buckets sized by buckets_for,
    streaming/sink.upsert_keyed_parquet_bucketed) — each cycle reads
    and rewrites only the buckets its affected documents hash into,
    one Spark job per cycle, so upsert cost tracks the CHANGE, not
    the view. The flat whole-view-rewrite sink remains available
    (Pipeline.n_buckets=0) but is not what the gate proves anymore."""
    return _two_phase_docs(spark, sf_dir, "ivm_gate_")


@query(
    "streaming_ivm_maintained_docs",
    oracle=_DOCS_ORACLE,
    covers=("T1", "X-ivm-stream-live",),
)
def streaming_ivm_maintained_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME maintenance scenario run through Structured Streaming
    (streaming/structured.stream_pipeline — SURVEY §7 phase 5's
    second half), hash-gated by the SAME oracle as the batch-
    incremental twin: per base table a change-feed directory is
    consumed by a foreachBatch query whose body is the identical
    fan-out → affected-id semi-join → restricted rebuild → idempotent
    keyed upsert; Spark's checkpointLocation replaces the hand-rolled
    OffsetStore as the cursor.

    Phase A feeds the full base rows (backfill = one micro-batch per
    pipeline); the base snapshots are then mutated and phase B
    appends ONLY the changed rows to the feeds — each pipeline
    RESUMES from its checkpoint, so the file source must consume
    exactly the new files. ``phase_b_rows`` is the sum of the
    resumed queries' own ``numInputRows`` progress counters: if
    checkpoint recovery replayed phase A's files (or missed a new
    one), the gated count — not just the doc values — breaks the
    hash. Pipelines run sequentially within a phase (the keyed-
    parquet upsert swaps a directory; one writer at a time), exactly
    like the reference daemon's per-table coroutine round-robin."""
    from etl_sprint_2_5_spark.streaming.structured import stream_pipeline

    with streaming_gate(spark, "streaming_ivm_maintained_docs") as gate:
        base, gold = f"{gate.dir}/base", f"{gate.dir}/gold/docs"
        _stage_base(spark, sf_dir, base)
        # bucket count from TARGET BUCKET SIZE, not a magic number
        # (buckets_for docstring has the 100-TB math: ~1 GiB/bucket ->
        # ~100k buckets at 100 TB; floors to 16 on this toy base)
        nb = buckets_for(dir_bytes(base))

        # one resolved relation per table per PHASE (see _memo_loader);
        # rebuilt fresh after the mutate so phase B's rebuilds read the
        # overwritten snapshots
        load = _memo_loader(spark, base)

        pipelines = {p.name: p for p in _docs_pipelines(gold, nb)}

        from pyspark.sql.types import _parse_datatype_string

        def drain(name: str, loader) -> int:  # noqa: ANN001
            """One availableNow pass of one pipeline; returns the rows the
            STREAM itself consumed (per-batch counts recorded inside the
            foreachBatch body — see stream_pipeline's row_counter note on
            why numInputRows over-reports under foreachBatch)."""
            counter: list[int] = []
            stream_pipeline(
                spark,
                pipelines[name],
                f"{gate.dir}/feed/{name}",
                _parse_datatype_string(_FEED_SCHEMAS[name]),
                loader,
                gate.checkpoint(name),
                row_counter=counter,
            )
            return sum(counter)

        # phase A: full-base backfill feed
        for name in pipelines:
            load(name).write.mode("append").parquet(f"{gate.dir}/feed/{name}")
            drain(name, load)

        # the CDC writes: mutate the base snapshots, feed ONLY changed rows
        _mutate(spark, sf_dir, base)
        load = _memo_loader(spark, base)  # fresh — post-mutate snapshots
        load("customer").where(F.col("c_custkey") % 10 == 0).write.mode(
            "append"
        ).parquet(f"{gate.dir}/feed/customer")
        load("orders").where(F.col("o_orderkey") % 13 == 0).write.mode(
            "append"
        ).parquet(f"{gate.dir}/feed/orders")

        # phase B: resumed queries must consume exactly the new files
        consumed_b = sum(drain(name, load) for name in pipelines)
        return _docs_view(spark, gold, consumed_b)


@query(
    "ivm_maintained_docs_delta",
    oracle=_DOCS_ORACLE,
    covers=("T2", "T3", "T7", "T8", "X-ivm-live", "X-sink-delta-log"),
)
def ivm_maintained_docs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME two-phase maintenance scenario as ivm_maintained_docs,
    hash-gated by the SAME from-scratch oracle — but every cycle's
    upsert goes through the LOG-STRUCTURED sink
    (streaming/sink.upsert_keyed_parquet_delta): each cycle appends a
    delta commit costing O(affected docs) bytes instead of rewriting
    its touched buckets whole, and every third upsert folds the log
    back into bases through compact_bucketed_view's CAS commit
    (Pipeline.sink_mode='delta', compact_every=3). The cadence is
    chosen so the final read crosses a MIXED state — compacted bases
    plus outstanding deltas — making the gate prove the full
    merge-on-read path under real multi-pipeline maintenance, not a
    staged toy. This is the sink mode a high-churn CDC cadence wants
    at 100 TB: a cycle touching one doc per bucket pays doc-size, not
    bucket-size (~1 GiB), I/O per commit, with read amplification
    bounded by the compaction cadence. phase_b_rows gates the cursor
    discipline exactly as in the rewrite twin."""
    return _two_phase_docs(
        spark, sf_dir, "ivm_delta_gate_", sink_mode="delta", compact_every=3
    )


def _agg_images(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The v1 orders snapshot (bucket = priority, cents) and the
    changed rows' before- and after-images, shared by the aggregate
    gate and its streaming twin."""
    cents_v1 = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("bucket"),
        cents_v1.alias("cents"),
    )
    changed_pred = (F.col("o_orderkey") % 13 == 0) | (
        F.col("o_orderkey") % 17 == 0
    )
    # snapshot v2 images of the changed rows (the CDC after-image)
    new_rows = o.where(changed_pred).select(
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("MUTATED"))
        .otherwise(F.col("bucket"))
        .alias("bucket"),
        F.when(F.col("o_orderkey") % 17 == 0, F.col("cents") * 2)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    old_rows = o.where(changed_pred).select("bucket", "cents")
    return o, old_rows, new_rows


# the from-scratch aggregate over the mutated base (both aggregate gates)
_AGG_ORACLE = """
    WITH v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN 'MUTATED'
                  ELSE o_orderpriority END AS bucket,
             CASE WHEN o_orderkey % 17 = 0
                  THEN 2 * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                  ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             END AS cents
      FROM orders
    ), meta AS (
      SELECT 2 * count(*) AS n_delta_rows
      FROM orders WHERE o_orderkey % 13 = 0 OR o_orderkey % 17 = 0
    )
    SELECT bucket,
           count(*)                     AS n_rows,
           CAST(sum(cents) AS BIGINT)   AS cents,
           m.n_delta_rows
    FROM v2 CROSS JOIN meta m
    GROUP BY bucket, m.n_delta_rows
    ORDER BY bucket
    """


@query(
    "ivm_aggregate_deltas",
    oracle=_AGG_ORACLE,
    covers=("X-ivm-aggregate",),
)
def ivm_aggregate_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained AGGREGATE view via retraction deltas —
    the other half of IVM (ivm_maintained_docs rebuilds affected
    JOIN-view rows from base; an aggregate view is maintained by
    retract/add arithmetic instead, never recomputed): per-priority
    order counts + revenue cents are initialized from snapshot v1,
    then a mutation batch lands (o_orderkey%13 moves rows into a new
    'MUTATED' bucket — a GROUP MOVE; %17 doubles the cents — a
    MEASURE change; %221 does both) and the state is updated purely
    from the changed rows' before/after images: (-1, -old) under the
    old key, (+1, +new) under the new (streaming/ivm.agg_delta /
    merge_agg_state). The oracle is the from-scratch aggregate over
    the mutated base, so dropped retractions, double-counted
    both-mutation rows, or a group-move that forgot either side all
    break the hash; the delta-row count (exactly 2 x changed rows)
    rides as a gated column. At 100 TB this is how a billion-row
    stats table absorbs a million-row CDC batch with one co-
    partitioned merge instead of a full rescan."""
    from etl_sprint_2_5_spark.streaming.ivm import agg_delta, merge_agg_state

    o, old_rows, new_rows = _agg_images(spark, sf_dir)

    # phase A: state initialized from the v1 snapshot (the batch build)
    state = o.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    # phase B: apply the retraction deltas — no rescan of the base
    delta = agg_delta(old_rows, new_rows, ["bucket"], ["cents"])
    n_delta = delta.count()
    maintained = merge_agg_state(state, delta, ["bucket"], ["cents"])
    return (
        maintained.select(
            "bucket",
            "n_rows",
            F.col("cents").cast("bigint").alias("cents"),
            F.lit(n_delta).cast("bigint").alias("n_delta_rows"),
        )
        .orderBy("bucket")
    )


@query(
    "streaming_ivm_aggregate_deltas",
    oracle=_AGG_ORACLE,
    covers=("X-ivm-aggregate-stream",),
)
def streaming_ivm_aggregate_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregate-IVM twin as a LIVE changelog stream: the same
    retract/add rows (Flink-changelog shape) arrive as a two-file
    feed — micro-batch 1 carries the initial inserts, micro-batch 2
    the mutation changelog — and each foreachBatch applies its batch
    through streaming/ivm.apply_agg_delta_batch: one merge + one
    atomic directory swap whose LEDGER (applied batch id) moves with
    the data. Deltas are not idempotent, so this ledger — not the
    keyed overwrite that protects the doc pipelines — is what turns
    at-least-once delivery into exactly-once state (a replayed batch
    id is read from the ledger and skipped; the crash-window pytest
    drives every interleaving). Hash-gated by the SAME oracle as the
    batch twin, with the changelog row count as the gated column."""
    from etl_sprint_2_5_spark.streaming.ivm import agg_delta, apply_agg_delta_batch

    o, old_rows, new_rows = _agg_images(spark, sf_dir)

    # micro-batch 1: initial inserts as (+1) changelog rows;
    # micro-batch 2: the mutation changelog (retract old, add new)
    inserts = o.select(
        "bucket",
        F.lit(1).cast("long").alias("_dn"),
        F.col("cents").cast("long").alias("d_cents"),
    )
    changelog = agg_delta(old_rows, new_rows, ["bucket"], ["cents"])

    with streaming_gate(spark, "streaming_ivm_aggregate_deltas") as gate:
        feed, state = f"{gate.dir}/feed", f"{gate.dir}/state"
        # inserts strictly before the changelog: a retract applied to
        # empty state raises in merge_agg_state rather than silently
        # dropping groups
        write_feed(feed, inserts, changelog)

        counts: list[int] = []

        def process(batch_df, batch_id: int) -> None:  # noqa: ANN001
            counts.append(batch_df.count())
            apply_agg_delta_batch(
                spark, state, batch_df, ["bucket"], ["cents"], batch_id
            )

        gate.drain(
            spark.readStream.schema("bucket string, _dn long, d_cents long")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(process)
            .outputMode("update")
        )
        # ordering invariant: exactly two micro-batches, inserts first —
        # a violated feed fails HERE with the cause, not downstream in the
        # hash (and a changelog-first replay would already have raised in
        # merge_agg_state's negative-count guard)
        if len(counts) != 2:
            raise RuntimeError(
                f"changelog feed produced {len(counts)} micro-batches "
                f"(counts={counts}), expected [n_base, 2*n_changed] — "
                "write_feed ordering failed or maxFilesPerTrigger was ignored"
            )
        n_delta = counts[1]

        out = (
            spark.read.parquet(state)
            .select(
                "bucket",
                "n_rows",
                F.col("cents").cast("bigint").alias("cents"),
                F.lit(n_delta).cast("bigint").alias("n_delta_rows"),
            )
            .orderBy("bucket")
        )
        return materialize_release(out)




@query(
    "ivm_maintained_docs_pg_live",
    oracle=_PG_LIVE_ORACLE,
    covers=("S2", "S4", "S7", "T2", "T3", "T7", "T8", "X-ivm-live",
            "X-pg-live"),
)
def ivm_maintained_docs_pg_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC maintenance loop against a LIVE PostgreSQL database —
    the reference's ACTUAL topology (postgres_to_es/daemon.py:90-129,
    384-542: poll PG with a keyset cursor, fan out, rebuild, upsert),
    previously proven only over parquet-staged snapshots. A throwaway
    root-less cluster lives for the query; the star-schema snapshots
    (orders/lineitem restricted to ``o_orderkey % 20 == 0`` to bound
    the wire volume, full customer dim) are staged INTO PostgreSQL by
    partition-parallel COPY, with a composite ``(updated_at, key)``
    index per table — the reference's cursor index.

    Every per-cycle read then runs on the REAL PG planner:

    - **producer**: ``pg_keyset_read`` — the row-value keyset query
      (daemon.py:110-117) with ORDER BY + LIMIT evaluated by PG, so a
      cycle ships only its batch over the wire (Pipeline.batch_fn);
    - **dimension fan-out**: changed customer keys → affected orders
      via ``SELECT DISTINCT o_orderkey ... WHERE o_custkey IN (...)``
      on PG (FanOut.bridge_fn — get_table_ids_by_join,
      daemon.py:139-152, pushed to the source);
    - **rebuild**: the SAME ``_rebuild_docs`` Catalyst plan as every
      twin, fed by id-restricted COPY reads (only affected orders,
      their lineitems, and their customers cross the wire — the
      reference's one-rebuild-query shape, daemon.py:155-200);
    - **sink**: the bucket-pruned manifest upsert, unchanged;
    - **CDC writes**: REAL SQL UPDATEs between the phases (customers
      renamed, orders re-prioritized, ``updated_at`` bumped to T1).

    Gated by the same from-scratch DuckDB oracle family as the
    parquet twins (restricted to the staged subset): incremental over
    a live database == batch, with ``phase_b_rows`` pinning that the
    resumed cursors consumed EXACTLY the mutated rows. At 100 TB the
    wire cost per cycle is O(batch + affected docs) — table scans
    never leave the database, and the view lives in the manifest sink
    whose upsert is O(touched buckets)."""
    return _run_ivm_pg_live(spark, sf_dir, stage_threshold=500)


@query(
    "ivm_staged_fanout_live",
    oracle=_PG_LIVE_ORACLE,
    covers=("S2", "S4", "S7", "T2", "T3", "X-ivm-live", "X-pg-live"),
)
def ivm_staged_fanout_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME live-PG CDC maintenance loop as
    ``ivm_maintained_docs_pg_live``, with ``stage_threshold=0`` so
    EVERY affected-id restriction (dimension fan-out bridge and all
    three rebuild reads, every cycle) goes through the
    ``pg_copy.staged_ids`` UNLOGGED-table path instead of an inline
    IN-list — the large-fan-out shape (COPY the id set in, hash
    semi-join server-side; reference inlines always,
    daemon.py:139-152). Same oracle as the IN-list twin: the two
    restriction strategies must be result-identical, which is
    precisely the property that makes the threshold safe to cross at
    100 TB."""
    return _run_ivm_pg_live(spark, sf_dir, stage_threshold=0)


def _run_ivm_pg_live(
    spark: SparkSession, sf_dir: str, stage_threshold: int
) -> DataFrame:
    import os

    from etl_sprint_2_5_spark.sources import pg_copy
    from etl_sprint_2_5_spark.streaming.ivm import run_to_completion
    from etl_sprint_2_5_spark.streaming.state import OffsetStore

    with tempfile.TemporaryDirectory(prefix="ivm_pg_live_") as tmp:
        os.chmod(tmp, 0o755)  # the nobody-owned cluster must traverse it
        gold = f"{tmp}/gold/docs"
        with pg_copy.ephemeral_pg(f"{tmp}/cluster") as dsn:
            env = _pg_live_env(spark, sf_dir, dsn, stage_threshold)
            # batch_size ≈ n/2: every pipeline needs ≥2 keyset cycles
            # for the backfill, so the cursor provably advances
            # mid-table on LIVE PG
            sizes = {n: max(1, c // 2 + 1) for n, c in env["counts"].items()}

            def mk_batch_fn(name: str):
                def fn(cursor_ts, cursor_id, n):  # noqa: ANN001
                    return pg_copy.pg_keyset_read(
                        spark, dsn, name, _FEED_SCHEMAS[name],
                        "updated_at", _PG_KEYS[name], cursor_ts,
                        cursor_id, n,
                    )
                return fn

            pipelines = _docs_pipelines(
                gold, env["nb"], sizes, rebuild=env["rebuild"],
                batch_fn=mk_batch_fn, bridge_fn=env["bridge_custkeys"],
            )
            offsets = OffsetStore(f"{tmp}/offsets.json", id_default=0)

            run_to_completion(spark, pipelines, _no_pg_load, offsets)  # A
            _pg_live_mutate(dsn)  # the CDC writes: LIVE SQL UPDATEs
            consumed_b = run_to_completion(
                spark, pipelines, _no_pg_load, offsets
            )  # phase B
            return _docs_view(spark, gold, consumed_b)


_PG_DDL = {
    "orders": (
        "o_orderkey bigint PRIMARY KEY, o_custkey bigint, "
        "o_orderpriority text, updated_at timestamp"
    ),
    "customer": "c_custkey bigint PRIMARY KEY, c_name text, "
                "updated_at timestamp",
    "lineitem": "li_id bigint PRIMARY KEY, l_orderkey bigint, "
                "cents bigint, updated_at timestamp",
}
_PG_KEYS = {"orders": "o_orderkey", "customer": "c_custkey",
            "lineitem": "li_id"}


def _no_pg_load(name: str) -> DataFrame:
    raise AssertionError(
        "live-PG scenario reads only from PostgreSQL, never a staged "
        f"snapshot (asked for {name!r})"
    )


def _pg_live_env(
    spark: SparkSession, sf_dir: str, dsn: str,
    stage_threshold: int = 500,
) -> dict:
    """Stage the subset star schema INTO live PostgreSQL (S7 DDL
    bootstrap + partition-parallel COPY + the composite cursor index)
    and return the source-native helpers shared by the batch and
    streaming live-CDC gates: per-cycle reads all run on the PG
    planner, only batches / affected rows cross the wire.

    ``stage_threshold``: affected-id sets larger than this are staged
    into an UNLOGGED PG table and joined server-side instead of being
    inlined as an IN-list (pg_copy.staged_ids — the shape that
    survives million-row fan-outs; the reference inlines always,
    daemon.py:139-152). 0 forces the staged path on every restriction
    (the ivm_staged_fanout_live gate)."""
    from pyspark.sql.window import Window

    from etl_sprint_2_5_spark.sources import pg_copy
    from etl_sprint_2_5_spark.streaming.sink import buckets_for

    frames = _base_frames(spark, sf_dir)
    # the testdata lineitem carries duplicate (l_orderkey,
    # l_linenumber) pairs (harmless to the parquet twins — no key
    # constraint, and rebuilds read the full snapshot); a DATABASE
    # primary key rejects them, so mint a deterministic per-duplicate
    # suffix. cents/updated_at are untouched — the gated revenue still
    # sums every physical row, duplicates included.
    dedup_w = Window.partitionBy("li_id").orderBy("cents")
    v1 = {
        "orders": frames["orders"].where(F.col("o_orderkey") % 20 == 0),
        "customer": frames["customer"],
        "lineitem": frames["lineitem"]
        .where(F.col("l_orderkey") % 20 == 0)
        .withColumn(
            "li_id",
            F.col("li_id") * 100 + F.row_number().over(dedup_w),
        ),
    }
    counts = {}
    for name in v1:  # S7 DDL bootstrap + the cursor index
        pg_copy.pg_exec(dsn, f"CREATE TABLE {name} ({_PG_DDL[name]})")
        pg_copy.pg_exec(
            dsn, f"CREATE INDEX ON {name} (updated_at, {_PG_KEYS[name]})"
        )
        pg_copy.pg_copy_load(v1[name], dsn, name)
        counts[name] = int(
            pg_copy.pg_exec(dsn, f"SELECT count(*) FROM {name}").strip()
        )
    # bucket count from the REAL staged relation sizes
    nb = buckets_for(int(pg_copy.pg_exec(
        dsn,
        "SELECT " + " + ".join(
            f"pg_total_relation_size('{n}')" for n in v1
        ),
    ).strip()))

    def rd(sql: str, schema: str) -> DataFrame:
        return pg_copy.pg_copy_read(spark, dsn, sql, schema)

    def _framed_reads(ids: list, reads) -> list[DataFrame]:  # noqa: ANN001
        """All of one cycle's restricted reads in ONE psql spawn:
        id staging (above stage_threshold) + every COPY read + the
        stage DROP ride a single sentinel-framed script
        (pg_copy.pg_copy_read_script) — per-read psql spawn+connect
        was ~3× the useful server work at CDC batch sizes. ``reads``
        is a list of (sql_template, ddl_schema) where the template
        holds ``{frag}`` for the IN-list body."""
        frag, prelude, epilogue, stage = pg_copy.id_restriction_script(
            ids, stage_threshold
        )
        try:
            return pg_copy.pg_copy_read_script(
                spark, dsn,
                [(sql.format(frag=frag), schema) for sql, schema in reads],
                prelude=prelude, epilogue=epilogue,
            )
        except BaseException:
            if stage is not None:
                # the script died before its DROP epilogue — don't
                # leak the stage table for the cluster's lifetime.
                # BEST-EFFORT: if the original failure was a dead
                # connection/cluster this DROP fails too, and letting
                # it raise would mask the original error.
                try:
                    pg_copy.pg_exec(dsn, f"DROP TABLE IF EXISTS {stage}")
                except Exception:
                    pass
            raise

    def bridge_custkeys(picked: DataFrame) -> DataFrame:
        # the reference collects exactly this bounded id list into an
        # IN clause (daemon.py:139-152); above stage_threshold the
        # ids go through an UNLOGGED staged table instead — the
        # server-side hash semi-join that survives large fan-outs
        ks = [r.id for r in picked.collect()]
        (affected,) = _framed_reads(ks, [(
            "SELECT DISTINCT o_orderkey AS id FROM orders "
            "WHERE o_custkey IN ({frag})",
            "id long",
        )])
        return affected

    def pg_rebuild(_load, ids: DataFrame) -> DataFrame:  # noqa: ANN001
        idl = [r.id for r in ids.collect()]
        # one spawn for stage + all three restricted reads + drop;
        # pg_copy_read_script is eager, so every read lands while the
        # staged table is alive
        o_df, c_df, li_df = _framed_reads(idl, [
            (
                "SELECT o_orderkey, o_custkey, o_orderpriority "
                "FROM orders WHERE o_orderkey IN ({frag})",
                "o_orderkey long, o_custkey long, "
                "o_orderpriority string",
            ),
            (
                "SELECT c_custkey, c_name FROM customer "
                "WHERE c_custkey IN (SELECT o_custkey FROM "
                "orders WHERE o_orderkey IN ({frag}))",
                "c_custkey long, c_name string",
            ),
            (
                "SELECT li_id, l_orderkey, cents FROM lineitem "
                "WHERE l_orderkey IN ({frag})",
                "li_id long, l_orderkey long, cents long",
            ),
        ])
        tables = {"orders": o_df, "customer": c_df, "lineitem": li_df}
        return _rebuild_docs(tables.__getitem__, ids)

    return {
        "counts": counts, "nb": nb, "rd": rd,
        "bridge_custkeys": bridge_custkeys, "rebuild": pg_rebuild,
    }


def _pg_live_mutate(dsn: str) -> None:
    """The CDC writes as LIVE SQL UPDATEs, stamped strictly after
    every phase-A timestamp."""
    from etl_sprint_2_5_spark.sources import pg_copy

    t1 = dt.datetime.fromtimestamp(_T1, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    pg_copy.pg_exec(
        dsn,
        "UPDATE customer SET c_name = upper(c_name), "
        f"updated_at = TIMESTAMP '{t1}' WHERE c_custkey % 10 = 0",
    )
    pg_copy.pg_exec(
        dsn,
        "UPDATE orders SET o_orderpriority = 'MUTATED', "
        f"updated_at = TIMESTAMP '{t1}' WHERE o_orderkey % 13 = 0",
    )


@query(
    "streaming_ivm_pg_live",
    oracle=_PG_LIVE_ORACLE,
    covers=("T1", "S2", "X-ivm-stream-live", "X-pg-live",
            "X-pg-stream-source"),
)
def streaming_ivm_pg_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live-PG CDC scenario under STRUCTURED STREAMING with a real
    custom streaming SOURCE: sources/pg_stream.PgKeysetDataSource (the
    PySpark-4 Python DataSource API) turns the reference daemon's
    keyset poll (daemon.py:90-129,537-542) into a first-class
    micro-batch source — the composite ``(updated_at, id)`` cursor IS
    the stream offset, persisted in Spark's checkpoint; each
    micro-batch's interval is tiled into id-sliced partitions read as
    concurrent COPY streams ON THE EXECUTORS.

    Same staged-into-PostgreSQL star schema, same pushed-down fan-out
    / restricted rebuild / manifest sink as the batch twin
    (``_pg_live_env``), same live SQL UPDATEs between phases — but the
    cursor discipline is now Spark's: phase A drains each table's
    stream under availableNow (Spark wraps the Python source for
    Trigger.AvailableNow), phase B REOPENS each stream from its
    checkpoint, which must consume exactly the mutated rows.
    ``phase_b_rows`` (the resumed queries' own foreachBatch counts)
    rides the gate, sharing the batch twin's from-scratch oracle: a
    checkpoint that replayed phase A or missed an update breaks the
    hash. This closes the last seam between the reference topology
    and the Spark-native one: live database, live mutations, Spark-
    owned offsets, streaming execution."""
    import os

    from etl_sprint_2_5_spark.sources import pg_copy
    from etl_sprint_2_5_spark.sources.pg_stream import PgKeysetDataSource
    from etl_sprint_2_5_spark.streaming.structured import (
        stream_pipeline_from,
    )

    spark.dataSource.register(PgKeysetDataSource)
    with streaming_gate(spark, "streaming_ivm_pg_live") as gate:
        os.chmod(gate.dir, 0o755)  # the nobody-owned cluster must traverse it
        gold = f"{gate.dir}/gold/docs"
        with pg_copy.ephemeral_pg(f"{gate.dir}/cluster") as dsn:
            env = _pg_live_env(spark, sf_dir, dsn)
            pipelines = {
                p.name: p
                for p in _docs_pipelines(
                    gold, env["nb"], rebuild=env["rebuild"],
                    bridge_fn=env["bridge_custkeys"],
                )
            }
            counters: dict[str, list] = {n: [] for n in pipelines}

            def drain(name: str) -> None:
                stream = (
                    spark.readStream.format("pg_keyset")
                    .option("dsn", dsn)
                    .option("table", name)
                    .option("tscol", "updated_at")
                    .option("idcol", _PG_KEYS[name])
                    .option("readschema", _FEED_SCHEMAS[name])
                    .option("slices", "2")
                    .load()
                )
                stream_pipeline_from(
                    spark, pipelines[name], stream, _no_pg_load,
                    gate.checkpoint(name), row_counter=counters[name],
                )

            for name in pipelines:  # phase A: stream backfill
                drain(name)
            phase_a = sum(sum(c) for c in counters.values())
            _pg_live_mutate(dsn)  # the CDC writes: LIVE SQL UPDATEs
            for name in pipelines:  # phase B: resumed from checkpoint
                drain(name)
            consumed_b = sum(sum(c) for c in counters.values()) - phase_a
            return _docs_view(spark, gold, consumed_b)


@query(
    "streaming_pg_nulls_live",
    oracle="""
    WITH final AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 3 THEN NULL
                  WHEN doc_id % 5 = 0 THEN NULL
                  WHEN doc_id % 5 = 1 THEN ''
                  ELSE text END AS txt,
             CASE WHEN doc_id % 10 = 6 THEN 'xx'
                  WHEN doc_id % 7 = 0 THEN NULL
                  ELSE lang END AS lang_n,
             CASE WHEN doc_id % 10 = 3 THEN NULL
                  WHEN doc_id % 11 = 0 THEN NULL
                  ELSE n_chars END AS n_chars_n
      FROM documents
    )
    SELECT doc_id, txt, lang_n, n_chars_n,
           CAST((SELECT count(*) FROM documents) AS BIGINT)
               AS phase_a_rows,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 10 IN (3, 6))
                AS BIGINT) AS phase_b_rows
    FROM final
    ORDER BY doc_id
    """,
    covers=("X-pg-stream-nulls",),
)
def streaming_pg_nulls_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL fidelity through the LIVE streaming CDC path, end to end:
    stage the documents table into live PostgreSQL with deterministic
    NULL *and empty-string* cells (txt: every 5th NULL, every
    5th+1 '' — the seam COPY csv must keep apart), drain it through
    sources/pg_stream.PgKeysetDataSource into the keyed manifest
    sink, then apply LIVE UPDATEs that CREATE new NULLs (txt/
    n_chars_n := NULL) and OVERWRITE staged NULLs with values
    (lang_n := 'xx') — the resumed stream must carry both directions.

    What the hash gates that the unit test
    (test_pg_stream_range_tiling_and_nulls) cannot: the full
    composition — COPY-out text framing (``\\N`` vs ``""``), the
    executor-side typed conversion (NULL bigint next to NULL text),
    Arrow batch assembly, the manifest sink's parquet round-trip and
    bucket merge — against a DuckDB oracle computing the same final
    state from the parquet source. ``phase_a_rows``/``phase_b_rows``
    pin the offset discipline (reference rows with nullable columns:
    postgres_init.sql:15,18 — creation_date/rating)."""
    import os

    from etl_sprint_2_5_spark.sources import pg_copy
    from etl_sprint_2_5_spark.sources.pg_stream import PgKeysetDataSource
    from etl_sprint_2_5_spark.streaming.sink import (
        upsert_keyed_parquet_bucketed,
    )

    spark.dataSource.register(PgKeysetDataSource)
    with streaming_gate(spark, "streaming_pg_nulls_live") as gate:
        os.chmod(gate.dir, 0o755)  # the nobody-owned cluster must traverse it
        view = f"{gate.dir}/view"
        with pg_copy.ephemeral_pg(f"{gate.dir}/cluster") as dsn:
            pg_copy.pg_exec(
                dsn,
                "CREATE TABLE docs_n (doc_id bigint PRIMARY KEY, "
                "txt text, lang_n text, n_chars_n bigint, "
                "updated_at timestamp)",
            )
            pg_copy.pg_exec(
                dsn, "CREATE INDEX ON docs_n (updated_at, doc_id)"
            )
            staged = load_table(spark, "documents", sf_dir).select(
                "doc_id",
                F.when(F.col("doc_id") % 5 == 0, F.lit(None))
                .when(F.col("doc_id") % 5 == 1, F.lit(""))
                .otherwise(F.col("text"))
                .alias("txt"),
                F.when(F.col("doc_id") % 7 == 0, F.lit(None))
                .otherwise(F.col("lang"))
                .alias("lang_n"),
                F.when(F.col("doc_id") % 11 == 0, F.lit(None))
                .otherwise(F.col("n_chars"))
                .alias("n_chars_n"),
                _ts(F.lit(_T0) + (F.col("doc_id") % 3) * 60)
                .alias("updated_at"),
            )
            pg_copy.pg_copy_load(staged, dsn, "docs_n")

            counters: list[int] = []

            def drain() -> None:
                stream = (
                    spark.readStream.format("pg_keyset")
                    .option("dsn", dsn)
                    .option("table", "docs_n")
                    .option("tscol", "updated_at")
                    .option("idcol", "doc_id")
                    .option(
                        "readschema",
                        "doc_id long, txt string, lang_n string, "
                        "n_chars_n long, updated_at timestamp",
                    )
                    .option("slices", "2")
                    .load()
                )

                def commit(b, _eid) -> None:  # noqa: ANN001
                    b = b.drop("updated_at").persist()
                    counters.append(b.count())
                    upsert_keyed_parquet_bucketed(
                        spark, b, view, "doc_id", n_buckets=8
                    )
                    b.unpersist()

                gate.drain(stream.writeStream.foreachBatch(commit))

            drain()  # phase A: full backfill through the stream
            phase_a = sum(counters)
            t1 = dt.datetime.fromtimestamp(
                _T1, dt.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S")
            pg_copy.pg_exec(  # live CDC writes, both NULL directions
                dsn,
                "UPDATE docs_n SET txt = NULL, n_chars_n = NULL, "
                f"updated_at = TIMESTAMP '{t1}' WHERE doc_id % 10 = 3; "
                "UPDATE docs_n SET lang_n = 'xx', "
                f"updated_at = TIMESTAMP '{t1}' WHERE doc_id % 10 = 6",
            )
            drain()  # phase B: resumed from checkpoint
            phase_b = sum(counters) - phase_a

            out = (
                read_bucketed_view(spark, view)
                .select("doc_id", "txt", "lang_n", "n_chars_n")
                .withColumn("phase_a_rows", F.lit(phase_a).cast("bigint"))
                .withColumn("phase_b_rows", F.lit(phase_b).cast("bigint"))
                .orderBy("doc_id")
            )
            return materialize_release(out)
