"""Incremental view maintenance driver — the reference CDC daemon in
Spark terms (SURVEY.md §2.8, §3.2, §7 phase 5).

The reference runs 7 coroutine pipelines, each: keyset-scan a source
table after its cursor → map changed rows to affected document ids →
rebuild those documents with the lateral-join query → bulk-upsert to
ES → advance the cursor (/root/reference/postgres_to_es/
daemon.py:90-129,132-152,155-200,426-535).

Here each pipeline is a config over ordinary Catalyst plans, and every
caller runs ONE change-apply core, :func:`apply_changes`:

- **fan-out** (J7/J8) = changed rows → affected doc ids, either a
  column pluck or a broadcast semi-join through the bridge table;
  the members' fan-outs execute once per call and the distinct ids
  are collected into a driver-local frame (the reference's
  collected id list, ``WHERE id = ANY(:ids)``, daemon.py:195; a
  backfill-sized set stays cached on the executors instead);
- **rebuild** = the gold builder restricted by that id set (J6) —
  same code as the full build, so incremental == batch by
  construction;
- **sink** = idempotent upsert by doc id (T3), retried with bounded
  backoff (T6); the bucketed sink probes its touched buckets over the
  same id set.

The callers own where changed rows come from and where the cursor
lives. :func:`run_round` is the batch daemon's round: read each
member's keyset batch (S2/P6: composite (ts, id) cursor predicate,
pushable into the parquet/JDBC scan), count and tail every member's
batch in ONE aggregation, apply, and only then advance the
offsets (T2's commit-after-sink ordering, daemon.py:118-129) ⇒ a
crash anywhere re-delivers an already-upserted batch: no loss, no
duplicates. ``structured.stream_pipeline_from`` calls the same core
from ``foreachBatch`` with Spark's checkpoint as the cursor.

:func:`run_to_completion` loads each source table once per call (one
snapshot per table per drain — sources are quiescent during a drain).
The streaming path keeps its caller's loader: a long-running stream
is not quiescent between micro-batches.

Unlike the reference's one-batch-per-poll quirk (T8, max 500 rows/s),
``run_to_completion`` drains the full backlog — a documented superset.
"""

from __future__ import annotations

import datetime as dt
import logging
import time
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators.keyset import keyset_batch
from etl_sprint_2_5_spark.streaming.sink import (
    recover_swap,
    swap_in,
    upsert_keyed_parquet,
    upsert_keyed_parquet_bucketed,
)
from etl_sprint_2_5_spark.streaming.state import OffsetStore

log = logging.getLogger(__name__)

TableLoader = Callable[[str], DataFrame]  # table name -> current snapshot
Rebuild = Callable[[TableLoader, DataFrame], DataFrame]  # (tables, ids) -> docs


@dataclass
class FanOut:
    """Changed source rows → affected document ids (J7/J8).

    ``id_field``: column of the changed row carrying the doc key
    (identity for the fact table itself, the FK for bridge rows).
    ``bridge``/``join_field``/``select_field``: for dimension changes,
    route through the bridge: docs whose bridge row references a
    changed dim id (get_table_ids_by_join, daemon.py:139-152).
    """

    id_field: str = "id"
    bridge: str | None = None
    join_field: str | None = None
    select_field: str | None = None
    # optional source-native bridge pushdown: given the distinct
    # changed-id frame (bounded by batch_size — the reference daemon
    # collects exactly this list into an IN clause,
    # daemon.py:139-152), returns the affected doc-id frame. Set when
    # the bridge lives in an external database (live PG) so the
    # dimension fan-out runs on the SOURCE planner and only the
    # affected ids cross the wire, instead of shipping the bridge
    # table per cycle.
    bridge_fn: Callable[[DataFrame], DataFrame] | None = None

    def affected_ids(self, changed: DataFrame, load: TableLoader) -> DataFrame:
        picked = changed.select(F.col(self.id_field).alias("id")).distinct()
        if self.bridge is None:
            return picked
        if self.bridge_fn is not None:
            return self.bridge_fn(picked)
        b = load(self.bridge)
        return (
            b.join(F.broadcast(picked), b[self.join_field] == picked.id, "left_semi")
            .select(F.col(self.select_field).alias("id"))
            .distinct()
        )


@dataclass
class Pipeline:
    """One maintenance pipeline: source table → target doc view."""

    name: str
    source: str
    cursor_field: str
    id_field: str
    fanout: FanOut
    rebuild: Rebuild
    sink_path: str
    doc_key: str = "id"
    batch_size: int = 1000
    # >0 routes the sink through the bucket-pruned upsert
    # (upsert_keyed_parquet_bucketed): cost per cycle becomes
    # proportional to the buckets the CHANGE lands in, not the view —
    # the flat whole-view rewrite is untenable at 100 TB. 0 = flat.
    n_buckets: int = 0
    # 'rewrite' (default) pays O(touched buckets) per cycle; 'delta'
    # appends log-structured delta commits instead — O(batch) bytes
    # per cycle, merge-on-read — and folds the log back into bases
    # every ``compact_every`` upserts (0 = never inline; run
    # compact_bucketed_view on a maintenance schedule). The delta mode
    # is what a high-churn CDC cadence wants at 100 TB: a cycle that
    # touches one doc per bucket pays doc-size, not bucket-size, I/O.
    sink_mode: str = "rewrite"
    compact_every: int = 0
    # optional source-native keyset producer: (cursor_ts, cursor_id,
    # batch_size) -> bounded batch DataFrame. When set it replaces the
    # Spark-side keyset_batch over ``load(source)`` — the cursor
    # predicate + ORDER BY + LIMIT run on the SOURCE's planner (live
    # PostgreSQL via COPY, the reference daemon's own query shape,
    # daemon.py:110-117), so one cycle ships only the batch over the
    # wire, never the table.
    batch_fn: Callable[[object, object, int], DataFrame] | None = None
    _delta_upserts: int = 0

    def upsert(
        self,
        spark: SparkSession,
        docs: DataFrame,
        probe_keys: DataFrame | None = None,
    ) -> None:
        """``probe_keys``: the affected-id frame the rebuild was
        restricted by — a guaranteed superset of ``docs``' keys, so
        the bucketed sink can probe touched buckets over this cheap
        bounded frame instead of executing the (join/agg-heavy)
        rebuild plan an extra time. The sink checks the superset
        contract structurally (stray staged buckets abort the
        commit with a ValueError), so a rebuild that ever emitted an
        out-of-set key fails loudly and at once, not lose rows."""
        if self.sink_mode == "delta":
            from etl_sprint_2_5_spark.streaming.sink import (
                compact_bucketed_view,
                upsert_keyed_parquet_delta,
            )

            upsert_keyed_parquet_delta(
                spark, docs, self.sink_path, self.doc_key,
                self.n_buckets or 16,
            )
            self._delta_upserts += 1
            if (
                self.compact_every > 0
                and self._delta_upserts % self.compact_every == 0
            ):
                compact_bucketed_view(spark, self.sink_path)
        elif self.n_buckets > 0:
            upsert_keyed_parquet_bucketed(
                spark, docs, self.sink_path, self.doc_key, self.n_buckets,
                probe_keys=probe_keys,
            )
        else:
            upsert_keyed_parquet(spark, docs, self.sink_path, self.doc_key)

    def read_view(self, spark: SparkSession) -> DataFrame:
        from etl_sprint_2_5_spark.streaming.sink import (
            read_bucketed_view,
            read_view,
        )

        if self.n_buckets > 0 or self.sink_mode == "delta":
            return read_bucketed_view(spark, self.sink_path)
        return read_view(spark, self.sink_path)


def with_backoff(
    fn: Callable[[], None],
    retries: int = 5,
    start: float = 0.1,
    factor: float = 2.0,
    border: float = 10.0,
) -> None:
    """Capped exponential backoff around a remote call — the bounded
    version of the reference's retry wrapper (postgres_to_es/
    utils.py:19-53: 0.1 s start, ×2, 10 s cap; infinite there, bounded
    here so a dead sink fails the cycle loudly instead of hanging the
    daemon). Safe to combine with commit-after-sink: a retried
    delivery re-runs the idempotent upsert, so effects stay
    exactly-once and the offset still advances exactly once.

    ``ValueError`` is re-raised at once: the sink raises it for
    contract violations (key mismatch, rejected type change, pending
    deltas, a probe that is not a superset of the batch's keys) that
    no retry can cure, so sleeping through the schedule would only
    delay the error."""
    delay = start
    for attempt in range(retries + 1):
        try:
            return fn()
        except ValueError:
            raise
        except Exception:  # noqa: BLE001 — transient sink/IO errors
            if attempt == retries:
                raise
            time.sleep(min(delay, border))
            delay *= factor
    return None


def snapshot_loader(load: TableLoader) -> TableLoader:
    """``load`` memoized by table name: each table is loaded once and
    every later request gets the same frame. Exact only while the
    sources are quiescent (one drain); it saves the directory listing
    and footer job of every repeated ``spark.read.parquet`` (the keyset
    producer, the bridge fan-out and each rebuild's tables ask again
    and again)."""
    frames: dict[str, DataFrame] = {}

    def snapshot(name: str) -> DataFrame:
        if name not in frames:
            frames[name] = load(name)
        return frames[name]

    return snapshot


# Affected-id sets up to this size are held as a driver-local relation;
# larger ones are cached on the executors. Every consumer of a
# LocalTableScan ships its rows with its tasks, which outgrows a cached
# scan at tens of thousands of rows (a touched-bucket probe and two
# broadcast semi-joins over 20k ids: 0.7 s local against 0.5 s cached;
# over 150k ids: 2.8 s against 0.9 s; 4-core host). Below it the local
# set spares the job that fills a cache.
LOCAL_IDS_MAX = 10_000


def _materialize(spark: SparkSession, ids: DataFrame) -> DataFrame:
    """Execute ``ids`` and return a frame its consumers read without
    executing the fan-out again: up to :data:`LOCAL_IDS_MAX` rows, a
    driver-local relation (the rows go from the executors to the driver
    JVM and stay there — no Python round trip); above it, ``ids``
    cached, so the fan-out executes once more, to fill the cache. The
    caller unpersists the result when done (a no-op for the local
    relation)."""
    jdf = ids._jdf
    # a plain collect: capping it with a LIMIT costs more Spark jobs
    # (incremental partition scans) than the rows it saves
    rows = jdf.collectAsList()
    if rows.size() > LOCAL_IDS_MAX:
        return ids.persist()
    local = spark._jsparkSession.createDataFrame(rows, jdf.schema())
    return DataFrame(local, spark)


def apply_changes(
    spark: SparkSession,
    members: list[tuple[Pipeline, DataFrame]],
    load: TableLoader,
) -> None:
    """The one change-apply core: changed rows → affected ids → ONE
    restricted rebuild → ONE idempotent upsert.

    ``members`` pairs each pipeline with its changed-rows frame; all
    members share one :func:`_merge_key` (same sink, same rebuild), so
    the group pays one rebuild and one sink commit over the union of
    the members' affected ids (guide §1.2: remove redundant passes).
    Result-identical to applying the members one by one:
    rebuild(ids_a ∪ ids_b) row-for-row equals rebuild(ids_a) upserted
    then rebuild(ids_b) upserted — sources are quiescent while a round
    runs, and overlapping ids rebuild to the same row either way.

    The affected-id set is materialized ONCE per call
    (:func:`_materialize`): the members' fan-outs execute once and the
    distinct ids are collected into a driver-local frame, the reference
    daemon's collected id list (``WHERE id = ANY(:ids)``,
    daemon.py:195,266,316) — or, above :data:`LOCAL_IDS_MAX` ids (a
    backfill), a cached frame. The rebuild's restrictions and the
    bucketed sink's touched-bucket probe then read the materialized
    set; none of them re-runs the fan-out or its bridge scans. Every
    consumer already broadcasts or collects these ids, and the set is
    bounded by the members' batch sizes, so collecting it on the driver
    adds no new memory bound. Cursors stay with the caller, which must
    advance them only after this returns."""
    p = members[0][0]
    parts = [m.fanout.affected_ids(changed, load) for m, changed in members]
    ids = reduce(DataFrame.unionByName, parts)
    if len(parts) > 1:
        ids = ids.distinct()
    ids = _materialize(spark, ids)
    try:
        docs = p.rebuild(load, ids)
        # T6: transient sink failures are retried with capped backoff;
        # only a still-failing sink aborts. ids rides along as the
        # touched-bucket probe hint: the rebuild restricted docs to
        # exactly these ids, so the sink probes the materialized id set
        # and executes the rebuild plan only once — inside the merge
        # write (the sink checks the superset contract)
        with_backoff(lambda: p.upsert(spark, docs, probe_keys=ids))
    finally:
        ids.unpersist()


def _heads(batches: list[tuple[Pipeline, DataFrame]]) -> list[tuple]:
    """ONE aggregation over every member's batch, yielding each
    member's consumed-row count and cursor tail: the max over the
    composite (ts, id) — struct comparison is lexicographic, identical
    to ORDER BY ts DESC, id DESC LIMIT 1. The members' batches are
    unioned with one tail column per member (NULL in the other members'
    rows), so members whose cursor or id types differ still share the
    aggregation and each tail keeps its own type and ordering. Returns
    one ``(n, tail)`` pair per member, aligned with ``batches``."""
    tails = [
        F.struct(
            F.col(p.cursor_field).alias("ts"), F.col(p.id_field).alias("id")
        )
        for p, _ in batches
    ]
    types = [
        b.select(t).schema[0].dataType for (_, b), t in zip(batches, tails)
    ]
    tagged = [
        b.select(*[
            (t if j == i else F.lit(None).cast(types[j])).alias(f"t{j}")
            for j, t in enumerate(tails)
        ])
        for i, (_, b) in enumerate(batches)
    ]
    head = reduce(DataFrame.unionByName, tagged).agg(*[
        agg
        for j in range(len(batches))
        for agg in (F.count(f"t{j}"), F.max(f"t{j}"))
    ]).first()
    return [(head[2 * j], head[2 * j + 1]) for j in range(len(batches))]


def run_round(
    spark: SparkSession,
    plist: list[Pipeline],
    load: TableLoader,
    offsets: OffsetStore,
) -> list[int]:
    """One drain round for a group of pipelines sharing one
    :func:`_merge_key`: each member reads its bounded keyset batch
    after its cursor, ONE aggregation (:func:`_heads`) counts and
    tails every batch, the non-empty ones go through ONE
    :func:`apply_changes`, and only after it returned do their cursors
    advance (T2) — a sink failure leaves every member's offset unmoved
    and the whole round re-delivers, idempotently. Returns the
    per-member consumed-row counts, aligned with ``plist``."""
    cached: list[DataFrame] = []
    try:
        for p in plist:
            ts, last_id = offsets.get(p.name)
            if p.batch_fn is not None:
                batch = p.batch_fn(ts, last_id, p.batch_size)
            else:
                batch = keyset_batch(
                    load(p.source), p.cursor_field, p.id_field, ts,
                    last_id, p.batch_size,
                )
            # cache: the batch feeds the head aggregation AND the
            # fan-out; bounded by batch_size so it is safely
            # materializable. Registered for release before the head
            # aggregation runs, so a failing one cannot leak it.
            cached.append(batch.cache())
        heads = _heads(list(zip(plist, cached)))
        live = [
            (p, batch, tail)
            for p, batch, (n, tail) in zip(plist, cached, heads)
            if n
        ]
        if live:
            apply_changes(spark, [(p, b) for p, b, _ in live], load)
            # T2: cursors advance only after the sink returned
            for p, _, tail in live:
                ts_val = tail["ts"]
                if isinstance(ts_val, str):
                    ts_val = dt.datetime.fromisoformat(ts_val)
                offsets.set(p.name, ts_val, tail["id"])
        return [n for n, _ in heads]
    finally:
        for batch in cached:
            batch.unpersist()


def run_cycle(
    spark: SparkSession,
    p: Pipeline,
    load: TableLoader,
    offsets: OffsetStore,
) -> int:
    """One micro-batch for one pipeline; returns rows consumed."""
    return run_round(spark, [p], load, offsets)[0]


def _merge_key(p: Pipeline) -> tuple:
    """The drain group a pipeline belongs to: pipelines with equal keys
    run as one :func:`run_round` — one rebuild and one sink commit per
    round. Equal means the same sink (path/key/bucketing/mode) and the
    same rebuild function OBJECT (``id(p.rebuild)``: equivalent but
    distinct closures do not merge; ``run_to_completion`` logs that
    case). A delta-mode pipeline gets a key of its own: its compaction
    cadence is counted in UPSERTS (compact_every), so collapsing a
    round's k upserts into one would shift when the log folds back into
    bases (the mixed base+delta final state the delta gate exists to
    cross)."""
    if p.sink_mode == "delta":
        return (id(p),)
    return (p.sink_path, p.doc_key, p.n_buckets, p.sink_mode, id(p.rebuild))


def _warn_missed_merges(pipelines: list[Pipeline]) -> None:
    """Log the same-sink pipelines that do not merge only because their
    rebuild functions are distinct objects."""
    builders: dict[tuple, dict[int, list[str]]] = {}
    for p in pipelines:
        if p.sink_mode != "delta":
            sink = _merge_key(p)[:-1]  # the key minus rebuild identity
            builders.setdefault(sink, {}).setdefault(
                id(p.rebuild), []
            ).append(p.name)
    for sink, by_rebuild in builders.items():
        if len(by_rebuild) > 1:
            log.warning(
                "pipelines %s share sink %s but not one rebuild function "
                "object, so they do not merge: each rebuild function "
                "pays its own rebuild and sink commit per round",
                [n for names in by_rebuild.values() for n in names],
                sink[0],
            )


def run_to_completion(
    spark: SparkSession,
    pipelines: list[Pipeline],
    load: TableLoader,
    offsets: OffsetStore,
    max_cycles: int = 10_000,
) -> int:
    """Drain every pipeline until all report an empty batch.

    Equivalent to the daemon's poll loop (daemon.py:537-542) with
    Trigger.AvailableNow semantics instead of one-batch-per-poll.

    Every pipeline belongs to exactly one group keyed by
    :func:`_merge_key`; each round calls :func:`run_round` once per
    group that still has undrained members, so a group of k same-sink
    pipelines pays one rebuild and one sink commit per round, not k
    (the reference daemon's five movies coroutines write one index the
    same way). Singleton groups — delta-mode pipelines, views with one
    feeding pipeline — are the plain per-pipeline cycle.

    Short-circuit: a member that consumed FEWER rows than its
    batch_size proves the keyset scan is past the last row — the
    producer is ``ORDER BY (ts, id) LIMIT batch_size``, so a partial
    batch means nothing remains after the advanced cursor. That
    pipeline is not re-polled within THIS drain (sources are
    quiescent during a drain — the CDC writes land between calls),
    which removes the confirm-empty cycle per pipeline (a full
    keyset-scan plan + aggregation job each). The drained set is
    per-call: the next call re-polls everything, so post-drain
    mutations are picked up.

    One snapshot per table per call: ``load`` is wrapped by
    :func:`snapshot_loader`, so each table name is loaded at most once
    per call and every round, fan-out and rebuild of the drain reads
    the same frame — exact under the same quiescence. The next call
    loads afresh, so it sees the writes that landed in between."""
    load = snapshot_loader(load)
    groups: dict[tuple, list[int]] = {}
    for i, p in enumerate(pipelines):
        groups.setdefault(_merge_key(p), []).append(i)
    _warn_missed_merges(pipelines)
    total = 0
    drained: set[int] = set()
    for _ in range(max_cycles):
        for members in groups.values():
            alive = [i for i in members if i not in drained]
            if not alive:
                continue
            counts = run_round(
                spark, [pipelines[i] for i in alive], load, offsets
            )
            for i, n in zip(alive, counts):
                total += n
                if n < pipelines[i].batch_size:
                    drained.add(i)
        if len(drained) == len(pipelines):
            return total
    raise RuntimeError("IVM did not converge within max_cycles")


def agg_delta(
    old_rows: DataFrame,
    new_rows: DataFrame,
    group_cols: list[str],
    measure_cols: list[str],
) -> DataFrame:
    """Retraction deltas for an incrementally-maintained AGGREGATE
    view (the Flink-style retract/add pair Spark has no native
    operator for): every changed row contributes (-1, -old measures)
    under its OLD group key and (+1, +new measures) under its NEW one
    — so group moves, measure changes, and rows that do both are all
    one uniform arithmetic. Returns one row per (group, ±image) with
    ``_dn`` (count delta) and ``d_<measure>`` columns, ready to merge
    with ``merge_agg_state``. Input frames carry only the CHANGED
    rows (before- and after-images), never the base table."""
    neg = old_rows.select(
        *group_cols,
        F.lit(-1).cast("long").alias("_dn"),
        *[(-F.col(m)).cast("long").alias(f"d_{m}") for m in measure_cols],
    )
    pos = new_rows.select(
        *group_cols,
        F.lit(1).cast("long").alias("_dn"),
        *[F.col(m).cast("long").alias(f"d_{m}") for m in measure_cols],
    )
    return neg.unionByName(pos)


def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    measure_cols: list[str],
) -> DataFrame:
    """Apply an ``agg_delta`` batch to the aggregate state: full-outer
    merge on the group key, sums coalesced, groups whose count reaches
    zero dropped (the retraction that empties a group must REMOVE it —
    the correctness detail naive incremental sums get wrong). A group
    whose count would go NEGATIVE is a protocol violation — a retract
    for a row the state never absorbed (misordered changelog batches,
    a skipped insert batch) — and raises loudly instead of being
    silently dropped, so the root cause surfaces instead of a
    confusing downstream hash mismatch. At scale this is one
    co-partitioned shuffle on the group key; on a real cluster the
    state table is Delta/Iceberg and this is the MERGE."""
    d = delta.groupBy(*group_cols).agg(
        F.sum("_dn").alias("_dn"),
        *[F.sum(f"d_{m}").alias(f"d_{m}") for m in measure_cols],
    )
    n_new = F.coalesce("n_rows", F.lit(0)) + F.coalesce("_dn", F.lit(0))
    merged = state.join(d, group_cols, "full_outer").select(
        *group_cols,
        F.when(
            n_new < 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        "merge_agg_state: group count went negative "
                        "(retract without matching insert — misordered "
                        "or dropped changelog batch?) for group "
                    ),
                    # coalesce each key to the literal 'NULL': concat_ws
                    # SKIPS nulls, which would silently drop the null
                    # position ("a/b" for ("a", NULL, "b")) and lose the
                    # group identity the error exists to surface
                    F.concat_ws(
                        "/",
                        *[
                            F.coalesce(F.col(c).cast("string"), F.lit("NULL"))
                            for c in group_cols
                        ],
                    ),
                )
            ).cast("long"),
        )
        .otherwise(n_new)
        .alias("n_rows"),
        *[
            (F.coalesce(m, F.lit(0)) + F.coalesce(f"d_{m}", F.lit(0))).alias(m)
            for m in measure_cols
        ],
    )
    return merged.where(F.col("n_rows") > 0)


def apply_agg_delta_batch(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    group_cols: list[str],
    measure_cols: list[str],
    batch_id: int,
) -> bool:
    """Exactly-once application of one changelog micro-batch to the
    aggregate state at ``path``. Deltas are NOT idempotent (applying
    a retract/add pair twice double-counts), so at-least-once
    delivery needs a transactional guard: the applied-batch id lives
    in a ledger file INSIDE the state directory and moves atomically
    with the data in one directory swap — a replayed foreachBatch
    (same batch_id after crash recovery) reads the ledger and skips.
    This is the standard foreachBatch exactly-once recipe
    (batch-id-keyed transactional write), with the keyed-parquet
    directory swap as the transaction. Returns True if applied,
    False if skipped as a duplicate.

    Completeness is gated on the LEDGER file, not Spark's _SUCCESS
    marker: a delta application is only complete once the
    applied-batch id sits INSIDE the new directory, because promoting
    a merged state without its ledger would let a replayed batch
    re-apply non-idempotent deltas (double-count).

    Why this keeps the rename-swap while the corpus-sized bucketed
    sink moved to manifest commits (sink.py): aggregate state is
    GROUP-CARDINALITY-sized (thousands of rows, one small directory),
    so the whole-state rewrite the swap implies is already the cheap
    path, there is nothing to bucket-prune, and the heal covers every
    crash window. Contract: the swap depends on POSIX rename atomicity
    — this ledger layout is for real filesystems ONLY. On an object
    store the same ledger rides the manifest sink unchanged (the
    ledger becomes a manifest field; see sink.py's module docstring
    for the routing rule)."""
    import json
    import os

    recover_swap(path, marker="_ledger.json")
    ledger = os.path.join(path, "_ledger.json")
    if os.path.exists(ledger):
        with open(ledger) as f:
            if batch_id <= json.load(f)["last_batch"]:
                return False
    if os.path.exists(path):
        state = spark.read.parquet(path)
    else:
        # empty state with types inherited from the delta schema
        state = delta.select(
            *group_cols,
            F.col("_dn").alias("n_rows"),
            *[F.col(f"d_{m}").alias(m) for m in measure_cols],
        ).limit(0)
    merged = merge_agg_state(state, delta, group_cols, measure_cols)
    tmp = path + ".swap"
    # materialize BEFORE touching the target (merged reads the target)
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_ledger.json"), "w") as f:
        json.dump({"last_batch": batch_id}, f)
    # ledger now inside tmp → tmp is provably complete from here on
    swap_in(path)
    return True
