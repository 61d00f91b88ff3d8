"""Data-quality / profiling queries with exact DuckDB oracles.

Warehouse-side generalization of the reference's row-level input
validation (postgres_to_es/models.py pydantic models;
sqlite_to_postgresql/etl.py per-row coercion): instead of validating
rows in flight, profile whole columns and audit group sizes
declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators.profile import (
    k_anonymity_audit,
    profile_columns,
)
from etl_sprint_2_5_spark.plans.registry import materialize_release, query
from etl_sprint_2_5_spark.sources.parquet import load_table
from etl_sprint_2_5_spark.streaming.gate import streaming_gate, write_feed

_ORDER_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c})   AS n_distinct
        FROM orders"""
        for c in _ORDER_COLS
    ]
    return (
        "\n UNION ALL \n".join(parts) + "\n ORDER BY column_name"
    )


@query(
    "column_profile",
    oracle=_profile_oracle(),
    covers=("X-profile-columns",),
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-count + exact distinct-count profile of every orders
    column in ONE aggregate pass (the DuckDB oracle is the UNION ALL
    of six per-column scans — same answer, six passes; the engine
    plan is the one you want at 100 TB). ``exact=False`` swaps HLL
    approx_count_distinct for the mergeable fixed-memory variant."""
    o = load_table(spark, "orders", sf_dir)
    return profile_columns(o, _ORDER_COLS).orderBy("column_name")


@query(
    "k_anonymity_groups",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           count(*) AS group_size,
           CAST(CASE WHEN count(*) < 10 THEN 1 ELSE 0 END AS BIGINT)
             AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
    covers=("X-profile-kanon",),
)
def k_anonymity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over (nation, segment) quasi-identifiers:
    every equivalence class with its size and an at-risk flag
    (size < 10). One map-side-combinable groupBy — the audit cost
    is a count aggregate regardless of table size."""
    c = load_table(spark, "customer", sf_dir)
    return k_anonymity_audit(c, ("c_nationkey", "c_mktsegment"), k=10).orderBy(
        "c_nationkey", "c_mktsegment"
    )


def _cms_probes(
    table: str, key_sql: str, width: int, depth: int, salt: str, carry: str = ""
) -> str:
    """One salted-md5 probe row per (depth row, source row) — the
    oracle side of operators/sketch.cms_build's cell hashing; ``carry``
    appends columns kept beside each probe."""
    parts = [
        f"""
        SELECT {d} AS row,
               ('0x' || substr(md5('{salt}:{d}:' || {key_sql}), 1, 15))::BIGINT
                 % {width} AS bucket{carry}
        FROM {table}"""
        for d in range(depth)
    ]
    return "\n UNION ALL \n".join(parts)


# the 4x512 event-type sketch and its point queries (the batch gate
# and its streaming twin build the identical sketch)
_CMS_EVENT_TYPE_ORACLE = f"""
    WITH probes AS ({_cms_probes(
        "events", "event_type", 512, 4, "cms-v1", carry=", event_type"
    )}),
    cells AS (
      SELECT row, bucket, count(*) AS n
      FROM probes GROUP BY row, bucket
    ),
    key_probes AS (
      SELECT DISTINCT row, bucket, event_type FROM probes
    )
    SELECT p.event_type, CAST(min(c.n) AS BIGINT) AS est_count
    FROM key_probes p JOIN cells c USING (row, bucket)
    GROUP BY p.event_type
    ORDER BY p.event_type
    """


@query(
    "cms_event_type_estimates",
    oracle=_CMS_EVENT_TYPE_ORACLE,
    covers=("X-sketch-cms",),
)
def cms_event_type_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch end-to-end, oracle-checked: build the 4×512
    sketch over the event-type stream in one combinable pass, then
    point-query every observed key (min over the key's 4 cells). The
    sketch itself — not just its estimates — is deterministic because
    the hash rows are salted md5, so the DuckDB oracle rebuilds the
    identical cell table. CMS guarantees est ≥ true; with 5 distinct
    keys and width 512 there are no collisions, so est == true here
    (the bound tests in tests/test_sketch.py cover the collision
    regime)."""
    from etl_sprint_2_5_spark.operators.sketch import cms_build, cms_estimate

    ev = load_table(spark, "events", sf_dir)
    sketch = cms_build(ev, "event_type", width=512, depth=4)
    keys = ev.select("event_type").distinct()
    return cms_estimate(sketch, keys, "event_type", width=512, depth=4).orderBy(
        "event_type"
    )


@query(
    "expectation_audit",
    oracle="""
    SELECT 'lineitem_discount_range' AS check_name,
           (SELECT count(*) FROM lineitem) AS n_checked,
           count(*) AS n_violations
    FROM lineitem WHERE l_discount < 0 OR l_discount > 0.1
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT count(*) FROM lineitem),
           count(*)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_pk_unique',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem)
             - (SELECT count(*) FROM
                 (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
    UNION ALL
    SELECT 'lineitem_quantity_range',
           (SELECT count(*) FROM lineitem),
           count(*)
    FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
    UNION ALL
    SELECT 'orders_custkey_fk_customer',
           (SELECT count(*) FROM orders),
           count(*)
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'orders_orderkey_unique',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders)
             - (SELECT count(DISTINCT o_orderkey) FROM orders)
    UNION ALL
    SELECT 'orders_totalprice_positive',
           (SELECT count(*) FROM orders),
           count(*)
    FROM orders WHERE o_totalprice <= 0
    ORDER BY check_name
    """,
    covers=("P8", "X-profile-expectations"),
)
def expectation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite over the warehouse (the public
    Deequ/Great-Expectations shape; warehouse-side descendant of the
    reference's per-row pydantic validation, postgres_to_es/models.py):
    uniqueness, referential integrity, and range constraints audited
    as whole-table counts — check_name, n_checked, n_violations.

    Each range/uniqueness check folds into one aggregate over its
    table's scan (count + conditional count + count-distinct share
    one pass), and each FK check is a broadcast-able anti-join
    projected to the key column only; the seven result rows union on
    the driver. At 100x nothing changes: no check moves row data —
    only per-check counters — and a violation SAMPLE (first k
    offending keys) would bolt onto the same scans via a limit."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    F_ = F

    def one(name: str, checked, violations) -> DataFrame:
        return checked.crossJoin(violations).select(
            F_.lit(name).alias("check_name"),
            F_.col("n_checked"),
            F_.col("n_violations"),
        )

    li_n = li.agg(F_.count(F_.lit(1)).alias("n_checked"))
    o_n = o.agg(F_.count(F_.lit(1)).alias("n_checked"))
    checks = [
        one(
            "lineitem_discount_range",
            li_n,
            li.where(
                (F_.col("l_discount") < 0) | (F_.col("l_discount") > 0.1)
            ).agg(F_.count(F_.lit(1)).alias("n_violations")),
        ),
        one(
            "lineitem_fk_orders",
            li_n,
            li.select("l_orderkey")
            .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
            .agg(F_.count(F_.lit(1)).alias("n_violations")),
        ),
        one(
            "lineitem_pk_unique",
            li_n,
            li.agg(
                (
                    F_.count(F_.lit(1))
                    - F_.countDistinct("l_orderkey", "l_linenumber")
                ).alias("n_violations")
            ),
        ),
        one(
            "lineitem_quantity_range",
            li_n,
            li.where(
                (F_.col("l_quantity") < 1) | (F_.col("l_quantity") > 50)
            ).agg(F_.count(F_.lit(1)).alias("n_violations")),
        ),
        one(
            "orders_custkey_fk_customer",
            o_n,
            o.select("o_custkey")
            .join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")
            .agg(F_.count(F_.lit(1)).alias("n_violations")),
        ),
        one(
            "orders_orderkey_unique",
            o_n,
            o.agg(
                (F_.count(F_.lit(1)) - F_.countDistinct("o_orderkey")).alias(
                    "n_violations"
                )
            ),
        ),
        one(
            "orders_totalprice_positive",
            o_n,
            o.where(F_.col("o_totalprice") <= 0).agg(
                F_.count(F_.lit(1)).alias("n_violations")
            ),
        ),
    ]
    out = checks[0]
    for df in checks[1:]:
        out = out.unionAll(df)
    return out.orderBy("check_name")


@query(
    "table_content_checksum",
    oracle="""
    WITH canon AS (
      SELECT l_orderkey % 16 AS bucket,
             ('0x' || substr(md5(
                l_orderkey::VARCHAR || ':' || l_partkey::VARCHAR || ':'
                || l_suppkey::VARCHAR || ':' || l_linenumber::VARCHAR || ':'
                || CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)::VARCHAR
             ), 1, 15))::BIGINT % 1000000007 AS h
      FROM lineitem
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           count(*)               AS n_rows,
           CAST(sum(h) AS BIGINT) AS checksum
    FROM canon
    GROUP BY bucket
    ORDER BY bucket
    """,
    covers=("X-profile-checksum",),
)
def table_content_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per key bucket — the
    anti-entropy primitive for replica/backfill comparison (compare
    16 checksums instead of 6M rows; a mismatched bucket localizes
    the diff to 1/16th of the keyspace, recursing to a Merkle
    drill-down at scale). Each row is canonically serialized from
    INTEGER fields only (price goes through the cents fixed-point,
    so no float formatting crosses the hash), md5'd, folded to
    BIGINT mod 1e9+7, and SUMMED — commutative, so partition order,
    shuffle order, and engine never change the checksum. One scan,
    one 16-key aggregate; the map side pre-reduces everything."""
    li = load_table(spark, "lineitem", sf_dir)
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    canon = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        cents.cast("string"),
    )
    h = (
        F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
        % 1000000007
    )
    return (
        li.select(
            (F.col("l_orderkey") % 16).cast("bigint").alias("bucket"),
            h.alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").cast("bigint").alias("checksum"),
        )
        .orderBy("bucket")
    )


def _hll_oracle_ctes(b: int, slice_pred: str = "TRUE") -> str:
    """Shared oracle CTE text rebuilding the HLL registers in DuckDB:
    identical hash (salted md5 → 60-bit int), bucket (low b bits),
    rank (W+1−bitlength via bin()), and register max as
    operators/sketch.py hll_build."""
    m = 1 << b
    wmax = 60 - b + 1
    return f"""
      SELECT event_type,
             hv & {m - 1} AS bucket,
             max(CASE WHEN hv >> {b} = 0 THEN {wmax}
                      ELSE {wmax} - length(bin(hv >> {b})) END) AS reg
      FROM (
        SELECT event_type,
               ('0x' || substr(md5('hll-v1:' || CAST(user_id AS VARCHAR)),
                               1, 15))::BIGINT AS hv
        FROM events WHERE {slice_pred}
      )
      GROUP BY event_type, bucket"""


def _hll_oracle_est(regs_cte: str, b: int, key: str = "event_type") -> str:
    """Harmonic-sum SQL over a registers CTE — same exact int64 sum
    as hll_estimate (absent buckets contribute 2^(W+1)) — per ``key``,
    or over the whole CTE when ``key`` is empty."""
    m = 1 << b
    wmax = 60 - b + 1
    sel, grp = (f"{key},", f" GROUP BY {key}") if key else ("", "")
    return f"""
      SELECT {sel}
             CAST({m} - count(*) AS BIGINT) AS n_zero_regs,
             CAST(sum((1::BIGINT << ({wmax} - reg)))
                  + CAST({m} - count(*) AS BIGINT) * (1::BIGINT << {wmax})
                  AS BIGINT) AS harmonic_num
      FROM {regs_cte}{grp}"""


def _hll_day_regs(b: int) -> str:
    """:func:`_hll_oracle_ctes`' registers per calendar day."""
    m = 1 << b
    wmax = 60 - b + 1
    return f"""
      SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
               AS day_num,
             hv & {m - 1} AS bucket,
             max(CASE WHEN hv >> {b} = 0 THEN {wmax}
                      ELSE {wmax} - length(bin(hv >> {b})) END) AS reg
      FROM (
        SELECT ts,
               ('0x' || substr(md5('hll-v1:' || CAST(user_id AS VARCHAR)),
                               1, 15))::BIGINT AS hv
        FROM events
      )
      GROUP BY 1, 2"""


_HLL_B = 6  # m = 64 registers: rse ≈ 13%, small enough that sf0.01
#             (150 distinct users/type) exercises the ln small-range
#             branch while sf0.1+ (1.5k+) takes the raw-estimate path


def _hll_oracle_final(b: int) -> str:
    from etl_sprint_2_5_spark.operators.sketch import hll_est_milli_sql

    # est_milli: raw branch = identical-IEEE-division, small-range
    # branch = the SAME precomputed integer table as the Spark plan
    # (hll_small_milli) — no libm in either engine at gate time
    return f"""
    WITH regs AS ({_hll_oracle_ctes(b)}),
    agg AS ({_hll_oracle_est('regs', b)}),
    fin AS (
      SELECT event_type, n_zero_regs, harmonic_num,
             {hll_est_milli_sql(b)} AS est_milli
      FROM agg
    ),
    ex AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT f.event_type, e.exact_distinct, f.n_zero_regs, f.harmonic_num,
           f.est_milli
    FROM fin f JOIN ex e USING (event_type)
    ORDER BY f.event_type
    """


@query(
    "hll_user_estimates",
    oracle=_hll_oracle_final(_HLL_B),
    covers=("X-sketch-hll",),
)
def hll_user_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type, oracle-checked
    REGISTER-FOR-REGISTER: the salted-md5 hash makes the whole sketch
    deterministic, so the DuckDB oracle rebuilds the identical 64
    registers and the identical integer harmonic sum — the gate pins
    the estimator itself, not just a tolerance band. exact_distinct
    rides along (a second aggregate) so the row also shows the error.

    Scale shape: ONE map-side-combinable groupBy builds the registers
    (≤ m rows per group cross the shuffle per task, however many
    petabytes are scanned); the estimate is a 64-row-per-group
    aggregate. The exact count distinct, by contrast, shuffles every
    distinct (type,user) pair — the sketch is the 100-TB path, the
    exact column is the audit."""
    from etl_sprint_2_5_spark.operators.sketch import hll_build, hll_estimate

    ev = load_table(spark, "events", sf_dir)
    regs = hll_build(ev, "user_id", group_cols=("event_type",), b=_HLL_B)
    est = hll_estimate(regs, ("event_type",), b=_HLL_B)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            "n_zero_regs",
            "harmonic_num",
            "est_milli",
        )
        .orderBy("event_type")
    )


def _hll_slice_oracle(b: int) -> str:
    from etl_sprint_2_5_spark.operators.sketch import hll_est_milli_sql

    est_milli = hll_est_milli_sql(b)
    return f"""
    WITH regs0 AS ({_hll_oracle_ctes(b, 'event_id % 2 = 0')}),
    regs1 AS ({_hll_oracle_ctes(b, 'event_id % 2 = 1')}),
    merged AS (
      SELECT event_type, bucket, max(reg) AS reg
      FROM (SELECT * FROM regs0 UNION ALL SELECT * FROM regs1)
      GROUP BY event_type, bucket
    ),
    direct AS ({_hll_oracle_ctes(b)}),
    a0 AS ({_hll_oracle_est('regs0', b)}),
    a1 AS ({_hll_oracle_est('regs1', b)}),
    am AS ({_hll_oracle_est('merged', b)}),
    ad AS ({_hll_oracle_est('direct', b)}),
    e0 AS (SELECT event_type, {est_milli} AS s0_est_milli FROM a0),
    e1 AS (SELECT event_type, {est_milli} AS s1_est_milli FROM a1),
    em AS (SELECT event_type, harmonic_num AS merged_harmonic,
                  {est_milli} AS merged_est_milli FROM am),
    ed AS (SELECT event_type, harmonic_num AS direct_harmonic FROM ad)
    SELECT e0.event_type, s0_est_milli, s1_est_milli, merged_est_milli,
           merged_harmonic = direct_harmonic AS merged_equals_direct
    FROM e0 JOIN e1 USING (event_type)
            JOIN em USING (event_type)
            JOIN ed USING (event_type)
    ORDER BY e0.event_type
    """


@query(
    "hll_sliced_merge",
    oracle=_hll_slice_oracle(_HLL_B),
    covers=("X-sketch-hll-merge",),
)
def hll_sliced_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability, gated: sketch two disjoint row-slices of the
    event stream (event_id parity — the stand-in for days/partitions
    of a 100 TB table), MERGE by register-wise max, and check the
    merged sketch is bit-identical to sketching the union directly
    (merged_equals_direct gates TRUE via the exact integer harmonic
    num). Slice estimates ride along to show merge is NOT addition —
    users active in both halves are counted once.

    This is the property that makes the sketch a partial aggregate:
    per-partition registers fold with max, so a rolling corpus can
    keep per-day sketches and answer any date-range distinct query
    without rescanning."""
    from etl_sprint_2_5_spark.operators.sketch import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    ev = load_table(spark, "events", sf_dir)
    s0 = ev.where(F.col("event_id") % 2 == 0)
    s1 = ev.where(F.col("event_id") % 2 == 1)
    regs0 = hll_build(s0, "user_id", group_cols=("event_type",), b=_HLL_B)
    regs1 = hll_build(s1, "user_id", group_cols=("event_type",), b=_HLL_B)
    merged = hll_merge(regs0, regs1)
    direct = hll_build(ev, "user_id", group_cols=("event_type",), b=_HLL_B)

    def _est(regs, prefix):
        out = hll_estimate(regs, ("event_type",), b=_HLL_B)
        return out.select(
            "event_type",
            F.col("est_milli").alias(f"{prefix}_est_milli"),
            F.col("harmonic_num").alias(f"{prefix}_harmonic"),
        )

    e0 = _est(regs0, "s0").drop("s0_harmonic")
    e1 = _est(regs1, "s1").drop("s1_harmonic")
    em = _est(merged, "merged")
    ed = _est(direct, "direct").select("event_type", "direct_harmonic")
    return (
        e0.join(e1, "event_type")
        .join(em, "event_type")
        .join(ed, "event_type")
        .select(
            "event_type",
            "s0_est_milli",
            "s1_est_milli",
            "merged_est_milli",
            (F.col("merged_harmonic") == F.col("direct_harmonic")).alias(
                "merged_equals_direct"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_hll_estimates",
    oracle=_hll_oracle_final(_HLL_B),
    covers=("X-stream-hll",),
)
def streaming_hll_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of hll_user_estimates — and the payoff of
    sketch-as-plain-rows: the HLL registers are maintained by Spark's
    NATIVE stateful aggregation (groupBy(type, bucket).max(rho) in
    complete mode), no custom state store code. Per-group state is
    bounded at m rows forever — the sketch is the fixed-memory
    distinct counter you can actually leave running on an unbounded
    stream, where the exact countDistinct twin would grow state
    without bound. The stream arrives as two micro-batches (event_id
    parity, maxFilesPerTrigger=1), so the second trigger folds new
    ranks into live register state; the gate pins the drained
    registers to the SAME batch oracle as hll_user_estimates —
    streaming and batch converge on the identical sketch.

    The exact_distinct audit column is computed batch-side (it exists
    to show the error, not to stream)."""
    from etl_sprint_2_5_spark.operators.sketch import (
        _hll_hash,
        hll_estimate,
    )
    from etl_sprint_2_5_spark.plans.events_queries import bounded_state_shuffle

    b = _HLL_B
    m = 1 << b
    w_bits = 60 - b
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "event_type")
    with streaming_gate(spark, "streaming_hll_estimates") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(feed, *(ev.where(F.col("event_id") % 2 == h) for h in (0, 1)))
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        h = _hll_hash("user_id", "hll-v1")
        w = F.shiftright(h, b)
        rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
            F.lit(w_bits + 1) - F.length(F.bin(w))
        )
        regs = (
            stream.select(
                "event_type",
                h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
                rho.alias("rho"),
            )
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("reg"))
        )
        # state key space = event_type × m registers (≤ ~16 types in
        # the fixture domain; the bound only sizes the state shuffle)
        with bounded_state_shuffle(spark, 16 * m):
            drained = gate.to_memory(regs, "complete")
        est = hll_estimate(drained, ("event_type",), b=b)
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_distinct")
        )
        out = (
            est.join(exact, "event_type")
            .select(
                "event_type",
                "exact_distinct",
                "n_zero_regs",
                "harmonic_num",
                "est_milli",
            )
            .orderBy("event_type")
        )
        return materialize_release(out)


def _hll_pair_oracle(b: int) -> str:
    from etl_sprint_2_5_spark.operators.sketch import hll_est_milli_sql

    def est_of(cte: str) -> str:
        return f"""
        SELECT {hll_est_milli_sql(b)} AS v
        FROM ({_hll_oracle_est(cte, b, key="")}
        )"""

    return f"""
    WITH typed AS ({_hll_oracle_ctes(b, "event_type IN ('click', 'purchase')")}),
    ra AS (SELECT bucket, reg FROM typed WHERE event_type = 'click'),
    rb AS (SELECT bucket, reg FROM typed WHERE event_type = 'purchase'),
    ru AS (SELECT bucket, max(reg) AS reg FROM typed GROUP BY bucket),
    ea AS ({est_of('ra')}),
    eb AS ({est_of('rb')}),
    eu AS ({est_of('ru')}),
    ex AS (
      SELECT count(*) AS exact_intersection FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
      )
    )
    SELECT ea.v AS a_est_milli,
           eb.v AS b_est_milli,
           eu.v AS union_est_milli,
           ea.v + eb.v - eu.v AS inter_est_milli,
           exact_intersection
    FROM ea, eb, eu, ex
    """


@query(
    "hll_intersection_estimate",
    oracle=_hll_pair_oracle(_HLL_B),
    covers=("X-sketch-hll-setops",),
)
def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set-algebra: estimate the click∩purchase audience
    overlap by inclusion–exclusion over three HLL estimates
    (|A|+|B|−|A∪B|, union = register-wise max — audience-overlap is
    THE production use of mergeable cardinality sketches: per-segment
    sketches answer any pairwise overlap without rescanning either
    segment). The subtraction runs on the fixed-point milli integers,
    so the composite is exact integer arithmetic on top of the gated
    per-sketch estimates — deterministic across engines by
    construction. exact_intersection rides along as the audit; note
    inclusion–exclusion compounds the per-sketch error (and can go
    negative for tiny overlaps) — the numbers make the trade visible.

    Scale shape: ONE pass builds both typed sketches (groupBy
    type+bucket); union regs fold from the same ≤2m rows; the exact
    audit is the only part that shuffles user ids."""
    from etl_sprint_2_5_spark.operators.sketch import hll_build, hll_estimate

    b = _HLL_B
    ev = load_table(spark, "events", sf_dir)
    typed = ev.where(F.col("event_type").isin("click", "purchase"))
    regs = hll_build(typed, "user_id", group_cols=("event_type",), b=b)

    def est_of(r, name):
        return hll_estimate(r, (), b=b).select(
            F.col("est_milli").alias(name)
        )

    ea = est_of(regs.where(F.col("event_type") == "click").drop("event_type"), "a_est_milli")
    eb = est_of(regs.where(F.col("event_type") == "purchase").drop("event_type"), "b_est_milli")
    eu = est_of(
        regs.groupBy("bucket").agg(F.max("reg").alias("reg")), "union_est_milli"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id")
    ex = (
        clicks.intersect(buys)
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(ex)
        .select(
            "a_est_milli",
            "b_est_milli",
            "union_est_milli",
            (
                F.col("a_est_milli")
                + F.col("b_est_milli")
                - F.col("union_est_milli")
            ).alias("inter_est_milli"),
            "exact_intersection",
        )
    )


_DD_QS = (500, 900, 990)


def _dd_oracle(served: bool = False) -> str:
    """The integer-bucket histogram and its rank walk per quantile;
    ``served`` ends at the walk (dd_quantiles_served), the builder
    gates add the exact order-statistic audit."""
    qs = ", ".join(f"({q})" for q in _DD_QS)
    ranks = f"""
    WITH cents AS (
      SELECT l_returnflag AS g,
             CAST(floor(l_extendedprice * 100 + 0.5e0) AS BIGINT) AS c
      FROM lineitem
    ),
    sk AS (
      SELECT g,
             CASE WHEN c < 4 THEN c
                  ELSE (length(bin(c)) << 2)
                       | ((c >> (length(bin(c)) - 3)) & 3) END AS bucket_id,
             count(*) AS n
      FROM cents GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, bucket_id,
             sum(n) OVER (PARTITION BY g ORDER BY bucket_id) AS cum_n,
             sum(n) OVER (PARTITION BY g) AS total_n
      FROM sk
    ),
    ranks AS (
      SELECT c.g, q.q_milli,
             min(c.bucket_id) AS bucket_id,
             min((q.q_milli * c.total_n + 999) // 1000) AS rank_k
      FROM cum c CROSS JOIN (VALUES {qs}) q(q_milli)
      WHERE c.cum_n >= (q.q_milli * c.total_n + 999) // 1000
      GROUP BY c.g, q.q_milli
    )"""
    # the bucket's midpoint in thousandths of a cent
    mid = """CASE WHEN bucket_id < 4 THEN bucket_id * 1000
                  ELSE ((4 | (bucket_id & 3)) << ((bucket_id >> 2) - 3)) * 1000
                       + (1::BIGINT << ((bucket_id >> 2) - 3)) * 500
             END"""
    if served:
        return ranks + f"""
    SELECT g AS l_returnflag, q_milli,
           CAST(rank_k AS BIGINT) AS rank_k,
           CAST(bucket_id AS BIGINT) AS bucket_id,
           CAST({mid} AS BIGINT) AS est_milli
    FROM ranks
    ORDER BY l_returnflag, q_milli
    """
    return ranks + f""",
    est AS (
      SELECT g, q_milli, rank_k, bucket_id,
             {mid} AS est_milli
      FROM ranks
    ),
    numbered AS (
      SELECT g, c, row_number() OVER (PARTITION BY g ORDER BY c) AS rn
      FROM cents
    )
    SELECT e.g AS l_returnflag, e.q_milli,
           CAST(e.rank_k AS BIGINT) AS rank_k,
           CAST(e.bucket_id AS BIGINT) AS bucket_id,
           CAST(e.est_milli AS BIGINT) AS est_milli,
           n.c AS exact_cents,
           CAST((abs(e.est_milli - n.c * 1000) * 1000000)
                // (n.c * 1000) AS BIGINT) AS rel_err_ppm
    FROM est e JOIN numbered n ON n.g = e.g AND n.rn = e.rank_k
    ORDER BY l_returnflag, q_milli
    """


@query(
    "ddsketch_price_quantiles",
    oracle=_dd_oracle(),
    covers=("X-sketch-ddq",),
)
def ddsketch_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (third of the trio: CMS frequency,
    HLL cardinality, this one quantiles) — the public DDSketch /
    HdrHistogram idea with PURE-INTEGER log buckets: price cents map
    to (bitlength << 2 | top-2-sub-bits), 3 significant binary
    digits, so bucket width is 1/4 of its lower bound and the
    midpoint answer is within 12.5% relative error with NO libm op
    anywhere — the DuckDB oracle mirrors every bucket, rank, and
    midpoint bit-for-bit (rel_err_ppm makes the actual error, usually
    far under the bound, part of the gated row).

    Scale shape: the sketch is ONE map-side-combinable groupBy to
    ≤ ~256 cells per group — the p50/p90/p99 of a 100 TB fact column
    costs a counter histogram, not a sort. The exact order-statistic
    audit column is kept to gate the error, but computed
    BUCKET-NARROWED (dd_exact_rank): the sketch's own cumulative
    histogram locates each rank's bucket, a broadcast semi-join
    filters the scan to those ≤ 9 buckets, and the in-bucket window
    runs over distinct values — bounded by the bucket's integer
    width, independent of row count (the r14 full-table row_number
    audit was the one superlinear term in this plan; LINEARITY_r14
    row 2). Merge-by-addition (fold per-day histograms) is proven in
    tests/test_sketch.py."""
    from etl_sprint_2_5_spark.operators.sketch import (
        dd_build,
        dd_exact_rank,
        dd_quantile,
    )

    li = load_table(spark, "lineitem", sf_dir)
    cents = li.select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c"),
    )
    sk = dd_build(cents, "c", group_cols=("g",))
    est = dd_quantile(sk, _DD_QS, group_cols=("g",))
    out = dd_exact_rank(cents, "c", est, sk, group_cols=("g",)).select(
        F.col("g").alias("l_returnflag"),
        "q_milli",
        "rank_k",
        "bucket_id",
        "est_milli",
        F.col("exact").alias("exact_cents"),
        F.expr("(abs(est_milli - exact * 1000) * 1000000) div (exact * 1000)")
        .cast("long")
        .alias("rel_err_ppm"),
    )
    return out.orderBy("l_returnflag", "q_milli")


@query(
    "streaming_dd_quantiles",
    oracle=_dd_oracle(),
    covers=("X-stream-ddq",),
)
def streaming_dd_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ddsketch_price_quantiles — running p50/p90/p99
    over an unbounded stream with BOUNDED state, the latency-percentile
    dashboard shape. Like the HLL twin, the sketch needs no custom
    state code: the histogram is Spark's native stateful count
    aggregation (groupBy(flag, bucket_id).count in complete mode,
    ≤ ~256 rows per group forever). Two micro-batches (orderkey
    parity) prove counts fold across triggers; the drained histogram
    runs through the SAME dd_quantile evaluation and gates against
    the SAME oracle as the batch query — including the exact
    order-statistic audit (computed batch-side and bucket-narrowed
    via dd_exact_rank, like the batch twin; it exists to show the
    error, not to stream)."""
    from etl_sprint_2_5_spark.operators.sketch import (
        dd_exact_rank,
        dd_quantile,
    )
    from etl_sprint_2_5_spark.plans.events_queries import bounded_state_shuffle

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    with streaming_gate(spark, "streaming_dd_quantiles") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(
            feed, *(li.where(F.col("l_orderkey") % 2 == h) for h in (0, 1))
        )
        stream = (
            spark.readStream.schema(
                "l_orderkey long, l_returnflag string, l_extendedprice double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        cents_col = (
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        )
        bid = F.expr(
            "CASE WHEN c < 4 THEN c ELSE (length(bin(c)) << 2) "
            "| ((shiftright(c, length(bin(c)) - 3)) & 3) END"
        ).cast("long")
        sk = (
            stream.select(
                F.col("l_returnflag").alias("g"), cents_col.alias("c")
            )
            .select("g", bid.alias("bucket_id"))
            .groupBy("g", "bucket_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # state key space = l_returnflag (3-value TPC-H domain, bound
        # 4) × ≤ ~256 ddsketch bucket ids
        with bounded_state_shuffle(spark, 4 * 256):
            drained = materialize_release(gate.to_memory(sk, "complete"))
        est = dd_quantile(drained, _DD_QS, group_cols=("g",))
        cents = li.select(
            F.col("l_returnflag").alias("g"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        out = dd_exact_rank(
            cents, "c", est, drained, group_cols=("g",)
        ).select(
            F.col("g").alias("l_returnflag"),
            "q_milli",
            "rank_k",
            "bucket_id",
            "est_milli",
            F.col("exact").alias("exact_cents"),
            F.expr(
                "(abs(est_milli - exact * 1000) * 1000000) "
                "div (exact * 1000)"
            )
            .cast("long")
            .alias("rel_err_ppm"),
        ).orderBy("l_returnflag", "q_milli")
        return materialize_release(out)


def _cms_int_cells(table: str, key: str, width: int, depth: int, salt: str) -> str:
    probes = _cms_probes(table, f"CAST({key} AS VARCHAR)", width, depth, salt)
    return f"SELECT row, bucket, count(*) AS n FROM ({probes}) GROUP BY row, bucket"


_CMS_JOIN_W, _CMS_JOIN_D = 8192, 4


@query(
    "cms_join_size_estimate",
    oracle=f"""
    WITH sa AS ({_cms_int_cells('orders', 'o_custkey', _CMS_JOIN_W, _CMS_JOIN_D, 'cms-v1')}),
    sb AS ({_cms_int_cells('customer', 'c_custkey', _CMS_JOIN_W, _CMS_JOIN_D, 'cms-v1')}),
    dots AS (
      -- all depth rows participate: a row with no overlapping bucket
      -- has dot 0 (left join + coalesce), mirroring cms_inner_product
      SELECT r.row, CAST(coalesce(sum(sa.n * sb.n), 0) AS BIGINT) AS dot
      FROM (SELECT DISTINCT row FROM
              (SELECT row FROM sa UNION ALL SELECT row FROM sb)) r
      LEFT JOIN sa ON sa.row = r.row
      LEFT JOIN sb ON sb.row = sa.row AND sb.bucket = sa.bucket
      GROUP BY r.row
    ),
    est AS (SELECT CAST(coalesce(min(dot), 0) AS BIGINT) AS est_join_size
            FROM dots),
    ex AS (
      SELECT count(*) AS exact_join_size
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT est_join_size, exact_join_size,
           CAST(((est_join_size - exact_join_size) * 1000000)
                // exact_join_size AS BIGINT) AS over_ppm
    FROM est, ex
    """,
    covers=("X-sketch-cms-joinsize",),
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT running the join — the CMS
    inner product (Cormode & Muthukrishnan), the selectivity oracle a
    100 TB planner wants before committing to a shuffle strategy: two
    independent one-pass sketches of orders.o_custkey and
    customer.c_custkey, then Σ a·b per hash row, min over rows. Pure
    integer arithmetic end to end, so the DuckDB oracle reproduces
    the estimate bit-for-bit; the exact join count and the signed
    overcount (ppm) ride along — CMS inner product never
    undercounts, and its overcount scales as N_a·N_b/width (width
    8192 here; the docstring rule: size width ~ N_a·N_b / tolerable
    absolute error).

    Scale shape: each sketch is ONE map-side-combinable groupBy to
    ≤ depth·width cells; the dot product is a broadcast join of two
    tiny cell tables. The exact audit pays the real broadcast join —
    at toy scale that's cheap; at 100 TB it's exactly the cost the
    estimator exists to avoid."""
    from etl_sprint_2_5_spark.operators.sketch import (
        cms_build,
        cms_inner_product,
    )

    w, d = _CMS_JOIN_W, _CMS_JOIN_D
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    sa = cms_build(o, "o_custkey", width=w, depth=d)
    sb = cms_build(c, "c_custkey", width=w, depth=d)
    est = cms_inner_product(sa, sb, depth=d)
    ex = o.join(c, o["o_custkey"] == c["c_custkey"]).agg(
        F.count(F.lit(1)).alias("exact_join_size")
    )
    return est.crossJoin(ex).select(
        "est_join_size",
        "exact_join_size",
        F.expr(
            "((est_join_size - exact_join_size) * 1000000) div exact_join_size"
        )
        .cast("long")
        .alias("over_ppm"),
    )


@query(
    "streaming_cms_estimates",
    oracle=_CMS_EVENT_TYPE_ORACLE,
    covers=("X-stream-cms",),
)
def streaming_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cms_event_type_estimates — the last of the
    sketch trio's live forms (HLL = max-agg registers, DDSketch =
    count-agg histogram, CMS = count-agg cells): the 4×512 cell table
    is Spark's native stateful count aggregation in complete mode,
    state bounded at depth·width rows FOREVER however long the
    stream runs. Two micro-batches (event_id parity) fold cell counts
    across triggers; the drained cells run through the same broadcast
    point-query and gate against the batch query's oracle verbatim —
    streaming and batch build the identical sketch."""
    from etl_sprint_2_5_spark.operators.sketch import cms_estimate
    from etl_sprint_2_5_spark.plans.events_queries import bounded_state_shuffle

    width, depth, salt = 512, 4, "cms-v1"
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type")
    with streaming_gate(spark, "streaming_cms_estimates") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(feed, *(ev.where(F.col("event_id") % 2 == h) for h in (0, 1)))
        stream = (
            spark.readStream.schema("event_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        # same salted-md5 row hashes as cms_build
        def bucket(d: int):
            return (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"{salt}:{d}:"),
                                F.col("event_type").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % width
            )

        cells = (
            stream.select(
                F.posexplode(
                    F.array(*[bucket(d) for d in range(depth)])
                ).alias("row", "bucket")
            )
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # state key space = exactly depth × width CMS cells
        with bounded_state_shuffle(spark, depth * width):
            drained = gate.to_memory(cells, "complete")
        keys = ev.select("event_type").distinct()
        out = cms_estimate(
            drained, keys, "event_type", width=width, depth=depth, salt=salt,
        ).orderBy("event_type")
        return materialize_release(out)


def _hll_dau_oracle(b: int) -> str:
    from etl_sprint_2_5_spark.operators.sketch import hll_est_milli_sql

    return f"""
    WITH regs AS ({_hll_day_regs(b)}
    ),
    agg AS ({_hll_oracle_est('regs', b, key='day_num')}
    ),
    fin AS (
      SELECT day_num, n_zero_regs, harmonic_num,
             {hll_est_milli_sql(b)} AS est_milli
      FROM agg
    ),
    ex AS (
      SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
               AS day_num,
             count(DISTINCT user_id) AS exact_dau
      FROM events GROUP BY 1
    )
    SELECT f.day_num, e.exact_dau, f.n_zero_regs, f.harmonic_num,
           f.est_milli
    FROM fin f JOIN ex e USING (day_num)
    ORDER BY f.day_num
    """


@query(
    "hll_daily_active_users",
    oracle=_hll_dau_oracle(_HLL_B),
    covers=("X-sketch-hll-window",),
)
def hll_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch × event-time window composition — the DAU dashboard at
    100 TB: per calendar day, distinct users estimated from HLL
    registers grouped by (day, bucket). The per-day sketches are the
    thing a metrics store PERSISTS (m rows per day forever): any
    date-range distinct (WAU/MAU) folds from them by register max
    WITHOUT rescanning events, which no exact per-day count can do
    (distincts don't add). Same register-level oracle as the rest of
    the HLL family; exact_dau rides along as the audit.

    Scale shape: ONE map-side-combinable groupBy over (day, bucket) —
    ≤ m cells per day per task cross the shuffle; the exact audit is
    the (day, user) distinct shuffle the sketch replaces."""
    from etl_sprint_2_5_spark.operators.sketch import hll_build, hll_estimate

    ev = load_table(spark, "events", sf_dir)
    days = ev.select(
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000")
        .cast("long")
        .alias("day_num"),
        "user_id",
    )
    regs = hll_build(days, "user_id", group_cols=("day_num",), b=_HLL_B)
    est = hll_estimate(regs, ("day_num",), b=_HLL_B)
    exact = days.groupBy("day_num").agg(
        F.countDistinct("user_id").alias("exact_dau")
    )
    return (
        est.join(exact, "day_num")
        .select(
            "day_num", "exact_dau", "n_zero_regs", "harmonic_num", "est_milli"
        )
        .orderBy("day_num")
    )


def _hll_wau_oracle(b: int) -> str:
    from etl_sprint_2_5_spark.operators.sketch import hll_est_milli_sql

    return f"""
    WITH dayregs AS ({_hll_day_regs(b)}
    ),
    wk AS (
      SELECT day_num // 7 AS week_num, bucket, max(reg) AS reg
      FROM dayregs GROUP BY 1, 2
    ),
    agg AS ({_hll_oracle_est('wk', b, key='week_num')}
    ),
    fin AS (
      SELECT week_num, n_zero_regs, harmonic_num,
             {hll_est_milli_sql(b)} AS est_milli
      FROM agg
    ),
    ex AS (
      SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
               // 7 AS week_num,
             count(DISTINCT user_id) AS exact_wau
      FROM events GROUP BY 1
    )
    SELECT f.week_num, e.exact_wau, f.n_zero_regs, f.harmonic_num,
           f.est_milli
    FROM fin f JOIN ex e USING (week_num)
    ORDER BY f.week_num
    """


@query(
    "hll_weekly_active_users",
    oracle=_hll_wau_oracle(_HLL_B),
    covers=("X-sketch-hll-serving",),
)
def hll_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU SERVED FROM THE PERSISTED SKETCH ARTIFACT — the probe side
    of the metrics-store story hll_daily_active_users sets up: the
    per-day registers persist once per corpus
    (artifacts.prepared_hll_day_registers, fingerprint+ALGO_VERSION
    keyed like the ANN/dedup indexes) and any date-range distinct
    folds from them by register max. Here: epoch-weeks (day_num div
    7), m rows per day in → m rows per week out → one estimate per
    week. The events table is NOT rescanned on the sketch path — at
    100 TB that is the whole point (the exact_wau audit column pays
    the rescan the sketch replaces; at scale it's dropped, the gate
    keeps it to show the error). Register build is deterministic
    salted-md5, so the artifact is bit-identical to an inline build
    (tests/test_artifacts.py) and the DuckDB oracle — which always
    rebuilds inline — gates cell-for-cell either way."""
    from etl_sprint_2_5_spark.artifacts import prepared_hll_day_registers
    from etl_sprint_2_5_spark.operators.sketch import hll_estimate

    dayregs = prepared_hll_day_registers(spark, sf_dir, b=_HLL_B)
    wk = (
        dayregs.select(
            F.expr("day_num div 7").cast("long").alias("week_num"),
            "bucket",
            "reg",
        )
        .groupBy("week_num", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    est = hll_estimate(wk, ("week_num",), b=_HLL_B)
    ev = load_table(spark, "events", sf_dir)
    exact = (
        ev.select(
            F.expr(
                "unix_micros(date_trunc('day', ts)) div 86400000000 div 7"
            )
            .cast("long")
            .alias("week_num"),
            "user_id",
        )
        .groupBy("week_num")
        .agg(F.countDistinct("user_id").alias("exact_wau"))
    )
    return (
        est.join(exact, "week_num")
        .select(
            "week_num",
            "exact_wau",
            "n_zero_regs",
            "harmonic_num",
            "est_milli",
        )
        .orderBy("week_num")
    )


@query(
    "dd_quantiles_served",
    oracle=_dd_oracle(served=True),
    covers=("X-sketch-ddq-serving",),
)
def dd_quantiles_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles SERVED FROM THE PERSISTED HISTOGRAM ARTIFACT — the
    probe side of ddsketch_price_quantiles: the ≤ ~256-bucket-per-group
    integer histogram persists once per corpus
    (artifacts.prepared_dd_price_histogram) and every p50/p90/p99
    question after that is a cumulative-sum walk over the tiny cell
    table — the fact table is NOT rescanned and the O(n log n) exact
    audit sort (which the gated builder query keeps to show the
    error) is gone, which is the serving contract at 100 TB. All
    arithmetic is the same pure-integer rank/midpoint math as the
    builder, so the DuckDB oracle — rebuilding the histogram inline —
    gates bit-for-bit (build determinism proven in
    tests/test_artifacts.py)."""
    from etl_sprint_2_5_spark.artifacts import prepared_dd_price_histogram
    from etl_sprint_2_5_spark.operators.sketch import dd_quantile

    sk = prepared_dd_price_histogram(spark, sf_dir)
    return (
        dd_quantile(sk, _DD_QS, group_cols=("g",))
        .select(
            F.col("g").alias("l_returnflag"),
            "q_milli",
            "rank_k",
            "bucket_id",
            "est_milli",
        )
        .orderBy("l_returnflag", "q_milli")
    )


@query(
    "cms_join_size_served",
    oracle=f"""
    WITH sa AS ({_cms_int_cells('orders', 'o_custkey', _CMS_JOIN_W, _CMS_JOIN_D, 'cms-v1')}),
    sb AS ({_cms_int_cells('customer', 'c_custkey', _CMS_JOIN_W, _CMS_JOIN_D, 'cms-v1')}),
    dots AS (
      SELECT r.row, CAST(coalesce(sum(sa.n * sb.n), 0) AS BIGINT) AS dot
      FROM (SELECT DISTINCT row FROM
              (SELECT row FROM sa UNION ALL SELECT row FROM sb)) r
      LEFT JOIN sa ON sa.row = r.row
      LEFT JOIN sb ON sb.row = sa.row AND sb.bucket = sa.bucket
      GROUP BY r.row
    )
    SELECT CAST(coalesce(min(dot), 0) AS BIGINT) AS est_join_size
    FROM dots
    """,
    covers=("X-sketch-cms-serving",),
)
def cms_join_size_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimate SERVED FROM TWO PERSISTED CELL ARTIFACTS —
    the planner-facing form of cms_join_size_estimate: each side's
    depth×width counter table persists once per corpus
    (artifacts.prepared_cms_custkey_cells), and the estimate is a
    broadcast join of two tiny cell tables — NEITHER fact table is
    scanned at question time, and no exact audit join runs (the gated
    builder query keeps that audit; this is the serving path a 100 TB
    planner would actually call before choosing a shuffle strategy).
    Pure integer arithmetic; the oracle rebuilds both sketches inline
    and matches bit-for-bit."""
    from etl_sprint_2_5_spark.artifacts import prepared_cms_custkey_cells
    from etl_sprint_2_5_spark.operators.sketch import cms_inner_product

    w, d = _CMS_JOIN_W, _CMS_JOIN_D
    sa = prepared_cms_custkey_cells(
        spark, sf_dir, table="orders", key_col="o_custkey", width=w, depth=d
    )
    sb = prepared_cms_custkey_cells(
        spark, sf_dir, table="customer", key_col="c_custkey", width=w, depth=d
    )
    return cms_inner_product(sa, sb, depth=d)


def _kmv_sample(k: int, src: str, pred: str | None = None) -> str:
    """The bottom-k salted-md5 user-hash sample of ``src`` (the oracle
    side of operators/sketch.kmv_build), shared by every KMV oracle."""
    where = f" WHERE {pred}" if pred else ""
    return f"""
        SELECT hv FROM (
          SELECT DISTINCT ('0x' || substr(md5('kmv-v1:' ||
                 CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
          FROM {src}{where}
        ) ORDER BY hv LIMIT {k}"""


def _kmv_theta(k: int, cte: str) -> str:
    """One sample's size and θ (exact mode below k: θ = M)."""
    from etl_sprint_2_5_spark.operators.sketch import _KMV_M

    return f"""
          SELECT count(*) AS n_sample,
                 CASE WHEN count(*) >= {k} THEN max(hv)
                      ELSE {_KMV_M} END AS theta
          FROM {cte}"""


def _kmv_scaled(n: str, name: str, theta: str = "theta") -> str:
    """The fixed-point estimate ``n`` · M/θ in thousandths."""
    from etl_sprint_2_5_spark.operators.sketch import _KMV_M

    c_lit = float(1000 * _KMV_M)
    return (
        f"CAST(floor(({c_lit!r} * ({n})) / CAST({theta} AS DOUBLE) "
        f"+ 0.5e0) AS BIGINT) AS {name}"
    )


def _kmv_distinct_est(k: int, n: str, name: str, theta: str = "theta") -> str:
    """The single-sketch distinct estimate: (k−1)·M/θ once the sample
    is full, the exact count below k."""
    return _kmv_scaled(
        f"CASE WHEN {n} >= {k} THEN {n} - 1 ELSE {n} END", name, theta
    )


def _kmv_churn_oracle(k: int, audit: bool = True) -> str:
    """Week-over-week churn over the first two weeks' samples; ``audit``
    adds the exact EXCEPT/INTERSECT counts (the builder query keeps
    them, the served twin does not)."""
    from etl_sprint_2_5_spark.operators.sketch import _KMV_M

    def sample(pred: str) -> str:
        return _kmv_sample(k, "wk, bounds", pred)

    audit_ctes = audit_cols = audit_from = ""
    if audit:
        audit_ctes = """,
    ua AS (SELECT DISTINCT user_id FROM wk, bounds WHERE week_num = w0),
    ub AS (SELECT DISTINCT user_id FROM wk, bounds WHERE week_num = w0 + 1),
    ex AS (
      SELECT
        (SELECT count(*) FROM (SELECT * FROM ua EXCEPT SELECT * FROM ub))
          AS exact_churned,
        (SELECT count(*) FROM (SELECT * FROM ub EXCEPT SELECT * FROM ua))
          AS exact_new,
        (SELECT count(*) FROM (SELECT * FROM ua INTERSECT SELECT * FROM ub))
          AS exact_retained
    )"""
        audit_cols = """,
           exact_churned, exact_new, exact_retained"""
        audit_from = ", ex"

    return f"""
    WITH wk AS (
      SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
               // 7 AS week_num,
             user_id
      FROM events
    ),
    bounds AS (SELECT min(week_num) AS w0 FROM wk),
    ha AS ({sample('week_num = w0')}),
    hb AS ({sample('week_num = w0 + 1')}),
    st AS (
      SELECT least(
        CASE WHEN (SELECT count(*) FROM ha) >= {k}
             THEN (SELECT max(hv) FROM ha) ELSE {_KMV_M} END,
        CASE WHEN (SELECT count(*) FROM hb) >= {k}
             THEN (SELECT max(hv) FROM hb) ELSE {_KMV_M} END) AS theta
    ),
    tagged AS (
      SELECT hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT hv, 1 AS in_a, 0 AS in_b FROM ha
        UNION ALL SELECT hv, 0 AS in_a, 1 AS in_b FROM hb
      ) GROUP BY hv
    ),
    cnt AS (
      SELECT coalesce(sum(in_a), 0) AS n_a,
             coalesce(sum(in_b), 0) AS n_b,
             coalesce(sum(in_a * in_b), 0) AS n_inter
      FROM tagged, st WHERE hv < theta
    ){audit_ctes}
    SELECT theta,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           {_kmv_scaled('n_a - n_inter', 'churned_est_milli')},
           {_kmv_scaled('n_b - n_inter', 'new_est_milli')},
           {_kmv_scaled('n_inter', 'retained_est_milli')}{audit_cols}
    FROM st, cnt{audit_from}
    """


_KMV_K = 256


@query(
    "kmv_weekly_churn",
    oracle=_kmv_churn_oracle(_KMV_K),
    covers=("X-sketch-kmv",),
)
def kmv_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn by KMV/theta set algebra — the distinct
    DIFFERENCE estimator the HLL family cannot express (registers only
    merge by max: union yes, A\\B no). Two bottom-k sketches of the
    first two weeks' active users; churned = A\\B, new = B\\A,
    retained = A∩B, all counted on the uniform below-θ samples and
    scaled by M/θ (operators/sketch.kmv_set_estimates). The sample is
    deterministic salted-md5 bottom-k, so the DuckDB oracle rebuilds
    it HASH-FOR-HASH and the gate pins sample counts AND fixed-point
    estimates; the exact EXCEPT/INTERSECT audits ride along. Small
    weeks degrade gracefully to exact mode (θ = M, scale 1) — at
    sf0.01 the weekly actives sit near k so both regimes are
    exercised across the gate's scale factors.

    Scale shape: each sketch is one map-side-partial distinct plus a
    TakeOrdered bottom-k (every partition forwards ≤ k hashes);
    the set algebra runs on two ≤ k-row samples — the pair of
    EXCEPT/INTERSECT distinct shuffles it replaces is the audit."""
    from etl_sprint_2_5_spark.operators.sketch import (
        kmv_build,
        kmv_set_estimates,
    )

    ev = load_table(spark, "events", sf_dir)
    wk = ev.select(
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000 div 7")
        .cast("long")
        .alias("week_num"),
        "user_id",
    )
    bounds = wk.agg(F.min("week_num").alias("w0"))
    wa = wk.join(F.broadcast(bounds)).where(
        F.col("week_num") == F.col("w0")
    )
    wb = wk.join(F.broadcast(bounds)).where(
        F.col("week_num") == F.col("w0") + 1
    )
    est = kmv_set_estimates(
        kmv_build(wa, "user_id", k=_KMV_K),
        kmv_build(wb, "user_id", k=_KMV_K),
        k=_KMV_K,
    )
    ua, ub = wa.select("user_id").distinct(), wb.select("user_id").distinct()
    exact = (
        ua.join(ub, "user_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("exact_churned"))
        .crossJoin(
            ub.join(ua, "user_id", "left_anti").agg(
                F.count(F.lit(1)).alias("exact_new")
            )
        )
        .crossJoin(
            ua.join(ub, "user_id", "left_semi").agg(
                F.count(F.lit(1)).alias("exact_retained")
            )
        )
    )
    return est.crossJoin(exact).select(
        "theta",
        "n_a",
        "n_b",
        "n_inter",
        F.col("a_not_b_est_milli").alias("churned_est_milli"),
        F.col("b_not_a_est_milli").alias("new_est_milli"),
        F.col("inter_est_milli").alias("retained_est_milli"),
        "exact_churned",
        "exact_new",
        "exact_retained",
    )


def _kmv_slice_oracle(k: int) -> str:
    def sample(pred: str) -> str:
        return _kmv_sample(k, "events", pred)

    def est(cte: str, name: str) -> str:
        return f"""
        SELECT CAST(n_sample AS BIGINT) AS n_sample, theta,
               {_kmv_distinct_est(k, 'n_sample', name)}
        FROM ({_kmv_theta(k, cte)}
        )"""

    return f"""
    WITH h0 AS ({sample('event_id % 2 = 0')}),
    h1 AS ({sample('event_id % 2 = 1')}),
    merged AS (
      SELECT hv FROM (SELECT hv FROM h0 UNION SELECT hv FROM h1)
      ORDER BY hv LIMIT {k}
    ),
    direct AS ({sample('TRUE')}),
    e0 AS ({est('h0', 's0_est_milli')}),
    e1 AS ({est('h1', 's1_est_milli')}),
    em AS ({est('merged', 'union_est_milli')}),
    eq AS (
      SELECT ((SELECT count(*) FROM
                 (SELECT hv FROM merged EXCEPT SELECT hv FROM direct)) = 0
          AND (SELECT count(*) FROM
                 (SELECT hv FROM direct EXCEPT SELECT hv FROM merged)) = 0)
             AS merged_equals_direct
    ),
    ex AS (SELECT count(DISTINCT user_id) AS exact_union FROM events)
    SELECT e0.n_sample AS k_s0, e1.n_sample AS k_s1,
           em.n_sample AS k_merged, eq.merged_equals_direct,
           e0.s0_est_milli, e1.s1_est_milli, em.union_est_milli,
           ex.exact_union
    FROM e0, e1, em, eq, ex
    """


@query(
    "kmv_sliced_merge",
    oracle=_kmv_slice_oracle(_KMV_K),
    covers=("X-sketch-kmv-merge",),
)
def kmv_sliced_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV mergeability under the gate (the theta-sketch fold that
    lets per-day/per-slice bottom-k samples answer any date-range
    distinct): sketch two disjoint row-slices of the event stream
    (event_id parity — the stand-in for partitions of a 100 TB scan),
    MERGE by bottom-k of the union, and gate that the merged sample
    is HASH-FOR-HASH the sketch of the union (merged_equals_direct,
    via two EXCEPTs over the actual sample hashes — an element-level
    identity, not an estimate tolerance). Slice and union estimates
    ride along (merge is NOT addition: users active in both halves
    count once); exact_union is the audit. Companion to
    hll_sliced_merge — same fold property, and THIS sketch's samples
    additionally support the set differences kmv_weekly_churn uses."""
    from etl_sprint_2_5_spark.operators.sketch import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    ev = load_table(spark, "events", sf_dir)
    s0 = kmv_build(ev.where(F.col("event_id") % 2 == 0), "user_id", _KMV_K)
    s1 = kmv_build(ev.where(F.col("event_id") % 2 == 1), "user_id", _KMV_K)
    merged = kmv_merge(s0, s1, _KMV_K).cache()
    direct = kmv_build(ev, "user_id", _KMV_K)
    eq = (
        merged.join(direct, "hv", "left_anti")
        .agg(F.count(F.lit(1)).alias("d1"))
        .crossJoin(
            direct.join(merged, "hv", "left_anti").agg(
                F.count(F.lit(1)).alias("d2")
            )
        )
        .select(
            ((F.col("d1") == 0) & (F.col("d2") == 0)).alias(
                "merged_equals_direct"
            )
        )
    )
    e0 = kmv_estimate(s0, _KMV_K, "s0_est_milli").select(
        F.col("n_sample").alias("k_s0"), "s0_est_milli"
    )
    e1 = kmv_estimate(s1, _KMV_K, "s1_est_milli").select(
        F.col("n_sample").alias("k_s1"), "s1_est_milli"
    )
    em = kmv_estimate(merged, _KMV_K, "union_est_milli").select(
        F.col("n_sample").alias("k_merged"), "union_est_milli"
    )
    ex = ev.agg(F.countDistinct("user_id").alias("exact_union"))
    out = (
        e0.crossJoin(e1)
        .crossJoin(em)
        .crossJoin(eq)
        .crossJoin(ex)
        .select(
            "k_s0",
            "k_s1",
            "k_merged",
            "merged_equals_direct",
            "s0_est_milli",
            "s1_est_milli",
            "union_est_milli",
            "exact_union",
        )
    )
    return materialize_release(out, merged)


@query(
    "kmv_churn_served",
    oracle=_kmv_churn_oracle(_KMV_K, audit=False),
    covers=("X-sketch-kmv-serving",),
)
def kmv_churn_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn SERVED FROM THE PERSISTED PER-WEEK KMV
    SAMPLES — the serving twin of kmv_weekly_churn, same precedent as
    hll_weekly_active_users over the stored day registers: the events
    fact is NOT rescanned at question time. The artifact
    (artifacts.prepared_kmv_week_samples) stores bottom-k user-hash
    samples per week (≤ k rows/week forever); churn, new, and retained
    estimates fold from two of those ≤ k-row slices via
    operators/sketch.kmv_set_estimates. The per-week bottom-k IS
    kmv_build of that week's slice (the fold property kmv_sliced_merge
    gates), so the served estimates are bit-identical to the inline
    builder — tests/test_artifacts.py pins prepared == inline, and the
    DuckDB oracle (which always rebuilds from events) gates the exact
    fixed-point arithmetic. No exact-audit join here: the builder query
    keeps the audit; this is the path a 100 TB dashboard calls."""
    from etl_sprint_2_5_spark.artifacts import prepared_kmv_week_samples
    from etl_sprint_2_5_spark.operators.sketch import kmv_set_estimates

    sk = prepared_kmv_week_samples(spark, sf_dir, k=_KMV_K)
    bounds = sk.agg(F.min("week_num").alias("w0"))
    wa = sk.join(F.broadcast(bounds)).where(
        F.col("week_num") == F.col("w0")
    )
    wb = sk.join(F.broadcast(bounds)).where(
        F.col("week_num") == F.col("w0") + 1
    )
    est = kmv_set_estimates(
        wa.select("hv"), wb.select("hv"), k=_KMV_K
    )
    return est.select(
        "theta",
        "n_a",
        "n_b",
        "n_inter",
        F.col("a_not_b_est_milli").alias("churned_est_milli"),
        F.col("b_not_a_est_milli").alias("new_est_milli"),
        F.col("inter_est_milli").alias("retained_est_milli"),
    )


def _kmv_stream_oracle(k: int) -> str:
    return f"""
    WITH direct AS ({_kmv_sample(k, 'events')}
    ),
    e AS ({_kmv_theta(k, 'direct')}
    ),
    ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events)
    SELECT CAST(e.n_sample AS BIGINT) AS k_streamed,
           TRUE AS streamed_equals_direct,
           {_kmv_distinct_est(k, 'e.n_sample', 'est_milli', 'e.theta')},
           ex.exact_distinct
    FROM e, ex
    """


@query(
    "streaming_kmv_estimates",
    oracle=_kmv_stream_oracle(_KMV_K),
    covers=("X-stream-kmv",),
)
def streaming_kmv_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the KMV/theta sketch — completes the
    bounded-state streaming family (HLL: streaming_hll_estimates,
    CMS: streaming_cms_estimates, DD: streaming_dd_quantiles). The
    stream is sharded by hash-partition ``g = hv % P`` and each group
    maintains its bottom-k distinct-hash sample in the state store via
    applyInPandasWithState (streaming/stateful.kmv_bottomk_stream):
    state per group is ≤ k longs FOREVER, and the global sketch is the
    bottom-k of the union of the group samples — EXACTLY the batch
    sketch (any hash among the k smallest overall has < k smaller
    hashes globally, hence < k smaller within its own group — the KMV
    fold property, partition flavor). The gate pins that identity
    hash-for-hash (streamed_equals_direct vs the batch kmv_build) plus
    the fixed-point estimate against the DuckDB oracle's inline
    rebuild; exact_distinct is the batch-side audit. Two micro-batches
    (event_id parity, maxFilesPerTrigger=1) force a cross-batch state
    fold, not a single-trigger pass-through."""
    from pyspark.sql import Window

    from etl_sprint_2_5_spark.operators.sketch import (
        kmv_build,
        kmv_estimate,
        kmv_hash,
    )
    from etl_sprint_2_5_spark.plans.events_queries import bounded_state_shuffle
    from etl_sprint_2_5_spark.streaming.stateful import kmv_bottomk_stream

    n_groups = 8
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id")
    with streaming_gate(spark, "streaming_kmv_estimates") as gate:
        feed = f"{gate.dir}/feed"
        write_feed(feed, *(ev.where(F.col("event_id") % 2 == h) for h in (0, 1)))
        stream = (
            spark.readStream.schema("event_id long, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        hashed = stream.select(kmv_hash("user_id").alias("hv")).select(
            F.pmod(F.col("hv"), F.lit(n_groups)).alias("g"), "hv"
        )
        # state key space = exactly n_groups shard samples; the
        # applyInPandasWithState width also bounds the Python worker
        # round-trips per trigger
        with bounded_state_shuffle(spark, n_groups, keys_per_partition=2):
            emitted = gate.to_memory(
                kmv_bottomk_stream(hashed, k=_KMV_K), "update"
            )
        latest = (
            emitted.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("g").orderBy(F.col("ver").desc())
                ),
            )
            .where(F.col("rn") == 1)
        )
        streamed = (
            latest.select(F.explode("hvs").alias("hv"))
            .distinct()
            .orderBy("hv")
            .limit(_KMV_K)
        )
        direct = kmv_build(ev, "user_id", k=_KMV_K)
        eq = (
            streamed.join(direct, "hv", "left_anti")
            .agg(F.count(F.lit(1)).alias("d1"))
            .crossJoin(
                direct.join(streamed, "hv", "left_anti").agg(
                    F.count(F.lit(1)).alias("d2")
                )
            )
            .select(
                ((F.col("d1") == 0) & (F.col("d2") == 0)).alias(
                    "streamed_equals_direct"
                )
            )
        )
        est = kmv_estimate(streamed, _KMV_K, "est_milli").select(
            F.col("n_sample").alias("k_streamed"), "est_milli"
        )
        ex = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
        out = (
            est.crossJoin(eq)
            .crossJoin(ex)
            .select(
                "k_streamed",
                "streamed_equals_direct",
                "est_milli",
                "exact_distinct",
            )
        )
        return materialize_release(out)


@query(
    "pseudonym_referential_integrity",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_orders,
           count(DISTINCT c.c_custkey) AS n_customers,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
    covers=("X-privacy-pseudonymization",),
)
def pseudonym_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-hash pseudonymization that PRESERVES referential
    integrity — the standard privacy-pipeline transform before data
    leaves a trust boundary: the natural key (c_custkey) is replaced
    by md5(salt || key) in BOTH the dimension and every fact that
    references it, so analysts can still join/count/distinct on the
    pseudonym while the raw identifier never ships. The gate is the
    strong form of the integrity proof: the Spark side joins orders
    to customer ONLY on the pseudonym columns, while the ORACLE joins
    on the RAW keys — bit-equal per-segment order counts, DISTINCT
    customer counts, and revenue checksums mean the pseudonym mapping
    is injective on this corpus (a collision would merge two
    customers and bend n_customers/revenue) and total (a dropped
    mapping would lose orders). Deterministic salt (not a PRNG) keeps
    the transform replayable across retries — same property the
    sampling/minhash family relies on. One shuffle on the pseudonym
    (same cardinality as the raw key); at 100 TB the dimension side
    still broadcasts, because pseudonymization changes key WIDTH, not
    cardinality. Distinct from text_pii_scrub (regex redaction of
    free text): this is structured-key de-identification."""
    cust = load_table(spark, "customer", sf_dir).select(
        F.md5(
            F.concat(F.lit("pseudo-v1"), F.col("c_custkey").cast("string"))
        ).alias("c_pseudonym"),
        "c_mktsegment",
    )
    ords = load_table(spark, "orders", sf_dir).select(
        F.md5(
            F.concat(F.lit("pseudo-v1"), F.col("o_custkey").cast("string"))
        ).alias("o_pseudonym"),
        "o_totalprice",
    )
    return (
        ords.join(cust, ords["o_pseudonym"] == cust["c_pseudonym"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_pseudonym").alias("n_customers"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("segment")
    )


@query(
    "manifest_forgotten_keys",
    oracle="""
    SELECT doc_id % 6 AS grp,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS payload_sum,
           CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_forgotten
    FROM documents
    WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0
    GROUP BY doc_id % 6
    ORDER BY grp
    """,
    covers=("X-privacy-erasure", "T3"),
)
def manifest_forgotten_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure through the manifest sink under
    the ORACLE gate: commit a keyed view (even doc_ids), then DELETE
    every doc_id % 10 == 0 via streaming/sink.delete_keys_bucketed —
    a bucket-pruned rewrite that commits through the same one-object
    manifest CAS as upserts — and gate the surviving view against the
    oracle's direct predicate. The n_forgotten column (count of
    doomed keys still present, summed per group) is pinned to the
    oracle's structural zero, so one un-deleted row fails the hash
    gate loudly. keep_versions=1 makes the erasure PHYSICAL at the
    delete commit itself (the superseded dirs are GC'd inline; the
    orphan-free property is pytest-pinned in
    tests/test_sink_crash.py::test_delete_physical_erasure_outside_retention).
    At 100 TB an erasure batch touching 0.1% of keys rewrites ~0.1%
    of buckets — cost proportional to the FORGOTTEN set, not the
    corpus. Companion to pseudonym_referential_integrity: one query
    de-identifies, this one erases."""
    import tempfile

    from etl_sprint_2_5_spark.streaming.sink import (
        delete_keys_bucketed,
        read_bucketed_view,
        upsert_keyed_parquet_bucketed,
    )

    d = load_table(spark, "documents", sf_dir)
    with tempfile.TemporaryDirectory(prefix="forgotten_") as tmp:
        view = f"{tmp}/docs_view"
        upsert_keyed_parquet_bucketed(
            spark,
            d.where(F.col("doc_id") % 2 == 0).select(
                "doc_id", F.col("n_chars").alias("payload")
            ),
            view,
            key="doc_id",
            n_buckets=8,
            keep_versions=1,
        )
        delete_keys_bucketed(
            spark,
            d.where(F.col("doc_id") % 10 == 0).select("doc_id"),
            view,
            key="doc_id",
            keep_versions=1,
        )
        survivors = read_bucketed_view(spark, view)
        out = (
            survivors.groupBy((F.col("doc_id") % 6).alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("payload").cast("bigint").alias("payload_sum"),
                F.sum(
                    F.when(F.col("doc_id") % 10 == 0, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                )
                .cast("bigint")
                .alias("n_forgotten"),
            )
            .orderBy("grp")
        )
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "manifest_schema_evolution",
    oracle="""
    WITH v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS payload,
             CASE WHEN doc_id % 3 = 0 THEN lang ELSE NULL END AS lang
      FROM documents
      WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
    )
    SELECT COALESCE(lang, '<pre-evolution>') AS lang_bucket,
           count(*) AS n_docs,
           CAST(sum(payload) AS BIGINT) AS payload_sum
    FROM v
    GROUP BY COALESCE(lang, '<pre-evolution>')
    ORDER BY lang_bucket
    """,
    covers=("T3", "X-sink-schema-evolution"),
)
def manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE schema evolution through the manifest sink under the
    oracle gate: commit a NARROW keyed view (doc_id, payload for even
    doc_ids), then upsert a WIDENED batch (every doc_id % 3, payload
    bumped, plus a NEW lang column). The manifest stamps the payload
    schema ("fields"); the widening updates the stamp additively and
    the read-back resolves BOTH generations under the stamped schema
    — old-generation rows NULL-fill the widened column per file
    (grouped here under '<pre-evolution>'), new rows carry real
    values, and the per-lang counts/checksums gate that no row of
    either generation was lost, duplicated, or mis-filled. Incompatible
    changes (type change, dropped column) are REJECTED loudly —
    pytest-pinned in tests/test_sink_schema.py. The stamped-schema
    read is also the scale answer: Spark fills missing columns
    against an explicit read schema per file, so mixed-generation
    reads need no mergeSchema footer sweep over ~100k dirs at the
    100-TB sizing. Reference parity: the reference's ES index
    bootstrap fixes one mapping forever
    (postgres_to_es/daemon.py index-creation payload); additive
    evolution is the beyond-reference surface any long-lived lake
    table needs."""
    import tempfile

    from etl_sprint_2_5_spark.streaming.sink import (
        read_bucketed_view,
        upsert_keyed_parquet_bucketed,
    )

    d = load_table(spark, "documents", sf_dir)
    with tempfile.TemporaryDirectory(prefix="schema_evo_") as tmp:
        view = f"{tmp}/docs_view"
        upsert_keyed_parquet_bucketed(
            spark,
            d.where(F.col("doc_id") % 2 == 0).select(
                "doc_id", F.col("n_chars").alias("payload")
            ),
            view, key="doc_id", n_buckets=8, keep_versions=2,
        )
        upsert_keyed_parquet_bucketed(
            spark,
            d.where(F.col("doc_id") % 3 == 0).select(
                "doc_id",
                (F.col("n_chars") + F.lit(1000)).alias("payload"),
                "lang",
            ),
            view, key="doc_id", n_buckets=8, keep_versions=2,
        )
        both = read_bucketed_view(spark, view)
        out = (
            both.groupBy(
                F.coalesce(F.col("lang"), F.lit("<pre-evolution>")).alias(
                    "lang_bucket"
                )
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("payload").cast("bigint").alias("payload_sum"),
            )
            .orderBy("lang_bucket")
        )
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "manifest_legacy_upgrade",
    oracle="""
    WITH v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS payload,
             CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang
      FROM documents
      WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
    )
    SELECT COALESCE(lang, '<narrow-generation>') AS lang_bucket,
           count(*) AS n_docs,
           CAST(sum(payload) AS BIGINT) AS payload_sum,
           TRUE AS stamp_has_lang
    FROM v
    GROUP BY COALESCE(lang, '<narrow-generation>')
    ORDER BY lang_bucket
    """,
    covers=("T3", "X-sink-schema-evolution"),
)
def manifest_legacy_upgrade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upgrading a PRE-EVOLUTION view (manifest without a stamped
    "fields") must not lose columns: a WIDE view (doc_id, payload,
    lang for even doc_ids) is committed, its manifest stripped back to
    the pre-stamp layout (what any view written before schema stamping
    looks like on disk), and then a NARROW batch (doc_id, payload for
    doc_id % 3 == 0 — no lang) upserts onto it. The first stamp must
    be the UNION of what the existing dirs carry and what the batch
    brings (streaming/sink.py _legacy_stamp — a one-time mergeSchema
    footer sweep at upgrade time, zero reads on every later commit):
    a batch-verbatim stamp would leave lang on disk but INVISIBLE
    under every later stamped-schema read. The gate proves both
    directions — surviving wide rows keep their real lang, replaced/
    narrow rows NULL-fill into '<narrow-generation>' — and
    stamp_has_lang pins the manifest itself: the published stamp
    carries the legacy column. Type conflicts during the upgrade are
    rejected loudly (pytest-pinned in tests/test_sink_schema.py)."""
    import json
    import os
    import tempfile

    from etl_sprint_2_5_spark.streaming import sink

    d = load_table(spark, "documents", sf_dir)
    with tempfile.TemporaryDirectory(prefix="legacy_upgrade_") as tmp:
        view = f"{tmp}/docs_view"
        sink.upsert_keyed_parquet_bucketed(
            spark,
            d.where(F.col("doc_id") % 2 == 0).select(
                "doc_id", F.col("n_chars").alias("payload"), "lang"
            ),
            view, key="doc_id", n_buckets=8, keep_versions=2,
        )
        # strip the stamp from the committed manifest (the on-disk
        # shape of any view written before schema stamping existed),
        # re-checksummed so it loads clean
        mdir = os.path.join(view, sink._MANIFEST_DIR)
        fp = os.path.join(mdir, sorted(os.listdir(mdir))[-1])
        with open(fp) as f:
            doc = json.load(f)
        doc.pop("fields")
        doc.pop("checksum")
        doc["checksum"] = sink._manifest_checksum(doc)
        with open(fp, "w") as f:
            json.dump(doc, f, sort_keys=True)

        sink.upsert_keyed_parquet_bucketed(
            spark,
            d.where(F.col("doc_id") % 3 == 0).select(
                "doc_id", (F.col("n_chars") + F.lit(1000)).alias("payload")
            ),
            view, key="doc_id", n_buckets=8, keep_versions=2,
        )
        stamped = [n for n, _ in sink.load_manifest(view)["fields"]]
        out = (
            sink.read_bucketed_view(spark, view)
            .groupBy(
                F.coalesce(
                    F.col("lang"), F.lit("<narrow-generation>")
                ).alias("lang_bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("payload").cast("bigint").alias("payload_sum"),
            )
            .withColumn("stamp_has_lang", F.lit("lang" in stamped))
            .orderBy("lang_bucket")
        )
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "pg_copy_roundtrip_live",
    oracle="""
    SELECT c_nationkey AS nation,
           count(*) AS n_cust,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                    + CASE WHEN c_custkey % 100 = 0 THEN 10000
                           ELSE 0 END) AS BIGINT) AS bal_cents,
           TRUE AS live_pg
    FROM customer
    GROUP BY c_nationkey
    ORDER BY nation
    """,
    covers=("S4", "S7", "X-pg-live"),
)
def pg_copy_roundtrip_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 (bulk INSERT sink, reference sqlite_to_postgresql/
    etl.py:205-213) against a LIVE PostgreSQL server, under the oracle
    gate — the wire path that was config-gated-only while the
    container lacked server binaries. A throwaway root-less cluster
    (initdb + pg_ctl as nobody, unix socket, fsync off —
    sources/pg_copy.ephemeral_pg) lives for the query: DDL bootstrap
    (S7), then the WHOLE customer table crosses the wire via
    partition-parallel COPY FROM STDIN (one stream per Spark
    partition — the production bulk-load verb, N× the reference's
    single-connection executemany), then an ON CONFLICT (pk) DO
    UPDATE upsert applies a +100.00 balance correction to every
    custkey % 100 == 0 AND is redelivered verbatim (exactly-once
    effect live — T3 semantics against a real database), and the
    gated per-nation rollup reads back through COPY TO STDOUT. Any
    row lost/duplicated/mistyped across the two wire crossings, a
    non-idempotent redelivery, or a broken NULL/quote escaping bends
    the counts or the cents checksum. Cents are fixed-point BIGINT
    end-to-end (floor(x*100+0.5) on both engines) — no double sums
    cross the gate. At scale the load side is N concurrent COPY
    streams (WAL-bound, the correct bottleneck); the read-back here
    is a rollup, not a fact scan — parallel PG READS are
    sources/jdbc.py's range partitioning once a JDBC jar ships.
    Live-process closures (escaping matrix, staging-table cleanup,
    keyset tiling on the real planner) are pytest-pinned in
    tests/test_pg_live.py."""
    import tempfile

    from etl_sprint_2_5_spark.sources import pg_copy

    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("bal_cents"),
    )

    with tempfile.TemporaryDirectory(prefix="pg_live_") as base:
        return _pg_live_scenario(spark, c, base)


def _pg_live_scenario(spark, c, base):  # noqa: ANN001 - helper
    import os

    from etl_sprint_2_5_spark.sources import pg_copy

    os.chmod(base, 0o755)  # the nobody-owned cluster must traverse it
    with pg_copy.ephemeral_pg(f"{base}/cluster") as dsn:
        pg_copy.pg_exec(
            dsn,
            "CREATE TABLE customer_bal (c_custkey bigint PRIMARY KEY, "
            "c_nationkey bigint, bal_cents bigint)",
        )
        pg_copy.pg_copy_load(c, dsn, "customer_bal")
        correction = c.where(F.col("c_custkey") % 100 == 0).withColumn(
            "bal_cents", F.col("bal_cents") + F.lit(10000)
        )
        pg_copy.pg_upsert_copy(correction, dsn, "customer_bal", "c_custkey")
        # redeliver the SAME correction — exactly-once effect, live
        pg_copy.pg_upsert_copy(correction, dsn, "customer_bal", "c_custkey")
        out = pg_copy.pg_copy_read(
            spark, dsn,
            "SELECT c_nationkey AS nation, count(*) AS n_cust, "
            "sum(bal_cents) AS bal_cents FROM customer_bal "
            "GROUP BY c_nationkey ORDER BY nation",
            "nation bigint, n_cust bigint, bal_cents bigint",
        ).withColumn("live_pg", F.lit(True)).orderBy("nation")
        return spark.createDataFrame(out.collect(), out.schema)


@query(
    "heavy_hitters_mg",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    tok2 AS (SELECT word FROM tok WHERE word <> ''),
    tot AS (SELECT count(*) AS n FROM tok2)
    SELECT t.word,
           count(*) AS freq,
           (SELECT n FROM tot) AS total_tokens
    FROM tok2 t
    GROUP BY t.word
    HAVING count(*) * 65 > (SELECT n FROM tot)
    ORDER BY freq DESC, word
    """,
    covers=("X-sketch-misra-gries",),
)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guaranteed-exact heavy hitters via the canonical two-pass
    Misra-Gries shape (operators/sketch.py mg_candidates — Misra &
    Gries 1982; merge rule per Agarwal et al., Mergeable Summaries,
    PODS 2012): the frequent-items face the CMS family cannot give
    exactly (CMS answers point queries with hash-collision error;
    MG's superset guarantee is DETERMINISTIC — no false negatives).

    Pass 1 (no shuffle): every scan task keeps a 64-counter MG
    summary of the token stream it read in place, emitting ≤ 64
    survivors + its exact row count — a few KB to the driver no
    matter the corpus size. Any token with global count > N/65 is
    guaranteed among the survivors of at least one task (averaging
    argument over the decrement bound). Pass 2 (one aggregation):
    exact counts for the candidate superset only — the IN-filter
    prunes the shuffle to ≤ capacity × n_tasks distinct keys — then
    the exact integer threshold freq·65 > N keeps precisely the true
    heavy hitters, so the result equals the oracle's full GROUP BY …
    HAVING on every run, for every partitioning. At 100 TB the full
    GROUP BY shuffles billions of distinct tokens; this plan
    shuffles only candidate rows. total_tokens rides every row so
    the threshold base itself is value-hashed."""
    from etl_sprint_2_5_spark.operators.sketch import mg_candidates

    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).where(F.col("word") != "")

    cands, total = mg_candidates(tok, "word", capacity=64)
    out = (
        tok.where(F.col("word").isin(cands))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") * 65 > F.lit(total))
        .select(
            "word", "freq", F.lit(total).cast("long").alias("total_tokens")
        )
        .orderBy(F.desc("freq"), F.asc("word"))
    )
    return materialize_release(out)
