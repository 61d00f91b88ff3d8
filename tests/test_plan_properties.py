"""Physical-plan regression pins for the core lazy queries — the
"is this the plan you'd want, not the first one that passed" check,
enforced in CI instead of asserted in prose.

Each pin is a property that, if lost, silently degrades the 100-TB
shape long before any correctness gate notices: a filter that stops
reaching the parquet scan re-reads the corpus; a projection that stops
pruning drags every column through the scan; a small dim that stops
broadcasting turns a map-side join into a full shuffle; a join that
degenerates to a cartesian product is a cluster outage.

Only LAZY registry entries appear here (scenario queries materialize
on construction); the formatted plan is compiled, never executed.
"""

from __future__ import annotations

import pytest

from etl_sprint_2_5_spark.plans import REGISTRY, load_all

load_all()

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_pricing_summary_scan_is_pruned_and_pushed(spark):
    """TPC-H Q1 shape: the shipdate filter reaches the parquet scan
    and ReadSchema carries only the 7 needed lineitem columns — not
    the full 17-column table."""
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "l_comment" not in scan and "l_partkey" not in scan
    assert "l_quantity" in scan and "l_returnflag" in scan


def test_top_revenue_orders_broadcasts_the_small_side(spark):
    """TPC-H Q3 shape: customer-side restriction broadcasts; the big
    fact table is never on the build side of a shuffle join."""
    plan = _plan(spark, "top_revenue_orders")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_snowflake_join_broadcasts_both_dims(spark):
    """J1/J9: region→nation→customer snowflake — BOTH dim hops are
    broadcast (map-side), leaving at most the aggregation shuffle."""
    plan = _plan(spark, "snowflake_join")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_semi_join_is_a_semi_join(spark):
    """J6: the id-list restriction compiles to a LeftSemi broadcast
    join — not an inner join + distinct (which would shuffle the fact
    table to dedup it)."""
    plan = _plan(spark, "semi_join_affected")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "pricing_summary",
        "top_revenue_orders",
        "snowflake_join",
        "nested_doc_rollup",
        "semi_join_affected",
        "point_lookup",
        "anti_join_orphans",
        "fanout_affected_keys",
        "conditional_agg_roles",
        "distinct_set_agg",
        "dim_dedup_build",
        "union_distinct_actives",
        "sentinel_clean_cast",
        "split_explode_wordcount",
        "json_extract_agg",
        "paginated_listing",
        "topk_per_group",
        "nation_trade_volume",
        "nation_market_share",
        "returned_item_revenue",
        "promo_revenue_monthly",
    ],
)
def test_no_cartesian_products_in_core_plans(spark, name):
    """No registered core/TPC-H plan may contain a cartesian product
    or a broadcast nested-loop join on the hot path — either one means
    a join condition fell out of the plan."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_point_lookup_pushes_the_key(spark):
    """Q1/Q5 serving shape: the equality key reaches PushedFilters so
    a parquet reader can row-group-skip on it."""
    plan = _plan(spark, "point_lookup")
    assert "EqualTo(o_orderkey," in plan


def test_hilbert_key_is_shuffle_free_and_scan_is_pruned(spark):
    """The Hilbert key must stay a chain of projections: zero
    Exchange between the parquet scan and the key column, and the
    scan reads only the 3 needed lineitem columns."""
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.operators.layout import hilbert_frame
    from etl_sprint_2_5_spark.sources.parquet import load_table

    dims = load_table(spark, "lineitem", SF).select(
        (F.col("l_partkey") % 256).alias("dx"),
        (F.col("l_suppkey") % 256).alias("dy"),
        "l_quantity",
    )
    keyed = hilbert_frame(dims, "dx", "dy", bits=8, out="hkey")
    plan = keyed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan  # pure projection chain
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "l_partkey" in scan and "l_suppkey" in scan
    assert "l_comment" not in scan and "l_orderkey" not in scan


def test_mg_pass1_plan_has_no_shuffle(spark):
    """Misra-Gries pass 1 reads the stream in place: the mapInPandas
    summary stage must sit directly on the scan with no Exchange."""
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.sources.parquet import load_table

    tok = (
        load_table(spark, "documents", SF)
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
    )

    def mg(batches):  # noqa: ANN001
        yield from batches

    summarized = tok.mapInPandas(mg, "word string")
    plan = summarized._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan


def test_repeated_substrings_skew_bounded(spark):
    """dedup_repeated_substrings: the span doc-frequency must be the
    SKEW-BOUNDED shape (r15 verdict item 4) — no window partitioned by
    the span hash (a mega-frequent boilerplate span would funnel its
    whole occurrence stream through ONE window group, the structure
    AQE skew handling cannot split). Pins:
    - no Window operator keyed by the span hash (the doc-coverage
      window over doc_id is fine — bounded by document length);
    - the doc-frequency is a two-level aggregate (partial dedup on
      (s, doc_id), then count) — every level map-side combinable;
    - the dup probe is a semi-join (broadcast or AQE-splittable SMJ),
      never a per-span window.
    The price is the span-hash Generate appearing twice (fork =
    re-execution in Catalyst); that trade is documented in the query
    and OPTIMIZATION_r16.md."""
    plan = _plan(spark, "dedup_repeated_substrings")
    assert plan.count(") Generate") == 2, plan
    # the only Window in the plan is the per-document coverage sweep
    import re

    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs, plan
    for spec in win_specs:
        assert "doc_id" in spec.split(",")[0], (spec, plan)
    # semi-join probe present
    assert "LeftSemi" in plan, plan


def _executed_plans(spark, action) -> list[str]:
    """Physical plan text of every SQL execution ``action`` runs."""
    from etl_sprint_2_5_spark.cost import tracked

    with tracked(spark, "executed_plans") as t:
        action()
    return t.cost().plans


def test_search_is_one_scan_per_job_with_no_shuffle(spark, tmp_path):
    """A warm search over a parquet view runs ONE execution, the page
    top-k, scanning the served view once: the idf statistics are summed
    from the per-file statistics the first (cold) search built. The
    movie rows are scored in place: no Generate (explode), no
    hash-partitioned Exchange, no Window and no join back to the
    movies."""
    import re

    from etl_sprint_2_5_spark.api.query import ListParams, list_movies
    from etl_sprint_2_5_spark.pipeline.movie_gold import movies_gold
    from etl_sprint_2_5_spark.pipeline.normalize import normalize
    from tests.fixtures_legacy import as_dataframes

    path = str(tmp_path / "movies_gold")
    movies_gold(normalize(*as_dataframes(spark))).write.parquet(path)
    movies = spark.read.parquet(path)
    params = ListParams(search="movie drama movie", limit=5, page=2)
    # cold: one more execution builds the view's per-file statistics
    cold = _executed_plans(spark, lambda: list_movies(movies, params).collect())
    assert len(cold) == 2 and "TakeOrderedAndProject" in cold[1], cold
    plans = _executed_plans(spark, lambda: list_movies(movies, params).collect())
    assert len(plans) == 1, plans
    plan = plans[0]
    tree = plan.split("\n\n")[0]
    for op in ("Generate", "Window", "Join"):
        assert op not in tree, plan
    assert "hashpartitioning" not in plan, plan
    assert len(set(re.findall(r"Scan parquet\s*\((\d+)\)", tree))) == 1, plan
    assert "TakeOrderedAndProject" in plan


def test_fulltext_search_warm_is_one_execution(spark, tmp_path):
    """fulltext_search over a fresh copy of the documents file: the cold
    run indexes the file's term statistics (one execution) before its
    page, and a warm run is the page alone; the statistics are summed
    from the per-file memo, not probed from a persisted index."""
    import shutil

    shutil.copyfile(f"{SF}/documents.parquet", tmp_path / "documents.parquet")
    load_all()
    search = REGISTRY["fulltext_search"].fn
    cold = _executed_plans(spark, lambda: search(spark, str(tmp_path)).collect())
    assert len(cold) == 2 and "TakeOrderedAndProject" in cold[1], cold
    warm = _executed_plans(spark, lambda: search(spark, str(tmp_path)).collect())
    assert len(warm) == 1 and "TakeOrderedAndProject" in warm[0], warm


def test_paginate_is_a_top_k_not_a_window(spark):
    """paginate plans orderBy → offset → limit as one
    TakeOrderedAndProject, not a global single-partition row_number."""
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.operators.pagination import paginate

    plan = _plan(spark, "paginated_listing")
    assert "TakeOrderedAndProject" in plan and "Window" not in plan, plan
    page = paginate(spark.range(100), [F.col("id").desc()], F.col("id"), 3, 10)
    assert [r.id for r in page.collect()] == list(range(79, 69, -1))
