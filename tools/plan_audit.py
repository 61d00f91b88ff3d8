"""Physical-plan audit for the registered queries.

Prints, per query: #shuffle exchanges, #broadcast exchanges/joins,
whether parquet filter pushdown and column pruning reached the scans,
and the fraction of the plan inside whole-stage codegen — the
properties that decide whether a plan survives a 100× scale-up. A plan
that computes a heavy subtree more than once — ≥ 2 Generate nodes (an
exploded stream built twice) or ≥ 3 parquet scans of one table — is
flagged DUPLICATE; this found the kneser_ney 7-scan defect and the
dedup_repeated_substrings double span-hash. Scenario queries
(tempfile/write/collect/streaming in their source) are skipped:
constructing them executes them.

Usage: python tools/plan_audit.py [query ...]
"""

from __future__ import annotations

import inspect
import re
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"
SCENARIO_MARKERS = (
    "tempfile", "mkdtemp", ".write.", "collect()", "ephemeral_pg",
    "createDataFrame", "foreachBatch", "readStream", "prepared_",
)


def scenario_source(fn) -> str:  # noqa: ANN001
    """``fn``'s source plus that of the same-module helpers it calls,
    where a shared gate scaffold keeps the scenario markers."""
    g = fn.__globals__
    helpers = [
        g[n] for n in fn.__code__.co_names
        if n.startswith("_") and inspect.isfunction(g.get(n))
        and g[n].__module__ == fn.__module__
    ]
    return "".join(inspect.getsource(f) for f in (fn, *helpers))


def audit(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    tables = Counter(re.findall(r"Location: \w+\(\d+ paths?\)\[([^\]]*)", plan))
    pushed = sum(1 for s in scans if "PushedFilters: [" in s and "PushedFilters: []" not in s)
    return {
        "shuffles": len(re.findall(r"Exchange (?:hash|range)partitioning", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange|BroadcastHashJoin", plan)) // 2,
        "scans": len(scans),
        "scans_with_pushdown": pushed,
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        # cached-subtree reads: the static plan text re-prints a cached
        # subtree at every reference, inflating the shuffle/scan counts
        # above EXECUTED reality (each cached subtree runs once). A
        # nonzero imts is the signal to read shuffles as an upper bound.
        "imts": len(re.findall(r"InMemoryTableScan", plan)),
        "generates": len(re.findall(r"^[\s:+-]*(?:\*\(\d+\) )?Generate ", plan, re.M)),
        "max_table_scans": max(tables.values(), default=0),
    }


def main() -> None:
    from pyspark.sql import SparkSession

    from etl_sprint_2_5_spark import plans

    plans.load_all()
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        # plain pre-AQE plans so codegen spans and exchanges are visible
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    names = sys.argv[1:] or sorted(plans.REGISTRY)
    w = max(len(n) for n in names)
    for name in names:
        fn = plans.REGISTRY[name].fn
        if any(m in scenario_source(fn) for m in SCENARIO_MARKERS):
            print(f"{name:<{w}}  SKIP scenario query")
            continue
        try:
            info = audit(fn(spark, SF_DIR))
            dup = info["generates"] >= 2 or info["max_table_scans"] >= 3
            print(
                f"{name:<{w}}  shuffles={info['shuffles']:<2} "
                f"bcast={info['broadcasts']:<2} smj={info['sort_merge_joins']:<2} "
                f"scans={info['scans_with_pushdown']}/{info['scans']} pushed  "
                f"codegen={info['codegen_stages']}"
                + (
                    f"  DUPLICATE generates={info['generates']} "
                    f"max_table_scans={info['max_table_scans']}"
                    if dup
                    else ""
                )
                + (
                    f"  imts={info['imts']} (cached subtrees repeat in the"
                    " static text; shuffle/scan counts are upper bounds)"
                    if info["imts"]
                    else ""
                )
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name:<{w}}  ERROR {str(e)[:80]}")


if __name__ == "__main__":
    main()
