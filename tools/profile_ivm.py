"""Phase-level profiler for the heavy IVM/live-PG queries (guide §1:
measure first). Monkeypatches timers around the expensive primitives
(psql spawns, initdb, ivm.run_round, the bucketed upsert,
pg_copy_read) and prints a per-query cost breakdown so optimization targets the
measured term, not a guess.

Usage: python tools/profile_ivm.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

STATS: dict[str, list[float]] = defaultdict(list)


def timed(cat: str, fn):  # noqa: ANN001
    def wrap(*a, **k):
        t0 = time.time()
        try:
            return fn(*a, **k)
        finally:
            STATS[cat].append(time.time() - t0)
    return wrap


def main() -> None:
    from etl_sprint_2_5_spark import plans
    from etl_sprint_2_5_spark.session import get_spark
    from etl_sprint_2_5_spark.sources import pg_copy
    from etl_sprint_2_5_spark.streaming import ivm, sink

    plans.load_all()
    spark = get_spark("profile_ivm")

    # instrument the primitives
    pg_copy.pg_exec = timed("pg_exec", pg_copy.pg_exec)
    pg_copy.pg_copy_read = timed("pg_copy_read", pg_copy.pg_copy_read)
    if hasattr(pg_copy, "pg_copy_read_script"):
        pg_copy.pg_copy_read_script = timed(
            "pg_copy_read_script", pg_copy.pg_copy_read_script
        )
    pg_copy.pg_copy_load = timed("pg_copy_load", pg_copy.pg_copy_load)
    pg_copy._copy_in = timed("_copy_in", pg_copy._copy_in)
    orig_enter = pg_copy.ephemeral_pg.__enter__
    pg_copy.ephemeral_pg.__enter__ = timed("pg_bootstrap", orig_enter)
    ivm.run_round = timed("run_round", ivm.run_round)
    # ivm.py imported the bucketed upsert by name at module top
    ivm.upsert_keyed_parquet_bucketed = timed(
        "upsert_bucketed", ivm.upsert_keyed_parquet_bucketed
    )
    sink.upsert_keyed_parquet_delta = timed(
        "upsert_delta", sink.upsert_keyed_parquet_delta
    )
    # ivm_queries imported these names directly
    from etl_sprint_2_5_spark.plans import ivm_queries
    ivm_queries.read_bucketed_view = timed(
        "read_bucketed_view", sink.read_bucketed_view
    )

    report(spark, sys.argv[1:] or [
        "ivm_maintained_docs",
        "ivm_maintained_docs_delta",
        "ivm_maintained_docs_pg_live",
        "ivm_staged_fanout_live",
    ])


def report(spark, names: list[str]) -> None:  # noqa: ANN001
    """Run each query once after a warmup and print its STATS."""
    from etl_sprint_2_5_spark import plans

    # warmup
    plans.REGISTRY["point_lookup"].fn(spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()

    for name in names:
        STATS.clear()
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        plans.REGISTRY[name].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        total = time.time() - t0
        print(f"\n=== {name}: {total:.2f}s total ===")
        for cat, xs in sorted(STATS.items(), key=lambda kv: -sum(kv[1])):
            print(
                f"  {cat:22s} n={len(xs):4d} sum={sum(xs):7.2f}s "
                f"mean={sum(xs)/len(xs)*1000:7.1f}ms max={max(xs)*1000:7.1f}ms"
            )
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
