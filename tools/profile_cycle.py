"""Sub-round profiler for the IVM loop (guide §1: measure first, at
the granularity the next change needs). profile_ivm.py times the
primitives (psql, ivm.run_round, the sink); this one splits a drain
round into its SCHEDULER-VISIBLE pieces by wrapping the real
functions, never copies of them:

- ``0_round``: ``ivm.run_round``, the whole round;
- ``1_batch_and_head``: round time minus apply time — the keyset
  batch reads and head aggregations;
- ``2_apply``: ``ivm.apply_changes`` — fan-out, rebuild plan, upsert;
- ``3_upsert``: ``Pipeline.upsert``, one entry per sink attempt;
- ``4_stage_write``: ``sink._stage_buckets``, a sink commit's merge
  write and data-dir moves (every manifest write verb stages through
  it).

Usage: python tools/profile_cycle.py [query ...]
"""

from __future__ import annotations

import sys
import time

from profile_ivm import STATS, report, timed


def main() -> None:
    from etl_sprint_2_5_spark import plans
    from etl_sprint_2_5_spark.session import get_spark
    from etl_sprint_2_5_spark.streaming import ivm, sink

    plans.load_all()
    spark = get_spark("profile_cycle")

    orig_round = ivm.run_round

    def run_round(*a, **k):  # noqa: ANN002, ANN003, ANN202
        first_apply = len(STATS.get("2_apply", ()))
        t0 = time.time()
        try:
            return orig_round(*a, **k)
        finally:
            total = time.time() - t0
            STATS["0_round"].append(total)
            STATS["1_batch_and_head"].append(
                total - sum(STATS.get("2_apply", [])[first_apply:])
            )

    ivm.run_round = run_round
    ivm.apply_changes = timed("2_apply", ivm.apply_changes)
    ivm.Pipeline.upsert = timed("3_upsert", ivm.Pipeline.upsert)
    sink._stage_buckets = timed("4_stage_write", sink._stage_buckets)

    report(spark, sys.argv[1:] or ["ivm_maintained_docs"])


if __name__ == "__main__":
    main()
