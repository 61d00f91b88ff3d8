"""Fine-grained timing inside upsert_keyed_parquet_bucketed during a
real IVM query run: probe collect vs merge write (``stage_write``) vs
manifest publish vs GC, and the whole commit loop (``commit_total``)
(guide §1 — find the term before touching the code)."""

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


def t(cat, fn):  # noqa: ANN001
    def wrap(*a, **k):
        t0 = time.time()
        try:
            return fn(*a, **k)
        finally:
            STATS[cat].append(time.time() - t0)
    return wrap


def main() -> None:
    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark import plans
    from etl_sprint_2_5_spark.session import get_spark
    from etl_sprint_2_5_spark.streaming import sink

    plans.load_all()
    spark = get_spark("profile_sink")

    sink.load_manifest = t("load_manifest", sink.load_manifest)
    sink._widen_fields = t("widen_fields", sink._widen_fields)
    sink._publish_manifest = t("publish_manifest", sink._publish_manifest)
    sink._gc_unreferenced = t("gc", sink._gc_unreferenced)
    sink._stage_buckets = t("stage_write", sink._stage_buckets)
    sink._optimistic_commit = t("commit_total", sink._optimistic_commit)

    # time the probe by wrapping DataFrame-level collect on the _kb
    # distinct — monkeypatch the upsert itself around the probe
    orig_upsert = sink.upsert_keyed_parquet_bucketed

    def upsert(spark_, batch, path, key, n_buckets=16, **k):  # noqa: ANN001
        t0 = time.time()
        # replicate the probe separately for timing: persist + distinct
        man = sink.load_manifest(path)
        nb = int(man["n_buckets"]) if man else n_buckets
        kb_of = sink._kb_expr(sink._layout_of(man, nb), key)
        b = batch.withColumn("_kb", kb_of).persist()
        tp = time.time()
        b.select("_kb").distinct().collect()
        STATS["probe_with_plan_exec"].append(time.time() - tp)
        b.unpersist()
        STATS["probe_setup"].append(time.time() - t0)
        return orig_upsert(spark_, batch, path, key, n_buckets, **k)

    import etl_sprint_2_5_spark.streaming.ivm as ivm
    ivm.upsert_keyed_parquet_bucketed = upsert

    # warmup
    plans.REGISTRY["point_lookup"].fn(spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()

    name = sys.argv[1] if len(sys.argv) > 1 else "ivm_maintained_docs"
    t0 = time.time()
    plans.REGISTRY[name].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    print(f"\n=== {name}: {time.time()-t0:.2f}s ===")
    for cat, xs in sorted(STATS.items(), key=lambda kv: -sum(kv[1])):
        print(
            f"  {cat:22s} n={len(xs):4d} sum={sum(xs):7.2f}s "
            f"mean={sum(xs)/len(xs)*1000:7.1f}ms"
        )


if __name__ == "__main__":
    main()
