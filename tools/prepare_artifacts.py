"""Offline index build — the train-once half of the prepared-artifact
serving path (etl_sprint_2_5_spark/artifacts.py).

On a cluster this is the scheduled job that (re)builds every prepared
artifact (artifacts.prepare_all, the same phase bench.py runs) whenever
the corpus changes; queries then only probe the persisted artifacts.
Locally it pre-warms the artifact cache so bench/driver runs pay zero
training cost. Full-text term statistics are not among them: they are
memoized per process (operators/view_stats.py), so each query process
builds them on first use and this tool's copy ends with it.

Usage: python tools/prepare_artifacts.py [sf_dir ...]
       (default: /root/testdata/sf0.01 and /root/testdata/sf0.1)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    from etl_sprint_2_5_spark.artifacts import artifact_root, prepare_all
    from etl_sprint_2_5_spark.session import get_spark

    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    spark = get_spark("prepare-artifacts")
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in sf_dirs:
        t0 = time.time()
        prepare_all(spark, sf_dir)
        print(f"{sf_dir}: prepared in {time.time() - t0:.2f}s")
    print(f"artifacts in {artifact_root()}")


if __name__ == "__main__":
    main()
