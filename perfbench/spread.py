#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median
and spread (interquartile distance over median) against its bound.

    python3 perfbench/spread.py --workload skewed --seeds 1-10 [--trace 0]

Results of every run are appended to ``--log`` (JSON lines).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(rows: list[dict], bench: dict, trace: int) -> None:
    metrics = bench["per_layer" if trace else "end_to_end"]
    print(f"{'metric':32} {'median':>12} {'spread':>8} {'bound':>6}  n")
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in rows]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        bound = m.get("bound")
        flag = "" if bound is None or spread <= bound / 3 else (
            "  > bound/3" if spread <= bound else "  > BOUND")
        print(f"{m['name']:32} {med:12.4f} {spread:8.3f} {bound or '':>6}  {len(vals)}{flag}")
    print(f"failed ops: {sum(r['failed'] for r in rows)} of {sum(r['attempted'] for r in rows)}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", default=".perfbench_work/spread.jsonl")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    log = ROOT / args.log
    rows = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, *bench["command"][1:], "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        detail, result = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
        rows.append(result)
        notes = detail["notes"]
        # a run removes its work directory's parent when it is empty
        log.parent.mkdir(parents=True, exist_ok=True)
        with log.open("a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, "trace": args.trace,
                                "wall_s": wall,
                                "cpu_steal_pct": notes.get("cpu_steal_pct"),
                                "wall": notes.get("wall"), **result}) + "\n")
        print(f"seed {seed}: {wall:.1f} s, steal {notes.get('cpu_steal_pct', 0):.0f}%, "
              f"failed {result['failed']}/{result['attempted']}", flush=True)
    summarize(rows, bench, args.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
