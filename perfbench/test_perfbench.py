"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator tests are fast. The smoke tests start Spark and run the
benchmark end to end at a tiny scale (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import gen, run

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def _digest(paths: dict[str, str]) -> dict[str, str]:
    return {n: hashlib.sha256(Path(p).read_bytes()).hexdigest() for n, p in paths.items()}


def _inputs(seed: int, out: Path, gp: gen.GenParams) -> tuple:
    leg = gen.make_legacy(seed, gp)
    files = _digest(gen.write_legacy(leg, str(out)))
    stream = gen.WaveStream(seed, gp, leg)
    waves = [stream.next() for _ in range(6)]
    reqs = gen.request_mix(seed, [m[0] for m in leg.movies], 120)
    return files, waves, reqs


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_same_seed_same_inputs(tmp_path, workload):
    gp = run.WORKLOADS[workload]
    a = _inputs(7, tmp_path / "a", gp)
    b = _inputs(7, tmp_path / "b", gp)
    c = _inputs(8, tmp_path / "c", gp)
    assert a == b
    assert a[0] != c[0] and a[1] != c[1] and a[2] != c[2]


def test_generator_has_every_anomaly_class():
    leg = gen.make_legacy(3, run.WORKLOADS["skewed"])
    genres = [m[1] for m in leg.movies]
    assert {"N/A", ""} <= set(genres)
    assert any(len(g.split(", ")) != len(set(g.split(", "))) for g in genres)
    assert any(a[1] in ("N/A", "") for a in leg.actors)
    assert len(leg.actors) > len({a[0] for a in leg.actors})  # duplicate dim rows
    assert len(leg.movie_actors) > len(set(leg.movie_actors))  # duplicate bridge rows
    actor_ids = {str(a[0]) for a in leg.actors}
    assert any(aid not in actor_ids for _, aid in leg.movie_actors)  # dangling FKs
    jsons = [json.loads(m[8]) for m in leg.movies if m[8]]
    assert any(len(j) != len({w["id"] for w in j}) for j in jsons)  # duplicate ids
    assert any(m[3] and m[8] for m in leg.movies)  # JSON wins over the legacy column
    assert any(m[3] and not m[8] for m in leg.movies)  # fallback to the legacy column


def test_zipf_skews_credits():
    def top_share(workload: str) -> float:
        leg = gen.make_legacy(5, run.WORKLOADS[workload])
        counts: dict[str, int] = {}
        for _, aid in leg.movie_actors:
            counts[aid] = counts.get(aid, 0) + 1
        top = sorted(counts.values(), reverse=True)[:10]
        return sum(top) / len(leg.movie_actors)

    assert top_share("skewed") > 3 * top_share("uniform")


def test_metric_names_match_benchmark_json():
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in BENCHMARK["per_layer"]] == list(run.PER_LAYER)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in BENCHMARK["workloads"]) == sorted(
        w for w in run.WORKLOADS if w != "smoke")
    layers = json.loads((ROOT / "perfbench" / "layers.json").read_text())["layers"]
    named = {m for entry in layers for m in entry["metrics"]}
    assert named == set(run.PER_LAYER)
    moved = {m for entry in layers for m in entry["moves"] + entry.get("no_change", [])}
    assert moved <= set(run.END_TO_END)


def _run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_reports_every_metric_and_no_failure(tmp_path, trace):
    spans = tmp_path / "spans.jsonl"
    p = _run(["--workload", "smoke", "--seed", "1", "--seconds", "5", "--trace", str(trace),
              "--spans", str(spans)], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    detail, result = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0 and result["correct"], p.stdout.splitlines()[-2]
    assert result["attempted"] >= 1
    want = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in want]
    assert all(result["metrics"][m["name"]]["unit"] == m["unit"] for m in want)
    if trace:
        names = {json.loads(line)["name"] for line in spans.read_text().splitlines()}
        assert {"normalize", "ivm.drain", "sink.upsert", "sink.read", "api.search.call"} <= names
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        wall = detail["notes"]["wall"]
        assert {k: v["unit"] for k, v in wall.items()} == run.WALL
        assert all(v["value"] > 0 for v in wall.values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "skewed", "--seed", "1", "--seconds", "5", "--trace", "0"], tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
