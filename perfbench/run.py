#!/usr/bin/env python3
"""Movie-platform benchmark: full load, CDC drain and serving.

    python3 perfbench/run.py --workload skewed --seed 1 --seconds 50 --trace 0

Run from the root of a checkout. One run executes the platform's three
scenarios, each a closed loop with one caller in a single process
(Spark runs ``local[nproc]``):

- ``full_load``: generated dirty legacy tables -> ``normalize`` -> the
  five normalized tables staged as parquet -> ``movies_gold`` /
  ``persons_gold`` / ``genres_gold`` -> first write of the three views
  through the sink;
- ``cdc_drain``: over the loaded base, commit a CDC wave to the base
  tables, then ``ivm.run_to_completion(movie_pipelines(...))``;
- ``serve``: a seeded request mix (``get_movie``, ``list_movies`` pages
  and searches, ``admin_movie_list``) over the movies view, reopened
  with ``sink.read_view`` after the drain rewrote it, so reads of the
  sink follow its writes.

The workload picks the generator parameters (``WORKLOADS``). Every
output is checked; a wrong or failed operation counts in ``failed``.
The last stdout line is the JSON result; the line before it carries
the settings, sample counts and any errors. With ``--trace 0`` the
result holds the end-to-end metrics, the CPU time (``CpuClock``) of
set-up and of each scenario's operations; the detail line holds their
wall-clock times (``wall``). With ``--trace 1`` the result holds the
per-layer metrics: two copies of the platform get the same operations,
alternately untraced and traced, so the run reports tracing overhead.
Both copies must consume the rows each wave changed and end with
correct views; the traced copy's documents and commits per wave must
equal what the wave changed.
"""

from __future__ import annotations

import argparse
import ctypes
import datetime as dt
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if not __package__:  # run as a script: import from the checkout root
    sys.path[0] = str(ROOT)

from perfbench import gen  # noqa: E402
from perfbench.gen import GenParams  # noqa: E402
from perfbench.spans import Counters, Tracer, instrument  # noqa: E402

WORKLOADS = {
    # heavy-tailed person popularity, and every CDC wave also renames the
    # largest genre: a rename fans out to many documents
    "skewed": GenParams(zipf=1.2, genre_rename=True),
    # uniform popularity, no genre renames: each change touches few
    # documents, so the fixed cost of a drain dominates
    "uniform": GenParams(zipf=0.0, genre_rename=False),
    # tiny corpus for the benchmark's own tests
    "smoke": GenParams(movies=150, persons=120, genres=10, film_edits=5, renames=1,
                       new_bridges=3),
}

SETUP_REPS = 3
# blocks of requests an untraced run serves after its CDC wave
SERVE_BLOCKS = 3
# CDC waves each copy of the platform drains in a traced run; a block of
# requests is served before each wave and after the last
TRACE_WAVES = 2
# JVM threads (by name prefix) whose CPU time CpuClock leaves out: the
# JIT compilers and the garbage collector
LEFT_OUT = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread")
LIST_LIMIT, ADMIN_PER_PAGE = 20, 25
TABLES = ("film_work", "genre", "person", "genre_film_work", "person_film_work")
VIEWS = ("movies_gold", "persons_gold", "genres_gold")
OPS = ("lookup", "list", "search", "admin")

# The end-to-end metrics are the CPU seconds (CpuClock) of each
# operation: its wall-clock time grows with the share of the CPU the host
# gives to other machines, which changes from run to run; its CPU time
# changes less
END_TO_END = {
    "setup_s": "s",
    "full_load.load_cpu_s": "s",
    "cdc_drain.wave_cpu_s": "s",
    **{f"serve.{op}_cpu_p50_ms": "ms" for op in OPS},
}
# the same operations' wall-clock figures, printed in the detail line
WALL = {
    "setup_s": "s",
    "full_load.load_s": "s",
    "cdc_drain.wave_s": "s",
    **{f"serve.{op}_p50_ms": "ms" for op in OPS},
    "serve.p80_ms": "ms",
    "serve.requests_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "normalize.s": "s",
    "normalize.rows_out": "count",
    "normalize.spark_jobs": "count",
    "movie_gold.full_s": "s",
    "movie_gold.spark_jobs": "count",
    "movie_gold.docs_rebuilt": "count",
    "sink.initial_write_s": "s",
    "sink.upsert_s": "s",
    "sink.commits": "count",
    "sink.bytes_written": "bytes",
    "sink.write_amp": "ratio",
    "sink.read_ms": "ms",
    "ivm.self_s": "s",
    "ivm.rows_consumed": "count",
    "ivm.fanout_ratio": "ratio",
    "ivm.load_calls": "count",
    "ivm.spark_jobs": "count",
    **{f"api.{op}_{m}": u for op in OPS
       for m, u in (("call_ms", "ms"), ("exec_ms", "ms"), ("spark_jobs", "count"))},
    "trace.overhead_s": "s",
}


def host_settings(work: str) -> dict:
    """Spark settings fitted to the host, applied through the
    environment ``session.get_spark`` reads before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_mb = max(1024, min(4096, total_mb // 6))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # a fixed set of JIT compiler threads, so CpuClock can leave
        # their time out (dynamic ones may exit between two readings)
        "SPARK_SUBMIT_OPTS": (os.environ.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp}"
                              + " -XX:-UseDynamicNumberOfCompilerThreads").strip(),
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    return {**env, "host_mem_mb": total_mb}


class Tally:
    """Operations attempted and failed, with the first few failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what[:500])
        return ok


class Platform:
    """One copy of the maintained platform: base tables, the seven
    pipelines with their cursors, and the three views they keep."""

    def __init__(self, bench: Bench, out: str, stage: dict, tracer: Tracer,
                 counters: Counters | None = None) -> None:
        from perfbench.base import Base

        from etl_sprint_2_5_spark.streaming import ivm
        from etl_sprint_2_5_spark.streaming.movie_pipelines import movie_pipelines
        from etl_sprint_2_5_spark.streaming.state import OffsetStore

        self.bench, self.tracer, self.counters = bench, tracer, counters
        self.base = Base(os.path.join(out, "base"), stage)
        self.sink_dir = os.path.join(out, "gold")
        self.pipes = movie_pipelines(self.sink_dir)
        self.offsets = OffsetStore(os.path.join(out, "offsets.json"))
        self.t_arm = self.base.cursor_start()
        for p in self.pipes:
            self.offsets.set(p.name, self.t_arm, "")
        self.load = self.base.loader(bench.spark)
        # pipelines that drain as one group share one rebuild and one commit
        self.groups = _merge_groups(ivm, self.pipes)
        if counters is not None:
            self.load = instrument(self.pipes, self.load, tracer, counters)
            if _merge_groups(ivm, self.pipes) != self.groups:
                raise RuntimeError("instrumentation changed the merged drain groups")
        self.stream = gen.WaveStream(bench.args.seed, bench.gp, bench.legacy)
        self.wave_no = 0
        self.view_rows = {
            "movies_gold": len(self.base.frames["film_work"]),
            "persons_gold": len(self.base.frames["person"]),
            "genres_gold": len(self.base.frames["genre"]),
        }
        self.movies = None
        self.last_page: dict = {}

    def wave(self) -> tuple[float, dict]:
        """Commit the next wave and drain it; returns (drain s, changes)."""
        from etl_sprint_2_5_spark.streaming.ivm import run_to_completion

        tally = self.bench.tally
        self.wave_no += 1
        w = self.stream.next()
        ch = self.base.commit(w, self.t_arm + dt.timedelta(seconds=self.wave_no), self.wave_no)
        # entity changes feed two pipelines each (the movies view and
        # their own view); film and bridge rows feed one
        expected = ch["rows"] + len(ch["persons"]) + len(ch["genres"])
        # one rebuilt document per changed id, one commit per drain
        # group with a changed source table
        want_docs = len(ch["movies"]) + len(ch["persons"]) + len(ch["genres"])
        want_commits = sum(any(self.pipes[i].source in ch["tables"] for i in g)
                           for g in self.groups)
        before = self.counters.snapshot() if self.counters else None
        self.tracer.tags = {"wave": self.wave_no}
        c0, t0 = self.bench.cpu(), time.perf_counter()
        with self.tracer.span("ivm.drain"):
            consumed = run_to_completion(self.bench.spark, self.pipes, self.load, self.offsets)
        secs, cpu = time.perf_counter() - t0, self.bench.cpu() - c0
        self.tracer.tags = {}
        self.base.drop_stale()
        self.movies = None  # the view changed: reopen before the next read
        self.last_page.clear()
        ch.update(consumed=consumed, secs=secs, cpu=cpu)
        if before is not None:
            after = self.counters.snapshot()
            ch.update(commits=after[0] - before[0], docs=after[1] - before[1],
                      loads=after[2] - before[2], bytes=after[3] - before[3])
            tally.op((ch["docs"], ch["commits"]) == (want_docs, want_commits),
                     f"wave {self.wave_no}: {ch['docs']} docs and {ch['commits']} commits, "
                     f"expected {want_docs} and {want_commits}")
        tally.op(consumed == expected,
                 f"wave {self.wave_no}: consumed {consumed}, expected {expected}")
        return secs, ch

    def check_views(self) -> None:
        """The views after the last wave. The movies view must equal a
        from-scratch ``movies_gold`` over the final base tables.
        movie_pipelines maintains the persons view only from person rows
        and the genres view only from genre rows (the reference daemon's
        seven pipelines): a new credit does not reach the persons view
        and a film edit does not reach the genres view. Those two views
        are therefore checked on the fields their pipelines maintain,
        ids and names, against the base tables."""
        from etl_sprint_2_5_spark.pipeline.movie_gold import movies_gold
        from etl_sprint_2_5_spark.pipeline.normalize import NormalizedTables

        tally, f = self.bench.tally, self.base.frames
        t = NormalizedTables(**{n: self.base.loader(self.bench.spark)(n) for n in TABLES})
        fresh = {_canon(r.asDict(recursive=True)) for r in movies_gold(t).collect()}
        view = {_canon(d) for d in _read(self.sink_dir, "movies_gold").to_pylist()}
        tally.op(view == fresh, f"movies_gold differs from a from-scratch build "
                                f"in {len(view ^ fresh)} documents")
        for name, table, col in (("persons_gold", "person", "full_name"),
                                 ("genres_gold", "genre", "name")):
            got = set(zip(*_read(self.sink_dir, name).select(["id", col]).to_pydict().values()))
            want = set(zip(f[table]["id"], f[table][col]))
            tally.op(got == want, f"{name} ids/names differ from the base tables")

    # -- serving ----------------------------------------------------------
    def request(self, req: tuple) -> tuple[str, float, float]:
        """Serve one request and check its answer; returns (op, latency s)."""
        from etl_sprint_2_5_spark.api.query import (
            ListParams, admin_movie_list, get_movie, list_movies)
        from etl_sprint_2_5_spark.streaming.sink import read_view

        tr, tally, kind = self.tracer, self.bench.tally, req[0]
        n_movies = self.view_rows["movies_gold"]
        c0, t0 = self.bench.cpu(), time.perf_counter()
        with tr.span(f"serve.{kind}"):
            if self.movies is None:
                with tr.span("sink.read"):
                    self.movies = read_view(self.bench.spark,
                                            os.path.join(self.sink_dir, "movies_gold"))
            movies = self.movies
            if kind == "lookup":
                fid = self.base.fw_by_source[req[1]]
                with tr.span("api.lookup.call"):
                    row = get_movie(movies, fid)  # collects inside the API
                with tr.span("api.lookup.exec"):
                    found = row is not None and row["id"] == fid
                ok, what = found, f"lookup {fid}: {row}"
            elif kind == "admin":
                with tr.span("api.admin.call"):
                    env = admin_movie_list(movies, page=req[1], per_page=ADMIN_PER_PAGE)
                with tr.span("api.admin.exec"):
                    rows = env["results"].collect()
                want = min(ADMIN_PER_PAGE, max(0, n_movies - (req[1] - 1) * ADMIN_PER_PAGE))
                keys = [(r["title"], r["id"]) for r in rows]
                ok = env["count"] == n_movies and len(rows) == want and keys == sorted(keys)
                what = f"admin {req}: count {env['count']}, {len(rows)} rows"
            else:
                if kind == "list":
                    params = ListParams(limit=LIST_LIMIT, page=req[3], sort=req[1],
                                        sort_order=req[2])
                else:
                    params = ListParams(limit=LIST_LIMIT, search=req[1])
                with tr.span(f"api.{kind}.call"):
                    df = list_movies(movies, params)
                with tr.span(f"api.{kind}.exec"):
                    rows = df.collect()
                ok = self._check_page(req, rows, n_movies)
                what = f"{req}: bad page of {len(rows)} rows"
        lat, cpu = time.perf_counter() - t0, self.bench.cpu() - c0
        tally.op(ok, what)
        return kind, lat, cpu

    def _check_page(self, req: tuple, rows: list, n_movies: int) -> bool:
        if req[0] == "search":
            scores = [r["score"] for r in rows]
            return 0 < len(rows) <= LIST_LIMIT and scores == sorted(scores, reverse=True)
        _, sort, order, page = req
        want = min(LIST_LIMIT, max(0, n_movies - (page - 1) * LIST_LIMIT))
        keys = [(r[sort], r["id"]) for r in rows]
        in_order = all(_precedes(a, b, order == "desc") for a, b in zip(keys, keys[1:]))
        ids = {r["id"] for r in rows}
        prev = self.last_page.get((sort, order))
        disjoint = prev is None or prev[0] != page - 1 or not (ids & prev[1])
        self.last_page[(sort, order)] = (page, ids)
        return len(rows) == want and in_order and disjoint

    def read_your_writes(self, ch: dict) -> None:
        """A reader opening the view after a drain sees every edited
        title, renamed person and renamed genre of the wave."""
        from pyspark.sql import functions as F

        from etl_sprint_2_5_spark.streaming.sink import read_view

        movies = read_view(self.bench.spark, os.path.join(self.sink_dir, "movies_gold"))
        ids = sorted({fid for fid, _, _ in ch["expect"]})
        docs = {r["id"]: r for r in movies.where(F.col("id").isin(ids)).collect()}
        for fid, field, value in ch["expect"]:
            d = docs.get(fid)
            if d is None:
                seen: list = []
            elif field == "names":
                seen = [n for f in ("actors_names", "writers_names", "directors_names")
                        for n in d[f] or ()]
            elif field == "genres_names":
                seen = d["genres_names"] or []
            else:
                seen = [d["title"]]
            self.bench.tally.op(value in seen,
                                f"read-your-writes: {fid} {field} lacks {value!r}")


class Bench:
    """One process: the session, the generated inputs and the tally."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        from etl_sprint_2_5_spark import session as session_mod

        self.args, self.work, self.session_mod = args, work, session_mod
        self.gp: GenParams = WORKLOADS[args.workload]
        self.tally = Tally()
        self.notes: dict = {}
        self.spark = None
        self.cpu = CpuClock(None)

    def start_session(self) -> float:
        t0 = time.perf_counter()
        self.spark = self.session_mod.get_spark()
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def generate(self) -> None:
        from perfbench import oracle

        self.legacy = gen.make_legacy(self.args.seed, self.gp)
        self.legacy_paths = gen.write_legacy(self.legacy, os.path.join(self.work, "legacy"))
        self.expected = oracle.expected_full_load(self.legacy_paths)
        self.requests = gen.request_mix(self.args.seed, [m[0] for m in self.legacy.movies],
                                        100 * len(gen.BLOCK))

    def full_load(self, out: str, tracer: Tracer) -> tuple[float, float, dict]:
        """One full load into ``out``, checked; returns (s, CPU s, staged
        paths)."""
        from etl_sprint_2_5_spark.pipeline.movie_gold import (
            genres_gold, movies_gold, persons_gold)
        from etl_sprint_2_5_spark.pipeline.normalize import NormalizedTables, normalize
        from etl_sprint_2_5_spark.streaming.sink import upsert_keyed_parquet

        spark, lp = self.spark, self.legacy_paths
        shutil.rmtree(out, ignore_errors=True)
        stage = {t: os.path.join(out, "stage", t) for t in TABLES}
        c0, t0 = self.cpu(), time.perf_counter()
        with tracer.span("full_load"):
            with tracer.span("normalize"):
                t = normalize(*(spark.read.parquet(lp[n]) for n in
                                ("movies", "actors", "writers", "movie_actors")))
                for name, path in stage.items():
                    getattr(t, name).write.mode("overwrite").parquet(path)
            staged = NormalizedTables(**{n: spark.read.parquet(p) for n, p in stage.items()})
            views = {"movies_gold": movies_gold(staged), "persons_gold": persons_gold(staged),
                     "genres_gold": genres_gold(staged)}
            if tracer.enabled:
                # the gold builds alone, through Spark's no-op sink; only
                # the traced copy pays this
                with tracer.span("movie_gold.full"):
                    for df in views.values():
                        df.write.format("noop").mode("overwrite").save()
            with tracer.span("sink.initial_write"):
                for name, df in views.items():
                    upsert_keyed_parquet(spark, df, os.path.join(out, "gold", name), "id")
        secs, cpu = time.perf_counter() - t0, self.cpu() - c0
        self.check_full_load(out, stage)
        return secs, cpu, stage

    def check_full_load(self, out: str, stage: dict) -> None:
        from perfbench.oracle import doc_digest

        exp = self.expected
        counts = {t: _rows(p) for t, p in stage.items()}
        self.notes["normalize.rows_out"] = sum(counts.values())
        gold = os.path.join(out, "gold")
        movies = _read(gold, "movies_gold").to_pylist()
        got = {r["id"]: doc_digest(r["genres_names"], r["actors_names"],
                                   r["directors_names"], r["writers_names"]) for r in movies}
        bad = sum(1 for k, v in exp["digests"].items() if got.get(k) != v)
        views = (len(movies), _rows(os.path.join(gold, "persons_gold")),
                 _rows(os.path.join(gold, "genres_gold")))
        want = (exp["counts"]["film_work"], exp["counts"]["person"], exp["counts"]["genre"])
        self.tally.op(counts == exp["counts"] and bad == 0 and views == want
                      and len(got) == len(exp["digests"]),
                      f"full_load: counts {counts} vs {exp['counts']}, {bad} digests "
                      f"differ, views {views} vs {want}")

    def daemon_start(self, gold: str) -> tuple[float, float]:
        """One set-up: a fresh session, the seven pipelines and the three
        views opened, as a restarted maintenance/serving process does;
        returns (s, CPU s)."""
        from etl_sprint_2_5_spark.streaming.movie_pipelines import movie_pipelines
        from etl_sprint_2_5_spark.streaming.sink import read_view

        self.spark.stop()
        c0, t0 = self.cpu(), time.perf_counter()
        self.start_session()
        movie_pipelines(gold)
        for name in VIEWS:
            read_view(self.spark, os.path.join(gold, name))
        return time.perf_counter() - t0, self.cpu() - c0


class CpuClock:
    """CPU seconds, user and system, spent by this process and by the
    threads of the JVM it started that run the program and Spark: the
    JIT compiler and garbage-collector threads (``LEFT_OUT``) are left
    out. In a JVM as young as this one, background compilation is the
    largest consumer of CPU, and how much of it, or of a collection,
    lands inside one operation depends on timing, not on the operation.
    Unlike wall time, CPU time does not grow while the host gives the
    CPU to other machines."""

    def __init__(self, jvm_pid: int | None) -> None:
        self.clocks = [time.CLOCK_PROCESS_CPUTIME_ID]
        self.jvm = jvm_pid
        self.left_out: dict[str, bool] = {}  # JVM thread id -> left out?
        self.last: dict[str, float] = {}  # left-out thread -> its CPU seconds
        if jvm_pid is not None:
            # the kernel's CPU-time clock of another process (what
            # clock_getcpuclockid returns): ((~pid) << 3) | CPUCLOCK_SCHED
            self.clocks.append(ctypes.c_int32((~jvm_pid << 3) | 2).value)

    def _left_out_s(self) -> float:
        """CPU seconds of the left-out threads so far. One that has
        exited keeps its last reading: its time stays in the process
        clock."""
        if self.jvm is None:
            return 0.0
        task = f"/proc/{self.jvm}/task"
        for tid in os.listdir(task):
            if tid not in self.left_out:
                try:
                    with open(f"{task}/{tid}/comm") as f:
                        self.left_out[tid] = f.read().startswith(LEFT_OUT)
                except OSError:
                    continue
            if self.left_out[tid]:
                try:
                    with open(f"{task}/{tid}/schedstat") as f:
                        self.last[tid] = int(f.read().split()[0]) / 1e9
                except OSError:
                    pass
        return sum(self.last.values())

    def __call__(self) -> float:
        return sum(time.clock_gettime(c) for c in self.clocks) - self._left_out_s()


def _all(lat: dict[str, list[float]]) -> list[float]:
    return [x for xs in lat.values() for x in xs]


def serve_one(pf: Platform, i: int, req: tuple, lat: dict[str, list[float]],
              cpu: dict[str, list[float]]) -> float:
    """Request number ``i``; returns its latency in seconds."""
    pf.tracer.tags = {"request": i}
    kind, secs, cpu_s = pf.request(req)
    pf.tracer.tags = {}
    lat[kind].append(secs)
    cpu[kind].append(cpu_s)
    return secs


def run_untraced(b: Bench, seconds: float) -> dict:
    """One cold full load (the process's first, as a batch migration
    runs), three set-ups, one CDC wave committed, drained and read back,
    then ``SERVE_BLOCKS`` blocks of requests over the changed view. Every
    run does the same work, so a JVM that is still warming up is as warm
    at each step on every run; only a run past ``seconds`` serves fewer
    blocks."""
    off = Tracer(None, enabled=False)
    out = os.path.join(b.work, "platform")
    t0, host0 = time.perf_counter(), _cpu_times()
    deadline = t0 + seconds
    load, load_cpu, stage = b.full_load(out, off)
    setups = [b.daemon_start(os.path.join(out, "gold")) for _ in range(SETUP_REPS)]
    pf = Platform(b, out, stage, off)
    _, wave = pf.wave()
    pf.read_your_writes(wave)
    # one untimed request of each kind first: the first of a kind runs
    # cold, several times slower than the next
    for op in OPS:
        pf.request(next(r for r in b.requests if r[0] == op))
    pf.last_page.clear()
    lat: dict[str, list[float]] = {op: [] for op in OPS}
    cpu: dict[str, list[float]] = {op: [] for op in OPS}
    block, n, blocks = len(gen.BLOCK), 0, []
    while len(blocks) < SERVE_BLOCKS and (not blocks or time.perf_counter() <= deadline):
        b0 = time.perf_counter()
        for req in b.requests[n:n + block]:
            serve_one(pf, n, req, lat, cpu)
            n += 1
        blocks.append(time.perf_counter() - b0)
    measured = time.perf_counter() - t0
    host = [b_ - a_ for a_, b_ in zip(host0, _cpu_times())]
    pf.check_views()

    med = statistics.median
    wall = {
        "setup_s": med(s for s, _ in setups),
        "full_load.load_s": load,
        "cdc_drain.wave_s": wave["secs"],
        **{f"serve.{op}_p50_ms": 1000 * med(lat[op]) for op in OPS},
        "serve.p80_ms": 1000 * statistics.quantiles(_all(lat), n=5)[-1],
        # the serving loop's throughput
        "serve.requests_per_s": n / sum(blocks),
        "peak_rss_mb": peak_rss_mb(),
    }
    b.notes.update(
        # wall-clock figures, which grow with the time the host gives to
        # other machines (cpu_steal_pct) while this run measures
        wall={k: {"value": v, "unit": WALL[k]} for k, v in wall.items()},
        measured_s=measured, cpu_steal_pct=100 * host[7] / max(1, sum(host)),
        setup_wall_s=[s for s, _ in setups], setup_cpu_s=[c for _, c in setups],
        wave={k: len(wave[k]) if isinstance(wave[k], (set, list)) else wave[k]
              for k in ("rows", "consumed", "movies", "persons", "genres")},
        blocks=len(blocks), per_op={op: len(v) for op, v in lat.items()})
    return {
        "setup_s": med(c for _, c in setups),
        "full_load.load_cpu_s": load_cpu,
        "cdc_drain.wave_cpu_s": wave["cpu"],
        **{f"serve.{op}_cpu_p50_ms": 1000 * med(cpu[op]) for op in OPS},
    }


def run_traced(b: Bench, spans_path: str) -> dict:
    """Two copies of the platform get the same operations, one plain
    and one traced, alternating in ABBA order so neither copy always
    goes second. Per-layer metrics come from the traced copy; the
    tracing overhead is its time minus the plain copy's over the same
    waves and requests. The traced copy's documents and commits per
    wave are checked against what the wave changed."""
    off, on = Tracer(None, enabled=False), Tracer(b.spark.sparkContext, enabled=True)
    pfs = []
    for name, tr, counters in (("plain", off, None), ("traced", on, Counters())):
        out = os.path.join(b.work, name)
        _, _, stage = b.full_load(out, tr)
        pfs.append(Platform(b, out, stage, tr, counters))
    secs, waves = [0.0, 0.0], []
    lat: dict[str, list[float]] = {op: [] for op in OPS}
    cpu: dict[str, list[float]] = {op: [] for op in OPS}
    block, n = len(gen.BLOCK), 0
    for w in range(TRACE_WAVES + 1):
        if w:
            for k in ((0, 1) if w % 2 else (1, 0)):
                drain, ch = pfs[k].wave()
                secs[k] += drain
                pfs[k].read_your_writes(ch)
                if k == 1:
                    waves.append(ch)
        for req in b.requests[n:n + block]:
            for k in ((0, 1) if n % 2 == 0 else (1, 0)):
                secs[k] += serve_one(pfs[k], n, req, lat, cpu)
            n += 1
    for pf in pfs:
        pf.check_views()
    on.dump(spans_path)
    b.notes["trace"] = {"untraced_s": secs[0], "traced_s": secs[1],
                        "spans": len(on.spans), "spans_file": spans_path,
                        "per_wave": [{k: w[k] for k in ("rows", "consumed", "docs", "commits",
                                                         "loads", "bytes", "secs")}
                                     for w in waves]}
    return layer_metrics(b, on, pfs[1], waves, secs[1] - secs[0])


def layer_metrics(b: Bench, tr: Tracer, pf: Platform, waves: list[dict],
                  overhead: float) -> dict:
    med = statistics.median

    def durs(name: str) -> list[float]:
        return [tr.dur(s) for s in tr.named(name)]

    ivm_self, ivm_jobs, upsert_s = [], [], []
    for d in tr.named("ivm.drain"):
        ups = [s for s in tr.subtree(d) if s["name"] == "sink.upsert"]
        upsert_s.append(sum(tr.dur(s) for s in ups))
        ivm_self.append(tr.dur(d) - upsert_s[-1])
        ivm_jobs.append(tr.jobs_in(d, exclude=("sink.upsert",)))
    doc_bytes = {v: _dir_bytes(os.path.join(pf.sink_dir, v)) / max(1, pf.view_rows[v])
                 for v in VIEWS}
    # bytes written per byte of changed documents
    amp = [w["bytes"] / (len(w["movies"]) * doc_bytes["movies_gold"]
                         + len(w["persons"]) * doc_bytes["persons_gold"]
                         + len(w["genres"]) * doc_bytes["genres_gold"]) for w in waves]
    out = {
        "session.start_s": b.notes["session.start_s"],
        "normalize.s": med(durs("normalize")),
        "normalize.rows_out": b.notes["normalize.rows_out"],
        "normalize.spark_jobs": med([tr.jobs_in(s) for s in tr.named("normalize")]),
        "movie_gold.full_s": med(durs("movie_gold.full")),
        "movie_gold.spark_jobs": med([tr.jobs_in(s) for s in tr.named("movie_gold.full")]),
        "movie_gold.docs_rebuilt": med([w["docs"] for w in waves]),
        "sink.initial_write_s": med(durs("sink.initial_write")),
        "sink.upsert_s": med(upsert_s),
        "sink.commits": med([w["commits"] for w in waves]),
        "sink.bytes_written": med([w["bytes"] for w in waves]),
        "sink.write_amp": med(amp),
        "sink.read_ms": 1000 * med(durs("sink.read")),
        "ivm.self_s": med(ivm_self),
        "ivm.rows_consumed": med([w["consumed"] for w in waves]),
        "ivm.fanout_ratio": med([w["docs"] / w["consumed"] for w in waves]),
        "ivm.load_calls": med([w["loads"] for w in waves]),
        "ivm.spark_jobs": med(ivm_jobs),
        "trace.overhead_s": overhead,
    }
    for op in OPS:
        calls, execs = tr.named(f"api.{op}.call"), tr.named(f"api.{op}.exec")
        out[f"api.{op}_call_ms"] = 1000 * med([tr.dur(s) for s in calls])
        out[f"api.{op}_exec_ms"] = 1000 * med([tr.dur(s) for s in execs])
        out[f"api.{op}_spark_jobs"] = med([a["jobs"] + e["jobs"] for a, e in zip(calls, execs)])
    return out


# -- helpers ------------------------------------------------------------------
def _precedes(a: tuple, b: tuple, desc: bool) -> bool:
    """(key, id) pair a may come before b: key asc nulls first, or key
    desc nulls last, ties by id asc (Spark's defaults)."""
    (av, aid), (bv, bid) = a, b
    if av == bv:
        return aid <= bid
    if av is None or bv is None:
        return (av is None) != desc
    return av > bv if desc else av < bv


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
               for root, _, files in os.walk(path) for f in files
               if f.endswith(".parquet") and not f.startswith("."))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def _read(gold: str, view: str):  # noqa: ANN202 - pyarrow Table
    """A view as the sink left it on disk, read without Spark."""
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(gold, view), format="parquet").to_table()


def _canon(doc: dict) -> str:
    return json.dumps(doc, sort_keys=True)


def _merge_groups(ivm, pipes: list) -> list:  # noqa: ANN001 - module
    groups: dict = {}
    for i, p in enumerate(pipes):
        groups.setdefault(ivm._merge_key(p), []).append(i)
    return sorted(groups.values())


def _cpu_times() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (steal is the 8th)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """High-water resident memory of this process and every process it
    started (the JVM and any Python workers)."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me, *_descendants(me)]) / 1024


def _shutdown(gateway) -> None:  # noqa: ANN001 - py4j JavaGateway
    """Stop Spark and wait for the JVM this process started."""
    from pyspark.sql import SparkSession

    try:
        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()
    except Exception:  # noqa: BLE001 - the JVM may be gone already; still reap it
        traceback.print_exc()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", default=".perfbench_work/spans.jsonl",
                    help="where a traced run writes its spans (JSON lines)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = str(ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gateway = None
    try:
        settings = host_settings(work)
        try:
            b = Bench(args, work)
        except ImportError as exc:
            print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
            return 2
        # the inputs are generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            generated = pool.submit(b.generate)
            b.notes["session.start_s"] = b.start_session()
            generated.result()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        b.cpu = CpuClock(gateway.proc.pid)
        if args.trace:
            metrics, units = run_traced(b, args.spans), PER_LAYER
        else:
            metrics, units = run_untraced(b, args.seconds), END_TO_END
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "params": gen.params_dict(b.gp), "settings": settings,
                          "notes": b.notes, "errors": b.tally.errors}, default=str))
        print(json.dumps({
            "correct": b.tally.failed == 0,
            "attempted": b.tally.attempted,
            "failed": b.tally.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }))
        return 0
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        try:
            _shutdown(gateway)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if not os.listdir(os.path.dirname(work)):
                os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
