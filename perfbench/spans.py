"""Spans and counters for the benchmark's traced run.

Spans are recorded only here, around the benchmark's own calls into
the program's layers: name, start, end, parent span and the wave or
request id they belong to. They stay in memory and are written out once
at the end. Spark job and task counts per span come from a job group
set on entry (``setJobGroup``) and read back through
``statusTracker()``; jobs are charged to the innermost open span.

The wrappers only wrap callables the program accepts from its caller
(the ``TableLoader`` and each ``Pipeline``'s ``rebuild`` / ``upsert``),
so the traced run executes the same program as the untraced one.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager

IDLE_GROUP = "perfbench-idle"


class Tracer:
    """Collects spans. With ``enabled=False`` a span costs one branch
    and records nothing."""

    def __init__(self, sc, enabled: bool) -> None:  # noqa: ANN001 - SparkContext
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.tags: dict = {}

    @contextmanager
    def span(self, name: str, **attrs):  # noqa: ANN201
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **self.tags,
            **attrs,
        }
        group = f"perfbench-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent_group = (
                f"perfbench-{self._stack[-1]['id']}" if self._stack else IDLE_GROUP
            )
            self.sc.setJobGroup(parent_group, "")
            rec["jobs"], rec["tasks"] = self._job_counts(group)

    def _job_counts(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                stage = st.getStageInfo(s)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(jobs), tasks

    # -- derived figures ------------------------------------------------
    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    @staticmethod
    def dur(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part its child spans cover (children are
        sequential in this single-threaded benchmark)."""
        return self.dur(rec) - sum(self.dur(c) for c in self.children(rec))

    def jobs_in(self, rec: dict, exclude: tuple[str, ...] = ()) -> int:
        total, todo = 0, [rec]
        while todo:
            s = todo.pop()
            if s is not rec and s["name"] in exclude:
                continue
            total += s["jobs"]
            todo.extend(self.children(s))
        return total

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON line."""
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path + ".tmp", "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": self.self_time(s)}, default=str) + "\n")
        os.replace(path + ".tmp", path)


class Counters:
    """Running counts at the instrumented calls; the untraced and traced
    copies of a traced run must agree on them per wave."""

    def __init__(self) -> None:
        self.commits = 0
        self.docs = 0
        self.load_calls = 0
        self.bytes_written = 0

    def snapshot(self) -> tuple[int, int, int, int]:
        return (self.commits, self.docs, self.load_calls, self.bytes_written)


def _files(path: str) -> dict[str, os.stat_result]:
    """Data files under a sink path (not checksums or markers)."""
    return {os.path.join(root, n): os.stat(os.path.join(root, n))
            for root, _, names in os.walk(path) for n in names
            if not n.startswith((".", "_"))}


def instrument(pipes: list, load, tracer: Tracer, counters: Counters):  # noqa: ANN001, ANN201
    """Wrap the loader and every pipeline's rebuild / upsert in place;
    returns the wrapped loader.

    One wrapper per ORIGINAL rebuild builder: ``ivm._merge_key`` merges
    same-sink pipelines by ``id(p.rebuild)``, so a wrapper per pipeline
    would silently stop the merged drain and the traced run would
    measure a different program. The docs handed to the sink are
    counted with ``DataFrame.observe``, which adds a metrics node and
    changes no result."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def traced_load(name: str):  # noqa: ANN202
        counters.load_calls += 1
        with tracer.span("ivm.load", table=name):
            return load(name)

    pending: list[Observation] = []
    wrapped: dict[int, object] = {}
    seq = itertools.count()

    def wrap_rebuild(orig):  # noqa: ANN001, ANN202
        def traced_rebuild(ld, ids):  # noqa: ANN001, ANN202
            with tracer.span("movie_gold.rebuild"):
                docs = orig(ld, ids)
            obs = Observation(f"perfbench_docs_{next(seq)}")
            pending.append(obs)
            return docs.observe(obs, F.count(F.lit(1)).alias("n"))

        return traced_rebuild

    def wrap_upsert(p, orig):  # noqa: ANN001, ANN202
        def traced_upsert(spark, docs, probe_keys=None):  # noqa: ANN001, ANN202
            before = _files(p.sink_path)
            with tracer.span("sink.upsert", sink=os.path.basename(p.sink_path)) as rec:
                orig(spark, docs, probe_keys=probe_keys)
            after = _files(p.sink_path)
            # files the commit created: new paths, or paths now on a new inode
            written = sum(st.st_size for fp, st in after.items()
                          if fp not in before or before[fp].st_ino != st.st_ino)
            n_docs = pending.pop(0).get["n"] if pending else 0
            counters.commits += 1
            counters.docs += n_docs
            counters.bytes_written += written
            if rec is not None:
                rec.update(docs=n_docs, bytes=written)

        return traced_upsert

    for p in pipes:
        orig = p.rebuild
        if id(orig) not in wrapped:
            wrapped[id(orig)] = wrap_rebuild(orig)
        p.rebuild = wrapped[id(orig)]
        p.upsert = wrap_upsert(p, p.upsert)
    return traced_load
