"""One harness for the live Structured Streaming gates and the
package's ``availableNow`` starters.

A streaming gate stages a feed in a scratch directory, drains one or
more queries over it and reads the sink back. Everything around the
query body lives here, once:

- :func:`drain` is the only place a query is started and waited on:
  ``Trigger.AvailableNow`` (drain the backlog, then stop), the given
  checkpoint, and a bounded wait — on timeout the query is stopped and
  the drain raises instead of leaving a silently partial sink, which
  would surface as a baffling oracle-hash mismatch. Whether it returns
  or raises, the query is no longer running. Each drained query logs
  one DEBUG line of trigger progress from ``recentProgress``: gate
  name, micro-batch count, summed ``numInputRows`` and summed
  ``durationMs.triggerExecution``.
- :func:`streaming_gate` is the context manager a gate body runs in.
  It owns the scratch directory and the per-query checkpoint
  locations, and on every exit path drops the memory-sink views it
  created and removes the directory. A gate body therefore
  materializes its result inside the ``with``: the sink rows and
  files are gone once it exits.
- :func:`write_feed` stages a file feed whose waves the file source
  replays in order, one file per wave with strictly increasing mtimes
  — wave order is a stated invariant, not a sleep between writes.
"""

from __future__ import annotations

import contextlib
import contextvars
import glob
import logging
import os
import tempfile
import time
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

log = logging.getLogger(__name__)

TIMEOUT_S = 300

# name of the gate whose body is running, so progress lines from the
# package starters (which only know their pipeline) name their gate too
_gate: contextvars.ContextVar[str | None] = contextvars.ContextVar(
    "streaming_gate", default=None
)


def drain(writer: DataStreamWriter, checkpoint: str, what: str) -> StreamingQuery:
    """Start ``writer`` under ``Trigger.AvailableNow`` with
    ``checkpoint`` as its checkpoint location and wait until the
    backlog is consumed; returns the terminated query. A checkpoint
    that already holds offsets resumes from them. A failed micro-batch
    re-raises here (``StreamingQueryException``); a drain still
    running after :data:`TIMEOUT_S` is stopped and raises
    ``RuntimeError``."""
    name = "/".join(filter(None, (_gate.get(), what)))
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        done = q.awaitTermination(TIMEOUT_S)
    finally:
        if q.isActive:
            q.stop()
    if not done:
        raise RuntimeError(f"{name} did not drain within {TIMEOUT_S}s")
    progress = q.recentProgress
    log.debug(
        "%s: %d micro-batches, %d input rows, %d ms trigger execution",
        name,
        len(progress),
        sum(p.numInputRows for p in progress),
        sum(p.durationMs.get("triggerExecution", 0) for p in progress),
    )
    return q


class Gate:
    """The scratch state of one gate run; see :func:`streaming_gate`."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.dir = path
        self.views: list[str] = []

    def checkpoint(self, key: str = "q") -> str:
        """Checkpoint location of the gate's query ``key``: draining
        the same key again resumes from its offsets."""
        return f"{self.dir}/ckpt/{key}"

    def drain(self, writer: DataStreamWriter, key: str = "q") -> StreamingQuery:
        """:func:`drain` with the checkpoint of query ``key``."""
        return drain(writer, self.checkpoint(key), key)

    def to_memory(self, df: DataFrame, mode: str) -> DataFrame:
        """Drain the streaming ``df`` into a memory sink in output
        ``mode``; returns the sink's table. The table is a temp view
        holding its rows on the driver, dropped when the gate exits."""
        view = f"t_{os.path.basename(self.dir)}_{len(self.views)}"
        self.views.append(view)
        writer = df.writeStream.outputMode(mode).format("memory").queryName(view)
        self.drain(writer, key=view)
        return self.spark.table(view)


@contextlib.contextmanager
def streaming_gate(
    spark: SparkSession, name: str, root: str | None = None
) -> Iterator[Gate]:
    """Run a gate body named ``name`` in a fresh scratch directory
    (under ``root`` when given, else the system temp dir). On every
    exit path the memory-sink views are dropped and the directory is
    removed; queries need no cleanup because :func:`drain` never
    leaves one running."""
    with tempfile.TemporaryDirectory(prefix=f"{name}_", dir=root) as path:
        gate = Gate(spark, path)
        token = _gate.set(name)
        try:
            yield gate
        finally:
            _gate.reset(token)
            for view in gate.views:
                spark.catalog.dropTempView(view)


def write_feed(path: str, *waves: DataFrame) -> None:
    """Append each wave to the parquet feed at ``path`` as ONE file and
    pin the files' mtimes one second apart, strictly increasing, the
    last one second before the current second.

    The file source orders new files by modification time, so under
    ``maxFilesPerTrigger=1`` wave i is micro-batch i. Written
    back-to-back, two waves can share an mtime and replay in listing
    order instead. Seconds apart keeps every wave far inside the
    source's ``maxFileAge`` (7 days by default, counted back from the
    newest file), and a file written later without pinning still sorts
    after all of them."""
    t0 = int(time.time()) - len(waves) - 1
    for i, wave in enumerate(waves, 1):
        before = set(glob.glob(f"{path}/*.parquet"))
        wave.coalesce(1).write.mode("append").parquet(path)
        for f in set(glob.glob(f"{path}/*.parquet")) - before:
            os.utime(f, (t0 + i, t0 + i))
