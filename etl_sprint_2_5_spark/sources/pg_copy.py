"""Live PostgreSQL wire path over the COPY protocol — SURVEY.md §2.1
S4 (bulk INSERT sink, reference sqlite_to_postgresql/etl.py:205-213)
and the PG half of S7 DDL bootstrap, runnable WITHOUT a JDBC driver
jar or a Python DB-API module: every byte crosses the wire through
``psql`` subprocesses speaking COPY, PostgreSQL's bulk-load verb.

Why COPY and not executemany/JDBC batching: the reference's sink is a
driver-side ``cursor.executemany(INSERT ...)`` loop — one round-trip
per batch, values re-parsed per row. COPY streams CSV through one
protocol message stream and is the documented fast path for bulk
loads (what pg_dump/pg_restore use); production Spark→PG pipelines
front exactly this shape (spark-postgres and friends COPY per
partition). At the 100-TB sizing the load MUST be partition-parallel:
``pg_copy_load`` opens one COPY per Spark partition via
``foreachPartition`` — N concurrent COPY streams into the same table
(plain inserts, no lock conflicts) — so throughput scales with
executors until PG's WAL becomes the bottleneck, which is the correct
bottleneck. The driver never materializes the dataset.

Upsert (``pg_upsert_copy``) is the PG-native exactly-once shape the
manifest sink mirrors on parquet: COPY into an UNLOGGED staging table
(partition-parallel, no WAL), then ONE transactional
``INSERT ... ON CONFLICT (key) DO UPDATE`` from the stage — re-running
the same batch is a no-op effect-wise (T3 semantics live against a
real database), and a crash between stage and merge leaves the target
untouched.

Requirements: ``psql`` on PATH wherever a partition runs (executors on
a real cluster; this container has it). Connections are DSN strings
(``host=... port=... user=... dbname=...``) — unix-socket DSNs work,
which is how the tests run a throwaway root-less cluster via
``initdb``/``pg_ctl`` under ``runuser -u nobody``. When the optional
PostgreSQL JDBC jar IS present, prefer sources/jdbc.py for parallel
range-partitioned READS; COPY stays the write path either way.
"""

from __future__ import annotations

import io
import logging
import subprocess
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: COPY NULL marker — distinguishable from the empty string under CSV
#: quoting rules (an unquoted \\N is NULL, a quoted "" is an empty
#: string), so text round-trips losslessly. Lossless includes a data
#: value LITERALLY equal to the marker: the writer force-quotes every
#: non-NULL field (so only NULL is ever the bare marker), and the
#: reader is quote-aware (PostgreSQL's CSV output quotes a data value
#: that happens to equal the null string — _parse_csv_raw preserves
#: that distinction where csv.reader would collapse it).
_NULL = r"\N"

log = logging.getLogger(__name__)


def _psql(dsn: str, args: list[str], stdin: str, what: str, failed: str) -> str:
    """One ``psql`` spawn: ``stdin`` in, stdout back. ON_ERROR_STOP so
    a failed statement can't half-apply a script silently; a non-zero
    exit raises RuntimeError(``failed: <PG's stderr>``). Logs one DEBUG
    line per spawn: ``what``, seconds, bytes in and out."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        ["psql", dsn, "-v", "ON_ERROR_STOP=1", "-X", "-q", *args],
        input=stdin, capture_output=True, text=True,
    )
    if log.isEnabledFor(logging.DEBUG):
        log.debug("psql %s: %.3f s, %d bytes in, %d bytes out", what,
                  time.perf_counter() - t0, len(stdin.encode()),
                  len(proc.stdout.encode()))
    if proc.returncode != 0:
        raise RuntimeError(f"{failed}: {proc.stderr.strip()}")
    return proc.stdout


def _csv_field(v) -> str:  # noqa: ANN001
    """One COPY csv field: bare NULL marker for None, everything else
    force-quoted (internal quotes doubled) — a string value equal to
    the marker stays a string on the PG side."""
    if v is None:
        return _NULL
    s = str(v)
    return '"' + s.replace('"', '""') + '"'


def _parse_csv_raw(text: str):
    """Tokenize COPY csv output KEEPING the quoted/unquoted distinction
    (yields per row a list of (was_quoted, value)). csv.reader discards
    quoting, which collapses PostgreSQL's quoted literal "\\N" into the
    bare NULL marker; this parser exists solely to keep them apart."""
    row: list[tuple[bool, str]] = []
    tok: list[str] = []
    quoted = in_q = False
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if in_q:
            if c == '"':
                if i + 1 < n and text[i + 1] == '"':
                    tok.append('"')
                    i += 2
                    continue
                in_q = False
            else:
                tok.append(c)
            i += 1
        elif c == '"':
            in_q = quoted = True
            i += 1
        elif c == ",":
            row.append((quoted, "".join(tok)))
            tok, quoted = [], False
            i += 1
        elif c == "\n":
            row.append((quoted, "".join(tok)))
            yield row
            row, tok, quoted = [], [], False
            i += 1
        elif c == "\r" and i + 1 < n and text[i + 1] == "\n":
            i += 1  # tolerate CRLF outside quotes
        else:
            tok.append(c)
            i += 1
    if tok or row or quoted:
        row.append((quoted, "".join(tok)))
        yield row


def have_pg() -> bool:
    """True when the PostgreSQL server binaries this module can drive
    are on PATH (psql + initdb + pg_ctl, plus runuser when root —
    PostgreSQL refuses to run as root, so a root process launches the
    cluster as ``nobody``)."""
    import os
    import shutil

    need = ["psql", "initdb", "pg_ctl"]
    if os.geteuid() == 0:
        need.append("runuser")
    return all(shutil.which(b) for b in need)


class ephemeral_pg:
    """Context manager running a THROWAWAY PostgreSQL cluster on a
    unix socket under ``base_dir`` — data-dir bootstrap + pg_ctl start
    on enter, stop + delete on exit. Root-less: when the caller is
    root (this container), the cluster runs as ``nobody`` via
    ``runuser`` (PG refuses root); the socket is world-connectable so
    the caller's psql subprocesses reach it. fsync is off and the
    instance is socket-only — this is a test/verification instance,
    not a durable deployment. Yields the DSN string.

    Bootstrap cost: ``initdb`` runs ONCE per process into a cached
    template data dir; each cluster then starts from a file-level
    copy of the template (``cp -a``) — a PG data dir is relocatable
    before first start, so the copy is byte-equivalent to a fresh
    initdb at a fraction of the cost (the standard trick test
    fixtures like pytest-postgresql use). Every cluster still starts
    EMPTY: nothing but initdb's catalog is in the template, so no
    query state can leak between scenarios. The template is
    per-process (no cross-process sharing, no lock protocol) and
    removed at interpreter exit by its TemporaryDirectory's
    finalizer."""

    _template_dir: str | None = None  # process-wide initdb template
    _template_tmp = None  # its TemporaryDirectory, kept alive until exit

    def __init__(self, base_dir: str, port: int = 54329):
        self.base = base_dir
        self.port = port

    def _run(self, *cmd: str) -> None:
        import os

        full = list(cmd)
        if os.geteuid() == 0:
            full = ["runuser", "-u", "nobody", "--", *full]
        proc = subprocess.run(full, capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(
                f"{cmd[0]} failed: {proc.stderr.strip()[:500]}"
            )

    def _template(self) -> str:
        """The once-per-process initdb'd template data dir (never
        started — no postmaster state, just initdb's catalog files)."""
        import os
        import shutil as _sh
        import tempfile

        cls = type(self)
        tpl = cls._template_dir
        if tpl and os.path.isdir(tpl):
            return tpl

        holder = tempfile.TemporaryDirectory(
            prefix="pg_tpl_", ignore_cleanup_errors=True
        )
        base = holder.name
        os.chmod(base, 0o755)
        if os.geteuid() == 0:
            _sh.chown(base, user="nobody")
        tpl = f"{base}/data"
        self._run(
            "initdb", "-D", tpl, "-U", "pguser", "--auth=trust",
            "--no-sync",
        )
        cls._template_dir, cls._template_tmp = tpl, holder
        return tpl

    def __enter__(self) -> str:
        import os
        import shutil as _sh

        os.makedirs(self.base, exist_ok=True)
        if os.geteuid() == 0:
            _sh.chown(self.base, user="nobody")
        data = f"{self.base}/data"
        # cp of the never-started template == fresh initdb (see class
        # docstring); run as the cluster owner so permissions come out
        # 0700-owner-correct without a chown pass
        self._run("cp", "-a", self._template(), data)
        # unix_socket_permissions=0700: trust auth stays unreachable by
        # arbitrary local users — only the cluster owner (and root,
        # which owns the test process) can connect to the socket
        self._run(
            "pg_ctl", "-D", data, "-l", f"{self.base}/pg.log",
            "-o",
            f"-k {self.base} -p {self.port} -c listen_addresses= "
            "-c fsync=off -c unix_socket_permissions=0700",
            "start",
        )
        return (
            f"host={self.base} port={self.port} user=pguser "
            "dbname=postgres"
        )

    def __exit__(self, *exc) -> None:
        import shutil as _sh

        try:
            self._run("pg_ctl", "-D", f"{self.base}/data", "-m",
                      "immediate", "stop")
        except RuntimeError:
            pass
        _sh.rmtree(self.base, ignore_errors=True)


def pg_ts_literal(ts) -> str:  # noqa: ANN001
    """Validate a cursor timestamp and return the literal body for
    ``TIMESTAMP '...'`` interpolation. Accepts a datetime or an ISO
    string; anything else raises ValueError BEFORE it reaches SQL —
    the internal callers only ever pass PG-emitted timestamps, but
    the text placement means validation must be structural, not a
    caller convention (mirrors the int() cast on cursor ids)."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        return ts.isoformat(sep=" ")
    return _dt.datetime.fromisoformat(str(ts)).isoformat(sep=" ")


def pg_exec(dsn: str, sql: str) -> str:
    """Run one SQL statement (or psql script) over a fresh connection;
    returns stdout. Raises RuntimeError with PG's stderr on failure.
    The SQL ships via STDIN (``-f -``), not argv: a
    statement carrying a large IN-list (the CDC rebuild's affected-id
    pushdown at scale) would otherwise hit the kernel's per-argument
    size limit (MAX_ARG_STRLEN, ~128 KiB)."""
    return _psql(dsn, ["-At", "-f", "-"], sql, "exec", "psql failed")


def _copy_in(dsn: str, table: str, columns: list[str], rows) -> int:
    """One COPY FROM STDIN stream for an iterator of Row/tuple — the
    per-partition worker. Returns rows sent."""
    cols = ", ".join(columns)
    copy = f"COPY {table} ({cols}) FROM STDIN WITH (FORMAT csv, NULL '{_NULL}')"
    buf = io.StringIO()
    n = 0
    for r in rows:
        buf.write(",".join(_csv_field(v) for v in r))
        buf.write("\n")
        n += 1
    _psql(dsn, ["-c", copy], buf.getvalue(), f"copy in {table}", "COPY failed")
    return n


def pg_copy_load(df: DataFrame, dsn: str, table: str) -> None:
    """Partition-parallel bulk INSERT: each Spark partition opens its
    own ``COPY table FROM STDIN`` stream (concurrent plain inserts —
    no lock conflicts, N× the single-connection throughput the
    reference's executemany loop gets). Timestamps/dates cross as ISO
    strings (PG parses them natively); binary columns are not
    supported on this path — hex-encode first."""
    columns = list(df.columns)
    # stringify driver-agnostic: CSV needs text anyway, and doing the
    # cast in Spark keeps the per-row Python work to csv.writerow
    out = df.select([F.col(c).cast("string").alias(c) for c in columns])

    def _load(part) -> None:
        rows = [tuple(r) for r in part]
        if rows:
            _copy_in(dsn, table, columns, rows)

    out.foreachPartition(_load)


def pg_upsert_copy(
    df: DataFrame, dsn: str, table: str, key: str
) -> None:
    """Exactly-once keyed upsert against live PostgreSQL: COPY the
    batch into an UNLOGGED staging table (partition-parallel), then
    ONE transactional ``INSERT ... ON CONFLICT (key) DO UPDATE`` from
    the stage. Re-delivering the same batch is a no-op effect-wise —
    the T3 idempotence contract, live. The batch must be key-unique
    (same contract the manifest sink's rewrite merge has per commit);
    the merge enforces it with DISTINCT ON so a duplicate key can't
    abort the transaction halfway. Requires a UNIQUE/PK constraint on
    ``key``."""
    stage = f"{table}_stage_{uuid.uuid4().hex[:10]}"
    cols = list(df.columns)
    collist = ", ".join(cols)
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in cols if c != key)
    pg_exec(
        dsn,
        f"CREATE UNLOGGED TABLE {stage} "
        f"(LIKE {table} INCLUDING DEFAULTS)",
    )
    try:
        pg_copy_load(df, dsn, stage)
        pg_exec(
            dsn,
            f"INSERT INTO {table} ({collist}) "
            f"SELECT DISTINCT ON ({key}) {collist} FROM {stage} "
            f"ON CONFLICT ({key}) DO UPDATE SET {sets}",
        )
    finally:
        pg_exec(dsn, f"DROP TABLE IF EXISTS {stage}")


def id_restriction_script(
    ids, threshold: int
) -> tuple[str, str, str, str | None]:
    """The ``staged_ids`` decision as SCRIPT FRAGMENTS, for callers
    that batch their statements into one psql invocation: returns
    ``(frag, prelude, epilogue, stage_table)`` where ``frag`` is the
    ``IN (...)`` body (a literal id list below ``threshold``, a
    ``SELECT id FROM <stage>`` above it), ``prelude`` stages the id
    set (CREATE UNLOGGED + inline COPY + ANALYZE — empty on the
    literal path), ``epilogue`` drops the stage, and ``stage_table``
    names it (None on the literal path) so a caller whose script
    failed mid-way can best-effort DROP. staged_ids wraps this for
    the one-read-per-spawn shape; the CDC rebuild batches its three
    restricted reads plus stage+drop into a single spawn."""
    ids = [int(i) for i in ids]
    if len(ids) <= threshold:
        return (",".join(str(i) for i in ids) or "NULL", "", "", None)
    table = f"ids_stage_{uuid.uuid4().hex[:10]}"
    rows = "\n".join(str(i) for i in ids)
    prelude = (
        f"CREATE UNLOGGED TABLE {table} (id bigint PRIMARY KEY);\n"
        f"COPY {table} (id) FROM STDIN WITH (FORMAT csv);\n"
        f"{rows}\n\\.\n"
        f"ANALYZE {table};"
    )
    return (
        f"SELECT id FROM {table}",
        prelude,
        f"DROP TABLE IF EXISTS {table};",
        table,
    )


class staged_ids:
    """Context manager turning a bounded affected-id set into the
    body of a SQL ``IN (...)`` — as a literal list below
    ``threshold``, as an UNLOGGED staged id table above it.

    Why: the reference's CDC fan-out collects ids into an IN clause
    (postgres_to_es/daemon.py:139-152), which is fine at its batch
    sizes but degenerates at large fan-outs — the planner re-parses a
    megabyte literal per statement and loses the hash-semi-join plan.
    Above the threshold this COPYs the ids into an UNLOGGED table
    (no WAL) with a PRIMARY KEY, ANALYZEs it, and yields
    ``SELECT id FROM <stage>`` so the restriction joins server-side
    with real statistics. The table is dropped on exit. At 100 TB the
    id set is still bounded (it is one micro-batch's fan-out), but a
    hot dimension key can fan to millions of facts — the staged join
    is the shape that survives that.

    Usage::

        with staged_ids(dsn, ids) as frag:
            pg_copy_read(spark, dsn,
                         f"SELECT ... WHERE k IN ({frag})", ...)
    """

    def __init__(self, dsn: str, ids, threshold: int = 500):
        self.dsn = dsn
        self.ids = [int(i) for i in ids]
        self.threshold = threshold
        self.table: str | None = None

    def __enter__(self) -> str:
        # ONE psql invocation for CREATE + COPY + ANALYZE: psql's
        # COPY ... FROM STDIN inside a script reads the inline rows up
        # to \. from the same stream, so the whole stage costs one
        # process spawn + one connection instead of three (this runs
        # per restriction per CDC cycle on the staged-fanout path —
        # the spawn overhead was 3x the useful work for small id sets)
        frag, prelude, _epi, table = id_restriction_script(
            self.ids, self.threshold
        )
        if table is None:
            return frag
        self.table = table
        try:
            pg_exec(self.dsn, prelude)
        except BaseException:
            # a mid-script failure means the with-body is never
            # entered and __exit__ never runs — drop here or the
            # stage table leaks for the life of the PG instance
            self.__exit__()
            raise
        return frag

    def __exit__(self, *exc) -> None:
        if self.table:
            pg_exec(self.dsn, f"DROP TABLE IF EXISTS {self.table}")


def pg_keyset_read(
    spark: SparkSession,
    dsn: str,
    table: str,
    schema: str,
    ts_col: str,
    id_col: str,
    cursor_ts,
    cursor_id,
    batch_size: int,
) -> DataFrame:
    """One S2 keyset batch evaluated by the LIVE PostgreSQL planner —
    the reference CDC producer's own query (postgres_to_es/
    daemon.py:110-117) as a row-value comparison, which PG turns into
    one index range scan on a ``(ts_col, id_col)`` composite index:
    ``WHERE (ts, id) > (cursor) ORDER BY ts, id LIMIT n``. Only the
    batch crosses the wire; the table never does. ``cursor_ts`` is a
    datetime or an ISO string; ``cursor_id`` must be integral (the
    star-schema key shape — quote-free so the literal stays
    index-comparable)."""
    cols = ", ".join(f.strip().split()[0] for f in schema.split(","))
    sql = (
        f"SELECT {cols} FROM {table} "
        f"WHERE ({ts_col}, {id_col}) > "
        f"(TIMESTAMP '{pg_ts_literal(cursor_ts)}', {int(cursor_id)}) "
        f"ORDER BY {ts_col}, {id_col} LIMIT {int(batch_size)}"
    )
    return pg_copy_read(spark, dsn, sql, schema)


def pg_copy_read(
    spark: SparkSession, dsn: str, query: str, schema: str
) -> DataFrame:
    """Read a query result back through ``COPY (query) TO STDOUT`` and
    type it with an explicit DDL ``schema`` (e.g. ``"id bigint, name
    string"``). Driver-side single stream — the READ-back/verification
    path (result sets, dims, keyset batches), not a fact-table scan;
    parallel reads want sources/jdbc.py's range partitioning once a
    JDBC jar is present. The COPY statement ships via STDIN — see
    pg_exec on the argv size limit large IN-lists would hit."""
    out = _psql(
        dsn, ["-f", "-"],
        f"COPY ({query}) TO STDOUT WITH (FORMAT csv, NULL '{_NULL}')",
        "copy read", "COPY read failed",
    )
    return _typed_frame(spark, out, schema)


def _typed_frame(
    spark: SparkSession, copy_out: str, schema: str
) -> DataFrame:
    """COPY csv text → typed local DataFrame under an explicit DDL
    schema. Quote-aware decode: only an UNQUOTED marker is NULL —
    PostgreSQL quotes a data value equal to the null string precisely
    so the two are distinguishable, and csv.reader would erase that."""
    rows = [
        tuple(None if (not q and v == _NULL) else v for q, v in rec)
        for rec in _parse_csv_raw(copy_out)
    ]
    names = [f.split()[0] for f in schema.split(",")]
    str_schema = ", ".join(f"{n} string" for n in names)
    raw = spark.createDataFrame(rows, str_schema)
    types = [f.strip().split(None, 1)[1] for f in schema.split(",")]
    return raw.select(
        [F.col(n).cast(t).alias(n) for n, t in zip(names, types)]
    )


def pg_copy_read_script(
    spark: SparkSession,
    dsn: str,
    reads: list[tuple[str, str]],
    prelude: str = "",
    epilogue: str = "",
) -> list[DataFrame]:
    """Several ``COPY (query) TO STDOUT`` reads — plus optional
    prelude/epilogue SQL (id staging, DROP) — in ONE psql invocation;
    returns one typed DataFrame per ``(query, ddl_schema)`` pair in
    order. The per-read spawn+connect overhead (~3× the useful server
    work for CDC-cycle-sized restrictions) collapses to one spawn for
    the whole statement group.

    Framing: each COPY is followed by ``\\echo <uuid-sentinel>`` —
    psql executes script statements sequentially and both COPY output
    and ``\\echo`` write to the same stdout, so the sentinel lines
    delimit the result sets exactly. The sentinel is a fresh UUID, so
    no data row can collide with it; a quoted newline INSIDE a csv
    field cannot fake a frame boundary either, because the split is on
    the full sentinel string. ON_ERROR_STOP aborts the whole script on
    any failure (non-zero exit → RuntimeError with PG's stderr); a
    caller whose prelude staged a table should best-effort DROP it on
    that error path (see id_restriction_script's stage_table)."""
    sep = f"__frame_{uuid.uuid4().hex}__"
    parts = []
    if prelude:
        parts.append(prelude)
    for q, _schema in reads:
        parts.append(
            f"COPY ({q}) TO STDOUT WITH (FORMAT csv, NULL '{_NULL}');"
        )
        parts.append(f"\\echo {sep}")
    if epilogue:
        parts.append(epilogue)
    out = _psql(
        dsn, ["-f", "-"], "\n".join(parts) + "\n",
        f"copy script ({len(reads)} reads)", "COPY script failed",
    )
    chunks = out.split(sep + "\n")
    if len(chunks) != len(reads) + 1:
        raise RuntimeError(
            f"COPY script framing: expected {len(reads)} sentinel-"
            f"terminated result sets, got {len(chunks) - 1} "
            "(psql emitted unexpected output between statements?)"
        )
    return [
        _typed_frame(spark, chunk, schema)
        for chunk, (_q, schema) in zip(chunks, reads)
    ]
