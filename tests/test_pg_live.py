"""LIVE PostgreSQL integration for the COPY wire path
(etl_sprint_2_5_spark/sources/pg_copy.py) — the first round in which
the container carries server binaries, so the S4 bulk-INSERT sink and
the PG half of S7 DDL bootstrap run against a REAL database instead
of config-gated contract tests. A throwaway root-less cluster
(initdb + pg_ctl under runuser/nobody, unix socket, fsync off) lives
for the module and is deleted after; everything crosses the wire via
psql COPY — no JDBC jar, no DB-API module.

Pins: DDL bootstrap; partition-parallel COPY load (counts + checksum
+ NULL/empty-string/quote round-trip); COPY read-back typing;
ON CONFLICT upsert idempotence + update semantics (T3 live);
keyset-batch SQL (S2) executed by a real PG planner.
"""

from __future__ import annotations

import pytest

from etl_sprint_2_5_spark.sources import pg_copy
from etl_sprint_2_5_spark.streaming.gate import drain


pytestmark = pytest.mark.skipif(
    not pg_copy.have_pg(), reason="PostgreSQL server binaries absent"
)


@pytest.fixture(scope="module")
def dsn(tmp_path_factory):
    base = tmp_path_factory.mktemp("pg")
    # the cluster runs as nobody — the path up to the socket dir must
    # be traversable for it
    for p in (base, *base.parents[:2]):
        p.chmod(0o755)
    with pg_copy.ephemeral_pg(str(base / "cluster")) as d:
        yield d


def test_ddl_bootstrap_and_copy_roundtrip(spark, dsn):
    pg_copy.pg_exec(
        dsn,
        "CREATE TABLE items (id bigint PRIMARY KEY, name text, "
        "price double precision, ts timestamp, note text)",
    )
    rows = [
        (1, "plain", 1.5, "2026-01-02 03:04:05", "x"),
        (2, 'quo"te,comma', 2.5, None, ""),  # csv escaping + NULL vs ''
        (3, None, None, "2026-01-02 03:04:06", None),
        # a STRING literally equal to the COPY NULL marker must survive
        # both wire crossings as a string (force-quoted out, quote-aware
        # parse back) — the round-12 ADVICE corruption case
        (4, "\\N", 4.5, None, "\\N"),
    ]
    df = spark.createDataFrame(
        rows, "id long, name string, price double, ts string, note string"
    ).repartition(3)  # force multiple COPY streams
    pg_copy.pg_copy_load(df, dsn, "items")
    assert pg_copy.pg_exec(dsn, "SELECT count(*) FROM items").strip() == "4"
    # the literal backslash-N landed as a 2-char STRING, not SQL NULL
    assert (
        pg_copy.pg_exec(
            dsn, r"SELECT count(*) FROM items WHERE name = E'\\N'"
        ).strip()
        == "1"
    )
    # NULL vs empty string must be distinguishable after the roundtrip
    assert (
        pg_copy.pg_exec(
            dsn, "SELECT count(*) FROM items WHERE note = ''"
        ).strip()
        == "1"
    )
    assert (
        pg_copy.pg_exec(
            dsn, "SELECT count(*) FROM items WHERE note IS NULL"
        ).strip()
        == "1"
    )
    back = pg_copy.pg_copy_read(
        spark, dsn,
        "SELECT id, name, price FROM items",
        "id bigint, name string, price double",
    )
    got = sorted(
        ((r.id, r.name, r.price) for r in back.collect()),
        key=lambda t: t[0],
    )
    assert got == [
        (1, "plain", 1.5),
        (2, 'quo"te,comma', 2.5),
        (3, None, None),
        (4, "\\N", 4.5),  # read-back kept the quoted string a string
    ]


def test_upsert_idempotent_and_updates(spark, dsn):
    pg_copy.pg_exec(
        dsn, "CREATE TABLE kv (k bigint PRIMARY KEY, v text, n bigint)"
    )
    b1 = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(50)],
        "k long, v string, n long",
    ).repartition(4)
    pg_copy.pg_upsert_copy(b1, dsn, "kv", key="k")
    # exactly-once effect: redelivering the SAME batch changes nothing
    pg_copy.pg_upsert_copy(b1, dsn, "kv", key="k")
    assert pg_copy.pg_exec(dsn, "SELECT count(*) FROM kv").strip() == "50"
    # update + insert in one batch
    b2 = spark.createDataFrame(
        [(5, "NEW", -5), (500, "ins", -500)], "k long, v string, n long"
    )
    pg_copy.pg_upsert_copy(b2, dsn, "kv", key="k")
    assert pg_copy.pg_exec(dsn, "SELECT count(*) FROM kv").strip() == "51"
    assert (
        pg_copy.pg_exec(dsn, "SELECT v FROM kv WHERE k = 5").strip()
        == "NEW"
    )
    # no staging table leaked
    assert (
        pg_copy.pg_exec(
            dsn,
            "SELECT count(*) FROM pg_tables "
            "WHERE tablename LIKE 'kv_stage%'",
        ).strip()
        == "0"
    )


def test_keyset_batches_against_live_planner(spark, dsn):
    """S2's keyset cursor SQL (sources/jdbc.keyset_subquery) executed
    by a REAL PostgreSQL planner: batches tile the table exactly, in
    (ts, id) order, with the (ts, id) tie handled by the row-value
    comparison."""
    from etl_sprint_2_5_spark.sources.jdbc import keyset_subquery

    pg_copy.pg_exec(
        dsn,
        "CREATE TABLE ev (id bigint PRIMARY KEY, ts timestamp, "
        "val bigint)",
    )
    rows = [
        # deliberate ts ties (i // 3) so the id tiebreak matters
        (i, f"2026-01-01 00:00:{i // 3:02d}", i) for i in range(30)
    ]
    pg_copy.pg_copy_load(
        spark.createDataFrame(rows, "id long, ts string, val long"),
        dsn, "ev",
    )
    cursor_ts, cursor_id = "1970-01-01 00:00:00", "-1"
    seen = []
    while True:
        sub = keyset_subquery(
            "ev", "ts", "id", cursor_ts, cursor_id, batch_size=7
        )
        # keyset_subquery returns a parenthesized dbtable subquery —
        # strip the alias wrapper for a plain COPY read
        q = sub.strip()
        if q.endswith(")"):
            q = q[1:-1]
        else:  # "( ... ) alias" form
            q = q[q.index("(") + 1: q.rindex(")")]
        batch = pg_copy.pg_copy_read(
            spark, dsn, q, "id bigint, ts string, val bigint"
        ).collect()
        if not batch:
            break
        seen.extend((r.id, r.ts) for r in batch)
        cursor_ts, cursor_id = batch[-1].ts, str(batch[-1].id)
    assert [i for i, _ in seen] == list(range(30))  # exact tiling
    assert len(seen) == 30


def test_pg_keyset_read_row_value_cursor(spark, dsn):
    """pg_keyset_read (the Pipeline.batch_fn producer behind the live
    CDC gate): row-value cursor comparison drains the table exactly,
    typed, against the real planner — including the (ts, id) tie split
    ACROSS a batch boundary."""
    import datetime as dt

    pg_copy.pg_exec(
        dsn,
        "CREATE TABLE ks (id bigint PRIMARY KEY, ts timestamp, "
        "val bigint)",
    )
    pg_copy.pg_exec(dsn, "CREATE INDEX ON ks (ts, id)")
    rows = [(i, f"2026-02-01 00:00:{i // 4:02d}", i * 7) for i in range(21)]
    pg_copy.pg_copy_load(
        spark.createDataFrame(rows, "id long, ts string, val long"),
        dsn, "ks",
    )
    cur_ts, cur_id = dt.datetime(1970, 1, 1), 0
    seen = []
    while True:
        batch = pg_copy.pg_keyset_read(
            spark, dsn, "ks", "id bigint, ts timestamp, val bigint",
            "ts", "id", cur_ts, cur_id, batch_size=6,
        ).collect()
        if not batch:
            break
        seen.extend((r.id, r.val) for r in batch)
        cur_ts, cur_id = batch[-1].ts, batch[-1].id
    # id=0 is excluded by the strictly-greater cursor over (epoch, 0)
    # only when ts == epoch; here ts > epoch so ALL rows arrive
    assert [i for i, _ in seen] == list(range(21))
    assert all(v == i * 7 for i, v in seen)  # typed round-trip


def test_pg_keyset_stream_source(spark, dsn, tmp_path):
    """The Python streaming DataSource (sources/pg_stream): the keyset
    cursor is the stream offset in Spark's checkpoint — a resumed
    query consumes EXACTLY the rows mutated after its last offset,
    sliced across 2 executor-side COPY partitions."""
    from etl_sprint_2_5_spark.sources.pg_stream import PgKeysetDataSource

    spark.dataSource.register(PgKeysetDataSource)
    pg_copy.pg_exec(
        dsn,
        "CREATE TABLE sev (id bigint PRIMARY KEY, ts timestamp, "
        "val bigint)",
    )
    rows = [(i, f"2026-03-01 00:00:{i // 3:02d}", i * 2) for i in range(20)]
    pg_copy.pg_copy_load(
        spark.createDataFrame(rows, "id long, ts string, val long"),
        dsn, "sev",
    )
    batches: list[tuple[int, int]] = []

    def proc(bdf, bid):  # noqa: ANN001
        batches.append((bdf.count(), bdf.agg({"val": "sum"}).first()[0]))

    def drain_sev() -> None:
        drain(
            spark.readStream.format("pg_keyset")
            .option("dsn", dsn).option("table", "sev")
            .option("tscol", "ts").option("idcol", "id")
            .option("readschema", "id bigint, ts timestamp, val bigint")
            .option("slices", "2").load()
            .writeStream.foreachBatch(proc),
            str(tmp_path / "ckpt"), "sev",
        )

    drain_sev()  # backfill
    assert batches == [(20, sum(i * 2 for i in range(20)))]
    pg_copy.pg_exec(
        dsn,
        "UPDATE sev SET val = val + 1000, "
        "ts = TIMESTAMP '2026-03-02 00:00:00' WHERE id % 4 = 0",
    )
    drain_sev()  # resume: exactly the 5 mutated rows, new values
    assert batches[1] == (5, sum(i * 2 + 1000 for i in range(0, 20, 4)))
    drain_sev()  # idle resume: no offset movement, no batch
    assert len(batches) == 2


def test_staged_ids_threshold_crossing(dsn):
    """pg_copy.staged_ids: below the threshold the fragment is the
    literal IN-list; above it the ids are COPY-staged into an
    UNLOGGED table and joined server-side — same result either way,
    and the stage table is dropped on exit."""
    pg_copy.pg_exec(
        dsn,
        "CREATE TABLE fanout_t (k bigint PRIMARY KEY, grp bigint); "
        "INSERT INTO fanout_t SELECT i, i % 100 "
        "FROM generate_series(1, 2000) AS g(i)",
    )
    want = sorted(range(10, 1500, 3))

    def probe(frag: str) -> list[int]:
        out = pg_copy.pg_exec(
            dsn, f"SELECT count(*), sum(k) FROM fanout_t WHERE k IN ({frag})"
        ).strip()
        n, s = out.split("|")
        return [int(n), int(s or 0)]  # sum() is NULL on empty match

    # literal path: under threshold, no table created
    with pg_copy.staged_ids(dsn, want, threshold=len(want)) as frag:
        assert frag.startswith("10,")
        assert probe(frag) == [len(want), sum(want)]

    # staged path: threshold crossed → UNLOGGED table + subselect
    with pg_copy.staged_ids(dsn, want, threshold=len(want) - 1) as frag:
        assert frag.startswith("SELECT id FROM ids_stage_")
        stage = frag.split()[-1]
        kind = pg_copy.pg_exec(
            dsn,
            "SELECT relpersistence FROM pg_class "
            f"WHERE relname = '{stage}'",
        ).strip()
        assert kind == "u"  # unlogged
        assert probe(frag) == [len(want), sum(want)]
    # dropped on exit
    left = pg_copy.pg_exec(
        dsn,
        "SELECT count(*) FROM pg_class WHERE relname LIKE 'ids_stage_%'",
    ).strip()
    assert left == "0"

    # empty id set: literal NULL (matches nothing), no table
    with pg_copy.staged_ids(dsn, [], threshold=0) as frag:
        assert frag == "NULL"
        assert probe(frag)[0] == 0


def test_staged_ids_enter_failure_drops_stage(dsn):
    """If the staging script fails inside __enter__ AFTER the CREATE
    committed, the with-body is never entered and __exit__ never runs
    — the stage table must be dropped before the error propagates, or
    it leaks for the life of the PG instance. Driven by a REAL
    mid-script failure: duplicate ids violate the stage PK during the
    inline COPY (one psql script runs CREATE + COPY + ANALYZE; the
    CREATE autocommits before the COPY dies)."""
    with pytest.raises(RuntimeError, match="psql failed"):
        with pg_copy.staged_ids(dsn, [7] * 50, threshold=10):
            raise AssertionError("with-body must not be entered")
    left = pg_copy.pg_exec(
        dsn,
        "SELECT count(*) FROM pg_class WHERE relname LIKE 'ids_stage_%'",
    ).strip()
    assert left == "0"


def test_pg_stream_range_tiling_and_nulls(dsn):
    """PgKeysetStreamReader.partitions tiles the cursor interval into
    CONTIGUOUS id ranges (each slice = one PK index range scan), and
    read() round-trips NULLs through the quote-aware COPY parse —
    nullable CDC tables are safe (round-13 ADVICE)."""
    from etl_sprint_2_5_spark.sources.pg_stream import PgKeysetStreamReader

    pg_copy.pg_exec(
        dsn,
        "CREATE TABLE tile_t (id bigint PRIMARY KEY, ts timestamp, "
        "txt text, val bigint); "
        "INSERT INTO tile_t SELECT i, TIMESTAMP '2026-04-01 00:00:00', "
        "CASE WHEN i % 5 = 0 THEN NULL WHEN i = 102 THEN '\\N' "
        "     ELSE 's' || i END, "
        "CASE WHEN i % 7 = 0 THEN NULL ELSE i * 3 END "
        "FROM generate_series(100, 158, 2) AS g(i)",
    )
    r = PgKeysetStreamReader(
        "id bigint, ts timestamp, txt string, val bigint",
        {"dsn": dsn, "table": "tile_t", "tscol": "ts", "idcol": "id",
         "slices": "4"},
    )
    start, end = r.initialOffset(), r.latestOffset()
    assert end == {"ts": "2026-04-01 00:00:00", "id": 158}
    parts = sorted(r.partitions(start, end), key=lambda p: p.id_lo)
    assert len(parts) == 4
    assert parts[0].id_lo == 100 and parts[-1].id_hi == 158
    for a, b in zip(parts, parts[1:]):
        assert b.id_lo == a.id_hi + 1  # contiguous + disjoint tiles

    rows = [row for p in parts for row in r.read(p)]
    assert sorted(row[0] for row in rows) == list(range(100, 160, 2))
    by_id = {row[0]: row for row in rows}
    assert by_id[110][2] is None          # NULL text survives
    assert by_id[102][2] == "\\N"         # literal marker stays string
    assert by_id[112][3] is None          # NULL bigint survives
    assert by_id[104][3] == 312 and by_id[104][2] == "s104"

    # an empty interval plans zero partitions
    assert r.partitions(end, end) == []


def test_pg_copy_read_script_framing(spark, dsn):
    """pg_copy_read_script: several COPY reads + staging prelude +
    DROP epilogue in ONE psql spawn, sentinel-framed. Pins: per-read
    typing, empty result sets, NULL vs empty string vs literal-marker
    strings inside a framed chunk, quoted newlines NOT faking a frame
    boundary, and that the staged table is gone after the script."""
    pg_copy.pg_exec(
        dsn,
        "CREATE TABLE frame_t (id bigint PRIMARY KEY, txt text); "
        "INSERT INTO frame_t VALUES "
        "(1, 'plain'), (2, NULL), (3, ''), (4, E'multi\\nline'), "
        "(5, '\\N')",
    )
    try:
        frag, prelude, epilogue, stage = pg_copy.id_restriction_script(
            [1, 2, 3, 4, 5], threshold=0
        )
        assert stage is not None and prelude and epilogue
        a, b, c = pg_copy.pg_copy_read_script(
            spark,
            dsn,
            [
                (
                    f"SELECT id, txt FROM frame_t WHERE id IN ({frag}) "
                    "ORDER BY id",
                    "id long, txt string",
                ),
                ("SELECT id FROM frame_t WHERE id > 100", "id long"),
                ("SELECT count(*) AS n FROM frame_t", "n long"),
            ],
            prelude=prelude,
            epilogue=epilogue,
        )
        rows = {r.id: r.txt for r in a.collect()}
        assert rows[1] == "plain"
        assert rows[2] is None  # SQL NULL survives the frame
        assert rows[3] == ""  # empty string stays distinct from NULL
        assert rows[4] == "multi\nline"  # quoted newline, no frame split
        assert rows[5] == "\\N"  # literal marker string stays a string
        assert a.count() == 5
        assert b.count() == 0  # empty result set frames cleanly
        assert c.collect()[0].n == 5
        # the staged table was dropped by the epilogue in the SAME spawn
        left = pg_copy.pg_exec(
            dsn,
            "SELECT count(*) FROM pg_class WHERE relname LIKE 'ids_stage_%'",
        ).strip()
        assert left == "0"
    finally:
        # leave the module-scoped cluster exactly as found, also when an
        # assertion fails (tests must not depend on each other's residue)
        pg_copy.pg_exec(dsn, "DROP TABLE frame_t")


def test_pg_copy_read_script_error_aborts_whole_script(spark, dsn):
    """ON_ERROR_STOP: a failing statement aborts the single-spawn
    script with PG's stderr; the caller can then best-effort DROP the
    staged table (the id_restriction_script contract)."""
    frag, prelude, epilogue, stage = pg_copy.id_restriction_script(
        [1, 2], threshold=0
    )
    with pytest.raises(RuntimeError, match="COPY script failed"):
        pg_copy.pg_copy_read_script(
            spark,
            dsn,
            # pg_class always exists and never has this column, so the
            # failure does not depend on another test's table residue
            [("SELECT no_such_col FROM pg_class "
              f"WHERE oid::bigint IN ({frag})", "x long")],
            prelude=prelude,
            epilogue=epilogue,
        )
    # the stage leaked (script died before the epilogue) — the caller
    # contract: drop by name
    pg_copy.pg_exec(dsn, f"DROP TABLE IF EXISTS {stage}")
    left = pg_copy.pg_exec(
        dsn,
        "SELECT count(*) FROM pg_class WHERE relname LIKE 'ids_stage_%'",
    ).strip()
    assert left == "0"
