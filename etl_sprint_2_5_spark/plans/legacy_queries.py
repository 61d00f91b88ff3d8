"""End-to-end legacy full-load under the oracle hash gate — the
reference's §3.1 entry point (/root/reference/sqlite_to_postgresql/
load_data.py:30-49 + etl.py:62-232) proven by the SAME gate as every
relational query, not just by pytest.

The pieces (P2 sentinel cleansing, P3 invalid-dim exclusion, F1/F2
list- and JSON-in-string parsing, A4/A5/U1 dedup + role universe, J9
id→name lookups, F6 key minting) are individually gated elsewhere;
this query runs the WHOLE composite: four dirty legacy tables →
pipeline/normalize.normalize() → five normalized frames → one
uuid-free, natural-key-joined gated readback.

**Dirty-fixture derivation.** The driver's oracle runs on the shared
testdata views, so the legacy tables are derived DETERMINISTICALLY
from them (orders→movies, supplier→actors, nation→writers,
lineitem→movie_actors bridge) with every anomaly class of the
reference's source data (tests/fixtures_legacy.py models the same
set with random draws — this derivation is the SQL-expressible twin):

- ``"N/A"`` / ``""`` sentinels in plot, rating, genre, director, and
  dimension names (etl.py:38-59's EMPTY_VALUES);
- comma-separated genre/director lists, with intra-row duplicate
  genres (k%6==0 rows repeat their genre — array_distinct must fire);
- JSON-in-string ``writers`` with a duplicated id inside the array
  (etl.py:102-103), plus the writer/writers fallback rule: rows with
  BOTH populated must take the JSON and ignore the legacy column
  (etl.py:95-101);
- int-as-text actor FKs in the bridge, with dangling ids past the
  actor key space (smax+1..smax+5) that the dim join must drop;
- duplicate full rows in the actors dim and duplicate bridge pairs
  from lineitem multiplicity (SELECT DISTINCT semantics, etl.py:68,87).

**uuid-free gating (the F6 problem).** The reference mints uuid4 per
entity; our normalize mints deterministic md5 ids — but neither
belongs in a cross-engine hash. The gated readback joins every bridge
row back through its dims to NATURAL keys: one row per movie with its
sorted genre/actor/director/writer name CSVs, plus the global dim and
bridge cardinalities as gated columns — so a broken mint (orphaned
bridge rows), a leaked writer-fallback credit, a missed sentinel, or
an undropped duplicate each break the hash.

100-TB shape: normalize() is four declarative plans over the legacy
tables — the only shuffles are the distincts and the two bridge
group-bys, dims broadcast into the bridges; nothing is collected
driver-side except this query's final per-movie rollup.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.plans.registry import query
from etl_sprint_2_5_spark.sources.parquet import load_table

GENRES = ["Action", "Drama", "Sci-Fi", "Comedy", "Thriller", "Romance"]


def _person(e: Column) -> Column:
    return F.concat(F.lit("Person "), e.cast("string"))


def _w(e: Column) -> Column:
    return F.concat(F.lit("w"), e.cast("string"))


def legacy_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Derive the four dirty legacy tables from the testdata star
    schema (deterministic, so the DuckDB oracle can re-derive them)."""
    k = F.col("o_orderkey")
    mid = F.concat(F.lit("tt"), F.lpad(k.cast("string"), 9, "0"))
    garr = F.array(*[F.lit(g) for g in GENRES])
    g1 = F.element_at(garr, (k % 6 + 1).cast("int"))
    g2 = F.element_at(garr, ((k * 2) % 6 + 1).cast("int"))
    genre = (
        F.when(k % 7 == 0, F.lit("N/A"))
        .when(k % 7 == 1, F.lit(""))
        .when(k % 2 == 0, F.concat(g1, F.lit(", "), g2))
        .otherwise(g1)
    )
    director = (
        F.when(k % 5 == 0, F.lit("N/A"))
        .when(
            k % 3 == 0,
            F.concat(_person(k % 30), F.lit(", "), _person((k + 11) % 30)),
        )
        .otherwise(_person(k % 30))
    )
    plot = F.when(k % 4 == 0, F.lit("N/A")).otherwise(
        F.concat(F.lit("plot of "), mid)
    )
    rating = F.when(k % 10 == 0, F.lit("N/A")).otherwise(
        F.concat((k % 9 + 1).cast("string"), F.lit("."), (k % 10).cast("string"))
    )

    def jid(e: Column) -> Column:
        return F.concat(F.lit('{"id":"'), _w(e), F.lit('"}'))

    # k%3==0: only the legacy writer column; k%3==1: JSON array with a
    # duplicated id; k%3==2: BOTH populated — JSON must win
    writer = F.when(k % 3 == 1, F.lit("")).otherwise(_w(k % 25))
    wjson = (
        F.when(k % 3 == 0, F.lit(""))
        .when(
            k % 3 == 1,
            F.concat(
                F.lit("["),
                jid(k % 25),
                F.lit(","),
                jid((k + 7) % 25),
                F.lit(","),
                jid(k % 25),
                F.lit("]"),
            ),
        )
        .otherwise(F.concat(F.lit("["), jid((k + 3) % 25), F.lit("]")))
    )
    movies = load_table(spark, "orders", sf_dir).select(
        mid.alias("id"),
        genre.alias("genre"),
        director.alias("director"),
        writer.alias("writer"),
        F.concat(F.lit("Movie #"), k.cast("string")).alias("title"),
        plot.alias("plot"),
        F.lit(None).cast("string").alias("ratings"),
        rating.alias("imdb_rating"),
        wjson.alias("writers"),
    )

    s = F.col("s_suppkey")
    actors = load_table(spark, "supplier", sf_dir).select(
        s.alias("id"),
        F.when(s % 19 == 0, F.lit("N/A"))
        .when(s % 23 == 0, F.lit(""))
        .otherwise(_person(s % 30))
        .alias("name"),
    )
    # duplicate full dim rows (the reference scans with SELECT
    # DISTINCT, etl.py:68 — the plan must tolerate them)
    actors = actors.unionAll(actors.where(F.col("id") <= 5))

    n = F.col("n_nationkey")
    writers = load_table(spark, "nation", sf_dir).select(
        _w(n).alias("id"),
        F.when(n % 7 == 0, F.lit("N/A")).otherwise(_person(n % 9)).alias("name"),
    )

    smax = (
        load_table(spark, "supplier", sf_dir).agg(F.max("s_suppkey")).first()[0]
    )
    bridge = load_table(spark, "lineitem", sf_dir).select(
        F.concat(
            F.lit("tt"), F.lpad(F.col("l_orderkey").cast("string"), 9, "0")
        ).alias("movie_id"),
        # int-as-text FK; ids smax+1..smax+5 dangle past the dim
        ((F.col("l_partkey") % (smax + 5)) + 1).cast("string").alias("actor_id"),
    )
    return movies, actors, writers, bridge


# the genre bridge both oracles derive from ``mv``'s cleansed csv
_GENRE_LINKS = """mg AS (
  SELECT DISTINCT mid, g FROM
    (SELECT mid, unnest(string_split(genre_csv, ', ')) AS g FROM mv)
  WHERE g IS NOT NULL AND g NOT IN ('N/A', '')
)"""

# the normalization readback both oracles end with: per-movie genre and
# person lists plus the global dim/bridge cardinalities, from ``mv``,
# ``mg`` and ``uni``
_READBACK = """
ga  AS (SELECT mid, string_agg(DISTINCT g, ',' ORDER BY g) AS genres
        FROM mg GROUP BY mid),
pa_a AS (SELECT mid, string_agg(DISTINCT full_name, ',' ORDER BY full_name)
              AS actors FROM uni WHERE role='actor' GROUP BY mid),
pa_d AS (SELECT mid, string_agg(DISTINCT full_name, ',' ORDER BY full_name)
              AS directors FROM uni WHERE role='director' GROUP BY mid),
pa_w AS (SELECT mid, string_agg(DISTINCT full_name, ',' ORDER BY full_name)
              AS writers FROM uni WHERE role='writer' GROUP BY mid),
cnt AS (SELECT
  (SELECT count(DISTINCT g) FROM mg)            AS n_genre_dim,
  (SELECT count(DISTINCT full_name) FROM uni)   AS n_person_dim,
  (SELECT count(*) FROM mg)                     AS n_genre_links,
  (SELECT count(*) FROM uni)                    AS n_person_links)
SELECT mv.mid AS source_id, mv.title, mv.description,
       round(mv.rating, 1) AS rating,
       COALESCE(ga.genres, '')    AS genres,
       COALESCE(pa_a.actors, '')  AS actors,
       COALESCE(pa_d.directors, '') AS directors,
       COALESCE(pa_w.writers, '') AS writers,
       cnt.n_genre_dim, cnt.n_person_dim,
       cnt.n_genre_links, cnt.n_person_links
FROM mv
LEFT JOIN ga   ON ga.mid   = mv.mid
LEFT JOIN pa_a ON pa_a.mid = mv.mid
LEFT JOIN pa_d ON pa_d.mid = mv.mid
LEFT JOIN pa_w ON pa_w.mid = mv.mid
CROSS JOIN cnt
ORDER BY source_id
"""

_GL = "['Action','Drama','Sci-Fi','Comedy','Thriller','Romance']"

_ORACLE = f"""
WITH sm AS (SELECT max(s_suppkey) + 5 AS amod FROM supplier),
mv AS (
  SELECT k, mid,
    'Movie #' || CAST(k AS VARCHAR) AS title,
    CASE WHEN k%4=0 THEN NULL ELSE 'plot of ' || mid END AS description,
    CASE WHEN k%10=0 THEN NULL
         ELSE CAST(CAST(k%9+1 AS VARCHAR) || '.' || CAST(k%10 AS VARCHAR)
                   AS DOUBLE) END AS rating,
    CASE WHEN k%7=0 OR k%7=1 THEN NULL
         WHEN k%2=0 THEN gl[CAST(k%6 AS INT)+1] || ', '
                          || gl[CAST((k*2)%6 AS INT)+1]
         ELSE gl[CAST(k%6 AS INT)+1] END AS genre_csv,
    CASE WHEN k%5=0 THEN NULL
         WHEN k%3=0 THEN 'Person ' || CAST(k%30 AS VARCHAR)
                         || ', Person ' || CAST((k+11)%30 AS VARCHAR)
         ELSE 'Person ' || CAST(k%30 AS VARCHAR) END AS director_csv,
    CASE WHEN k%3=0 THEN ['w' || CAST(k%25 AS VARCHAR)]
         WHEN k%3=1 THEN ['w' || CAST(k%25 AS VARCHAR),
                          'w' || CAST((k+7)%25 AS VARCHAR)]
         ELSE ['w' || CAST((k+3)%25 AS VARCHAR)] END AS writer_ids
  FROM (SELECT o_orderkey AS k,
               'tt' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0') AS mid
        FROM orders),
       (SELECT {_GL} AS gl)
),
{_GENRE_LINKS},
act AS (
  SELECT s_suppkey AS aid,
         CASE WHEN s_suppkey%19=0 OR s_suppkey%23=0 THEN NULL
              ELSE 'Person ' || CAST(s_suppkey%30 AS VARCHAR) END AS name
  FROM supplier
),
wrt AS (
  SELECT 'w' || CAST(n_nationkey AS VARCHAR) AS wid,
         CASE WHEN n_nationkey%7=0 THEN NULL
              ELSE 'Person ' || CAST(n_nationkey%9 AS VARCHAR) END AS name
  FROM nation
),
br AS (
  SELECT DISTINCT
         'tt' || lpad(CAST(l_orderkey AS VARCHAR), 9, '0') AS mid,
         (l_partkey % (SELECT amod FROM sm)) + 1 AS aid
  FROM lineitem
),
uni AS (
  SELECT DISTINCT mid, full_name, role FROM (
    SELECT br.mid, act.name AS full_name, 'actor' AS role
    FROM br JOIN act ON act.aid = br.aid WHERE act.name IS NOT NULL
    UNION ALL
    SELECT w.mid, wrt.name, 'writer'
    FROM (SELECT mid, unnest(writer_ids) AS wid FROM mv) w
    JOIN wrt ON wrt.wid = w.wid WHERE wrt.name IS NOT NULL
    UNION ALL
    SELECT mid, d, 'director'
    FROM (SELECT mid, unnest(string_split(director_csv, ', ')) AS d FROM mv)
    WHERE d IS NOT NULL AND d NOT IN ('N/A', '')
  )
),
{_READBACK}"""


@query(
    "legacy_full_load",
    oracle=_ORACLE,
    covers=("P2", "P3", "A4", "A5", "U1", "U2", "F1", "F2", "F4", "J9",
            "X-legacy-full-load"),
)
def legacy_full_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty legacy tables → pipeline/normalize.normalize() → the five
    normalized frames, read back uuid-free through natural keys (one
    row per movie + global dim/bridge cardinalities; module docstring
    has the full derivation + gating story). The oracle is an
    independent DuckDB implementation of etl.py:62-202's semantics
    over the same derived inputs."""
    from etl_sprint_2_5_spark.pipeline.normalize import normalize

    movies, actors, writers, bridge = legacy_frames(spark, sf_dir)
    t = normalize(movies, actors, writers, bridge)
    return _gated_readback(t)


def _gated_readback(t) -> DataFrame:  # noqa: ANN001 - NormalizedTables
    """The uuid-free natural-key readback over the five normalized
    frames (module docstring: why no minted id may cross the gate) —
    shared by the derived-synthetic gate and the live-db.sqlite one."""
    from etl_sprint_2_5_spark.pipeline.normalize import (
        ROLE_ACTOR,
        ROLE_DIRECTOR,
        ROLE_WRITER,
    )

    fw = t.film_work.select(
        F.col("id").alias("fw_id"),
        "source_id",
        "title",
        "description",
        F.round("rating", 1).alias("rating"),
    )
    gnames = (
        t.genre_film_work.select("film_work_id", "genre_id")
        .join(
            F.broadcast(t.genre.select(F.col("id").alias("genre_id"), "name")),
            "genre_id",
        )
        .groupBy("film_work_id")
        .agg(F.concat_ws(",", F.sort_array(F.collect_set("name"))).alias("genres"))
    )

    def role_csv(role: str, alias: str) -> Column:
        return F.concat_ws(
            ",",
            F.sort_array(
                F.collect_set(F.when(F.col("role") == role, F.col("full_name")))
            ),
        ).alias(alias)

    proles = (
        t.person_film_work.select("film_work_id", "person_id", "role")
        .join(
            F.broadcast(
                t.person.select(F.col("id").alias("person_id"), "full_name")
            ),
            "person_id",
        )
        .groupBy("film_work_id")
        .agg(
            role_csv(ROLE_ACTOR, "actors"),
            role_csv(ROLE_DIRECTOR, "directors"),
            role_csv(ROLE_WRITER, "writers"),
        )
    )
    counts = (
        t.genre.agg(F.count(F.lit(1)).alias("n_genre_dim"))
        .crossJoin(t.person.agg(F.count(F.lit(1)).alias("n_person_dim")))
        .crossJoin(
            t.genre_film_work.agg(F.count(F.lit(1)).alias("n_genre_links"))
        )
        .crossJoin(
            t.person_film_work.agg(F.count(F.lit(1)).alias("n_person_links"))
        )
    )
    return (
        fw.join(gnames, fw.fw_id == gnames.film_work_id, "left")
        .drop(gnames.film_work_id)
        .join(proles, fw.fw_id == proles.film_work_id, "left")
        .drop(proles.film_work_id)
        .crossJoin(F.broadcast(counts))
        .select(
            "source_id",
            "title",
            "description",
            "rating",
            F.coalesce("genres", F.lit("")).alias("genres"),
            F.coalesce("actors", F.lit("")).alias("actors"),
            F.coalesce("directors", F.lit("")).alias("directors"),
            F.coalesce("writers", F.lit("")).alias("writers"),
            "n_genre_dim",
            "n_person_dim",
            "n_genre_links",
            "n_person_links",
        )
        .orderBy("source_id")
    )


@query(
    "sqlite_live_scan",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           TRUE AS deduped,
           TRUE AS parallel_scan
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    covers=("S1", "X-sqlite-live"),
)
def sqlite_live_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (SQLite full scan + dedup, reference sqlite_to_postgresql/
    etl.py:62-117) against a LIVE SQLite file, under the oracle gate.
    The documents table is loaded into a real .sqlite file the way the
    reference's own storage was built (driver-side executemany —
    sources/sqlite_src.sqlite_bulk_insert), with every doc_id % 10 == 0
    row inserted TWICE (the dirty-duplicate class the reference's
    loader dedups). Spark then reads the file back as 8 CONCURRENT
    pk-range slices (sqlite_range_read — the partitionColumn contract
    with stdlib sqlite3 instead of a driver jar, Arrow-batched via
    mapInPandas), dedups by key, and the gated per-lang rollup must be
    bit-identical to DuckDB over the original parquet: any slice
    overlap/gap (double-read or dropped rows), type coercion through
    SQLite's dynamic typing, or failed dedup bends the counts.
    deduped pins that the duplicates were really present and really
    removed; parallel_scan pins >1 range slice executed. The residual
    single-host nature of a SQLite FILE is inherent to the source
    (module docstring) — this is the legacy-migration ingest edge,
    not a fact-scan path."""
    import os
    import tempfile

    from etl_sprint_2_5_spark.sources.sqlite_src import (
        sqlite_bulk_insert,
        sqlite_range_read,
    )

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="sqlite_live_") as tmp:
        db = os.path.join(tmp, "legacy.sqlite")
        rows = [(r.doc_id, r.lang, r.n_chars) for r in d.collect()]
        dups = [t for t in rows if t[0] % 10 == 0]
        # the legacy table models the reference's un-constrained source
        # (no PK — dirty duplicates really land on disk)
        sqlite_bulk_insert(
            db, "documents_dirty",
            "doc_id INTEGER, lang TEXT, n_chars INTEGER",
            rows + dups,
        )
        raw = sqlite_range_read(
            spark, db, "documents_dirty", pk="doc_id",
            schema="doc_id long, lang string, n_chars long",
            num_partitions=8,
        )
        raw_n = raw.count()
        clean = raw.dropDuplicates(["doc_id"])
        deduped = raw_n == len(rows) + len(dups) and clean.count() == len(rows)
        out = (
            clean.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("chars_sum"),
            )
            .withColumn("deduped", F.lit(bool(deduped)))
            .withColumn("parallel_scan", F.lit(raw.rdd.getNumPartitions() > 1))
            .orderBy("lang")
        )
        return spark.createDataFrame(out.collect(), out.schema)


#: The reference's OWN legacy dataset — the 1000-movie db.sqlite the
#: §3.1 migration actually ships (genuine "N/A" sentinels, a real
#: invalid actor and writer, 47 duplicate bridge pairs, 79 JSON writer
#: arrays with duplicated ids). Read-only input; never written.
_REF_DB = "/root/reference/sqlite_to_postgresql/db.sqlite"

#: Raw staging for the live gate's oracle: the query COPIES the raw
#: sqlite tables as parquet each run (DuckDB has no sqlite reader in
#: this container), and the oracle re-derives the migration from
#: those raw bytes independently. The ORACLE path is a fixed symlink
#: (the oracle SQL string is static), but each run stages into a
#: fresh directory and repoints the link atomically — concurrent
#: runs / oracle reads never see a half-written staging. Gitignored;
#: the driver runs the Spark side before the oracle.
_STAGE_ROOT = str(
    Path(__file__).resolve().parents[2] / ".oracle_stage" / "ref_sqlite"
)
_STAGE = f"{_STAGE_ROOT}/current"

_LIVE_ORACLE = f"""
WITH m_raw AS (
  SELECT DISTINCT * FROM read_parquet('{_STAGE}/movies/*.parquet')
), a_raw AS (
  SELECT DISTINCT * FROM read_parquet('{_STAGE}/actors/*.parquet')
), w_raw AS (
  SELECT DISTINCT * FROM read_parquet('{_STAGE}/writers/*.parquet')
), ma_raw AS (
  SELECT DISTINCT movie_id, actor_id
  FROM read_parquet('{_STAGE}/movie_actors/*.parquet')
), act AS (
  SELECT id AS aid, name FROM a_raw WHERE name NOT IN ('N/A', '')
), wrt AS (
  SELECT id AS wid, name FROM w_raw WHERE name NOT IN ('N/A', '')
), mv AS (
  SELECT id AS mid, title,
    CASE WHEN plot IN ('N/A','') THEN NULL ELSE plot END AS description,
    CASE WHEN imdb_rating IN ('N/A','') THEN NULL
         ELSE CAST(imdb_rating AS DOUBLE) END AS rating,
    CASE WHEN genre IN ('N/A','') THEN NULL ELSE genre END AS genre_csv,
    CASE WHEN director IN ('N/A','') THEN NULL
         ELSE director END AS director_csv,
    list_distinct(
      CASE WHEN writers IS NOT NULL AND writers NOT IN ('N/A','')
           THEN json_extract_string(writers, '$[*].id')
           WHEN writer IS NOT NULL AND writer NOT IN ('N/A','')
           THEN [writer]
           ELSE [] END) AS writer_ids
  FROM m_raw
), {_GENRE_LINKS}, uni AS (
  SELECT DISTINCT mid, full_name, role FROM (
    SELECT ma.movie_id AS mid, act.name AS full_name, 'actor' AS role
    FROM ma_raw ma JOIN act ON act.aid = CAST(ma.actor_id AS BIGINT)
    UNION ALL
    SELECT w.mid, wrt.name, 'writer'
    FROM (SELECT mid, unnest(writer_ids) AS wid FROM mv) w
    JOIN wrt ON wrt.wid = w.wid
    UNION ALL
    SELECT mid, d, 'director'
    FROM (SELECT mid, unnest(string_split(director_csv, ', ')) AS d FROM mv)
    WHERE d IS NOT NULL AND d NOT IN ('N/A', '')
  )
),
{_READBACK}"""


@query(
    "legacy_full_load_live",
    oracle=_LIVE_ORACLE,
    covers=("S1", "P2", "P3", "A4", "A5", "U1", "U2", "F1", "F2", "F4",
            "J9", "X-legacy-full-load", "X-sqlite-live"),
)
def legacy_full_load_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 on the reference's OWN storage: the genuine db.sqlite the
    migration ships (sqlite_to_postgresql/db.sqlite — 1000 movies,
    2683 actors, 1192 writers, 3519 bridge rows with its real
    anomalies: "N/A" sentinels, one invalid actor + one invalid
    writer, 47 duplicate bridge pairs, 79 writer-JSON arrays with a
    duplicated id) read LIVE through the parallel range scan
    (sqlite_range_read over the implicit rowid — movies keys are
    TEXT, rowid is the B-tree key every table has), then
    pipeline/normalize.normalize() → the uuid-free natural-key
    readback shared with the derived-synthetic gate.

    Oracle independence: the query stages the RAW sqlite tables as
    parquet (DuckDB has no sqlite reader here); the oracle re-derives
    the whole migration from those raw bytes in SQL — an independent
    second implementation of etl.py:62-202 (sentinel cleansing,
    invalid-dim exclusion, DISTINCT scans, the writers-JSON /
    legacy-writer fallback rule, per-movie writer dedup). Any
    divergence between normalize() and the reference semantics on the
    REAL dirty data — not a synthetic derivation of it — breaks the
    hash. ``sf_dir`` is unused by construction: this is the one
    dataset the reference actually ships, fixed-size at every SF."""
    from etl_sprint_2_5_spark.pipeline.normalize import normalize
    from etl_sprint_2_5_spark.sources.sqlite_src import sqlite_range_read

    if not Path(_REF_DB).is_file():
        raise FileNotFoundError(
            f"legacy_full_load_live reads the reference's db.sqlite at "
            f"{_REF_DB}, which is absent on this host"
        )

    def rd(table: str, schema: str, n: int = 8) -> DataFrame:
        return sqlite_range_read(
            spark, _REF_DB, table, pk="rowid", schema=schema,
            num_partitions=n,
        )

    movies = rd(
        "movies",
        "id string, genre string, director string, writer string, "
        "title string, plot string, imdb_rating string, writers string",
    )
    actors = rd("actors", "id long, name string")
    writers = rd("writers", "id string, name string")
    bridge = rd("movie_actors", "movie_id string, actor_id string")

    # driver-stage the raw tables for the oracle: write into a fresh
    # per-run directory, then atomically repoint the 'current' symlink
    # the oracle path resolves through — a concurrent run (or an
    # oracle read racing a rewrite) sees either the old complete
    # staging or the new one, never a half-written mix
    import os
    import shutil
    import uuid as _uuid

    run_dir = f"{_STAGE_ROOT}/{_uuid.uuid4().hex[:10]}"
    for name, df in (
        ("movies", movies), ("actors", actors),
        ("writers", writers), ("movie_actors", bridge),
    ):
        df.coalesce(1).write.mode("overwrite").parquet(f"{run_dir}/{name}")
    prev = os.path.realpath(_STAGE) if os.path.exists(_STAGE) else None
    tmp_link = f"{_STAGE_ROOT}/.lnk_{_uuid.uuid4().hex[:6]}"
    os.symlink(run_dir, tmp_link)
    os.replace(tmp_link, _STAGE)  # atomic repoint
    # prune stale stagings (keep the new target and the one a reader
    # may still hold open from the previous link)
    for entry in os.listdir(_STAGE_ROOT):
        p = f"{_STAGE_ROOT}/{entry}"
        if p not in (run_dir, prev, _STAGE) and os.path.isdir(p) \
                and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)

    t = normalize(movies, actors, writers, bridge)
    out = _gated_readback(t)
    return spark.createDataFrame(out.collect(), out.schema)
