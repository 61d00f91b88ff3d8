"""Independent DuckDB derivation of the full load, for the
``full_load`` correctness check.

It reads the same generated legacy parquet files and derives, without
any of the program's code, the row count of each normalized table and
per movie the sorted genre / actor / director / writer names. The
program's output is compared on counts and on an order-independent
digest of those names.
"""

from __future__ import annotations

import hashlib
import json

import duckdb

_SQL = """
CREATE TEMP MACRO clean(x) AS CASE WHEN x IN ('N/A', '') THEN NULL ELSE x END;

CREATE TEMP TABLE mv AS
SELECT id AS movie_id, clean(genre) AS genre_csv, clean(director) AS director_csv,
       clean(writer) AS writer_id, clean(writers) AS writers_json
FROM read_parquet('{movies}');

CREATE TEMP TABLE valid_actors AS
SELECT DISTINCT CAST(id AS VARCHAR) AS actor_id, name
FROM read_parquet('{actors}') WHERE clean(name) IS NOT NULL;

CREATE TEMP TABLE valid_writers AS
SELECT DISTINCT id AS writer_id, name
FROM read_parquet('{writers}') WHERE clean(name) IS NOT NULL;

CREATE TEMP TABLE movie_genre AS
SELECT DISTINCT movie_id, g AS name
FROM (SELECT movie_id, unnest(string_split(genre_csv, ', ')) AS g
      FROM mv WHERE genre_csv IS NOT NULL)
WHERE clean(g) IS NOT NULL;

CREATE TEMP TABLE writer_ids AS
SELECT DISTINCT movie_id, w AS writer_id FROM (
    SELECT movie_id, unnest(
        CASE WHEN writers_json IS NOT NULL
             THEN coalesce(CAST(json_extract_string(writers_json, '$[*].id') AS VARCHAR[]), [])
             WHEN writer_id IS NOT NULL THEN [writer_id]
             ELSE [] END) AS w
    FROM mv);

CREATE TEMP TABLE credits AS
SELECT DISTINCT * FROM (
    SELECT b.movie_id, a.name AS full_name, 'actor' AS role
    FROM (SELECT DISTINCT movie_id, actor_id FROM read_parquet('{movie_actors}')) b
    JOIN valid_actors a USING (actor_id)
    UNION ALL
    SELECT w.movie_id, v.name, 'writer' FROM writer_ids w JOIN valid_writers v USING (writer_id)
    UNION ALL
    SELECT movie_id, d, 'director' FROM (
        SELECT movie_id, unnest(string_split(director_csv, ', ')) AS d
        FROM mv WHERE director_csv IS NOT NULL)
    WHERE clean(d) IS NOT NULL);
"""


def minted_id(namespace: str, key: str) -> str:
    h = hashlib.md5(f"{namespace}:{key}".encode()).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def doc_digest(genres, actors, directors, writers) -> str:  # noqa: ANN001
    return json.dumps([sorted(genres), sorted(actors), sorted(directors), sorted(writers)])


def expected_full_load(paths: dict[str, str]) -> dict:
    """Row counts of the five normalized tables and, per film id, the
    digest of its sorted names."""
    con = duckdb.connect()
    try:
        con.execute(_SQL.format(**paths))
        q = con.execute
        counts = {
            "film_work": q("SELECT count(DISTINCT movie_id) FROM mv").fetchone()[0],
            "genre": q("SELECT count(DISTINCT name) FROM movie_genre").fetchone()[0],
            "person": q("SELECT count(DISTINCT full_name) FROM credits").fetchone()[0],
            "genre_film_work": q("SELECT count(*) FROM movie_genre").fetchone()[0],
            "person_film_work": q("SELECT count(*) FROM credits").fetchone()[0],
        }
        docs: dict[str, list[list[str]]] = {
            minted_id("film_work", m): [[], [], [], []]
            for (m,) in q("SELECT DISTINCT movie_id FROM mv").fetchall()
        }
        slot = {"actor": 1, "director": 2, "writer": 3}
        for m, name in q("SELECT movie_id, name FROM movie_genre").fetchall():
            docs[minted_id("film_work", m)][0].append(name)
        for m, name, role in q("SELECT movie_id, full_name, role FROM credits").fetchall():
            docs[minted_id("film_work", m)][slot[role]].append(name)
    finally:
        con.close()
    return {"counts": counts, "digests": {k: doc_digest(*v) for k, v in docs.items()}}
