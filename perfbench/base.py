"""The mutable base tables the CDC pipelines read: the benchmark's
stand-in for the source database.

After a full load the five staged tables are taken over here. A wave
is committed by rewriting each table it touches as a new parquet
version (one file per version, pyarrow, no Spark job); the loader the
pipelines receive always reads the current version. The base also
works out, from its own copy of the rows, which documents a wave must
change, so the benchmark can check the views without asking the
program.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("film_work", "genre", "person", "genre_film_work", "person_film_work")
UTC_US = pa.timestamp("us", tz="UTC")


def _schema(table: pa.Table) -> pa.Schema:
    """Spark writes timestamps as INT96 (read back as ns); store them as
    UTC microseconds, which Spark reads as TIMESTAMP."""
    return pa.schema([
        pa.field(f.name, UTC_US) if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ])


class Base:
    def __init__(self, root: str, staged: dict[str, str]) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.frames: dict[str, pd.DataFrame] = {}
        self.schemas: dict[str, pa.Schema] = {}
        self.version = {t: 0 for t in TABLES}
        self.paths: dict[str, str] = {}
        self._stale: list[str] = []
        for t in TABLES:
            table = pq.read_table(staged[t])
            self.schemas[t] = _schema(table)
            df = table.to_pandas()
            for c in ("created_at", "updated_at"):
                if c in df.columns:
                    df[c] = pd.to_datetime(df[c], utc=True).astype("datetime64[us, UTC]")
            self.frames[t] = df
            self._write(t)
        self._stale.clear()
        self.max_ts = max(
            self.frames[t][c].max()
            for t in TABLES
            for c in ("created_at", "updated_at")
            if c in self.frames[t].columns
        )
        self.fw_by_source = dict(zip(self.frames["film_work"]["source_id"],
                                     self.frames["film_work"]["id"]))

    def _write(self, t: str) -> None:
        path = os.path.join(self.root, f"{t}-v{self.version[t]:05d}.parquet")
        tbl = pa.Table.from_pandas(self.frames[t], schema=self.schemas[t],
                                   preserve_index=False)
        pq.write_table(tbl, path)
        if t in self.paths:
            self._stale.append(self.paths[t])
        self.paths[t] = path
        self.version[t] += 1

    def drop_stale(self) -> None:
        """Delete superseded versions; call after a drain, when no plan
        can still reference them."""
        for p in self._stale:
            if os.path.exists(p):
                os.remove(p)
        self._stale.clear()

    def loader(self, spark):  # noqa: ANN001, ANN201
        return lambda name: spark.read.parquet(self.paths[name])

    def cursor_start(self) -> dt.datetime:
        """A naive-UTC instant strictly after every base row."""
        return (self.max_ts + pd.Timedelta(seconds=1)).tz_convert(None).to_pydatetime()

    def commit(self, wave, ts: dt.datetime, k: int) -> dict:  # noqa: ANN001 - gen.Wave
        """Apply one wave at commit time ``ts``; returns what it changed:
        the tables and source rows, the ids each view must rebuild, and
        what a reader must then see: (film id, field, value) with field
        ``title``, ``names`` (a credited person's name) or ``genres_names``."""
        stamp = pd.Timestamp(ts, tz="UTC")
        f = self.frames
        touched: set[str] = set()
        movies: set[str] = set()
        persons: set[str] = set()
        genres: set[str] = set()
        rows = 0
        expect: list[tuple[str, str, str]] = []

        fw = f["film_work"]
        for mid, title, rating in wave.film_edits:
            fid = self.fw_by_source[mid]
            m = fw["id"] == fid
            fw.loc[m, ["title", "rating", "updated_at"]] = [title, rating, stamp]
            movies.add(fid)
            expect.append((fid, "title", title))
            rows += 1
            touched.add("film_work")

        person, pfw = f["person"], f["person_film_work"]
        for old, new in wave.renames:
            m = person["full_name"] == old
            if not m.any():
                continue
            pid = person.loc[m, "id"].iloc[0]
            person.loc[m, ["full_name", "updated_at"]] = [new, stamp]
            persons.add(pid)
            films = sorted(pfw.loc[pfw["person_id"] == pid, "film_work_id"])
            movies.update(films)
            if films:
                expect.append((films[0], "names", new))
            rows += 1
            touched.add("person")

        pid_by_name = dict(zip(person["full_name"], person["id"]))
        existing = set(zip(pfw["film_work_id"], pfw["person_id"], pfw["role"]))
        new_rows = []
        for j, (mid, name, role) in enumerate(wave.new_bridges):
            fid, pid = self.fw_by_source[mid], pid_by_name.get(name)
            if pid is None or (fid, pid, role) in existing:
                continue
            existing.add((fid, pid, role))
            new_rows.append({"id": f"w{k:05d}-{j:03d}", "film_work_id": fid,
                             "person_id": pid, "role": role, "created_at": stamp})
            movies.add(fid)
            rows += 1
        if new_rows:
            f["person_film_work"] = pd.concat([pfw, pd.DataFrame(new_rows)],
                                              ignore_index=True)
            touched.add("person_film_work")

        genre, gfw = f["genre"], f["genre_film_work"]
        for old, new in wave.genre_renames:
            m = genre["name"] == old
            if not m.any():
                continue
            gid = genre.loc[m, "id"].iloc[0]
            genre.loc[m, ["name", "updated_at"]] = [new, stamp]
            genres.add(gid)
            films = sorted(gfw.loc[gfw["genre_id"] == gid, "film_work_id"])
            movies.update(films)
            if films:
                expect.append((films[0], "genres_names", new))
            rows += 1
            touched.add("genre")

        for t in sorted(touched):
            self._write(t)
        return {"tables": touched, "rows": rows, "movies": movies, "persons": persons,
                "genres": genres, "expect": expect}
