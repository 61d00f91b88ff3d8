"""Seeded input generator for the movie-platform benchmark.

Produces the four dirty legacy tables the full load normalizes
(``movies``, ``actors``, ``writers``, ``movie_actors``) as parquet
files, plus the CDC wave stream and the serving request mix. The
program under test only ever sees the parquet files; the waves and
requests are applied and issued by the benchmark itself.

Anomaly classes (the same ones ``tests/fixtures_legacy.py`` covers):

- ``N/A`` / ``""`` sentinels in names, genres, directors, plots and
  ratings;
- comma-separated lists with duplicates inside one row;
- JSON ``writers`` arrays with duplicate ids, and the fallback to the
  single legacy ``writer`` column (both populated: the JSON wins);
- int-as-text bridge FKs, some dangling;
- full-row duplicate dimension rows and duplicate bridge rows.

Person popularity is Zipf-distributed: the person at popularity rank
r is credited with weight ``1 / r**zipf``, so with a large exponent a
few people appear in many films and renaming them fans out through the
bridge to many documents. Genre popularity is Zipf(1) as well, so a
genre rename touches a large slice of the corpus.

Everything is a pure function of ``(seed, params)``: the same seed
writes byte-identical files and yields the same waves and requests.
"""

from __future__ import annotations

import json
import os
import random
from bisect import bisect_left
from dataclasses import asdict, dataclass
from itertools import accumulate

import pyarrow as pa
import pyarrow.parquet as pq

FIRST = (
    "Ada Alan Anna Boris Clara Dmitri Elena Emil Greta Hugo Ines Ivan "
    "Jana Karl Lena Lev Maria Milo Nina Oleg Olga Paul Rosa Sofia Timo "
    "Vera Yuri Zoe"
).split()
SYLL = "ka lo mi ra ne to vi sa lu de po ri ta mo ze ni ko va li bu".split()
WORDS = (
    "shadow river night empire garden storm silver winter echo city "
    "dream fire ocean stone mirror falcon secret journey last golden "
    "broken hidden iron crimson lost wild dark frozen distant silent"
).split()
GENRES = (
    "Drama Comedy Action Thriller Romance Horror Documentary Animation "
    "Adventure Crime Mystery Fantasy Family Biography History War Music "
    "Western Sport Musical Noir Short News Talk-Show Reality Game-Show "
    "Adult Sci-Fi"
).split()
ROLES = ("actor", "writer", "director")
# one block of the serving mix, served before each CDC wave and after
# the last: 10 lookups, 3 list pages, 3 admin pages and 1 search
BLOCK = ("lookup",) * 10 + ("list",) * 3 + ("admin",) * 3 + ("search",)
# the list pages of one block: (sort field, order, page)
LIST_PAGES = (("title", "asc", 1), ("title", "asc", 2), ("title", "desc", 1))
# the admin pages of one block
ADMIN_PAGES = (1, 3, 5)


@dataclass(frozen=True)
class GenParams:
    """Corpus size, skew and the shape of one CDC wave."""

    movies: int = 1000
    persons: int = 800
    genres: int = 24
    zipf: float = 1.1
    # one CDC wave
    film_edits: int = 20
    renames: int = 2
    new_bridges: int = 10
    genre_rename: bool = True  # every wave also renames the most credited genre


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(accumulate(1.0 / (r + 1) ** s for r in range(n)))


class _Zipf:
    """Draws item indices 0..n-1; popularity rank -> item through a
    seeded permutation so hot items are spread over the id space, or
    rank r -> item r with ``shuffle=False``."""

    def __init__(self, rng: random.Random, n: int, s: float, shuffle: bool = True) -> None:
        self.rng = rng
        self.cum = _zipf_cum(n, s)
        self.perm = list(range(n))
        if shuffle:
            rng.shuffle(self.perm)

    def draw(self) -> int:
        x = self.rng.random() * self.cum[-1]
        return self.perm[min(bisect_left(self.cum, x), len(self.cum) - 1)]


def person_name(i: int) -> str:
    a, b, c = i % 20, (i // 20) % 20, (i // 400) % 20
    return f"{FIRST[i % len(FIRST)]} {SYLL[c].title()}{SYLL[b]}{SYLL[a]}"


def _sentinel(rng: random.Random, p: float, value: str) -> str:
    return rng.choice(("N/A", "")) if rng.random() < p else value


def _title(rng: random.Random) -> str:
    return f"The {rng.choice(WORDS).title()} {rng.choice(WORDS).title()}"


@dataclass
class Legacy:
    movies: list[tuple]
    actors: list[tuple]
    writers: list[tuple]
    movie_actors: list[tuple]
    # person-pool indices that hold at least one valid credit, most
    # credited first
    credited: list[int]


MOVIES_SCHEMA = pa.schema([(c, pa.string()) for c in (
    "id", "genre", "director", "writer", "title", "plot", "ratings",
    "imdb_rating", "writers")])
ACTORS_SCHEMA = pa.schema([("id", pa.int64()), ("name", pa.string())])
WRITERS_SCHEMA = pa.schema([("id", pa.string()), ("name", pa.string())])
MOVIE_ACTORS_SCHEMA = pa.schema([("movie_id", pa.string()), ("actor_id", pa.string())])


def make_legacy(seed: int, gp: GenParams) -> Legacy:
    rng = random.Random(seed)
    n_genres = min(gp.genres, len(GENRES))
    genre_pop = _Zipf(rng, n_genres, 1.0)
    person_pop = _Zipf(rng, gp.persons, gp.zipf)
    credits: dict[int, int] = {}

    def credit(pis) -> None:  # noqa: ANN001 - iterable of person indices
        for pi in pis:
            credits[pi] = credits.get(pi, 0) + 1

    n_actors = max(1, gp.persons * 6 // 10)
    actor_person = [person_pop.draw() for _ in range(n_actors)]
    actors, actor_valid = [], []
    for a, pi in enumerate(actor_person, start=1):
        name = _sentinel(rng, 0.03, person_name(pi))
        actor_valid.append(name not in ("N/A", ""))
        actors.append((a, name))
    actors += [actors[i] for i in range(0, len(actors), 50)]  # full-row duplicates
    actor_pop = _Zipf(rng, n_actors, gp.zipf)

    n_writers = max(1, gp.persons * 3 // 10)
    writers, writer_person = [], {}
    for w in range(n_writers):
        wid = f"{rng.getrandbits(160):040x}"
        pi = person_pop.draw()
        name = _sentinel(rng, 0.03, person_name(pi))
        if name not in ("N/A", ""):
            writer_person[wid] = pi
        writers.append((wid, name))
    writer_pop = _Zipf(rng, n_writers, gp.zipf)

    movies, movie_actors = [], []
    for i in range(gp.movies):
        mid = f"tt{i:07d}"
        gs = [GENRES[genre_pop.draw()] for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.2:
            gs.append(gs[0])  # duplicate inside the row
        genre = _sentinel(rng, 0.04, ", ".join(gs))
        if rng.random() < 0.1:
            director = "N/A"
        else:
            ds = [person_pop.draw() for _ in range(rng.randint(1, 2))]
            if rng.random() < 0.05:
                ds.append(ds[0])
            credit(set(ds))
            director = ", ".join(person_name(d) for d in ds)
        roll = rng.random()
        if roll < 0.05:
            writer, writers_json, wids = "", "", []
        elif roll < 0.40:
            wid = writers[writer_pop.draw()][0]
            writer, writers_json, wids = wid, "", [wid]
        else:
            wids = [writers[writer_pop.draw()][0] for _ in range(rng.randint(1, 3))]
            ids = wids + wids[:1]  # duplicate id inside the JSON
            writers_json = json.dumps([{"id": w} for w in ids])
            # both populated in 1 of 4: the JSON must win
            writer = writers[writer_pop.draw()][0] if roll > 0.85 else ""
        credit({writer_person[w] for w in wids if w in writer_person})
        plot = _sentinel(rng, 0.2, " ".join(rng.choice(WORDS) for _ in range(8)))
        rating = _sentinel(rng, 0.08, f"{rng.uniform(1, 10):.1f}")
        movies.append((mid, genre, director, writer, _title(rng), plot, None,
                       rating, writers_json))
        for _ in range(rng.randint(2, 6)):
            if rng.random() < 0.03:
                aid = n_actors + 1 + rng.randrange(1000)  # dangling FK
            else:
                aid = actor_pop.draw() + 1
                if actor_valid[aid - 1]:
                    credit([actor_person[aid - 1]])
            movie_actors.append((mid, str(aid)))
    movie_actors += movie_actors[::40]  # duplicate bridge rows
    return Legacy(movies, actors, writers, movie_actors,
                  sorted(credits, key=lambda pi: (-credits[pi], pi)))


def write_legacy(leg: Legacy, out_dir: str) -> dict[str, str]:
    """Write the four legacy tables as single parquet files; returns
    table name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, rows, schema in (
        ("movies", leg.movies, MOVIES_SCHEMA),
        ("actors", leg.actors, ACTORS_SCHEMA),
        ("writers", leg.writers, WRITERS_SCHEMA),
        ("movie_actors", leg.movie_actors, MOVIE_ACTORS_SCHEMA),
    ):
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                         schema=schema)
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


@dataclass
class Wave:
    """One CDC wave in natural keys: the benchmark maps them to the
    normalized ids when it commits the wave to the base tables."""

    film_edits: list[tuple[str, str, float]]  # (legacy movie id, title, rating)
    renames: list[tuple[str, str]]  # (current full name, new full name)
    new_bridges: list[tuple[str, str, str]]  # (legacy movie id, full name, role)
    genre_renames: list[tuple[str, str]]  # (current name, new name)


class WaveStream:
    """Deterministic CDC waves over the generated corpus. Renamed
    persons and genres keep their current names here, so later waves
    refer to them by the name the base tables hold at that point."""

    def __init__(self, seed: int, gp: GenParams, leg: Legacy) -> None:
        self.rng = random.Random(seed * 7919 + 1)
        self.gp = gp
        self.movie_ids = [m[0] for m in leg.movies]
        self.credited = leg.credited
        self.names = {pi: person_name(pi) for pi in leg.credited}
        # new credits follow the corpus's own popularity: rank r is the
        # r-th most credited person
        self.person_pop = _Zipf(random.Random(seed * 7919 + 2), len(leg.credited), gp.zipf,
                                shuffle=False)
        counts: dict[str, int] = {}
        for m in leg.movies:
            for name in set(m[1].split(", ")) - {"N/A", ""}:
                counts[name] = counts.get(name, 0) + 1
        # a rename of the most credited genre touches a large slice of
        # the corpus
        self.top_genre = min(counts, key=lambda name: (-counts[name], name))
        self.genre_names = {name: name for name in counts}
        self.n = 0

    def next(self) -> Wave:
        gp, rng = self.gp, self.rng
        self.n += 1
        k = self.n
        edits = [
            (mid, f"{_title(rng)} w{k}", round(rng.uniform(1, 10), 1))
            for mid in rng.sample(self.movie_ids, min(gp.film_edits, len(self.movie_ids)))
        ]
        # wave k renames the persons at the next popularity ranks (the
        # most credited first), so a wave's fan-out is about the same on
        # every seed; the seed decides who holds each rank
        renamed: list[tuple[str, str]] = []
        for r in range((k - 1) * gp.renames, k * gp.renames):
            pi = self.credited[r % len(self.credited)]
            new = f"{person_name(pi)} w{k}"
            renamed.append((self.names[pi], new))
            self.names[pi] = new
        bridges = [
            (rng.choice(self.movie_ids),
             self.names[self.credited[self.person_pop.draw()]],
             rng.choice(ROLES))
            for _ in range(gp.new_bridges)
        ]
        genre_renames = []
        if gp.genre_rename:
            g = self.top_genre
            new = f"{g} w{k}"
            genre_renames.append((self.genre_names[g], new))
            self.genre_names[g] = new
        return Wave(edits, renamed, bridges, genre_renames)


def request_mix(seed: int, movie_ids: list[str], n: int) -> list[tuple]:
    """Seeded serving requests in shuffled blocks of ``BLOCK``: mostly
    point lookups, plus the same sorted list pages and admin pages and a
    two-word search per block. Fixed shares per block keep each operation's
    median, and the 80th percentile, comparable across seeds."""
    rng = random.Random(seed * 104729 + 3)
    out: list[tuple] = []
    while len(out) < n:
        block = list(BLOCK)
        rng.shuffle(block)
        pages, admin_pages = iter(LIST_PAGES), iter(ADMIN_PAGES)
        for kind in block:
            if kind == "lookup":
                out.append(("lookup", rng.choice(movie_ids)))
            elif kind == "list":
                out.append(("list", *next(pages)))
            elif kind == "search":
                out.append(("search", " ".join(rng.sample(WORDS, 2))))
            else:
                out.append(("admin", next(admin_pages)))
    return out[:n]


def params_dict(gp: GenParams) -> dict:
    return asdict(gp)
