"""Idempotent keyed sink — SURVEY.md §2.1 S5 / §2.8 T3.

The reference gets exactly-once *effect* from at-least-once delivery
plus ES ``_id = doc.id`` overwrite semantics
(/root/reference/postgres_to_es/daemon.py:358-381). The parquet
equivalent is upsert-by-key: replace existing rows sharing a key with
the incoming batch, keep the rest. Re-delivering the same batch is a
no-op — which is what makes commit-AFTER-sink safe.

Two sinks live here with DIFFERENT storage contracts:

- ``upsert_keyed_parquet`` — read-old → anti-join on incoming keys →
  union → atomic directory swap. The swap leans on POSIX rename
  atomicity, which is fine for SMALL single-directory views on a real
  filesystem (and for the IVM agg-state ledger, same contract) but is
  NOT object-store-safe: S3/GCS "rename" is copy-then-delete. For any
  object-store deployment — or any view big enough that a full rewrite
  per batch hurts — use the manifest-committed bucketed sink below
  (``upsert_keyed_parquet_bucketed``), whose single commit point is an
  object-PUT-shaped compare-and-swap and whose rewrite cost is
  proportional to the touched buckets, not the view.
- ``upsert_keyed_parquet_bucketed`` — the Iceberg/Delta commit idea on
  plain parquet (see the block comment further down): immutable
  per-commit data dirs + versioned checksummed manifests, CAS publish,
  incremental GC, time travel. This is the 100-TB path. For
  high-churn CDC, its LOG-STRUCTURED twin
  (``upsert_keyed_parquet_delta`` / ``delete_keys_delta`` +
  ``compact_bucketed_view``) appends per-commit delta files so write
  cost is O(batch) instead of O(touched buckets), with merge-on-read
  and CAS-committed compaction — see the delta block comment below.

On a real cluster the call shape is a Delta/Iceberg ``MERGE INTO``
(file-level rewrite pruned by key stats) or the es-hadoop connector's
``es.mapping.id`` upsert — swap the one function.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def recover_swap(path: str, marker: str = "_SUCCESS") -> None:
    """Heal an interrupted swap so no crash window loses data.

    States a crash can leave behind (see ``upsert_keyed_parquet``):
    - target + ``.swap``: write finished but swap never started →
      discard the ``.swap`` (its offset was never committed; the batch
      will be re-delivered and the upsert is idempotent).
    - no target, ``.swap`` present AND provably complete: the old dir
      was renamed aside but the new one not yet moved in → promote the
      ``.swap`` (it is the complete merged dataset). "Provably
      complete" = the ``.old`` backup exists (the rename-aside only
      happens after the write finished) or the dir carries its
      completeness ``marker`` (Spark's ``_SUCCESS`` commit marker for
      the keyed sink; IVM's aggregate state passes its ledger file,
      which is written into ``.swap`` last). A first-ever write that
      crashed mid-write leaves a partial ``.swap`` with neither —
      promoting it would wedge every subsequent read on a corrupt
      target, so it is discarded instead: its offset was never
      committed, redelivery regenerates it.
    - no target, only ``.old``: restore the backup.
    - target + ``.old``: swap completed, cleanup didn't → drop ``.old``.
    """
    tmp, bak = path + ".swap", path + ".old"
    if not os.path.exists(path):
        tmp_complete = os.path.exists(tmp) and (
            os.path.exists(bak) or os.path.exists(os.path.join(tmp, marker))
        )
        if tmp_complete:
            os.replace(tmp, path)
        elif os.path.exists(bak):
            os.replace(bak, path)
    if os.path.exists(bak):
        shutil.rmtree(bak, ignore_errors=True)
    if os.path.exists(tmp):
        shutil.rmtree(tmp, ignore_errors=True)


def upsert_keyed_parquet(
    spark: SparkSession, batch: DataFrame, path: str, key: str
) -> None:
    """Upsert ``batch`` into the parquet dir at ``path`` by ``key``.

    Crash-safe swap: the previous version is renamed aside (never
    deleted before the new one is in place), so at every instant either
    the target or a recoverable copy exists on disk. ``recover_swap``
    heals any leftover intermediate state on the next call.
    """
    tmp = path + ".swap"
    recover_swap(path)
    if os.path.exists(path):
        old = spark.read.parquet(path)
        keys = batch.select(key).distinct()
        merged = old.join(F.broadcast(keys), key, "left_anti").unionByName(batch)
    else:
        merged = batch
    # materialize BEFORE touching the target (merged reads the target)
    merged.write.mode("overwrite").parquet(tmp)
    swap_in(path)


def swap_in(path: str) -> None:
    """Move the complete ``path + ".swap"`` dir in as ``path``: rename
    the current version aside to ``.old``, rename the new one in, drop
    the backup. At every instant the target or a copy
    :func:`recover_swap` can promote exists."""
    tmp, bak = path + ".swap", path + ".old"
    if os.path.exists(path):
        os.replace(path, bak)  # crash here → recover_swap promotes tmp
    os.replace(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)


def read_view(spark: SparkSession, path: str) -> DataFrame:
    recover_swap(path)
    return spark.read.parquet(path)


def buckets_for(view_bytes: int, target_bucket_bytes: int = 1 << 30) -> int:
    """Size the bucket count from a TARGET BUCKET SIZE, not a magic
    count. Pruning saves ``1 - touched/n_buckets`` of the rewrite
    volume, and each touched bucket is read + rewritten whole — so the
    sizing rule is "one bucket ≈ one executor-task-sized unit of
    rewrite": ~1 GiB (a few parquet row groups). The 100-TB math: a
    100 TB view / 1 GiB → ~100k buckets, so a maintenance batch
    touching 1,000 keys rewrites ≲1,000 GiB (≈1%) instead of 100 TB;
    with a magic count of 16 a single "pruned" bucket would be
    ~6 TB — no better than the flat rewrite. Floors at 16 (tiny test
    views) and rounds up to a power of two so counts stay stable and
    splittable as the view grows."""
    import math

    n = max(16, math.ceil(max(view_bytes, 1) / target_bucket_bytes))
    return 1 << (n - 1).bit_length()


def dir_bytes(path: str) -> int:
    """Recursive byte size of a directory (0 if absent) — the input
    ``buckets_for`` sizes from."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# --------------------------------------------------------------------
# Manifest-committed bucketed sink
#
# The bucketed upsert used to promote each touched bucket with a
# per-directory rename swap (kb=N.swap → kb=N). That protocol leans on
# POSIX rename atomicity — which object stores (S3/GCS) do not give
# you: their "rename" is copy-then-delete, so a crash mid-rename can
# leave a torn directory and the multi-bucket commit has O(touched)
# separate atomicity points. This is the Iceberg/Delta commit idea
# without the format:
#
#   path/_manifests/manifest-<v>.json   (versioned, checksummed)
#   path/data/kb=<N>/c-<commit>/part-*.parquet  (immutable, write-once)
#
# A commit writes NEW immutable data dirs (invisible — nothing
# references them yet, so the moves need no atomicity at all), then
# publishes ONE new manifest file naming exactly the live dir per
# bucket. The single atomicity point is the manifest publish, and even
# that doesn't need an atomic rename: manifests are versioned + carry
# a payload checksum, and readers take the HIGHEST version that
# parses and checksums clean — a torn half-copied manifest file fails
# the checksum and the reader falls back to the previous version.
# (On a real object store the publish is one object PUT, which is
# atomic per-object everywhere.) Recovery is therefore a no-op:
# unreferenced data dirs are garbage, swept by the next successful
# commit's GC; there is no heal step and no crash window that loses
# or tears data.
#
# Every write verb (bucketed upsert and delete, delta append,
# compaction, split) commits through ONE optimistic-concurrency loop,
# ``_optimistic_commit``. Each attempt loads the latest manifest and
# hands it to the verb, which validates against it (key, pending
# deltas, schema stamp, log depth), stages its new rows through
# ``_stage_buckets`` and builds the next manifest with
# ``_next_manifest``. The loop then publishes by compare-and-swap. A
# win stamps the published version and runs the incremental GC; a
# loss means a concurrent writer published first, so the next attempt
# re-merges against the winner's manifest, and the losing attempt's
# dirs stay unreferenced garbage for GC/vacuum. Single-writer callers
# never loop. A violated contract raises ValueError at once (no retry
# can cure it); ``_COMMIT_ATTEMPTS`` lost publishes raise
# RuntimeError.
# --------------------------------------------------------------------

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_MANIFEST_RE = re.compile(r"^manifest-(\d{20})\.json$")


def _manifest_checksum(doc: dict) -> str:
    body = {k: v for k, v in doc.items() if k != "checksum"}
    return hashlib.sha256(
        json.dumps(body, sort_keys=True).encode()
    ).hexdigest()


def _load_manifest_file(fp: str) -> dict | None:
    """Load ONE manifest file iff it parses and checksums clean; a torn
    file (non-atomic rename/PUT crashed mid-copy) returns None."""
    try:
        with open(fp) as f:
            doc = json.load(f)
    except (json.JSONDecodeError, OSError, UnicodeDecodeError):
        return None
    if doc.get("checksum") == _manifest_checksum(doc):
        return doc
    return None


def load_manifest(path: str, version: int | None = None) -> dict | None:
    """Resolve a committed state: the highest-version manifest that
    parses AND checksums clean — or, with ``version``, exactly that
    version (time travel over retained versions). A torn manifest (a
    non-atomic rename/PUT that crashed mid-copy) fails one of those
    and is skipped — the reader lands on the previous committed
    version, which by the commit ordering is always intact."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return None
    names = sorted(
        (n for n in os.listdir(mdir) if _MANIFEST_RE.match(n)), reverse=True
    )
    if version is not None:
        names = [n for n in names if int(_MANIFEST_RE.match(n)[1]) == version]
    for n in names:
        doc = _load_manifest_file(os.path.join(mdir, n))
        if doc is not None:
            return doc
    return None


def _cas_create(src: str, dst: str) -> bool:
    """Create ``dst`` from ``src`` FAIL-IF-EXISTS — the compare-and-swap
    under optimistic concurrency: two writers racing to publish the
    same version number can't silently overwrite each other; exactly
    one wins, the loser re-merges against the winner's manifest. POSIX:
    hard link (atomic create-exclusive). Object stores: a conditional
    PUT (If-None-Match:*) — same call shape, swap this one function.
    Returns False when dst already exists (lost the race)."""
    try:
        os.link(src, dst)
        return True
    except FileExistsError:
        return False


def _publish_manifest(path: str, doc: dict) -> int | None:
    """Publish a new manifest version: write to a hidden tmp name,
    fsync, then create-exclusive at the final versioned name (the
    CAS). Returns the PUBLISHED version number, or None if a committed
    manifest already holds the requested version — a concurrent writer
    won; the caller re-merges against the newer manifest.

    A TORN file at the requested version (a crashed non-atomic
    publish, detected via checksum) is garbage, not a competing
    commit — but its name is never reclaimed by delete-then-relink:
    check-then-remove is a TOCTOU window in which a concurrent
    redelivery could publish a GOOD manifest at that name between our
    check and our remove, and the remove would silently delete a
    committed manifest (a lost update — exactly what the CAS exists to
    prevent). Instead the publisher BUMPS past the torn name and
    publishes at the next free version: readers take the highest
    version that checksums clean, so a good v+1 always beats torn v,
    and the torn file ages out of the retention window and is swept by
    GC. Version numbers are monotonic, not dense — nothing depends on
    density. Atomicity of the create is likewise NOT a correctness
    dependence for readers: a torn write at the final name fails the
    checksum in load_manifest and the previous version still wins.

    Publishing BELOW the current latest is likewise a lost race, not a
    success: GC frees the FILE NAMES of superseded manifests, so a
    writer that loaded version v, stalled while >= keep_versions newer
    commits published and GC ran, would find the name v+1 free, win
    the create — and have published a manifest no reader will ever
    take (readers take the highest version). Its batch would be
    silently invisible while the caller believed it committed. Two
    guards close that hole: the requested version is checked against
    the latest committed version BEFORE the probe loop, and re-checked
    AFTER winning the create (the stall can happen between the two);
    a below-latest publish is retracted and reported as a lost race so
    the caller re-merges against the current manifest."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    doc = dict(doc)
    v = int(doc["version"])
    cur = load_manifest(path)
    if cur is not None and int(cur["version"]) >= v:
        return None  # stale base: newer commits already visible
    while True:
        final = os.path.join(mdir, f"manifest-{v:020d}.json")
        if not os.path.exists(final):
            break
        if _load_manifest_file(final) is not None:
            return None  # committed manifest holds this version — lost
        v += 1  # torn garbage holds the name — publish past it
    doc["version"] = v
    doc["checksum"] = _manifest_checksum(doc)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(doc, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    won = _cas_create(tmp, final)
    try:
        os.remove(tmp)
    except OSError:
        pass
    if not won:
        return None
    latest = load_manifest(path)
    if latest is not None and int(latest["version"]) > v:
        # newer good manifests existed (or landed) while we linked —
        # our file sits below latest and no reader will take it.
        # Retract and re-merge. (A racer that published v+1 on TOP of
        # our v in this window already incorporated our buckets, so
        # retracting v loses nothing; the re-merge re-applies the
        # batch idempotently.)
        try:
            os.remove(final)
        except OSError:
            pass
        return None
    return v


def _manifest_refs(doc: dict) -> set[str]:
    """Every data-dir rel path a manifest references: the per-bucket
    BASE dirs plus (delta-mode views) every delta commit's dirs."""
    refs = set(doc["buckets"].values())
    for dc in doc.get("delta_commits", ()):
        refs.update(dc["buckets"].values())
    return refs


def _gc_unreferenced(
    path: str,
    current: dict,
    keep_versions: int = 2,
    grace_seconds: float = 0.0,
) -> None:
    """INCREMENTAL per-commit GC — O(changed buckets), never a walk of
    the data tree. The just-published writer already holds every
    manifest involved, so the dead set is pure set algebra: data dirs
    referenced by a superseded manifest but by NO retained one. At the
    docstring's 100-TB sizing (~100k buckets) the old full-tree sweep
    was ~100k directory LISTs per commit — an object-store LIST storm
    dwarfing the commit itself; this version's listing cost is ONE
    LIST of the (small) manifest dir.

    Deletes exactly:
    - data dirs whose only references are manifests past the retention
      window (i.e. replaced by retained commits),
    - manifest files older than the ``keep_versions`` most recent GOOD
      versions (torn files ride along once the floor passes them).

    Never touches: ``_stage-*`` dirs or ``.tmp-*`` manifests (each
    writer cleans its OWN; a foreign one is a CONCURRENT writer's
    in-flight work — sweeping it would break that writer's Spark write
    or, worse, delete moved-but-unpublished data dirs its imminent
    commit will reference), and never-referenced orphan data dirs
    (crashed pre-publish commits, losing CAS attempts). Those are
    crash leftovers swept by the rare, explicit :func:`vacuum`.

    ``grace_seconds`` is the reader grace window, gated PER SUPERSEDED
    MANIFEST: a dead version's dirs are sweepable once its SUCCESSOR
    manifest (the commit that superseded it — the moment its snapshot
    stopped being latest) has existed at least that long, so every
    swept dir has been superseded for ≥ grace_seconds and a reader
    that resolved it just before can finish its scan. A global
    youngest-retained gate would be wrong in both common cadences:
    with ``keep_versions=1`` the floor is the just-published manifest
    (age ~0), disabling inline GC entirely; with commits faster than
    the grace it would never fire and superseded dirs would accumulate
    unboundedly. (``keep_versions >= 2``, the default, already gives
    one full commit cycle of grace on top.)

    Runs only AFTER a successful publish, so a crash inside GC just
    leaves garbage for a later pass — readers are already on the new
    version. ``keep_versions > 1`` retains older snapshots for
    time-travel reads (``read_bucketed_view(version=...)``) — the
    incremental cost is only the buckets the retained commits rewrote,
    since untouched buckets share their immutable dirs across
    versions."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    docs: dict[int, dict | None] = {}
    for n in os.listdir(mdir):
        m = _MANIFEST_RE.match(n)
        if m:
            docs[int(m[1])] = _load_manifest_file(os.path.join(mdir, n))
    good = sorted((v for v, d in docs.items() if d is not None), reverse=True)
    retained = set(good[: max(1, keep_versions)])
    if not retained:
        return
    floor_v = min(retained)
    good_asc = sorted(good)

    def _successor_aged(v: int) -> bool:
        # the dead version's grace clock starts when its SUCCESSOR
        # published (that commit superseded it)
        if grace_seconds <= 0:
            return True
        succ = next((g for g in good_asc if g > v), None)
        if succ is None:  # pragma: no cover - dead implies a successor
            return False
        fp = os.path.join(mdir, f"manifest-{succ:020d}.json")
        try:
            return (time.time() - os.path.getmtime(fp)) >= grace_seconds
        except OSError:
            return False

    live: set[str] = set()
    dead_refs: set[str] = set()
    for v, doc in docs.items():
        if doc is None:
            continue
        if v in retained or not _successor_aged(v):
            live.update(_manifest_refs(doc))  # retained or inside grace
        else:
            dead_refs.update(_manifest_refs(doc))
    for rel in dead_refs - live:
        shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
    for v in docs:
        if v < floor_v and (docs[v] is None or _successor_aged(v)):
            try:
                os.remove(os.path.join(mdir, f"manifest-{v:020d}.json"))
            except OSError:
                pass


#: Publish attempts a commit makes before giving up. A lost attempt
#: costs one restage (a delta append only re-appends its entry), so
#: the budget bites only under pathological writer contention.
_COMMIT_ATTEMPTS = 10


def _optimistic_commit(
    path: str,
    what: str,
    attempt,  # noqa: ANN001 - (dict | None) -> (dict | None, result)
    keep_versions: int,
    gc_grace_seconds: float,
):
    """The one commit loop (see the module block above).
    ``attempt(man)`` gets the latest manifest and returns ``(doc,
    result)``: ``doc`` is the manifest to publish, or None when there
    is nothing to commit and ``result`` returns as is."""
    for _ in range(_COMMIT_ATTEMPTS):
        doc, result = attempt(load_manifest(path))
        if doc is None:
            return result
        pub_v = _publish_manifest(path, doc)  # THE commit point (CAS)
        if pub_v is not None:
            doc["version"] = pub_v  # may have bumped past a torn name
            _gc_unreferenced(path, doc, keep_versions, gc_grace_seconds)
            return result
    raise RuntimeError(
        f"{what} at {path!r} lost the manifest publish race "
        f"{_COMMIT_ATTEMPTS} times — pathological writer contention"
    )


def _stage_buckets(
    path: str, rows: DataFrame, kbs: list[int], kind: str = "c"
) -> tuple[str, dict[str, str]]:
    """Write ``rows`` (carrying ``_kb``) as one new immutable dir per
    bucket: stage under ``_stage-<id>``, then move each bucket to
    ``data/kb=N/<kind>-<id>``. Returns ``(id, {kb: rel})``; a bucket
    of ``kbs`` with no rows gets no dir. The stage dir is removed on
    every path, a failed write included.

    Any staged bucket outside ``kbs`` aborts before anything moves: a
    row there would be silently dropped with the stage dir, so the
    caller's probe-superset contract (``probe_keys``) is checked, not
    trusted."""
    commit_id = uuid.uuid4().hex[:12]
    stage = os.path.join(path, f"_stage-{commit_id}")
    try:
        # one shuffle on the bucket id → exactly one file per bucket
        # (partitionBy without it writes |tasks|×|buckets| files)
        rows.repartition(len(kbs), F.col("_kb")).write.mode(
            "overwrite"
        ).partitionBy("_kb").parquet(stage)
        staged = {
            int(d.split("=", 1)[1])
            for d in os.listdir(stage)
            if d.startswith("_kb=")
        }
        stray = staged - {int(kb) for kb in kbs}
        if stray:
            raise ValueError(
                f"staged rows at {path!r} landed in bucket(s) "
                f"{sorted(stray)} absent from the touched-bucket probe — "
                "probe_keys is not a superset of the batch's keys"
            )
        moved: dict[str, str] = {}
        for kb in sorted(staged):
            rel = f"{_DATA_DIR}/kb={kb}/{kind}-{commit_id}"
            dst = os.path.join(path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            # dst is a fresh id — nothing references it until a
            # manifest does, so this move needs no atomicity
            os.replace(os.path.join(stage, f"_kb={kb}"), dst)
            moved[str(kb)] = rel
        return commit_id, moved
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _next_manifest(
    man: dict | None, key: str, n_buckets: int, buckets: dict, **stamps
) -> dict:
    """The manifest a commit publishes on top of ``man``: version + 1
    (1 for a fresh view), carrying ``man``'s ``rebucket`` marker and
    stamped ``fields``. Mid-migration the marker must ride along:
    dropping it would reset every writer's routing to the old layout
    while the map already holds new-layout ids, forking split buckets'
    keys into duplicate dirs. A keyword in ``stamps`` replaces the
    carried value and None drops it — widening writers restamp
    ``fields``, and only ``split_buckets`` edits ``rebucket``."""
    doc = {
        "version": (int(man["version"]) + 1) if man else 1,
        "key": key,
        "n_buckets": n_buckets,
        "buckets": buckets,
    }
    carried = {k: man[k] for k in ("rebucket", "fields") if man and man.get(k)}
    carried.update(stamps)
    doc.update({k: v for k, v in carried.items() if v is not None})
    return doc


def _check_key(path: str, man: dict | None, key: str) -> None:
    if man is not None and man["key"] != key:
        raise ValueError(
            f"bucketed view at {path!r} is keyed by {man['key']!r}, "
            f"not {key!r}"
        )


#: Default :func:`vacuum` grace — deliberately conservative (like the
#: retention check Delta's VACUUM enforces): under ``grace_seconds=0``
#: every item is "aged", so a default-arg call would sweep a CONCURRENT
#: writer's live ``_stage-*`` dirs and ``.tmp-*`` manifests and break
#: its in-flight commit. Six hours comfortably exceeds any sane
#: in-flight write; tests and operators who know the view is quiesced
#: pass ``grace_seconds=0.0`` explicitly.
VACUUM_DEFAULT_GRACE_SECONDS = 6 * 3600.0


def vacuum(
    path: str,
    keep_versions: int = 2,
    grace_seconds: float = VACUUM_DEFAULT_GRACE_SECONDS,
) -> dict[str, int]:
    """Full-sweep maintenance GC — the rare, explicit complement to the
    per-commit incremental :func:`_gc_unreferenced`. This one DOES walk
    the whole data tree (O(buckets) directory listings — the reason it
    is not run per commit), catching what incremental GC deliberately
    leaves: crash orphans. Run it on a schedule (daily) or after a
    known crash, like ``VACUUM`` on a Delta table.

    Removes, when older than ``grace_seconds`` (per-item mtime; the
    default is a conservative 6 h — see
    :data:`VACUUM_DEFAULT_GRACE_SECONDS` — so a default-arg call never
    sweeps a concurrent writer's live stage dirs or tmp manifests;
    pass ``0.0`` explicitly only when the view is known quiesced):
    - ``_stage-*`` dirs (crashed mid-write),
    - ``.tmp-*`` manifest files (crashed mid-publish),
    - manifest files older than the ``keep_versions`` most recent good
      versions (and any aged torn manifest files),
    - data dirs referenced by NO retained manifest — crashed
      pre-publish commits, losing CAS attempts, or dirs a graced
      incremental pass deferred.

    Returns counts of removed items per category. A view with no
    committed manifest is left untouched except stage/tmp cleanup."""
    counts = {"stage": 0, "tmp": 0, "manifests": 0, "data_dirs": 0}
    now = time.time()

    def _aged(p: str) -> bool:
        try:
            return (now - os.path.getmtime(p)) >= grace_seconds
        except OSError:
            return False

    if os.path.isdir(path):
        for n in os.listdir(path):
            p = os.path.join(path, n)
            if n.startswith("_stage-") and _aged(p):
                shutil.rmtree(p, ignore_errors=True)
                counts["stage"] += 1
    mdir = os.path.join(path, _MANIFEST_DIR)
    docs: dict[int, dict | None] = {}
    if os.path.isdir(mdir):
        for n in list(os.listdir(mdir)):
            p = os.path.join(mdir, n)
            if n.startswith(".tmp-"):
                if _aged(p):
                    try:
                        os.remove(p)
                        counts["tmp"] += 1
                    except OSError:
                        pass
                continue
            m = _MANIFEST_RE.match(n)
            if m:
                docs[int(m[1])] = _load_manifest_file(p)
    good = sorted((v for v, d in docs.items() if d is not None), reverse=True)
    retained = set(good[: max(1, keep_versions)])
    if not retained:
        return counts
    live: set[str] = set()
    for v in retained:
        live.update(_manifest_refs(docs[v]))
    floor_v = min(retained)
    for v in docs:
        if v < floor_v:
            fp = os.path.join(mdir, f"manifest-{v:020d}.json")
            if _aged(fp):
                try:
                    os.remove(fp)
                    counts["manifests"] += 1
                except OSError:
                    pass
    droot = os.path.join(path, _DATA_DIR)
    if os.path.isdir(droot):
        for kb_dir in os.listdir(droot):
            kb_path = os.path.join(droot, kb_dir)
            if not os.path.isdir(kb_path):
                continue
            for commit_dir in os.listdir(kb_path):
                rel = f"{_DATA_DIR}/{kb_dir}/{commit_dir}"
                p = os.path.join(droot, kb_dir, commit_dir)
                if rel not in live and _aged(p):
                    shutil.rmtree(p, ignore_errors=True)
                    counts["data_dirs"] += 1
    return counts


# --------------------------------------------------------------------
# Key → bucket routing (and online re-bucketing)
#
# A view's bucket count is stamped at creation so two writers can never
# fork the layout — but a view that grew 100× would then be stuck with
# oversized buckets forever. ``split_buckets`` migrates the count
# ONLINE, linear-hashing style: because the target count is an integer
# multiple f·n of the stamped n, a key's new bucket id (hash % f·n) is
# congruent to its old id (mod n) — every old bucket splits into
# exactly the id set {kb + j·n, j < f}, LOCALLY, so one migration step
# reads and rewrites ONE old bucket and nothing else (no cross-bucket
# shuffle; at the 100-TB sizing each step is ~1 bucket of I/O and the
# migration amortizes over as many commits as the operator likes).
# Mid-migration the manifest carries
#   "rebucket": {"to": f·n, "done": [old ids already split]}
# and EVERY writer routes keys through the mixed layout: old bucket id
# if unsplit, hash % to if split. The ids stay collision-free in one
# flat buckets map: a new id j < n can only exist once old id j was
# split (and therefore removed in that same commit), and new ids
# j >= n can never collide with old ids (< n). When the last old
# bucket splits, the manifest stamps n_buckets = to and drops the
# marker — the view is a plain f·n-bucket view, splittable again.
# --------------------------------------------------------------------


def _layout_of(
    man: dict | None, n_buckets_default: int
) -> tuple[int, int | None, frozenset[int]]:
    """The routing layout a manifest implies: ``(n, to, done)`` where
    ``to``/``done`` are the mid-migration rebucket state (``to`` None
    when no migration is pending). Writers compare layouts taken
    before staging and at publish time — a mismatch means a concurrent
    ``split_buckets`` step landed and the staged bucket ids are stale,
    so the batch must restage (same shape as the stamped-count check
    the delta path already did)."""
    if man is None:
        return (int(n_buckets_default), None, frozenset())
    nb = int(man["n_buckets"])
    rb = man.get("rebucket")
    if not rb:
        return (nb, None, frozenset())
    return (nb, int(rb["to"]), frozenset(int(x) for x in rb["done"]))


def _kb_expr(layout: tuple[int, int | None, frozenset[int]], key: str):
    """Column expression routing ``key`` to its bucket id under
    ``layout`` — plain ``hash % n`` outside a migration; during one, a
    key whose old bucket has been split routes to ``hash % to``
    instead. ``split_buckets`` always takes the SMALLEST pending old
    ids, so the done set is a contiguous prefix ``[0..m)`` and routing
    is one O(1) comparison (``old_id < m``) — a constant-size plan
    literal even at ~100k buckets, where shipping the set as an
    ``isin`` array would bloat every writer's plan. The ``isin`` form
    survives only as the fallback for a hand-edited manifest whose
    done set has holes."""
    nb, to, done = layout
    base = F.pmod(F.hash(F.col(key)), F.lit(nb))
    if to is None or not done:
        return base
    split_route = F.pmod(F.hash(F.col(key)), F.lit(to))
    if done == frozenset(range(len(done))):  # the invariant case
        return F.when(base < F.lit(len(done)), split_route).otherwise(base)
    return F.when(  # pragma: no cover - non-prefix sets unreachable
        base.isin(sorted(done)), split_route  # via split_buckets itself
    ).otherwise(base)


def upsert_keyed_parquet_bucketed(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str,
    n_buckets: int = 16,
    keep_versions: int = 2,
    gc_grace_seconds: float = 0.0,
    probe_keys: DataFrame | None = None,
) -> int:
    """Bucket-pruned keyed upsert with a manifest-based commit — the
    file-level-pruned MERGE shape (what Delta/Iceberg do with file
    stats) on plain parquet: documents live in immutable per-commit
    dirs under ``path/data/kb=<hash(key) % n>/`` and a batch only
    reads and rewrites the buckets its keys land in. A maintenance
    batch touching 0.1% of keys then rewrites ~0.1% of buckets instead
    of the whole table — the lever that keeps IVM upsert cost
    proportional to the CHANGE, not the corpus (upsert_keyed_parquet
    rewrites everything; fine for small views, untenable at 100 TB).

    Execution shape: ONE Spark job regardless of how many buckets are
    touched — the touched buckets' live dirs (resolved from the
    manifest) are read as one pruned scan, merged with the batch
    (anti-join on incoming keys), and written partitioned by bucket in
    a single pass; the commit is then file moves of invisible new dirs
    plus ONE manifest publish (see the module block above).

    ``n_buckets`` is STAMPED into the manifest at view creation and
    the stamped count wins on every later call — so a caller that
    re-derives a different count (e.g. ``buckets_for`` after the view
    crossed a power-of-two boundary) cannot fork the layout into two
    coexisting hash%n schemes with duplicate keys. Bucket assignment
    is Spark's deterministic murmur3 ``hash`` — stable across
    sessions, so a redelivered row always lands in the same bucket,
    and a crash before the publish leaves the offset uncommitted →
    redelivery re-runs the same idempotent merge. Returns the number
    of buckets touched.

    ``probe_keys``: optional single-column frame of key values the
    caller GUARANTEES to be a superset of ``batch``'s keys (the IVM
    caller's affected-id frame — the rebuild restricts the batch to
    exactly those ids). When given, the touched-bucket probe runs
    over this frame instead of executing the (often join/agg-heavy)
    batch plan a second time, so the batch plan executes exactly once
    — inside the merge write. A probed-but-absent bucket keeps its
    current manifest entry unless it has live rows to rewrite (same
    anti-join; byte-identical result). A batch row landing in an
    UN-probed bucket would be silently dropped, so the staging step
    raises ValueError on any stray bucket — the contract is checked,
    not trusted."""
    for col in _RESERVED_COLS:
        if col in batch.columns:
            raise ValueError(f"batch column {col!r} is reserved by the sink")

    def attempt(man: dict | None):
        nb = n_buckets
        if man is not None:
            _check_key(path, man, key)
            _require_no_pending_deltas(path, man, "upsert_keyed_parquet_bucketed")
            nb = int(man["n_buckets"])  # stamped count wins — no drift
        fields = _widen_fields(spark, path, man, batch.schema)  # fail fast
        kb_of = _kb_expr(_layout_of(man, nb), key)
        # persist: the batch plan (often a rebuild join+agg) feeds the
        # merge write twice (anti-join key broadcast + union branch) —
        # and, when no probe_keys hint is given, the touched-bucket
        # probe as well. The batch is the change, not the corpus, so
        # caching it is bounded by CDC volume.
        b = batch.withColumn("_kb", kb_of).persist()
        try:
            if probe_keys is not None:
                # probe over the caller's (cheap, bounded) key frame —
                # the heavy batch plan then executes only once, in the
                # merge write below
                probe = probe_keys.select(
                    F.col(probe_keys.columns[0]).alias(key)
                ).withColumn("_kb", kb_of)
            else:
                probe = b
            touched = sorted(
                r["_kb"] for r in probe.select("_kb").distinct().collect()
            )
            if not touched:
                if probe_keys is not None and not b.isEmpty():
                    raise ValueError(
                        "upsert_keyed_parquet_bucketed: probe_keys is "
                        "empty but the batch is not — the superset "
                        "contract is violated"
                    )
                return None, 0
            buckets: dict[str, str] = dict(man["buckets"]) if man else {}
            existing = [
                os.path.join(path, buckets[str(kb)])
                for kb in touched
                if str(kb) in buckets
            ]
            if existing:
                # bucket id recomputed from the key (deterministic
                # hash) so the pruned multi-dir read needs no partition
                # column inference. Old dirs are read under the
                # PREVIOUSLY stamped schema (a widened batch would
                # otherwise fail the union), and the union NULL-fills
                # the widened columns for old rows.
                old = _stamped_reader(spark, man).parquet(*existing)
                keys = b.select(key).distinct()
                merged = old.withColumn("_kb", kb_of).join(
                    F.broadcast(keys), key, "left_anti"
                ).unionByName(b, allowMissingColumns=True)
            else:
                merged = b
            # a touched bucket without staged rows (the batch had the
            # key set but every row was replaced-away) keeps its entry
            _, moved = _stage_buckets(path, merged, touched)
        finally:
            b.unpersist()
        buckets.update(moved)
        doc = _next_manifest(man, key, nb, buckets, fields=fields)
        return doc, len(touched)

    return _optimistic_commit(
        path, "bucketed upsert", attempt, keep_versions, gc_grace_seconds
    )


def _is_vanished_file_error(exc: BaseException) -> bool:
    """True when an action failed because files resolved at read time
    vanished before/while the scan ran — a concurrent commit's GC swept
    the snapshot the reader was holding. Matches only the file-scan
    error markers (JVM FileNotFoundException and the Spark error
    classes raised for vanished paths/files); a broad substring like
    'does not exist' would also catch unrelated analysis/wrong-path
    errors and silently re-resolve a NEWER snapshot, masking the real
    error class."""
    s = str(exc)
    return (
        "FileNotFoundException" in s
        or "FILE_NOT_FOUND" in s
        or "FILE_NOT_EXIST" in s  # FAILED_READ_FILE.FILE_NOT_EXIST
        or "PATH_NOT_FOUND" in s
    )


try:  # classic (JVM) DataFrame — what local[...] sessions produce
    from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
except ImportError:  # pragma: no cover - older/connect-only layouts
    _ClassicDataFrame = None


if _ClassicDataFrame is not None:

    class _ReresolvingView(_ClassicDataFrame):
        """The reader-side half of the grace-window story: a bucketed
        view resolves its manifest EAGERLY but scans LAZILY, so a
        reader that resolved version v while a writer published v+1
        and GC'd can find v's data dirs deleted at ACTION time. The
        writer-side half is retention (``keep_versions >= 2`` plus
        ``gc_grace_seconds``); this class closes the residual window
        by re-resolving the manifest ONCE and retrying when a direct
        action dies on vanished files. Transformed plans
        (``view.filter(...)``) return plain DataFrames and rely on the
        retention window alone — the retry covers direct actions on
        the returned view, which is what serving reads do."""

        def __new__(cls, jdf, spark, path, version):
            # the abstract parent's __new__ hard-dispatches to the plain
            # classic DataFrame; build the subclass instance directly
            return object.__new__(cls)

        def __init__(self, jdf, spark, path: str, version: int | None):
            super().__init__(jdf, spark)
            self._view_args = (spark, path, version)

        def _reresolve_retry(self, name: str, *args, **kwargs):
            method = getattr(_ClassicDataFrame, name)
            try:
                return method(self, *args, **kwargs)
            except Exception as e:  # noqa: BLE001 - filtered below
                if not _is_vanished_file_error(e):
                    raise
                fresh = read_bucketed_view(*self._view_args[:2],
                                           version=self._view_args[2])
                return method(fresh, *args, **kwargs)

        def collect(self):
            return self._reresolve_retry("collect")

        def count(self):
            return self._reresolve_retry("count")

        def take(self, num):
            return self._reresolve_retry("take", num)

        def head(self, n=None):
            return self._reresolve_retry("head", n)

        def first(self):
            return self._reresolve_retry("first")

        def toPandas(self):
            return self._reresolve_retry("toPandas")

        def toLocalIterator(self, prefetchPartitions=False):
            return self._reresolve_retry("toLocalIterator", prefetchPartitions)

else:  # pragma: no cover
    _ReresolvingView = None


def read_bucketed_view(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the bucketed keyed view as of its last committed manifest
    — or, with ``version``, as of a retained older snapshot (time
    travel; the writer's ``keep_versions`` sets the retention window).

    No heal step: the manifest IS the committed state. Data dirs from
    a crashed uncommitted upsert are simply never referenced, and a
    torn manifest write fails its checksum in load_manifest so the
    previous version is served — both without touching disk.

    The returned DataFrame re-resolves the latest manifest and retries
    ONCE if a direct action (collect/count/take/toPandas/...) fails on
    vanished files — the case where a concurrent writer committed and
    GC'd the snapshot this reader resolved (see _ReresolvingView).

    Delta-mode views (manifests carrying ``delta_commits`` — see
    :func:`upsert_keyed_parquet_delta`) are MERGED ON READ, and the
    merge is BUCKET-PRUNED: only buckets some pending delta touched
    enter the sequence-resolve window (base at sequence 0, each delta
    commit at its manifest position, highest sequence wins per key,
    tombstones drop); every untouched bucket's base dir is provably
    current and scans directly with no window and no exchange. The
    merge's one exchange on the view key therefore shuffles only the
    delta-touched buckets' rows — O(touched), not O(view) — and the
    pending-commit count is bounded by the compaction cadence
    (:func:`compact_bucketed_view`)."""
    man = load_manifest(path, version=version)
    if man is None or (not man["buckets"] and not man.get("delta_commits")):
        raise FileNotFoundError(
            f"bucketed keyed view at {path!r} has no committed manifest"
            + (f" at version {version}" if version is not None else "")
            + " — nothing upserted, version GC'd, or the path is wrong"
        )
    if man.get("delta_commits"):
        # BUCKET-PRUNED merge-on-read: only buckets some pending delta
        # commit touched need the sequence-resolve window (and its
        # exchange on the view key); every other bucket's base dir is
        # provably the newest state (immutable dirs, deltas re-point
        # exactly the buckets they touch), so those scan DIRECTLY and
        # union in below the window. At the 100-TB sizing a CDC cycle
        # touches ~0.1% of ~100k buckets — the merge shuffles ~0.1% of
        # the view instead of all of it, the same file-level skipping
        # a Delta merge-on-read gets from its commit log.
        touched = {
            kb
            for dc in man["delta_commits"]
            for kb in dc["buckets"]
        }
        merged = _merged_delta_read(spark, path, man, only_buckets=touched)
        untouched = sorted(
            os.path.join(path, rel)
            for kb, rel in man["buckets"].items()
            if kb not in touched
        )
        if untouched:
            df = _stamped_reader(spark, man).parquet(*untouched).unionByName(
                merged, allowMissingColumns=True
            )
        else:
            df = merged
    else:
        dirs = sorted(
            os.path.join(path, rel) for rel in man["buckets"].values()
        )
        df = _stamped_reader(spark, man).parquet(*dirs)
    if _ReresolvingView is not None and isinstance(df, _ClassicDataFrame):
        return _ReresolvingView(df._jdf, spark, path, version)
    return df  # pragma: no cover - non-classic session


def changed_buckets(man_old: dict, man_new: dict) -> set[str]:
    """Bucket ids whose referenced dirs differ between two manifests.

    Data dirs are immutable and a commit re-points exactly the buckets
    it touched, so a bucket whose base dir AND delta-dir list are
    identical across two versions CANNOT contain a row change — its
    manifest entries are proof, no data read needed. This is the
    file-level skipping a Delta CDF read does with its commit log:
    at the 100-TB / ~100k-bucket sizing, diffing two snapshots that a
    maintenance cycle separated touches the handful of rewritten
    buckets, not the corpus."""

    def per_bucket(man: dict) -> dict[str, list[str]]:
        per: dict[str, list[str]] = {
            kb: [rel] for kb, rel in man["buckets"].items()
        }
        for dc in man.get("delta_commits", ()):
            for kb, rel in dc["buckets"].items():
                per.setdefault(kb, []).append(rel)
        return per

    a, b = per_bucket(man_old), per_bucket(man_new)
    return {kb for kb in set(a) | set(b) if a.get(kb) != b.get(kb)}


def _snapshot_read(
    spark: SparkSession,
    path: str,
    man: dict,
    only_buckets: set[str] | None = None,
) -> DataFrame:
    """One snapshot's rows, optionally restricted to a bucket subset
    (delta-mode manifests merge on read; plain manifests scan their
    base dirs under the stamped schema)."""
    if man.get("delta_commits"):
        return _merged_delta_read(spark, path, man, only_buckets)
    dirs = sorted(
        os.path.join(path, rel)
        for kb, rel in man["buckets"].items()
        if only_buckets is None or kb in only_buckets
    )
    if not dirs:
        # a one-sided subset (e.g. the OLD snapshot of buckets that
        # only exist in the new version — pure inserts): empty rows,
        # correct schema, zero scans
        if man.get("fields"):
            return spark.createDataFrame([], _stamped_ddl(man["fields"]))
        all_dirs = sorted(
            os.path.join(path, rel) for rel in man["buckets"].values()
        )
        if not all_dirs:
            # legacy (no stamped fields) manifest whose bucket map is
            # ALSO empty — a fully-deleted pre-evolution view. There is
            # no path to derive a schema from; a bare zero-path
            # spark.read.parquet() would raise an opaque analysis
            # error, so fail loudly with the actual cause instead.
            raise FileNotFoundError(
                f"bucketed view at {path!r}: manifest has no stamped "
                "schema and no data dirs (fully-deleted pre-evolution "
                "view) — cannot construct an empty typed snapshot"
            )
        return spark.read.parquet(*all_dirs).limit(0)
    return _stamped_reader(spark, man).parquet(*dirs)


def snapshot_diff_views(
    spark: SparkSession, path: str, v_old: int, v_new: int
) -> tuple[DataFrame, DataFrame, int]:
    """The pruned inputs for a change-feed read between two retained
    versions: ``(old_rows, new_rows, n_changed_buckets)`` with BOTH
    sides restricted to the buckets whose manifest entries differ.
    Rows in untouched buckets are provably unchanged (immutable dirs),
    so a feed built from these inputs is complete for
    insert/update/delete — and its scan + shuffle cost is proportional
    to the CHANGED buckets, not the view. Raises FileNotFoundError if
    either version is outside the retention window."""
    man_old = load_manifest(path, version=v_old)
    man_new = load_manifest(path, version=v_new)
    if man_old is None or man_new is None:
        missing = v_old if man_old is None else v_new
        raise FileNotFoundError(
            f"bucketed keyed view at {path!r} has no committed manifest "
            f"at version {missing} — version GC'd or never published"
        )
    chg = changed_buckets(man_old, man_new)
    if not chg:  # identical snapshots — empty diff, zero scans
        empty = _snapshot_read(spark, path, man_new).limit(0)
        return empty, empty, 0
    old_df = _snapshot_read(spark, path, man_old, only_buckets=chg)
    new_df = _snapshot_read(spark, path, man_new, only_buckets=chg)
    return old_df, new_df, len(chg)


def delete_keys_bucketed(
    spark: SparkSession,
    keys: DataFrame,
    path: str,
    key: str,
    keep_versions: int = 2,
    gc_grace_seconds: float = 0.0,
) -> int:
    """Keyed DELETE through the same manifest commit protocol as
    :func:`upsert_keyed_parquet_bucketed` — the right-to-be-forgotten
    / retention-purge verb the upsert-only sink lacked. ``keys`` is a
    DataFrame holding the ``key`` column (extra columns ignored); the
    matching rows are removed from the view in ONE bucket-pruned
    rewrite: only the buckets the doomed keys hash into are read and
    rewritten, everything else keeps its current immutable dir — at
    the docstring's 100-TB sizing an erasure batch touching 0.1% of
    keys rewrites ~0.1% of buckets.

    Two deliberate asymmetries vs the upsert merge:
    - a bucket whose every row is deleted DROPS OUT of the manifest
      (the upsert path keeps a missing staged dir's old entry; here
      the old entry is exactly what must die) — deleting every key
      leaves ``buckets == {}`` and readers get the documented
      no-committed-view FileNotFoundError;
    - erasure becomes PHYSICAL when the superseded snapshots leave
      the retention window: with ``keep_versions=1`` the commit's own
      GC removes the replaced dirs immediately; with a longer window
      the deleted rows remain time-travel-readable until
      :func:`vacuum`/later commits age them out — the same
      retention-vs-erasure trade Delta documents for GDPR workloads.

    Commits through the module's one commit loop (see the manifest
    block above). Returns the number of buckets rewritten or dropped
    (0 when no doomed key maps to a live bucket).

    Reference parity: postgres_to_es/daemon.py:358-381 upserts only —
    deletion is beyond-reference surface required by any pipeline
    subject to erasure requests."""

    def attempt(man: dict | None):
        if man is None or not man["buckets"]:
            return None, 0  # nothing committed — nothing to forget
        _check_key(path, man, key)
        _require_no_pending_deltas(path, man, "delete_keys_bucketed")
        _check_key_type(path, man, keys.select(key).schema)
        nb = int(man["n_buckets"])  # stamped count wins — no drift
        kb_of = _kb_expr(_layout_of(man, nb), key)
        doomed = keys.select(key).distinct().withColumn("_kb", kb_of).persist()
        try:
            buckets: dict[str, str] = dict(man["buckets"])
            touched = sorted(
                r["_kb"]
                for r in doomed.select("_kb").distinct().collect()
                if str(r["_kb"]) in buckets
            )
            if not touched:
                return None, 0
            existing = [os.path.join(path, buckets[str(kb)]) for kb in touched]
            old = _stamped_reader(spark, man).parquet(*existing)
            remaining = old.withColumn("_kb", kb_of).join(
                F.broadcast(doomed.select(key)), key, "left_anti"
            )
            _, moved = _stage_buckets(path, remaining, touched)
        finally:
            doomed.unpersist()
        for kb in touched:
            # replaced by its staged dir, or every row of it was deleted
            buckets.pop(str(kb))
        buckets.update(moved)
        return _next_manifest(man, key, nb, buckets), len(touched)

    return _optimistic_commit(
        path, "bucketed delete", attempt, keep_versions, gc_grace_seconds
    )


# --------------------------------------------------------------------
# Log-structured (delta-file) commits
#
# The rewrite-mode upsert/delete above maps each bucket to exactly ONE
# live dir, so touching a single key rewrites its whole bucket — at
# the 100-TB / ~1-GiB-bucket sizing that is ~1 GB of I/O per touched
# bucket per commit even for a 1-row change. High-churn CDC should pay
# DELTA-size I/O instead: the Delta/Iceberg merge-on-read idea. The
# manifest grows an ordered ``delta_commits`` list:
#
#   {"version": N, "key": ..., "n_buckets": nb,
#    "buckets":       {kb: "data/kb=K/c-<id>"},          # base dirs
#    "delta_commits": [{"id": <id>,
#                       "buckets": {kb: "data/kb=K/d-<id>"}}, ...]}
#
# An upsert/delete commit WRITES ONLY ITS BATCH (partitioned by
# bucket, moved invisible, then one manifest CAS — the same crash
# contract as the rewrite path; a delete batch is tombstone rows with
# ``_deleted = true``). Readers merge base + deltas: per key the rows
# of the highest-sequence commit win, tombstones drop out — one
# exchange on the view key. ``compact_bucketed_view`` folds the deltas
# back into new base dirs through the same CAS publish, dropping
# tombstones (erasure becomes physical once the superseded snapshots
# leave retention, exactly as in delete_keys_bucketed). The two write
# modes are deliberately exclusive between compactions: rewrite-mode
# calls on a view with pending deltas raise rather than silently
# reading stale bases.
# --------------------------------------------------------------------

_DELETED_COL = "_deleted"
_SEQ_COL = "_delta_seq"
#: Every column name the sink itself materializes at some point in the
#: write/merge pipeline. A user batch carrying any of these would be
#: silently overwritten (withColumn) and dropped on merged reads, so
#: writers reject them up front — including the two merge-side names
#: (_delta_seq, _max_seq) that only exist transiently inside
#: _merged_delta_read but would still shadow a stamped user column.
_RESERVED_COLS = (_DELETED_COL, "_kb", _SEQ_COL, "_max_seq")


# --------------------------------------------------------------------
# Schema evolution
#
# The manifest stamps the view's payload schema ("fields": ordered
# [name, ddl-type] pairs). Every upsert validates its batch against
# the stamp: NEW columns widen the stamp additively (old dirs simply
# lack them — readers fill NULLs), while a type change or a missing
# stamped column is rejected loudly (a silent accept would fork the
# layout into per-generation schemas a reader can't reconcile).
# Readers then scan with the STAMPED schema explicitly — which is
# also the 100-TB answer to mixed-generation dirs: Spark fills
# missing columns per file against an explicit read schema, so no
# mergeSchema footer sweep over ~100k files is ever needed.
# Pre-evolution manifests (no "fields") keep the old plain-read path.
# --------------------------------------------------------------------


def _fields_of(schema) -> list[list[str]]:  # noqa: ANN001 - StructType
    return [
        [f.name, f.dataType.simpleString()]
        for f in schema.fields
        if f.name not in _RESERVED_COLS
    ]


def _legacy_stamp(
    spark: SparkSession, path: str, man: dict, bf: list[list[str]]
) -> list[list[str]]:
    """First stamp on a PRE-EVOLUTION view that already has data dirs:
    the stamp must be the union of what exists on disk and what the
    batch carries, not the batch schema verbatim — a batch narrower
    than the existing dirs would otherwise stamp a schema that makes
    the extra on-disk columns invisible under every later
    stamped-schema read (data silently hidden, never rejected). This
    is a ONE-TIME upgrade sweep: mergeSchema over the legacy dirs'
    footers happens only on the commit that introduces the stamp;
    every later commit validates against the stamp with zero reads."""
    dirs = [os.path.join(path, rel) for rel in man["buckets"].values()]
    for dc in man.get("delta_commits", ()):
        dirs += [os.path.join(path, rel) for rel in dc["buckets"].values()]
    if not dirs:
        return bf  # fully-deleted legacy view: nothing to preserve
    existing = _fields_of(
        spark.read.option("mergeSchema", "true").parquet(*sorted(dirs)).schema
    )
    ex = {n: t for n, t in existing}
    for n, t in bf:
        if n in ex and ex[n] != t:
            raise ValueError(
                f"schema evolution at {path!r} rejected: existing dirs "
                f"carry column {n!r} as {ex[n]!r} but the batch carries "
                f"{t!r} — type changes are not additive (rewrite the "
                "view to migrate)"
            )
    return [list(p) for p in existing] + [
        [n, t] for n, t in bf if n not in ex
    ]


def _widen_fields(
    spark: SparkSession, path: str, man: dict | None, batch_schema  # noqa: ANN001
) -> list[list[str]]:
    """Validate a batch against the stamped schema and return the
    (possibly widened) stamp to publish. Additive-only: new columns
    append; a type change or a missing stamped column raises."""
    bf = _fields_of(batch_schema)
    stamped = man.get("fields") if man else None
    if stamped is None:
        if man is not None:
            # upgrading a legacy (pre-evolution) view: union with what
            # the existing dirs carry so no on-disk column goes dark
            return _legacy_stamp(spark, path, man, bf)
        return bf  # first commit of a fresh view: batch wins
    st = {n: t for n, t in stamped}
    batch_names = {n for n, _ in bf}
    changed = [
        (n, st[n], t) for n, t in bf if n in st and st[n] != t
    ]
    if changed:
        n, old_t, new_t = changed[0]
        raise ValueError(
            f"schema evolution at {path!r} rejected: column {n!r} is "
            f"stamped {old_t!r} but the batch carries {new_t!r} — type "
            "changes are not additive (rewrite the view to migrate)"
        )
    missing = [n for n, _ in stamped if n not in batch_names]
    if missing:
        raise ValueError(
            f"schema evolution at {path!r} rejected: batch is missing "
            f"stamped column(s) {missing} — widening is additive-only; "
            "supply every existing column"
        )
    return [list(p) for p in stamped] + [
        [n, t] for n, t in bf if n not in st
    ]


def _check_key_type(path: str, man: dict | None, keys_schema) -> None:  # noqa: ANN001
    """Tombstone batches carry only the key column — validate just its
    type against the stamp (a key-type change alters the murmur3
    bucket layout, the one thing that must never drift)."""
    stamped = man.get("fields") if man else None
    if not stamped:
        return
    st = {n: t for n, t in stamped}
    for f in keys_schema.fields:
        if f.name in st and st[f.name] != f.dataType.simpleString():
            raise ValueError(
                f"schema evolution at {path!r} rejected: key column "
                f"{f.name!r} is stamped {st[f.name]!r} but the delete "
                f"batch carries {f.dataType.simpleString()!r}"
            )


def _stamped_ddl(fields: list, with_deleted: bool = False) -> str:
    cols = [f"`{n}` {t}" for n, t in fields]
    if with_deleted:
        cols.append(f"`{_DELETED_COL}` boolean")
    return ", ".join(cols)


def _stamped_reader(
    spark: SparkSession, man: dict, with_deleted: bool = False
):
    """``spark.read`` under ``man``'s stamped schema: mixed-generation
    dirs NULL-fill widened columns per file, with no mergeSchema footer
    sweep. Pre-evolution manifests (no stamp) keep the inferred read."""
    reader = spark.read
    if man.get("fields"):
        reader = reader.schema(_stamped_ddl(man["fields"], with_deleted))
    return reader


def _require_no_pending_deltas(path: str, man: dict, fn: str) -> None:
    if man.get("delta_commits"):
        raise ValueError(
            f"{fn}: bucketed view at {path!r} has "
            f"{len(man['delta_commits'])} pending delta commit(s); its "
            "bases are stale under them. Run compact_bucketed_view() "
            "first, or keep writing through upsert_keyed_parquet_delta /"
            " delete_keys_delta."
        )


def _merged_delta_read(
    spark: SparkSession,
    path: str,
    man: dict,
    only_buckets: set[str] | None = None,
) -> DataFrame:
    """Merge-on-read over base + delta commits (optionally restricted
    to a bucket subset — the compactor's pruned read): base scans at
    sequence 0, each delta commit at its manifest position, per key
    the highest sequence wins, tombstones drop. A commit's rows win or
    lose AS A SET per key (max-sequence filter, not row_number), so
    multi-row-per-key batches keep the rewrite path's replace-the-set
    semantics."""
    from functools import reduce

    key = man["key"]
    # every generation is read under ONE stamped schema
    reader = _stamped_reader(spark, man, with_deleted=True)
    parts: list[DataFrame] = []
    base = [
        os.path.join(path, rel)
        for kb, rel in man["buckets"].items()
        if only_buckets is None or kb in only_buckets
    ]
    if base:
        parts.append(
            reader.parquet(*sorted(base)).withColumn(_SEQ_COL, F.lit(0))
        )
    for i, dc in enumerate(man.get("delta_commits", ()), start=1):
        dirs = [
            os.path.join(path, rel)
            for kb, rel in dc["buckets"].items()
            if only_buckets is None or kb in only_buckets
        ]
        if dirs:
            parts.append(
                reader.parquet(*sorted(dirs)).withColumn(_SEQ_COL, F.lit(i))
            )
    if not parts:  # pragma: no cover - callers pre-check emptiness
        raise FileNotFoundError(f"no data dirs to merge at {path!r}")
    merged = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )
    if _DELETED_COL not in merged.columns:  # pure-upsert delta history
        merged = merged.withColumn(_DELETED_COL, F.lit(False))
    from pyspark.sql import Window

    w = Window.partitionBy(key)
    out = (
        merged.withColumn("_max_seq", F.max(_SEQ_COL).over(w))
        .where(
            (F.col(_SEQ_COL) == F.col("_max_seq"))
            & ~F.coalesce(F.col(_DELETED_COL), F.lit(False))
        )
        .drop(_SEQ_COL, "_max_seq", _DELETED_COL)
    )
    return out


#: Unconditional nag threshold for the pending-delta-commit count:
#: nothing in the protocol bounds ``delta_commits`` growth if a caller
#: never compacts, and every read pays 1 + #pending scans plus a wider
#: merge window — a silent read-amplification leak. Past this depth
#: every further delta write emits a RuntimeWarning; callers with a
#: hard budget pass ``max_pending_deltas`` to the writers instead,
#: which raises (the loud-cap precedent of the basket limit).
DELTA_LOG_WARN_PENDING = 64


def _check_pending_depth(
    path: str, man: dict | None, max_pending_deltas: int | None
) -> None:
    pending = len(man.get("delta_commits", ())) if man else 0
    if max_pending_deltas is not None and pending >= max_pending_deltas:
        raise ValueError(
            f"delta log at {path!r} has {pending} pending commit(s) — at "
            f"or past this writer's max_pending_deltas={max_pending_deltas}. "
            "Run compact_bucketed_view() to fold the log (or raise the "
            "cap); every read is paying 1 + pending scans until then."
        )
    if pending >= DELTA_LOG_WARN_PENDING:
        import warnings

        warnings.warn(
            f"delta log at {path!r} has {pending} pending commit(s) "
            f"(warn threshold {DELTA_LOG_WARN_PENDING}); reads pay "
            "1 + pending scans — schedule compact_bucketed_view(), or "
            "set max_pending_deltas on the writers to fail loudly",
            RuntimeWarning,
            stacklevel=6,
        )


def _append_delta(
    spark: SparkSession,
    rows: DataFrame,
    path: str,
    key: str,
    n_buckets: int,
    keep_versions: int,
    gc_grace_seconds: float,
    tombstone: bool,
    max_pending_deltas: int | None = None,
) -> int:
    for col in _RESERVED_COLS:
        if col in rows.columns:
            raise ValueError(f"batch column {col!r} is reserved by the sink")
    # the staged entry is kept across attempts: its dirs are FINAL, so
    # losing the CAS only re-appends the entry onto the winner's log,
    # never a data rewrite (the cheap half of optimistic concurrency
    # that rewrite mode doesn't get)
    staged_layout = entry = None
    n_touched = 0

    def attempt(man: dict | None):
        nonlocal staged_layout, entry, n_touched
        _check_key(path, man, key)
        if entry is not None and man is not None and any(
            dc.get("id") == entry["id"] for dc in man.get("delta_commits", ())
        ):
            # our publish was retracted AFTER a racer read it and built
            # v+1 on top — the racer's manifest already carries this
            # entry, so the commit is live; re-appending would duplicate
            # it in the log (rows would stay correct — identical dirs,
            # max seq wins — but reads would scan the dirs twice and
            # changed_buckets would report phantom churn)
            return None, n_touched
        _check_pending_depth(path, man, max_pending_deltas)
        nb = int(man["n_buckets"]) if man else n_buckets  # stamped wins
        if tombstone:  # keys-only batch: validate just the key's type
            _check_key_type(path, man, rows.schema)
            stamps = {}
        else:
            stamps = {"fields": _widen_fields(spark, path, man, rows.schema)}
        layout = _layout_of(man, nb)
        if layout != staged_layout:
            # first attempt, or the bucket count OR rebucket state
            # changed under us (a first-commit race or a concurrent
            # split_buckets step): staged bucket ids are stale, so
            # restage; the orphaned dirs are swept by vacuum()
            b = (
                rows.withColumn(_DELETED_COL, F.lit(tombstone))
                .withColumn("_kb", _kb_expr(layout, key))
                .persist()
            )
            try:
                touched = sorted(
                    r["_kb"] for r in b.select("_kb").distinct().collect()
                )
                if not touched:
                    return None, 0
                commit_id, moved = _stage_buckets(path, b, touched, "d")
            finally:
                b.unpersist()
            staged_layout, n_touched = layout, len(touched)
            entry = {"id": commit_id, "buckets": moved}
        doc = _next_manifest(
            man, key, nb, dict(man["buckets"]) if man else {}, **stamps
        )
        log = list(man.get("delta_commits", ())) if man else []
        doc["delta_commits"] = log + [entry]
        return doc, n_touched

    return _optimistic_commit(
        path, "delta commit", attempt, keep_versions, gc_grace_seconds
    )


def upsert_keyed_parquet_delta(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str,
    n_buckets: int = 16,
    keep_versions: int = 2,
    gc_grace_seconds: float = 0.0,
    max_pending_deltas: int | None = None,
) -> int:
    """Log-structured keyed upsert: append the batch as a DELTA commit
    instead of rewriting touched buckets. Write cost is O(batch) —
    the batch partitioned by bucket plus one manifest CAS — while
    :func:`upsert_keyed_parquet_bucketed` pays O(touched buckets)
    (~1 GiB per touched bucket at the 100-TB sizing, even for a 1-row
    change). The trade is merge-on-read: readers scan base + deltas
    and resolve per key by commit sequence, so run
    :func:`compact_bucketed_view` when ``delta_commits`` grows past
    the read-amplification budget (Delta/Iceberg merge-on-read with
    periodic OPTIMIZE — same algebra, plain parquet). Nothing in the
    protocol bounds log growth, so ``max_pending_deltas`` makes the
    budget LOUD: a write against a log at/past the cap raises instead
    of silently deepening every reader's scan fan; without a cap a
    RuntimeWarning fires past :data:`DELTA_LOG_WARN_PENDING`. (The
    streaming IVM wrapper's ``compact_every`` is the auto-compaction
    face of the same budget — streaming/ivm.py.) Returns the
    number of buckets the batch landed in.

    Semantics match the rewrite path exactly: per key the newest
    commit's row-SET replaces the old (multi-row-per-key batches
    supported), redelivery is idempotent (same batch re-appended →
    same winning set), and it commits through the same loop (see the
    manifest block above).

    Reference parity: postgres_to_es/daemon.py:358-381 (at-least-once
    upsert); the delta log itself is beyond-reference surface for
    CDC-rate workloads."""
    return _append_delta(
        spark, batch, path, key, n_buckets, keep_versions,
        gc_grace_seconds, tombstone=False,
        max_pending_deltas=max_pending_deltas,
    )


def delete_keys_delta(
    spark: SparkSession,
    keys: DataFrame,
    path: str,
    key: str,
    keep_versions: int = 2,
    gc_grace_seconds: float = 0.0,
    max_pending_deltas: int | None = None,
) -> int:
    """Keyed DELETE as a tombstone delta commit: writes only the
    doomed keys (with ``_deleted = true``), cost O(keys) instead of
    O(touched buckets). Readers drop tombstoned keys during the
    merge; the bytes become physically unreadable at the next
    :func:`compact_bucketed_view` once superseded snapshots leave
    retention — for hard-deadline erasure (GDPR) prefer
    :func:`delete_keys_bucketed` on a compacted view, which makes the
    delete commit itself the rewrite. Deleting absent keys is a no-op
    (idempotent redelivery). Returns the number of buckets the
    tombstones landed in; 0 when the view has no committed manifest."""
    if load_manifest(path) is None:
        return 0  # nothing committed — nothing to forget
    return _append_delta(
        spark, keys.select(key).distinct(), path, key, 16, keep_versions,
        gc_grace_seconds, tombstone=True,
        max_pending_deltas=max_pending_deltas,
    )


def compact_bucketed_view(
    spark: SparkSession,
    path: str,
    keep_versions: int = 2,
    gc_grace_seconds: float = 0.0,
) -> int:
    """Fold every pending delta commit back into per-bucket BASE dirs
    through the same CAS publish — Delta's OPTIMIZE / Iceberg's
    rewrite_data_files for this sink. Only buckets that appear in some
    delta commit are read and rewritten (the merge-on-read restricted
    to that subset); untouched buckets keep their immutable dirs.
    Tombstones are dropped — a bucket whose every key was deleted
    falls out of the manifest — and the folded delta/base dirs become
    unreferenced garbage swept by GC once they leave retention, which
    is the point where tombstoned bytes stop being readable at any
    retained version (physical erasure).

    A delta writer that publishes first makes the commit loop refold
    against the grown log. Returns the number of buckets compacted (0
    when there are no deltas)."""

    def attempt(man: dict | None):
        if man is None or not man.get("delta_commits"):
            return None, 0
        key = man["key"]
        nb = int(man["n_buckets"])
        touched = sorted(
            {int(kb) for dc in man["delta_commits"] for kb in dc["buckets"]}
        )
        only = {str(kb) for kb in touched}
        # mixed routing during a migration: delta entries were written
        # under the manifest's current layout (split_buckets refuses to
        # run over a pending log, so the layout cannot have changed
        # since), and the folded rows must land back under the same ids
        kb_of = _kb_expr(_layout_of(man, nb), key)
        folded = _merged_delta_read(spark, path, man, only_buckets=only)
        folded = folded.withColumn("_kb", kb_of)
        _, moved = _stage_buckets(path, folded, touched)
        buckets: dict[str, str] = dict(man["buckets"])
        for kb in touched:
            # folded into its staged dir, or every key tombstoned away
            buckets.pop(str(kb), None)
        buckets.update(moved)
        return _next_manifest(man, key, nb, buckets), len(touched)

    return _optimistic_commit(
        path, "compaction", attempt, keep_versions, gc_grace_seconds
    )


def split_buckets(
    spark: SparkSession,
    path: str,
    factor: int = 2,
    buckets_per_call: int | None = None,
    keep_versions: int = 2,
    gc_grace_seconds: float = 0.0,
) -> int:
    """ONLINE bucket-count migration for a bucketed keyed view —
    linear-hashing-style incremental re-layout to ``factor ×`` the
    stamped count (Iceberg's partition-spec evolution / bucket
    transform rewrite, on plain parquet). The stamped count exists so
    concurrent writers can't fork the layout, but it also means a view
    that grew 100× since creation is stuck with ~100× oversized
    buckets: every rewrite-mode commit pays the oversized bucket, and
    read-side bucket pruning is 100× coarser than it should be. This
    verb fixes the count WITHOUT a full-table rewrite and WITHOUT
    stopping reads or writes.

    Why it's local: the target count ``to = factor · n`` is an integer
    multiple of ``n``, so ``hash % to ≡ hash % n (mod n)`` — old bucket
    ``kb`` splits into exactly the id set ``{kb + j·n, j < factor}``
    and NO key moves between old buckets. One migration step therefore
    reads ONE old bucket's dir and writes its ``factor`` children —
    O(bucket) I/O, no cross-bucket shuffle — and the whole migration
    amortizes over ``n / buckets_per_call`` commits at whatever cadence
    the operator likes. Mid-migration the manifest carries
    ``{"rebucket": {"to": to, "done": [split old ids]}}`` and every
    writer (upsert/delete, both modes, and the compactor) routes keys
    through the mixed layout via :func:`_kb_expr`; readers are
    untouched — they scan whatever dirs the manifest references.
    When the last old bucket splits, the manifest stamps
    ``n_buckets = to`` and drops the marker.

    Commits through the module's one commit loop: an interleaved
    commit (another splitter included) makes it restage against the
    winner. Time travel keeps working: superseded manifests
    reference the pre-split dirs until they age out of retention.
    The delta log must be drained first (``compact_bucketed_view``) —
    a pending delta's bucket ids would go stale under a re-layout, so
    this raises on a non-empty log exactly like the rewrite writers;
    conversely a delta commit that lands mid-migration just pauses the
    migration until the next compaction, never corrupts it (delta
    writers restage on any layout change — see ``_append_delta``).

    Returns the number of OLD buckets split this call (0 when the view
    is already fully migrated and no ``factor`` step is pending).
    Call repeatedly (e.g. one maintenance slot per CDC cycle) until it
    returns 0. ``done`` is a list of old ids in the manifest — bounded
    by the stamped count; at very large counts use coarse
    ``buckets_per_call`` so the mid-state is short-lived.
    """
    if int(factor) < 2:
        raise ValueError(f"split factor must be >= 2, got {factor}")

    def attempt(man: dict | None):
        if man is None:
            raise FileNotFoundError(
                f"bucketed keyed view at {path!r} has no committed "
                "manifest — nothing to split"
            )
        key = man["key"]
        _require_no_pending_deltas(path, man, "split_buckets")
        nb = int(man["n_buckets"])
        rb = man.get("rebucket")
        if rb:
            to = int(rb["to"])
            if nb * int(factor) != to:
                raise ValueError(
                    f"split_buckets at {path!r}: a migration to "
                    f"{to} buckets is in progress (base {nb}); factor "
                    f"{factor} would target {nb * int(factor)} — finish "
                    "the pending migration first"
                )
            done = {int(x) for x in rb["done"]}
        else:
            to = nb * int(factor)
            done = set()
        pending = [kb for kb in range(nb) if kb not in done]
        if not pending:  # pragma: no cover - completion drops the marker
            return None, 0
        batch = pending[: buckets_per_call or len(pending)]
        buckets: dict[str, str] = dict(man["buckets"])
        src_dirs = [
            os.path.join(path, buckets[str(kb)])
            for kb in batch
            if str(kb) in buckets
        ]
        moved: dict[str, str] = {}
        if src_dirs:
            rows = _stamped_reader(spark, man).parquet(*sorted(src_dirs))
            # staged by the NEW bucket id: one file per child dir, and
            # a child without keys of its old bucket gets no dir
            children = [kb + j * nb for kb in batch for j in range(to // nb)]
            _, moved = _stage_buckets(
                path,
                rows.withColumn("_kb", F.pmod(F.hash(F.col(key)), F.lit(to))),
                children,
            )
        for kb in batch:
            buckets.pop(str(kb), None)  # old id dies with this commit
        buckets.update(moved)
        done2 = done | set(batch)
        if len(done2) == nb:  # migration complete — plain layout
            doc = _next_manifest(man, key, to, buckets, rebucket=None)
        else:
            doc = _next_manifest(
                man, key, nb, buckets,
                rebucket={"to": to, "done": sorted(done2)},
            )
        return doc, len(batch)

    return _optimistic_commit(
        path, "split_buckets", attempt, keep_versions, gc_grace_seconds
    )


#: How many bucket dirs maintain_bucketed_view samples to estimate the
#: average bucket size — a full walk at the ~100k-bucket sizing would
#: be an object-store LIST storm per maintenance slot (the same reason
#: GC is incremental); 64 evenly-spaced buckets bound the estimate's
#: cost while murmur3's uniformity keeps it honest.
MAINTAIN_SIZE_SAMPLE = 64


def maintain_bucketed_view(
    spark: SparkSession,
    path: str,
    target_bucket_bytes: int = 1 << 30,
    buckets_per_call: int = 1,
    factor: int = 2,
    keep_versions: int = 2,
    gc_grace_seconds: float = 0.0,
) -> dict:
    """ONE maintenance slot for a bucketed keyed view — the
    self-managing face of the table format (Delta's OPTIMIZE +
    auto-compaction policy, composed from this module's verbs):

    1. **Fold the log**: compact pending delta commits into bases
       (no-op on a clean view).
    2. **Fix the layout**: if a bucket-count migration is pending,
       advance it by ``buckets_per_call`` old buckets; otherwise
       estimate the average base-bucket size from a bounded sample
       (:data:`MAINTAIN_SIZE_SAMPLE` dirs — never a full tree walk)
       and START a ``factor×`` migration when it exceeds
       ``target_bucket_bytes``.

    Call it once per CDC cycle / cron slot: a view that doubled its
    bytes drifts back to target-sized buckets over ~n_buckets /
    buckets_per_call slots, each slot paying one compaction of the
    cycle's deltas plus at most ``buckets_per_call`` bucket rewrites —
    maintenance cost stays proportional to the CHANGE and the drift,
    never the corpus. Returns
    ``{"compacted": n, "split": n, "migration_pending": bool}``."""
    compacted = compact_bucketed_view(
        spark, path, keep_versions, gc_grace_seconds
    )
    man = load_manifest(path)
    split = 0
    if man is not None and man["buckets"]:
        rb = man.get("rebucket")
        if rb:
            f = int(rb["to"]) // int(man["n_buckets"])
            split = split_buckets(
                spark, path, factor=f, buckets_per_call=buckets_per_call,
                keep_versions=keep_versions,
                gc_grace_seconds=gc_grace_seconds,
            )
        else:
            rels = sorted(man["buckets"].values())
            stride = max(1, len(rels) // MAINTAIN_SIZE_SAMPLE)
            sample = rels[::stride][:MAINTAIN_SIZE_SAMPLE]
            avg = sum(
                dir_bytes(os.path.join(path, rel)) for rel in sample
            ) / len(sample)
            if avg > target_bucket_bytes:
                split = split_buckets(
                    spark, path, factor=factor,
                    buckets_per_call=buckets_per_call,
                    keep_versions=keep_versions,
                    gc_grace_seconds=gc_grace_seconds,
                )
        man = load_manifest(path)
    return {
        "compacted": compacted,
        "split": split,
        "migration_pending": bool(man and man.get("rebucket")),
    }
