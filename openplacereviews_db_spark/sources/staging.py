"""S5: the staged raw zone — write-once caching of fetched raw data.

The reference caches every Overpass response as a gzip file keyed by a
deterministic request id (``OsmSyncBot.proc``, OsmSyncBot.java:570-593;
``SyncRequest.getCacheId``, :155-169): if the cache file exists the
download is skipped and the file is read instead.  The Spark-first
analog is a write-once PARQUET staging zone: raw fetches land as
parquet keyed by the same deterministic cache id, and every downstream
query reads the staged copy — at 100 TB this is the raw zone of a
lakehouse layout (fetch once, scan many, schema-on-write, column
pruning on re-reads — none of which the reference's gzip text blobs
can do).

:func:`stage` is the package's one staging rule: every artifact derived
from the driver testdata (raw projections, split stream feeds, text and
ORC roundtrip copies, indexes, the op log) is built through it, so this
module alone decides where a stage lives, what its key is, when it is
complete, and when it is pruned.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Sequence

from pyspark.sql import SparkSession


def cache_id(name: str, date: str,
             bbox: tuple[float, float, float, float] | None = None,
             diff: bool = False, cnt: bool = False,
             state_date: str | None = None) -> str:
    """Deterministic cache key mirroring ``SyncRequest.getCacheId``
    (OsmSyncBot.java:155-169): ``[diff_|req_][cnt_]name/date[-state]``
    + ``_minY,minX,maxY,maxX`` with ``0.#`` number formatting and
    ``:`` replaced by ``_``."""
    r = ("diff_" if diff else "req_") + ("cnt_" if cnt else "")
    r += f"{name}/{date}"
    if diff and state_date is not None:
        r += f"-{state_date}"
    if bbox is not None:
        min_x, min_y, max_x, max_y = bbox

        def fmt(v: float) -> str:  # DecimalFormat("0.#")
            s = f"{v:.1f}"
            return s[:-2] if s.endswith(".0") else s

        r += "_" + ",".join(fmt(v) for v in (min_y, min_x, max_y, max_x))
    return r.replace(":", "_")


def source_fingerprint(sf_dir: str, table: str) -> str:
    """``{mtime}_{size}`` of ``sf_dir/table.parquet`` — the key every
    stage derived from driver testdata carries.  The driver regenerates
    parquet between rounds (events.ts changed type once); an
    existence-only cache check would then serve stale staged rows while
    the oracle reads the fresh table."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return f"{int(st.st_mtime)}_{st.st_size}"


def stage_root() -> str:
    """The one directory every stage lives under — read at call time,
    so a monkeypatched ``tempfile.gettempdir`` moves it."""
    return os.path.join(tempfile.gettempdir(), "opr_spark_stage")


def _stage_name(sf_dir: str, family: str, tables: Sequence[str],
                key: str) -> tuple[str, str]:
    """``(prune prefix, stage name)``.  The prefix stops at the sf
    basename, so a new key (e.g. a changed knob set) supersedes the old
    stage exactly like a testdata refresh does.  The ``.stage`` suffix
    is a layout no earlier staging code wrote: a leftover dir from an
    older scheme never reads as complete under this rule."""
    prefix = f"{family}_{os.path.basename(os.path.normpath(sf_dir))}_"
    fps = "_".join(source_fingerprint(sf_dir, t) for t in tables)
    return prefix, f"{prefix}{key + '_' if key else ''}{fps}.stage"


def stage_path(sf_dir: str, family: str, tables: Sequence[str],
               key: str = "") -> str:
    """Where :func:`stage` puts ``family``'s stage for this sf dir and
    the current source fingerprints (it does not build anything)."""
    return os.path.join(stage_root(),
                        _stage_name(sf_dir, family, tables, key)[1])


def stage(sf_dir: str, family: str, tables: Sequence[str],
          build: Callable[[str], None], key: str = "") -> str:
    """Write-once staging of a derived artifact; returns its directory.

    The directory is named ``{family}_{sf basename}_[{key}_]`` plus the
    ``{mtime}_{size}`` of each source ``tables`` parquet, under
    :func:`stage_root`.  A stage is complete iff that directory exists:
    ``build(tmp)`` fills a private temp sibling, and one ``os.rename``
    puts it in place, so a build that dies part-way leaves nothing
    under the final name and the next call rebuilds.  Two callers
    building the same stage at once each build their own copy; the
    loser of the rename deletes its copy and returns the winner's.

    Every call prunes superseded siblings (same family and sf, other
    key or fingerprint) through :func:`prune_stale_siblings` — on a
    cache hit too, since a sibling still under the age guard at build
    time would otherwise never be pruned.
    """
    root = stage_root()
    prefix, name = _stage_name(sf_dir, family, tables, key)
    path = os.path.join(root, name)
    if not os.path.isdir(path):
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f"tmp.{name}.", dir=root)
        try:
            build(tmp)
            try:
                os.rename(tmp, path)
            except OSError:
                if not os.path.isdir(path):
                    raise
                # a concurrent builder renamed its complete copy first
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    prune_stale_siblings(root, prefix, name)
    return path


def prune_stale_siblings(root: str, prefix: str, keep: str,
                         min_age_s: float = 3600.0) -> None:
    """Remove superseded write-once staging entries: every child of
    ``root`` whose name starts with ``prefix`` but is not ``keep``.

    A stage's name carries its sources' fingerprints, so a testdata
    refresh makes a NEW sibling and orphans the old one — each orphan
    is a full staged copy leaking on /tmp (the disk-pressure class
    ``release_shuffles`` exists to fight).  Handles files and
    directories.

    ``min_age_s``: siblings modified within this window are left alone
    — a concurrently-live session launched against the PREVIOUS
    testdata may still hold lazy plans over its staged copy, and
    deleting files under a registered scan fails that session's next
    action mid-query.  Fingerprints only drift when the driver
    regenerates parquet between rounds, so anything older than an hour
    with a superseded fingerprint is genuinely dead."""
    import time

    try:
        names = os.listdir(root)
    except OSError:
        return
    now = time.time()
    for name in names:
        if not name.startswith(prefix) or name == keep:
            continue
        path = os.path.join(root, name)
        try:
            if now - os.path.getmtime(path) < min_age_s:
                continue
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        except OSError:
            pass  # concurrent session may have pruned it first


def compact_dir(spark: SparkSession, src_dir: str, dest_dir: str,
                target_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction (X63) — the lakehouse OPTIMIZE analog for
    the raw/staging zone: rewrite a directory of many small parquet
    files into ``ceil(total_bytes / target_bytes)`` files sized for
    scan efficiency (a long-running ingest — the streaming index
    appends, the per-batch staging writes — accretes thousands of tiny
    files, and every downstream scan then pays per-file open + footer
    overhead; at 100 TB the fix is this maintenance pass, run
    off-peak).

    Content-preserving by construction: one ``coalesce`` write, no
    shuffle key, no dropped columns — and proven lossless by the
    roundtrip oracle (aggregate of the compacted copy == aggregate of
    the source).  ``coalesce`` (not ``repartition``): target file
    count is BELOW the source parallelism, so Spark merges input
    splits without a shuffle.  Run it inside a :func:`stage` build so
    the compacted copy appears atomically.

    Returns the number of data files written.
    """
    import math

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src_dir)
        for f in files if f.endswith(".parquet"))
    n_files = max(1, math.ceil(total / target_bytes))
    (spark.read.parquet(src_dir).coalesce(n_files)
     .write.mode("overwrite").parquet(dest_dir))
    return sum(1 for f in os.listdir(dest_dir) if f.endswith(".parquet"))
