"""Bucketed storage for co-located (shuffle-free) joins.

The reference's ``osmid`` GIN index (OpenPlaceReviewsDbBoot.java:167-178)
answers "which place contains OSM id X" without scanning places.  The
100 TB Spark analog (SURVEY.md §1.6) is an exploded side table
``(osm_id, tile_id, place_suffix)`` stored BUCKETED by ``osm_id``: a
lookup batch bucketed the same way joins bucket-to-bucket with no
exchange on either side — the join that runs on every sync-bot batch
(J1, ``OsmSyncBot.java:413-449``) stops paying a fact-table shuffle.

Bucketing is Spark's hash-partitioned table layout (``bucketBy`` +
``saveAsTable``): files are pre-split by ``hash(key) % buckets`` and the
optimizer proves both sides share the partitioning, so SortMergeJoin
runs directly over the scans (``tests/test_bucketed.py`` asserts the
plan has ZERO Exchange nodes).  At scale, pick buckets ≈ cluster cores
× small multiple; both tables must use the same count.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def ensure_fresh_bucketed(spark: SparkSession, loc: str,
                          *tables: str) -> bool:
    """True iff every ``db.table`` is registered AND its staged
    location under ``loc`` is a completed write (``_SUCCESS``
    present); the cached relation/file listing is refreshed so a
    LATER rebuild by another session can never leave this session
    reading a deleted file set.

    Why: the session catalog is in-memory but the table FILES live on
    /tmp across sessions, and Spark caches each table's file listing
    at first access.  The r14 inherited full-suite run hit the stale
    combination — a listing cached while the interrupted session's
    files were still on disk, served after a same-/tmp rebuild had
    replaced them (FileNotFoundException mid-collect on
    ``x75_smb_join``).  On False the caller drops + rebuilds via
    :func:`drop_bucketed`.
    """
    for t in tables:
        if not spark.catalog.tableExists(t):
            return False
        d = os.path.join(loc, t.split(".", 1)[1])
        if not os.path.isfile(os.path.join(d, "_SUCCESS")):
            return False
    for t in tables:
        # invalidates the cached LogicalRelation AND the shared
        # file-status cache entry — the next read re-lists the dir
        spark.catalog.refreshTable(t)
    return True


def drop_bucketed(spark: SparkSession, loc: str, *tables: str) -> None:
    """Unregister ``db.table`` entries and clear their staged
    locations — the pre-rebuild cleanup (a bare rmtree leaves a stale
    registration whose reads fail; a bare DROP leaves files that make
    ``saveAsTable`` die with LOCATION_ALREADY_EXISTS)."""
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(loc, t.split(".", 1)[1]),
                      ignore_errors=True)


def write_bucketed(df: DataFrame, table: str, key: str,
                   buckets: int = 16) -> None:
    """Persist ``df`` as a parquet table bucketed (and sorted) by
    ``key`` — the write-once step that buys every later join its
    shuffle."""
    (df.write.mode("overwrite").format("parquet")
     .bucketBy(buckets, key).sortBy(key).saveAsTable(table))
