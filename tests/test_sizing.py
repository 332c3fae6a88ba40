"""Bytes-derived per-exchange partition pinning (functions/sizing.py).

Pins (a) the sizing formula (floor / cap-to-None against the session
count, the 64 MiB micro-batch target, fail-safe on a missing path) and
(b) value-invariance of the pinned plan paths: `tiered_jaccard_verify`
must return identical rows with `b_first` set and unset, and
`containment_pairs` with `parts` set and unset — the pinned path also
flips the tier-2 join order (b-first rides tier 1's output
partitioning), so this is the join-order equivalence pin too.
"""

from __future__ import annotations

import pytest

from openplacereviews_db_spark.functions import sizing
from openplacereviews_db_spark.operators.dedup import (containment_pairs,
                                                       tiered_jaccard_verify)


def _at_session_parts(spark, n):
    """Set the session's shuffle partition count for a sizing case."""
    spark.conf.set("spark.sql.shuffle.partitions", str(n))


def test_small_exchange_parts_floor_cap(spark):
    # the test session runs at 8 shuffle partitions == the floor, so
    # the floor correctly collapses to None there (floor >= session
    # means pinning buys nothing); exercise the formula against a
    # temporarily raised session count as well
    try:
        _at_session_parts(spark, 32)
        # tiny input -> floor
        assert sizing.small_exchange_parts(spark, 10_000) == 8
        assert sizing.small_exchange_parts(spark, 0) == 8
        # ~16 MiB -> 16 partitions (below the session cap)
        assert sizing.small_exchange_parts(spark, 16 << 20) == 16
        # at/above the session count -> None (keep the session plan:
        # at-scale regime, AQE skew-split stays available)
        assert sizing.small_exchange_parts(spark, 33 << 20) is None
        assert sizing.small_exchange_parts(spark, 10 << 40) is None
        # a larger session count moves the cap, not the formula
        _at_session_parts(spark, 64)
        assert sizing.small_exchange_parts(spark, 33 << 20) == 33
        # below the floor -> None at any size
        _at_session_parts(spark, 4)
        assert sizing.small_exchange_parts(spark, 10_000) is None
        assert sizing.small_exchange_parts(spark, 10 << 40) is None
    finally:
        _at_session_parts(spark, 8)
    # floor >= session -> None
    assert sizing.small_exchange_parts(spark, 10_000) is None


def test_small_exchange_parts_micro_batch_target(spark):
    """The 64 MiB-per-partition target sizes the near-dup stream's
    micro-batches: for a session of S >= 8 partitions the pinned count
    (or S when unpinned) is max(8, min(S, ceil(bytes / 64 MiB)))."""
    mib64 = 64 << 20
    try:
        _at_session_parts(spark, 32)
        assert sizing.small_exchange_parts(spark, 1 << 20, mib64) == 8
        assert sizing.small_exchange_parts(spark, 8 * mib64, mib64) == 8
        assert sizing.small_exchange_parts(spark, 10 * mib64, mib64) == 10
        assert sizing.small_exchange_parts(spark, 32 * mib64,
                                           mib64) is None
        for s in (8, 12, 32):
            _at_session_parts(spark, s)
            for nbytes in (0, 5 * mib64, 9 * mib64 + 1, 40 * mib64):
                c = -(-nbytes // mib64)
                got = sizing.small_exchange_parts(spark, nbytes, mib64)
                assert (got or s) == max(8, min(s, c)), (s, nbytes)
    finally:
        _at_session_parts(spark, 8)


def test_missing_path_keeps_session_plan(spark, tmp_path):
    """Sizing fails safe: a missing path has no size, and no size keeps
    the unpinned (session-partitioned) plan — never the 8-partition
    floor a silent 0 would give."""
    missing = str(tmp_path / "nope")
    assert sizing.path_bytes(missing) is None
    assert sizing.table_bytes(str(tmp_path), "documents") is None
    assert sizing.path_bytes(str(tmp_path)) == 0  # empty dir is a size
    try:
        _at_session_parts(spark, 32)
        assert sizing.small_exchange_parts(spark, None) is None
        assert sizing.small_exchange_parts(
            spark, sizing.path_bytes(missing)) is None
    finally:
        _at_session_parts(spark, 8)


def test_table_bytes_file_and_dir(tmp_path):
    d = tmp_path / "documents.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 100)
    (d / "part-1.parquet").write_bytes(b"y" * 50)
    assert sizing.table_bytes(str(tmp_path), "documents") == 150
    f = tmp_path / "orders.parquet"
    f.write_bytes(b"z" * 77)
    assert sizing.table_bytes(str(tmp_path), "orders") == 77


@pytest.fixture()
def _verify_inputs(spark):
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 1)], "id_a long, id_b long")
    sets = spark.createDataFrame(
        [(1, [10, 11, 12, 13]), (2, [10, 11, 12, 99]),
         (3, [50, 60]), (4, [10, 11, 12, 13])],
        "id long, sids array<bigint>")
    return cand, sets


def test_tiered_verify_parts_value_invariant(spark, _verify_inputs):
    cand, sets = _verify_inputs
    base = tiered_jaccard_verify(cand, sets, sets, 0.5).collect()
    pinned = tiered_jaccard_verify(cand, sets, sets, 0.5,
                                   b_first=True).collect()
    key = lambda r: (r["id_a"], r["id_b"], r["jaccard"])  # noqa: E731
    assert sorted(map(key, base)) == sorted(map(key, pinned))
    assert base  # non-vacuous: at least one verified pair survives


def test_containment_parts_value_invariant(spark):
    rows = [(1, "a b c d e f g h"), (2, "a b c d e f g h x y z w"),
            (3, "p q r s t u v"), (4, "a b c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = containment_pairs(df).collect()
    pinned = containment_pairs(df, parts=4).collect()
    key = lambda r: tuple(r)  # noqa: E731
    assert sorted(map(key, base)) == sorted(map(key, pinned))
    assert base
