"""Multimodal plumbing tests: schema, batch shapes, pruning, determinism."""

from __future__ import annotations

from openplacereviews_db_spark.operators import multimodal as MM


def test_decode_deterministic(spark):
    df = MM.synthetic_media(spark, 30)
    a = {r["media_id"]: r["checksum"] for r in MM.decode_media(df).collect()}
    b = {r["media_id"]: r["checksum"] for r in MM.decode_media(df).collect()}
    assert a == b and len(a) == 30
    rows = {r["media_id"]: r for r in MM.decode_media(df).collect()}
    assert all(16 <= r["decoded_w"] < 80 for r in rows.values())
    # images decode to exactly one frame
    assert all(r["n_frames"] == 1 for r in rows.values() if r["kind"] == "image")


def test_features_shape(spark):
    df = MM.synthetic_media(spark, 12)
    feats = MM.extract_features(df).collect()
    assert len(feats) == 12
    assert all(len(r["features"]) == MM.FEATURE_DIM for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["features"])


def test_frame_sampling(spark):
    df = MM.synthetic_media(spark, 30)
    frames = MM.sample_frames(df, every_n=5).collect()
    by_id: dict = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    # only video rows produce frames; indices stride by 5 from 0
    assert by_id and all(mid % 3 == 2 for mid in by_id)
    for idxs in by_id.values():
        assert sorted(idxs) == list(range(0, max(idxs) + 1, 5))


def test_pil_backend_decodes_real_image_when_available(spark):
    """When a real codec is importable the backend must decode actual
    image bytes (real width/height), and still fall back per-row to the
    deterministic fake for non-image payloads.  Skips in containers
    without PIL — the fake-backend path is covered by every other test
    here."""
    import pytest

    PIL = pytest.importorskip("PIL.Image")
    import io

    from openplacereviews_db_spark.operators import multimodal as MM

    assert MM.DECODE_BACKEND == "pil"
    buf = io.BytesIO()
    PIL.new("RGB", (20, 11)).save(buf, format="PNG")
    png = buf.getvalue()
    rows = [(1, "image", "image/png", 20, 11, None, bytearray(png)),
            (2, "image", "image/png", 0, 0, None, bytearray(b"not an image"))]
    media = spark.createDataFrame(rows, MM.MEDIA_DDL)
    got = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert (got[1]["decoded_w"], got[1]["decoded_h"]) == (20, 11)
    # invalid payload → deterministic fake, never a crash
    import hashlib
    h = hashlib.sha256(b"not an image").digest()
    assert got[2]["decoded_w"] == 16 + h[0] % 64


def test_resize_geometry_invariants(spark):
    """Resize never upscales, always fits the box, and keeps aspect
    ratio to within integer truncation."""
    from openplacereviews_db_spark.operators import multimodal as MM

    media = MM.synthetic_media(spark, n=48)
    for r in MM.resize_media(media, max_side=32).collect():
        w, h, ow, oh = (r["decoded_w"], r["decoded_h"],
                        r["out_w"], r["out_h"])
        assert ow <= w and oh <= h                      # never upscale
        assert max(ow, oh) <= 32                        # fits the box
        if max(w, h) > 32:
            assert max(ow, oh) == 32                    # long side pinned
            # aspect preserved up to integer floor
            assert abs(ow * h - oh * w) <= max(w, h)
        else:
            assert (ow, oh) == (w, h)                   # small: untouched


def test_resize_real_image_when_available(spark):
    """With PIL present and a decodable payload the re-encode is a real
    PIL resize (checksum differs from the deterministic fake)."""
    import hashlib

    import pytest

    PIL = pytest.importorskip("PIL.Image")
    import io

    from openplacereviews_db_spark.operators import multimodal as MM

    buf = io.BytesIO()
    PIL.new("RGB", (100, 40)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(1, "image", "image/png", 100, 40, None, bytearray(png))],
        MM.MEDIA_DDL)
    r = MM.resize_media(media, max_side=32).collect()[0]
    assert (r["out_w"], r["out_h"]) == (32, 12)
    fake = hashlib.sha256(png + b"|32x12").hexdigest()[:16]
    assert r["out_checksum"] != fake  # the real codec ran


def test_phash_whitespace_only_payload_dropped(spark):
    """A token-free payload has no fingerprint: the SQL oracle drops
    zero-token docs from its sim CTE, so the kernel must too — the
    pre-fix sentinel phash 0 paired two whitespace-only payloads at
    hamming 0 on the Spark side only (r8 ADVICE)."""
    rows = [(1, bytearray(b"  \t\n ")), (2, bytearray(b" ")),
            (3, bytearray(b"hello world"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hashed = MM.perceptual_hashes(df).collect()
    assert {r["media_id"] for r in hashed} == {3}
    assert MM.phash_pairs(df, max_hamming=10, block_bits=16).count() == 0
