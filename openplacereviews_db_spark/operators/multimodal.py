"""Multimodal column operators: binary payloads + typed metadata.

The reference stores photos as JSON image objects attached to places
(``images.<category>[]`` — ``BaseOprPlaceDataProvider.java:227-239``);
a training-data pipeline generalizes that to opaque ``binary`` media
columns with typed metadata, processed by Arrow-batched Python.

Spark plumbing here is real and tested — schema, partition-preserving
``mapInPandas`` kernels, batch shapes, deterministic outputs.  The
actual codec calls are stubbed behind ``_decoder()``: the container has
no image/audio libraries, so decode uses a clearly-marked deterministic
fake unless a real backend (e.g. PIL) is importable.  Swapping in the
real library changes ONE function; every plan stays identical.

Scale shape: media rows are large → kernels stream Arrow batches and
never hold more than one batch; metadata-only queries must never touch
the payload column (schema keeps payload last and plans select around
it, so Parquet column pruning skips the bytes).
"""

from __future__ import annotations

import hashlib
import struct as _struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: media row schema: typed metadata first, opaque payload last (pruning)
MEDIA_DDL = ("media_id long, kind string, mime string, width int, "
             "height int, duration_s double, payload binary")

FEATURE_DIM = 16


def _decoder():
    """Return (backend_name, decode_fn).  decode_fn(payload: bytes,
    kind: str) -> dict with pixels/frames summary.

    Tries real backends; falls back to a DETERMINISTIC FAKE that derives
    all values from the payload hash — stable across runs and engines,
    so tests and oracles can pin outputs.
    """
    def fake_decode(payload: bytes, kind: str) -> dict:
        h = hashlib.sha256(payload or b"").digest()
        return {
            "decoded_w": 16 + h[0] % 64,
            "decoded_h": 16 + h[1] % 64,
            "n_frames": 1 if kind == "image" else 1 + h[2] % 30,
            "checksum": h.hex()[:16],
        }

    try:  # pragma: no cover - not installed in this container
        import io

        import PIL.Image

        def pil_decode(payload: bytes, kind: str) -> dict:
            # Real image decode; any non-image payload (or non-image
            # kind) falls back PER ROW to the deterministic fake, so a
            # corpus with mixed/corrupt payloads never crashes the
            # kernel and non-decodable rows stay engine-reproducible.
            if kind == "image" and payload:
                try:
                    with PIL.Image.open(io.BytesIO(payload)) as im:
                        return {
                            "decoded_w": int(im.width),
                            "decoded_h": int(im.height),
                            "n_frames": int(getattr(im, "n_frames", 1)),
                            "checksum": hashlib.sha256(payload)
                            .hexdigest()[:16],
                        }
                except Exception:
                    pass
            return fake_decode(payload, kind)

        return "pil", pil_decode
    except ImportError:
        pass

    return "fake", fake_decode


DECODE_BACKEND, _decode = _decoder()


def decode_media(df: DataFrame) -> DataFrame:
    """Decode payloads → (media_id, kind, decoded_w, decoded_h, n_frames,
    checksum).  Arrow-batched; payload never leaves the executor."""
    import pandas as pd

    schema = ("media_id long, kind string, decoded_w int, decoded_h int, "
              "n_frames int, checksum string")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                {"media_id": m, "kind": k, **_decode(p, k)}
                for m, k, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"])
            ]
            yield pd.DataFrame(recs)[["media_id", "kind", "decoded_w",
                                      "decoded_h", "n_frames", "checksum"]]

    return df.select("media_id", "kind", "payload").mapInPandas(
        kernel, schema=schema)


def extract_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Feature vectors from payloads (stub: hash-derived unit floats).

    Same shape as a real embedding extractor: (media_id,
    features array<float> of fixed dim) — downstream ANN / dedup
    operators (operators.similarity) consume it unchanged.
    """
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for m, p in zip(pdf["media_id"], pdf["payload"]):
                h = hashlib.sha256(p or b"").digest()
                rep = (h * ((dim * 2 + len(h) - 1) // len(h)))[:dim * 2]
                vals = _struct.unpack(f"<{dim}H", rep)
                ids.append(m)
                feats.append([v / 65535.0 for v in vals])
            yield pd.DataFrame({"media_id": ids, "features": feats})

    return df.select("media_id", "payload").mapInPandas(
        kernel, schema="media_id long, features array<float>")


def sample_frames(df: DataFrame, every_n: int = 5) -> DataFrame:
    """Frame sampling for video rows: one output row per kept frame
    (media_id, frame_idx) — the explode happens AFTER decode so the
    payload is read once per media row, not per frame."""
    decoded = decode_media(df.where(F.col("kind") == "video"))
    return decoded.select(
        "media_id",
        F.explode(F.sequence(
            F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias("frame_idx"),
    )


def resize_media(df: DataFrame, max_side: int = 32) -> DataFrame:
    """Aspect-preserving downscale into a ``max_side`` box (never
    upscales): (media_id, kind, decoded_w, decoded_h, out_w, out_h,
    out_checksum).

    Target dims are integer arithmetic on the decoded dims —
    ``(side * max_side) div longest`` with a floor of 1 — so the
    geometry is engine-reproducible.  The re-encode is the codec-shaped
    step: with a real backend and a decodable image payload it is an
    actual ``PIL.resize`` + re-encode; otherwise the output checksum is
    the DETERMINISTIC FAKE ``sha256(payload || '|WxH')`` so the full
    kernel stays value-checkable cross-engine.  Arrow-batched
    ``mapInPandas``; payloads never leave the executor.
    """
    import pandas as pd

    schema = ("media_id long, kind string, decoded_w int, decoded_h int, "
              "out_w int, out_h int, out_checksum string")

    def target(w: int, h: int) -> tuple[int, int]:
        longest = max(w, h)
        if longest <= max_side:
            return w, h
        return (max(1, (w * max_side) // longest),
                max(1, (h * max_side) // longest))

    def fake_encode(payload: bytes, w: int, h: int) -> str:
        return hashlib.sha256(
            (payload or b"") + f"|{w}x{h}".encode()).hexdigest()[:16]

    def real_encode(payload: bytes, kind: str, w: int, h: int) -> str:
        if DECODE_BACKEND == "pil" and kind == "image" and payload:
            try:  # pragma: no cover - container has no real images
                import io

                import PIL.Image

                with PIL.Image.open(io.BytesIO(payload)) as im:
                    buf = io.BytesIO()
                    im.resize((w, h)).save(buf, format="PNG")
                    return hashlib.sha256(buf.getvalue()).hexdigest()[:16]
            except Exception:
                pass
        return fake_encode(payload, w, h)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for m, k, p in zip(pdf["media_id"], pdf["kind"],
                               pdf["payload"]):
                d = _decode(p, k)
                w, h = target(d["decoded_w"], d["decoded_h"])
                recs.append({
                    "media_id": m, "kind": k,
                    "decoded_w": d["decoded_w"],
                    "decoded_h": d["decoded_h"],
                    "out_w": w, "out_h": h,
                    "out_checksum": real_encode(p, k, w, h),
                })
            yield pd.DataFrame(recs)[["media_id", "kind", "decoded_w",
                                      "decoded_h", "out_w", "out_h",
                                      "out_checksum"]]

    return df.select("media_id", "kind", "payload").mapInPandas(
        kernel, schema=schema)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic media corpus for tests: payload bytes derived from
    the id, kinds cycling image/audio/video."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(str(i).encode()).digest() * 4
        rows.append((i, kind, f"{kind}/x-test", 64 + i % 32, 48 + i % 24,
                     float(i % 30), bytearray(payload)))
    return spark.createDataFrame(rows, MEDIA_DDL)


#: Per-worker token → ±1 vote-vector memo for ``_phash64_py``: corpus
#: vocabulary repeats heavily across documents, so the md5+unpack work
#: per DISTINCT token amortizes to once per worker process.  Entries
#: are int8 (values only ±1; the in-place add into the int64
#: accumulator upcasts exactly), and the cap keeps the per-worker memo
#: to tens of MB even against an adversarial vocabulary — under a
#: Zipf vocabulary the frequent head carries nearly all the hit rate,
#: so a modest cap loses little.
_TOKEN_VOTES: dict = {}
_TOKEN_VOTES_MAX = 1 << 17


def _token_votes(w: str):
    """±1 vote vector (64 int8) for one token — the top 64 bits of
    md5(token), MSB-first, mapped 1→+1 / 0→−1.  ``np.unpackbits`` over
    the first 8 digest bytes yields exactly the hexdigest nibble order
    (char n bits 3..0 at positions n*4..n*4+3) the JVM/SQL twins use."""
    import hashlib

    import numpy as np

    v = _TOKEN_VOTES.get(w)
    if v is None:
        bits = np.unpackbits(np.frombuffer(
            hashlib.md5(w.encode("utf-8")).digest()[:8], dtype=np.uint8))
        v = (bits.astype(np.int8) << 1) - 1
        if len(_TOKEN_VOTES) < _TOKEN_VOTES_MAX:
            _TOKEN_VOTES[w] = v
    return v


def _phash64_py(content: str) -> int | None:
    """Python twin of the ``dedup.simhash_table`` codegen plan (same
    norm → distinct tokens → md5 nibble votes → sign-bit weights), for
    fingerprints that must be computed INSIDE a payload-decode kernel.
    A real image pHash slots in here unchanged (DCT over the decoded
    bitmap instead of token votes); the contract — 64-bit
    locality-sensitive code per payload — is what downstream blocking
    consumes."""
    import re

    import numpy as np

    # the explicit class, NOT \s: Python's \s is Unicode-aware and
    # also eats \x1c-\x1f etc., while the JVM/RE2 \s the Spark and
    # DuckDB twins use is [ \t\n\x0b\f\r] — a control-char doc would
    # otherwise hash differently per engine
    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", content).strip(" ").lower()
    toks = {t for t in norm.split(" ") if t}
    if not toks:
        # a token-free payload has NO fingerprint — the SQL oracle's
        # sim CTE drops zero-token docs, and emitting a sentinel 0
        # here would pair two whitespace-only payloads at hamming 0
        # on the Spark side only (r8 ADVICE)
        return None
    votes = np.zeros(64, dtype=np.int64)
    for w in toks:
        votes += _token_votes(w)
    v = 0
    for b in np.nonzero(votes > 0)[0]:
        v |= 1 << (63 - int(b))
    return v - (1 << 64) if v >= (1 << 63) else v


def perceptual_hashes(df: DataFrame) -> DataFrame:
    """(media_id, phash) per media row — the payload crosses the Arrow
    boundary ONCE, the 64-bit code comes back; everything after (the
    blocked self-join) stays JVM-side.  Payloads with no fingerprint
    (token-free after decode: ``_phash64_py`` → None) are dropped so
    the hash population structurally matches the oracle's token-bearing
    sim CTE."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "phash": pd.array(
                    [_phash64_py((p or b"").decode("utf-8", "replace"))
                     for p in pdf["payload"]], dtype="Int64"),
            })

    return (df.select("media_id", "payload")
            .mapInPandas(kernel, "media_id long, phash long")
            .where(F.col("phash").isNotNull()))


def phash_pairs(df: DataFrame, max_hamming: int = 10,
                block_bits: int = 16) -> DataFrame:
    """Near-duplicate media pairs: Hamming(phash) <= max_hamming under
    the top-``block_bits`` prefix blocking — the SAME join as text
    simhash (``dedup.blocked_hamming_pairs``), so a blocking fix there
    reaches both twins of the shared SQL oracle."""
    from .dedup import blocked_hamming_pairs

    return blocked_hamming_pairs(perceptual_hashes(df), "media_id",
                                 "phash", max_hamming, block_bits)
