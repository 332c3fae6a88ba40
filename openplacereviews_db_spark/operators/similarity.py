"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant
(random-hyperplane signs, derived deterministically from md5 so it is
oracle-checkable) is the scale path: candidates meet in buckets, turning
the all-pairs scan into an equi-join.

All vector math is `zip_with`/`aggregate` column arithmetic — JVM-side,
no Python in the row path.  At 1000-executor scale the query side is
small and broadcast; the corpus side streams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def as_double(v: Column) -> Column:
    """Cast array<float> → array<double> so both engines do f64 math."""
    return v.cast("array<double>")


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                vec_col: str = "embedding", id_col: str = "vec_id",
                round_digits: int = 4) -> DataFrame:
    """Exact brute-force top-k: for each query vector, the k most cosine-
    similar corpus vectors (excluding itself).

    The query side is broadcast (it is small by construction); the corpus
    streams through one stage.  Similarity is rounded *before* ranking so
    ties break on id deterministically — required for oracle parity and
    for reproducible pipelines generally.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"), as_double(F.col(vec_col)).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits).alias("sim"),
        )
    )
    w = F.row_number().over(
        Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    )
    return scored.withColumn("rank", w).where(F.col("rank") <= k)


def knn_label_predict(corpus: DataFrame, queries: DataFrame, k: int = 7,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      label_col: str = "label") -> DataFrame:
    """k-NN majority-vote label prediction — the auto-labeling /
    label-propagation primitive of a training-data pipeline (assign a
    class to new documents from their nearest labeled neighbors).

    Composes :func:`cosine_topk` (exact, rounded sims, deterministic
    rank tiebreak) with a per-query vote count; ties break on the
    smaller label so the result is hash-stable.  Returns one row per
    query: (q_id, pred_label, votes, true_label, correct).  The probe
    side broadcasts; the corpus streams — at scale swap ``cosine_topk``
    for ``cosine_topk_ivf`` with the same vote tail.
    """
    topk = cosine_topk(corpus, queries, k, vec_col, id_col)
    nbr = corpus.select(F.col(id_col).alias("c_id"),
                        F.col(label_col).alias("nbr_label"))
    votes = (topk.join(nbr, "c_id")
             .groupBy("q_id", "nbr_label")
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("q_id").orderBy(F.desc("votes"),
                                           F.asc("nbr_label"))
    pick = (votes.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1).drop("_rk"))
    truth = queries.select(F.col(id_col).alias("q_id"),
                           F.col(label_col).alias("true_label"))
    return (pick.join(truth, "q_id")
            .select("q_id", F.col("nbr_label").alias("pred_label"),
                    "votes", "true_label",
                    (F.col("nbr_label") == F.col("true_label"))
                    .alias("correct")))


def hard_negative_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       label_col: str = "label",
                       round_digits: int = 4) -> DataFrame:
    """Hard-negative mining (X59): for each query vector, the k most
    cosine-similar corpus vectors with a DIFFERENT label — the
    confusable negatives contrastive embedding training wants (the
    batch form of in-batch hard-negative selection).

    Same discipline as :func:`cosine_topk`: bounded query side
    broadcast, corpus streams once, similarity rounded BEFORE ranking,
    (sim DESC, c_id ASC) tiebreak.  The label-mismatch predicate rides
    in the join condition, so same-label rows are dropped before the
    rank window ever sees them.  At an unbounded query scale, swap the
    candidate generation for the LSH/IVF bucket paths and keep the
    same label filter + rank tail.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("q_vec"),
        F.col(label_col).alias("q_label"))
    c = corpus.select(
        F.col(id_col).alias("c_id"), as_double(F.col(vec_col)).alias("c_vec"),
        F.col(label_col).alias("neg_label"))
    scored = (
        c.join(F.broadcast(q),
               (F.col("q_id") != F.col("c_id"))
               & (F.col("q_label") != F.col("neg_label")))
        .select("q_id", "q_label", "c_id", "neg_label",
                F.round(cosine(F.col("q_vec"), F.col("c_vec")),
                        round_digits).alias("sim")))
    w = F.row_number().over(
        Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id")))
    return (scored.withColumn("rank", w).where(F.col("rank") <= k)
            .select("q_id", "q_label", "c_id", "neg_label", "sim", "rank"))


def cosine_pairs_gemm(embs: DataFrame, threshold: float,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      round_digits: int = 4,
                      max_ref_rows: int = 100_000) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold, via blocked matrix
    multiply against a BOUNDED reference set.

    The reference side (full normalized matrix) is collected and broadcast
    — the corpus streams through ``mapInPandas`` and each Arrow batch does
    one ``chunk @ ref.T``.  This is the right shape ONLY when one side is
    bounded (dedup against a canonical set, query batches); ``max_ref_rows``
    enforces that contract (the collect is capped at limit+1 rows, so an
    unbounded input fails fast instead of OOMing the driver).  For
    unbounded all-pairs use ``cosine_pairs_blocked`` (exact, distributed)
    or ``cosine_pairs_lsh`` (approximate, cheaper).

    Rounding/threshold semantics: the kernel emits raw similarities above
    ``threshold - 1e-6``; the final JVM-side round + filter makes results
    comparable with a SQL oracle computing ``round(cos, round_digits)``.
    """
    import numpy as np

    rows = (
        embs.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        .limit(max_ref_rows + 1)
        .collect()
    )
    if len(rows) > max_ref_rows:
        raise ValueError(
            f"cosine_pairs_gemm reference side exceeds max_ref_rows="
            f"{max_ref_rows}; use cosine_pairs_blocked (exact) or "
            f"cosine_pairs_lsh (approximate) for unbounded inputs"
        )
    ref_ids = np.array([r["id"] for r in rows], dtype=np.int64)
    ref = np.array([r["v"] for r in rows], dtype=np.float64)
    ref_norm = ref / np.linalg.norm(ref, axis=1, keepdims=True)
    spark = embs.sparkSession
    b_ids = spark.sparkContext.broadcast(ref_ids)
    b_ref = spark.sparkContext.broadcast(ref_norm)
    emit_floor = threshold - 1e-6

    def kernel(batches):
        import pandas as pd

        rids = b_ids.value
        rmat = b_ref.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["id"].to_numpy(dtype=np.int64)
            a = np.array(list(pdf["v"]), dtype=np.float64)
            a = a / np.linalg.norm(a, axis=1, keepdims=True)
            sims = a @ rmat.T
            ii, jj = np.nonzero((sims >= emit_floor) & (a_ids[:, None] < rids[None, :]))
            yield pd.DataFrame({
                "id_a": a_ids[ii],
                "id_b": rids[jj],
                "sim_raw": sims[ii, jj],
            })

    src = embs.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    pairs = src.mapInPandas(kernel, schema="id_a long, id_b long, sim_raw double")
    return (
        pairs.withColumn("sim", F.round("sim_raw", round_digits))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


#: auto-chunking target: rows per chunk so one GEMM block is
#: ~(4096)² doubles ≈ 128 MB of similarities — comfortably in-memory
_CHUNK_TARGET_ROWS = 4096

#: cap on one sims SLICE in float64 elements (~32 MB per Python
#: worker).  A GEMM kernel must NEVER materialize the whole n×n sims
#: matrix of its group: at a 25k-row LSH bucket that is 5 GB of
#: float64, and 32 concurrent workers OOM-killed the machine on the
#: first sf10 (100×) run (r10).  Row-blocking bounds peak memory for
#: ANY group size while computing bit-identical dot products (each
#: 64-dim product is still one BLAS row×column pass).
_GEMM_SLICE_ELEMS = 4_000_000


def _sims_slices(m_left, m_right, cap: int = _GEMM_SLICE_ELEMS):
    """Yield ``(row_offset, m_left[i0:i0+step] @ m_right.T)`` slices
    with at most ``cap`` elements each.  ``cap`` is captured by VALUE
    into the kernel closures (an executor re-imports the module, so a
    driver-side monkeypatch of the global would never reach it) —
    tests pass a tiny cap to force multi-slice execution."""
    n_r = m_right.shape[0]
    step = max(1, cap // max(n_r, 1))
    for i0 in range(0, m_left.shape[0], step):
        yield i0, m_left[i0:i0 + step] @ m_right.T


def _auto_chunks(n_hint: int, cores: int) -> int:
    """Size the chunk grid from a row-count HINT (no Spark job): one
    chunk per ``_CHUNK_TARGET_ROWS`` rows, and once the input outgrows a
    single target block, floored so chunk-pairs ``c*(c+1)/2 >= 2*cores``
    (the GEMM stays at least 2×-cores wide); capped at 64 chunks
    (2080 tasks) — beyond that pass an explicit value."""
    import math

    by_rows = max(1, -(-n_hint // _CHUNK_TARGET_ROWS))
    if n_hint <= _CHUNK_TARGET_ROWS:
        return by_rows
    floor_c = math.ceil((math.sqrt(16 * cores + 1) - 1) / 2)
    return min(64, max(by_rows, floor_c))


def cosine_pairs_blocked(embs: DataFrame, threshold: float,
                         vec_col: str = "embedding", id_col: str = "vec_id",
                         chunks: int | None = None, n_hint: int | None = None,
                         round_digits: int = 4,
                         slice_elems: int = _GEMM_SLICE_ELEMS) -> DataFrame:
    """EXACT all pairs (a < b) with cosine >= threshold, fully
    distributed — nothing is ever collected to the driver.

    Chunk-pair block decomposition: every row lands in chunk
    ``c = pmod(xxhash64(id), chunks)``; each unordered chunk pair
    (ca <= cb) becomes one ``applyInPandas`` group holding chunk ca as
    the left matrix and chunk cb as the right, so each group runs one
    GEMM of ~(n/chunks)² and every id pair is examined in exactly one
    group.  Rows replicate ``chunks`` times through the single shuffle
    (key = (ca, cb)); total flops are the same O(n²·d) as any exact
    all-pairs, but spread over chunks·(chunks+1)/2 tasks — at scale you
    raise ``chunks`` so each block fits executor memory (replication
    grows linearly while block size shrinks quadratically).

    Same rounding/threshold contract as ``cosine_pairs_gemm``, so the
    two are drop-in interchangeable and share the exact SQL oracle.

    Plan construction is LAZY — no Spark action ever runs here (r3
    regression: ``chunks=None`` used to ``embs.count()`` at build time,
    eagerly executing the whole upstream pipeline once per call).  When
    ``chunks`` is None the grid is sized from ``n_hint`` (callers that
    read parquet can take it from the file footer's row count for free)
    via ``_auto_chunks``; with no hint either, a fixed data-independent
    8 (36 chunk-pair tasks) — the shape that benched best at small SF.
    """
    import numpy as np
    import pandas as pd

    if chunks is None:
        cores = embs.sparkSession.sparkContext.defaultParallelism
        chunks = _auto_chunks(n_hint, cores) if n_hint is not None else 8

    src = embs.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(chunks)).alias("c"),
    )
    # replicate: row in chunk c joins every group (min(c,j), max(c,j));
    # 'L' marks membership on the ca side, 'R' on the cb side.
    pairs_of = F.array_distinct(F.array(*[
        F.struct(
            F.least(F.col("c"), F.lit(j)).alias("ca"),
            F.greatest(F.col("c"), F.lit(j)).alias("cb"),
        )
        for j in range(chunks)
    ]))
    tagged = (
        src.withColumn("g", F.explode(pairs_of))
        .select("id", "v", F.col("g.ca").alias("ca"), F.col("g.cb").alias("cb"),
                F.col("c"))
    )

    emit_floor = threshold - 1e-6
    schema = "id_a long, id_b long, sim_raw double"

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64"),
                              "sim_raw": pd.Series([], dtype="float64")})
        if len(pdf) < 2:
            return empty
        ca, cb = int(pdf["ca"].iloc[0]), int(pdf["cb"].iloc[0])
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        m = np.array(list(pdf["v"]), dtype=np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        out_a, out_b, out_s = [], [], []
        if ca == cb:
            # row-blocked (never the whole n×n sims matrix — see
            # _GEMM_SLICE_ELEMS); jj > global row index keeps the
            # strict upper triangle exactly as triu_indices did
            for i0, sims in _sims_slices(m, m, slice_elems):
                ii, jj = np.nonzero(sims >= emit_floor)
                gi = ii + i0
                keep = jj > gi
                out_a.append(ids[gi[keep]])
                out_b.append(ids[jj[keep]])
                out_s.append(sims[ii[keep], jj[keep]])
        else:
            left = (pdf["c"] == ca).to_numpy()
            li, ri = np.nonzero(left)[0], np.nonzero(~left)[0]
            if len(li) == 0 or len(ri) == 0:
                return empty
            ml, mr = m[li], m[ri]
            for i0, sims in _sims_slices(ml, mr, slice_elems):
                ii, jj = np.nonzero(sims >= emit_floor)
                ga, gb = ids[li[ii + i0]], ids[ri[jj]]
                swap = ga > gb  # orient id_a < id_b whatever the chunks
                out_a.append(np.where(swap, gb, ga))
                out_b.append(np.where(swap, ga, gb))
                out_s.append(sims[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "sim_raw": np.concatenate(out_s)})

    pairs = tagged.groupBy("ca", "cb").applyInPandas(
        lambda pdf: gemm(pdf), schema=schema)
    return (
        pairs.withColumn("sim", F.round("sim_raw", round_digits))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


#: executor-side cache of hyperplane sign matrices, keyed by
#: (planes, dim, offset) — rebuilt at most once per Python worker
_SIGN_CACHE: dict = {}


def _sign_matrix(planes: int, dim: int, offset: int = 0):
    """±1 hyperplane components: +1 iff the first hex nibble of
    md5("i:j") is even.  Pure constants — computed once per worker,
    not per row."""
    import hashlib

    import numpy as np

    key = (planes, dim, offset)
    if key not in _SIGN_CACHE:
        s = np.empty((planes, dim), dtype=np.float64)
        for i in range(planes):
            for j in range(dim):
                h = hashlib.md5(f"{i + offset}:{j}".encode()).hexdigest()
                s[i, j] = 1.0 if int(h[0], 16) % 2 == 0 else -1.0
        _SIGN_CACHE[key] = s
    return _SIGN_CACHE[key]


def banded_hyperplane_buckets(embs: DataFrame, planes: int, bands: int,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id") -> DataFrame:
    """(id, v, band_bucket) with one row per band — the OR-banding keys
    of every vector, all ``bands × planes`` signature bits computed in a
    single ``M @ S.T`` GEMM per Arrow batch (a column-expression form
    would interpret dim × planes md5 calls PER ROW).  Plane i's sign
    comes from md5("i:j") (see ``_sign_matrix``), MSB = lowest plane
    index; float summation order differs from a sequential fold, so a
    dot product within ~1e-12 of zero can land in a different bucket —
    candidate recall moves (gated by the recall-floor tests), verified
    pair values never do.
    """
    import numpy as np
    import pandas as pd

    total = planes * bands

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["v"]), dtype=np.float64)
            s = _sign_matrix(total, m.shape[1])
            bits = (m @ s.T) >= 0  # [n, total]
            weights = np.array(
                [1 << (planes - 1 - i) for i in range(planes)],
                dtype=np.int64)
            out_ids, out_v, out_bb = [], [], []
            for b in range(bands):
                seg = bits[:, b * planes:(b + 1) * planes]
                buckets = seg @ weights
                out_ids.append(pdf["id"].to_numpy())
                out_v.extend(pdf["v"])
                out_bb.extend(f"{b}:{int(x)}" for x in buckets)
            yield pd.DataFrame({
                "id": np.concatenate(out_ids),
                "v": out_v,
                "band_bucket": out_bb,
            })

    src = embs.select(F.col(id_col).alias("id"),
                      as_double(F.col(vec_col)).alias("v"))
    return src.mapInPandas(
        kernel, schema="id long, v array<double>, band_bucket string")


#: bucket-size target for auto-sized hyperplane signatures: per-bucket
#: GEMM work is O(bucket²), so buckets should stay ~4k rows regardless
#: of corpus size
_LSH_TARGET_BUCKET_ROWS = 4096


def _auto_bands(planes: int, design_sim: float, target_recall: float,
                floor: int = 6, cap: int = 24) -> int:
    """Bands needed so a pair at ``design_sim`` is recalled with
    probability >= ``target_recall`` under ``planes``-bit signatures:
    recall = 1 − (1 − p^planes)^bands with p = 1 − acos(s)/π.  As
    :func:`_auto_planes` grows the signature log2 with the corpus,
    per-band collision probability falls and a FIXED band count
    silently sheds recall per decade (r12 review: 98.9% at sf10 →
    94.5% at sf100 for the cos-0.95 planted pairs); growing bands to
    the formula holds the design-point recall constant at linear
    shuffle cost.  Floored at the engine's design default (6), capped
    so a mis-set design point cannot explode the band explode."""
    import math

    p = 1.0 - math.acos(min(1.0, max(-1.0, design_sim))) / math.pi
    per_band = p ** planes
    if per_band >= 1.0:
        return floor
    if per_band <= 0.0 or 1.0 - per_band == 1.0:
        # per-band collision probability underflowed (low design_sim ×
        # wide auto signature): log(1-p) is 0.0 and the division below
        # would ZeroDivisionError.  Even `cap` bands cannot hold the
        # recall target here, so return the cap — the most bands the
        # budget allows — rather than crash (r12 ADVICE).
        return cap
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - per_band))
    return min(cap, max(floor, b))


def _auto_planes(n_hint: int | None, floor: int = 3) -> int:
    """Size the per-band signature width from a row-count HINT (no
    Spark job): ``2^planes`` buckets per band, aimed at
    ``_LSH_TARGET_BUCKET_ROWS`` rows per bucket.  With no hint, the
    small-SF default 3 (8 buckets/band — the shape that benched best at
    driver scale).  The r12 find: at 2M rows the fixed default left
    250k-row buckets — ~100x the GEMM flops of the 8-plane signature
    the r11 sf100 probe used; planes MUST grow log2 with the corpus or
    the per-bucket quadratic eats the banding's entire point."""
    import math

    if not n_hint or n_hint <= _LSH_TARGET_BUCKET_ROWS:
        return floor
    return max(floor, math.ceil(math.log2(n_hint / _LSH_TARGET_BUCKET_ROWS)))


def _resolve_lsh_shape(planes: int | None, bands: int | None,
                       n_hint: int | None, design_sim: float | None,
                       threshold: float,
                       target_recall: float) -> tuple[int, int]:
    """Resolve the (planes, bands) signature shape for
    :func:`cosine_pairs_lsh`.  Explicit values always win.  ``planes``
    auto-sizes from ``n_hint`` via :func:`_auto_planes`; when that
    auto-grows the signature ABOVE the small-SF default and the caller
    gave no design point, the design point defaults to the verify
    ``threshold`` — the weakest pair the caller asked for — because a
    caller passing ``n_hint`` opted into scale behavior and a silently
    fixed band count reproduces the exact per-decade recall decay the
    auto-sizing exists to fix (98.9% → 94.5% between sf10 and sf100
    for the planted cos-0.95 pairs; r12 ADVICE)."""
    if planes is None:
        planes = _auto_planes(n_hint)
        if planes > _auto_planes(None) and bands is None and design_sim is None:
            design_sim = threshold
    if bands is None:
        bands = (_auto_bands(planes, design_sim, target_recall)
                 if design_sim is not None else 6)
    return planes, bands


def cosine_pairs_lsh(embs: DataFrame, threshold: float,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     planes: int | None = None, bands: int | None = None,
                     round_digits: int = 4,
                     slice_elems: int = _GEMM_SLICE_ELEMS,
                     n_hint: int | None = None,
                     design_sim: float | None = None,
                     target_recall: float = 0.98) -> DataFrame:
    """All-pairs near-duplicate search that scales: ``bands``
    independent random-hyperplane signatures of ``planes`` bits each;
    a pair is a candidate if it collides in ANY band (minhash-style
    OR-banding), each bucket verified by one GEMM.

    Unlike ``cosine_pairs_gemm`` (which broadcasts the full reference
    matrix — right only when one side is bounded), nothing is collected
    to the driver: the single shuffle key is (band, bucket), and each
    bucket multiplies its own matrix inside ``applyInPandas``.  Recall
    < 1 by design; bands raise recall (1-(1-p^planes)^bands), planes
    shrink buckets.  ``planes=None`` auto-sizes from ``n_hint`` (take
    it from the parquet footer for free) via :func:`_auto_planes`, so
    per-bucket GEMMs stay ~``_LSH_TARGET_BUCKET_ROWS``² at any corpus
    size; at driver scales the auto value IS the old default 3, so
    contract values are unchanged.  ``bands=None`` keeps the design
    default 6 unless ``design_sim`` is given, in which case
    :func:`_auto_bands` grows bands to hold ``target_recall`` at that
    similarity as the auto signature widens — without it recall at a
    fixed similarity DROPS per decade (r12: 98.9% → 94.5% for the
    planted cos-0.95 pairs between sf10 and sf100).
    """
    import numpy as np
    import pandas as pd

    planes, bands = _resolve_lsh_shape(planes, bands, n_hint, design_sim,
                                       threshold, target_recall)

    src = banded_hyperplane_buckets(embs, planes, bands, vec_col, id_col)

    emit_floor = threshold - 1e-6
    schema = "id_a long, id_b long, sim_raw double"

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim_raw": []})
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        m = np.array(list(pdf["v"]), dtype=np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        # row-blocked: a hot bucket's whole sims matrix is O(n²) —
        # 5 GB float64 at 25k rows; 32 workers OOM-killed the machine
        # on the first sf10 run (see _GEMM_SLICE_ELEMS)
        out_a, out_b, out_s = [], [], []
        for i0, sims in _sims_slices(m, m, slice_elems):
            ii, jj = np.nonzero(sims >= emit_floor)
            gi = ii + i0
            keep = jj > gi  # strict upper triangle
            out_a.append(ids[gi[keep]])
            out_b.append(ids[jj[keep]])
            out_s.append(sims[ii[keep], jj[keep]])
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "sim_raw": np.concatenate(out_s)})

    pairs = (
        src.groupBy("band_bucket").applyInPandas(
            lambda pdf: gemm(pdf), schema=schema)
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.withColumn("sim", F.round("sim_raw", round_digits))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def ivf_assign(embs: DataFrame, n_cells: int = 16,
               vec_col: str = "embedding", id_col: str = "vec_id"):
    """IVF coarse quantizer: deterministic centroids (the ``n_cells``
    lowest-id vectors — sample-based init, no RNG, no k-means loop) and
    the cell assignment of every vector.

    Returns (centroids ndarray [n_cells, dim], assigned DataFrame with a
    ``cell`` column).  The centroid table is tiny and broadcast; the
    corpus streams through one numpy argmax pass.
    """
    import numpy as np

    rows = (embs.orderBy(id_col).limit(n_cells)
            .select(as_double(F.col(vec_col)).alias("v")).collect())
    cent = np.array([r["v"] for r in rows], dtype=np.float64)
    cent_n = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    spark = embs.sparkSession
    b_cent = spark.sparkContext.broadcast(cent_n)

    src = embs.select(F.col(id_col).alias("id"),
                      as_double(F.col(vec_col)).alias("v"))

    def assign(batches):
        import pandas as pd

        c = b_cent.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["v"]), dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            cells = (m @ c.T).argmax(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "v": pdf["v"],
                                "cell": cells.astype("int32")})

    assigned = src.mapInPandas(assign, schema="id long, v array<double>, "
                                              "cell int")
    return cent_n, assigned


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    n_cells: int = 16, n_probe: int = 4,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    round_digits: int = 4) -> DataFrame:
    """Approximate top-k via IVF: corpus bucketed into ``n_cells``
    Voronoi cells, each query probes its ``n_probe`` nearest cells and
    searches those exactly.

    Same output schema as ``cosine_topk``; recall < 1 by design.  The
    scale shape: the only shuffle is the (cell) equi-join; the inverted
    lists are the partition layout at 100 TB (cell = partition key).
    """
    import numpy as np

    cent, assigned = ivf_assign(corpus, n_cells, vec_col, id_col)
    spark = corpus.sparkSession
    b_cent = spark.sparkContext.broadcast(cent)

    q = queries.select(F.col(id_col).alias("q_id"),
                       as_double(F.col(vec_col)).alias("q_vec"))

    def probe(batches):
        import pandas as pd

        c = b_cent.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["q_vec"]), dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            order = np.argsort(-(m @ c.T), axis=1)[:, :n_probe]
            out = pdf.loc[pdf.index.repeat(n_probe)].reset_index(drop=True)
            out["cell"] = order.ravel().astype("int32")
            yield out[["q_id", "q_vec", "cell"]]

    probed = q.mapInPandas(probe, schema="q_id long, q_vec array<double>, "
                                         "cell int")
    scored = (
        assigned.join(F.broadcast(probed), on="cell")
        .where(F.col("q_id") != F.col("id"))
        .select("q_id", F.col("id").alias("c_id"),
                F.round(cosine(F.col("q_vec"), F.col("v")),
                        round_digits).alias("sim"))
    )
    w = F.row_number().over(
        Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id")))
    return scored.withColumn("rank", w).where(F.col("rank") <= k)


def scalar_quantize(embs: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """int8-style scalar quantization of an embedding column:
    ``(id, codes, mse)`` where codes are per-dimension
    ``floor((x - mn_d) / (mx_d - mn_d) * 255 + 0.5)`` against GLOBAL
    per-dimension min/max, and mse is the reconstruction error — the
    4x memory compression an ANN serving tier applies before indexing
    (the scalar little sibling of product quantization).

    Scale shape: the per-dimension stats are a posexplode + (dim)
    groupBy that reduces to ``dim`` rows, reassembled into two arrays
    in a ONE-ROW frame and broadcast (bounded by construction — same
    pattern as tx_tfidf's corpus-size broadcast); quantization itself
    is a single ``transform`` over ``arrays_zip``, pure codegen, no
    Python.  ``floor(t + 0.5)`` not ``round``: Spark rounds HALF_UP,
    other engines HALF_EVEN — floor+0.5 is the same bits everywhere.
    """
    v = F.col(vec_col).cast("array<double>")
    base = embs.select(F.col(id_col).alias("id"), v.alias("v"))
    dims = base.select(F.posexplode("v").alias("i", "x"))
    stats = dims.groupBy("i").agg(F.min("x").alias("mn"),
                                  F.max("x").alias("mx"))
    one = stats.groupBy().agg(
        F.transform(F.array_sort(F.collect_list(F.struct("i", "mn"))),
                    lambda s: s["mn"]).alias("mns"),
        F.transform(F.array_sort(F.collect_list(F.struct("i", "mx"))),
                    lambda s: s["mx"]).alias("mxs"),
    )

    def code_of(s):
        rng = s["mxs"] - s["mns"]
        t = (s["v"] - s["mns"]) / rng * 255.0 + 0.5
        return (F.when(rng > 0, F.floor(t))
                .otherwise(F.lit(0)).cast("bigint"))

    def sqerr_of(s):
        recon = s["mns"] + code_of(s) / 255.0 * (s["mxs"] - s["mns"])
        d = s["v"] - recon
        return d * d

    zipped = F.arrays_zip(F.col("v"), F.col("mns"), F.col("mxs"))
    return (
        base.crossJoin(F.broadcast(one))
        .select(
            "id",
            F.array_join(
                F.transform(zipped, lambda s: code_of(s).cast("string")),
                ",", null_replacement="null").alias("codes"),
            F.round(
                F.aggregate(F.transform(zipped, sqerr_of), F.lit(0.0),
                            lambda acc, x: acc + x) / F.size("v"),
                6).alias("mse"),
        )
    )


def quant_rerank_topk(embs: DataFrame, probe_max_id: int = 10,
                      coarse_k: int = 50, k: int = 5,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Two-stage quantized retrieval (X47): the ANN *serving* pattern —
    a cheap int8 coarse scan picks ``coarse_k`` candidates per query,
    then only those are re-ranked with exact float cosine.

    Why this is the 100 TB shape: the coarse pass streams the corpus
    once computing |Q| INTEGER dot products per row over 4x-compressed
    codes (the memory-bandwidth win quantization exists for), and the
    expensive float math touches coarse_k·|Q| rows instead of N·|Q|.
    The integer scores are bit-identical on any engine (exact
    arithmetic), so unlike float-score ANN the candidate CUT is
    deterministic — no boundary ties to a rounding digit.  The probe
    side is bounded by construction (same contract as ``cosine_topk``);
    the rank windows partition on the bounded query id.
    """
    base = embs.select(F.col(id_col).alias("id"),
                       as_double(F.col(vec_col)).alias("v"))
    dims = base.select(F.posexplode("v").alias("i", "x"))
    stats = dims.groupBy("i").agg(F.min("x").alias("mn"),
                                  F.max("x").alias("mx"))
    one = stats.groupBy().agg(
        F.transform(F.array_sort(F.collect_list(F.struct("i", "mn"))),
                    lambda s: s["mn"]).alias("mns"),
        F.transform(F.array_sort(F.collect_list(F.struct("i", "mx"))),
                    lambda s: s["mx"]).alias("mxs"))

    def code_of(s):
        rng = s["mxs"] - s["mns"]
        t = (s["v"] - s["mns"]) / rng * 255.0 + 0.5
        return (F.when(rng > 0, F.floor(t))
                .otherwise(F.lit(0)).cast("bigint"))

    zipped = F.arrays_zip(F.col("v"), F.col("mns"), F.col("mxs"))
    coded = (base.crossJoin(F.broadcast(one))
             .select("id", "v",
                     F.transform(zipped, code_of).alias("qc")))
    probes = (coded.where(F.col("id") < probe_max_id)
              .select(F.col("id").alias("q_id"), F.col("v").alias("pv"),
                      F.col("qc").alias("pc")))
    iscore = F.aggregate(
        F.zip_with(F.col("qc"), F.col("pc"), lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    coarse = (coded.join(F.broadcast(probes),
                         F.col("q_id") != F.col("id"))
              .select("q_id", F.col("id").alias("c_id"), "v", "pv",
                      iscore.alias("iscore")))
    wc = Window.partitionBy("q_id").orderBy(F.desc("iscore"),
                                            F.asc("c_id"))
    cand = (coarse.withColumn("crank", F.row_number().over(wc))
            .where(F.col("crank") <= coarse_k))
    rr = cand.select(
        "q_id", "c_id", "iscore",
        F.round(cosine(F.col("pv"), F.col("v")), 4).alias("sim"))
    wf = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (rr.withColumn("rank", F.row_number().over(wf))
            .where(F.col("rank") <= k))


def rp_signs(in_dim: int, out_dim: int, seed: str = "rp") -> list:
    """Deterministic ±1 projection matrix derived from md5 — the
    Achlioptas/J-L sign matrix, reproducible in any engine (the oracle
    generator inlines the identical literals).  Row j is the sign
    vector of output dimension j."""
    import hashlib

    return [
        [1.0 if int(hashlib.md5(f"{seed}:{j}:{i}".encode())
                    .hexdigest()[:2], 16) < 128 else -1.0
         for i in range(in_dim)]
        for j in range(out_dim)
    ]


def random_project(embs: DataFrame, in_dim: int, out_dim: int = 8,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   round_digits: int = 6) -> DataFrame:
    """Random-projection dimensionality reduction (X60): project each
    vector onto ``out_dim`` deterministic ±1 directions — the
    Johnson-Lindenstrauss front end that shrinks embeddings before an
    ANN index at scale (64→8 here; distances are preserved within
    (1±ε) w.h.p., and the sign matrix needs no training pass).

    Pure row-local column arithmetic (one ``zip_with``+``aggregate``
    dot product per output dim against a LITERAL sign array) — zero
    shuffle, zero Python, pipelines at scan speed.  Projections are
    rounded before leaving the operator so downstream ranking is
    engine-exact; the unnormalized signed sum is emitted (the 1/√k
    scale is a constant that cancels in any cosine/rank use).
    """
    signs = rp_signs(in_dim, out_dim)
    v = as_double(F.col(vec_col))
    return embs.select(
        F.col(id_col),
        *[F.round(dot(v, F.array(*[F.lit(s) for s in signs[j]])),
                  round_digits).alias(f"y{j}")
          for j in range(out_dim)],
    )


def pq_encode(embs: DataFrame, n_sub: int = 8, n_codes: int = 16,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Product quantization (X93) [Jégou et al. 2011]: split each
    vector into ``n_sub`` subspaces and code each subvector as its
    nearest of ``n_codes`` per-subspace codebook entries —
    ``(id, codes, sqerr)`` with an 8-byte code replacing 256 bytes of
    floats, the compression IVF-PQ serving tiers run at 100 TB.

    Everything is INTEGER-exact so a SQL engine reproduces the argmin
    bit-for-bit: vectors pre-quantize to floor-millis int64 (the x63
    trick — pre-quantization before PQ is standard practice), so
    subspace distances are exact integer sums, and the code pick
    minimizes ``dist * n_codes + code`` — tiebreak-by-code fused into
    one integer key, immune to float summation order (numpy pairwise
    vs SQL sequential sums over floats WOULD split near ties).

    The codebook is sample-init (subvectors of the ``n_codes``
    lowest-id vectors — deterministic, no RNG, no Lloyd rounds; the
    same init discipline as ``ivf_assign``), collected once (bounded:
    ``n_codes`` rows) and broadcast; encoding streams through ONE
    Arrow-batched numpy pass, zero shuffles.
    """
    import numpy as np

    v_int = F.transform(as_double(F.col(vec_col)),
                        lambda x: F.floor(x * 1000).cast("long"))
    base = embs.select(F.col(id_col).alias("id"), v_int.alias("v"))
    rows = base.orderBy("id").limit(n_codes).select("v").collect()
    cb = np.array([r["v"] for r in rows], dtype=np.int64)
    spark = embs.sparkSession
    b_cb = spark.sparkContext.broadcast(cb)

    def enc(batches):
        import pandas as pd

        c = b_cb.value
        arange = np.arange(n_codes, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["v"]), dtype=np.int64)
            sub = m.shape[1] // n_sub
            codes = np.empty((len(pdf), n_sub), dtype=np.int64)
            err = np.zeros(len(pdf), dtype=np.int64)
            for s in range(n_sub):
                ms = m[:, s * sub:(s + 1) * sub]
                cs = c[:, s * sub:(s + 1) * sub]
                d = ((ms[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
                kmin = (d * n_codes + arange[None, :]).min(axis=1)
                codes[:, s] = kmin % n_codes
                err += kmin // n_codes
            yield pd.DataFrame({
                "id": pdf["id"],
                "codes": [",".join(map(str, r)) for r in codes],
                "sqerr": err,
            })

    return base.mapInPandas(enc, schema="id long, codes string, sqerr long")
