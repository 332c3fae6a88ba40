"""Deterministic hashing / sketching primitives for dedup & fingerprinting.

Everything is built on md5 so the identical computation is expressible in
Spark SQL *and* in the DuckDB oracle SQL (both expose ``md5(text) → hex``),
making every sketch hash-checkable cross-engine.  All of it is column
arithmetic — no Python UDFs.

- ``word_shingles``  — n-word shingles
- ``minhash_base`` / ``minhash_perm`` — the minhash family: ONE md5
                        base hash per shingle fed through k universal-
                        hash permutations (a_i·h+b_i mod 2^61−1) —
                        integer arithmetic both engines compute
                        bit-identically
- ``lsh_bands``      — banding of the signature for LSH candidate buckets
- ``jaccard`` / ``jaccard_ge`` / ``jaccard_prebound`` — set similarity
                        and its exact threshold tests
- ``hamming64``      — Hamming distance between two SimHash values
- ``fingerprint``    — md5 of whitespace/case-normalized text (rolling-hash
                        analog for exact-after-normalization dedup)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_text(text: Column) -> Column:
    """Whitespace-collapse + lowercase — normalization used before hashing."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def norm_text_sql(text: str) -> str:
    return f"lower(trim(regexp_replace({text}, '\\s+', ' ', 'g')))"


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint (md5 of normalized text)."""
    return F.md5(norm_text(text))


def fingerprint_sql(text: str) -> str:
    return f"md5({norm_text_sql(text)})"


def word_shingles(text: Column, n: int = 3) -> Column:
    """array<string> of n-word shingles of the normalized text (distinct).

    Texts with fewer than ``n`` words yield a single shingle (the whole
    normalized text); empty text yields an empty array.
    """
    t = norm_text(text)
    words = F.filter(F.split(t, " "), lambda w: w != "")
    cnt = F.size(words)
    idx = F.sequence(F.lit(1), cnt - (n - 1))
    full = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)])
    )
    return F.array_distinct(
        F.when(cnt == 0, F.array().cast("array<string>"))
        .when(cnt < n, F.array(t))
        .otherwise(full)
    )


#: MinHash universal-hash family h_i(s) = (a_i·base(s) + b_i) mod P over
#: one shared base hash per shingle — ONE md5 per shingle instead of
#: num_hashes of them (16× less hashing; at 100 TB the hash work IS the
#: minhash cost).  P is the Mersenne prime 2^61−1; base < 2^31 and
#: a_i < 2^21, so a_i·base + b_i < 2^52 — no overflow on either engine
#: (Spark ANSI would raise, DuckDB would error; both stay in range).
MINHASH_P = (1 << 61) - 1
MINHASH_M = 1 << 31


def minhash_a(i: int) -> int:
    return 1000003 + 7919 * i


def minhash_b(i: int) -> int:
    return 12345 + 69061 * i


def minhash_base(s: Column) -> Column:
    """Shared base hash: first 15 hex digits of md5 (60 bits), reduced
    mod 2^31.  Two shingles colliding here collide in every h_i — at
    probability ~n²/2⁶¹, negligible for any real corpus."""
    return F.pmod(
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        F.lit(MINHASH_M))


def minhash_base_sql(s: str) -> str:
    return (f"(CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT) "
            f"% {MINHASH_M})")


def minhash_perm(i: int, base: Column) -> Column:
    """The i-th minhash function applied to a base hash column."""
    return F.pmod(F.lit(minhash_a(i)) * base + F.lit(minhash_b(i)),
                  F.lit(MINHASH_P))


def minhash_perm_sql(seed_expr: str, base_expr: str) -> str:
    """SQL mirror of :func:`minhash_perm` with the seed as an expression
    (DuckDB generate_series), a_i/b_i inlined as the same formulas."""
    return (f"(((1000003 + 7919 * {seed_expr}) * {base_expr} "
            f"+ (12345 + 69061 * {seed_expr})) % {MINHASH_P})")


def lsh_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<string> of band keys 'b|h(band slice)' for LSH bucketing.
    Accepts string or numeric signatures (bigint minhashes are rendered
    in decimal — identical text on both engines)."""
    sig = sig.cast("array<string>")
    keys = []
    for b in range(bands):
        sl = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        keys.append(F.concat(F.lit(f"{b}|"), F.md5(F.concat_ws(",", sl))))
    return F.array(*keys)


def lsh_bands_sql(sig: str, bands: int, rows_per_band: int) -> str:
    """SQL-string form of :func:`lsh_bands` — ONE parsed expression
    instead of ~5 py4j Column calls per band (the r14 construction
    rule: this box's py4j round trip measures ~5 ms, so wide Column
    chains are construction-bound).  ``sig`` is the SQL text of an
    array<string>-castable signature expression."""
    keys = ", ".join(
        f"concat('{b}|', md5(concat_ws(',', "
        f"slice(CAST({sig} AS ARRAY<STRING>), "
        f"{b * rows_per_band + 1}, {rows_per_band}))))"
        for b in range(bands))
    return f"array({keys})"


def jaccard_sql(a: str, b: str) -> str:
    """SQL-string form of :func:`jaccard` (same expression tree after
    parsing — the Column form also duplicates the intersect subtree,
    Catalyst does not CSE either)."""
    i = f"size(array_intersect({a}, {b}))"
    u = f"((size({a}) + size({b})) - {i})"
    return (f"CASE WHEN ({u} = 0) THEN CAST(0.0 AS DOUBLE) "
            f"ELSE (CAST({i} AS DOUBLE) / CAST({u} AS DOUBLE)) END")


def jaccard_ge_sql(a: str, b: str, threshold: float) -> str:
    """SQL-string form of :func:`jaccard_ge` — identical ordered
    bound-then-exact predicate, one parse."""
    i = f"size(array_intersect({a}, {b}))"
    pre = jaccard_prebound_sql(i, f"size({a})", f"size({b})", threshold)
    return (f"({pre} AND (round({jaccard_sql(a, b)}, 6) >= "
            f"CAST({threshold!r} AS DOUBLE)))")


def jaccard_prebound_sql(inter_count: str, size_a: str, size_b: str,
                         threshold: float) -> str:
    """SQL-string form of :func:`jaccard_prebound` (same exact integer
    algebra; see there)."""
    t8 = int(round(threshold * 1e8)) - 50
    return (f"((CAST({inter_count} AS BIGINT) * CAST({10**8 + t8} AS "
            f"BIGINT)) >= (CAST({t8} AS BIGINT) * "
            f"CAST(({size_a} + {size_b}) AS BIGINT)))")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array sets (inputs MUST be
    duplicate-free — every caller feeds collect_set/array_distinct
    output).  |A∪B| is computed as |A|+|B|−|A∩B| instead of a second
    hash-set build: array_intersect/array_union each allocate and fill
    a hash set per EVALUATION (~3 µs on 50-element arrays), and the
    verify paths evaluate this once per candidate pair — measured ~2×
    on dd_minhash_lsh's verify stage.  Identical values: for sets the
    identity is exact in integer arithmetic, so the divide sees the
    same operands."""
    inter = F.size(F.array_intersect(a, b))
    un = F.size(a) + F.size(b) - inter
    return F.when(un == 0, F.lit(0.0)).otherwise(inter.cast("double") / un.cast("double"))


def jaccard_ge(a: Column, b: Column, threshold: float) -> Column:
    """Ordered predicate ``round(jaccard(a, b), 6) >= threshold`` for
    duplicate-free arrays — the form every verify stage should filter
    with.  Catalyst folds verify filters into join CONDITIONS, where
    common subexpressions are NOT eliminated, so the naive check costs
    three array_intersect hash-set builds per candidate; here a
    ONE-intersect necessary bound short-circuits the exact check down
    to the near-threshold sliver (``jaccard_prebound``'s exact integer
    cutoff — see there for the algebra).  The And short-circuit keeps
    values identical — the exact check decides."""
    inter = F.size(F.array_intersect(a, b))
    pre = jaccard_prebound(inter, F.size(a), F.size(b), threshold)
    return pre & (F.round(jaccard(a, b), 6) >= threshold)


def jaccard_prebound(inter_count: Column, size_a: Column, size_b: Column,
                     threshold: float) -> Column:
    """The necessary integer bound of :func:`jaccard_ge` — EXACT, no
    slack (r14; the floor(·)−1 float form it replaces admitted up to 2
    extra integer steps of near-threshold sliver, 21× the true pairs on
    dd_minhash_lsh's sf100 candidates).  Also exposed for callers whose
    intersection count is an UPPER bound computed from a cheaper
    projection (the int16 tier-1 verifies): any count ≥ the true one
    also passes, so no true pair is ever dropped.  ``size_a``/
    ``size_b`` must be the TRUE set sizes.

    Algebra, all in exact integers: round(j,6) ≥ t (HALF_UP) ⟺
    j ≥ t − 5e-7 =: t′ for exact rationals j = i/(S−i), S = |A|+|B|;
    with T := round(t·10⁸) − 50 (= t′·10⁸ exactly for any threshold of
    ≤6 decimals), i/(S−i) ≥ T/10⁸ ⟺ i·(10⁸+T) ≥ T·S — int64-safe to
    i ~ 8e10.  A double j within 1 ulp of the boundary cannot flip the
    comparison the exact check performs: the nearest distinct rational
    i/(S−i) to T/10⁸ differs by ≥ 1/(10⁸·(S−i)) ≫ the ~1e-17 shortest-
    repr wobble of round(double, 6) for any S < 10⁷."""
    t8 = int(round(threshold * 1e8)) - 50
    # both factors cast to BIGINT: size()/array counts arrive as INT
    # and an int32 product overflows (ANSI) at inter ~ 20
    return (inter_count.cast("long") * F.lit(10**8 + t8).cast("long")
            >= F.lit(t8).cast("long") * (size_a + size_b).cast("long"))


# --- SimHash -----------------------------------------------------------------

def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two bigint hash values."""
    return F.bit_count(a.bitwiseXOR(b))
