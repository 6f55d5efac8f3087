"""Portable deterministic hashing shared by the pipeline operators.

The hash of record is ``h32``: the first 8 hex chars of md5, read as an
unsigned 32-bit integer.  md5 of a UTF-8 string is identical in every engine,
so a DuckDB (or any ANSI SQL) oracle can reproduce MinHash/SimHash/LSH
results exactly:

    Spark : conv(substring(md5(s), 1, 8), 16, 10)::long
    DuckDB: CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)

All derived hashes stay below 2**62 so they are safe under Spark's ANSI-mode
overflow checking (a < 2**30, h < 2**32 → a*h + b < 2**63).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, functions as F

#: modulus for universal hashing: smallest prime > 2**32
MERSENNE_P = 4294967311
#: modulus for polynomial fingerprints
FP_MOD = 1_000_000_007
FP_BASE = 31


def hbits(col: Column, nbits: int = 32) -> Column:
    """First ``nbits`` bits of md5(col) as a non-negative long.

    ``nbits`` must be a multiple of 4 and ≤ 60 (15 hex chars < 2**60 keeps
    the value positive in a signed 64-bit long on every engine)."""
    assert nbits % 4 == 0 and 0 < nbits <= 60, nbits
    return F.conv(F.substring(F.md5(col), 1, nbits // 4), 16, 10).cast("long")


def hbits_sql(expr: str, nbits: int = 32) -> str:
    """DuckDB SQL equivalent of :func:`hbits`."""
    assert nbits % 4 == 0 and 0 < nbits <= 60, nbits
    return f"CAST('0x' || substr(md5({expr}), 1, {nbits // 4}) AS BIGINT)"


def h32(col: Column) -> Column:
    """First 32 bits of md5(col) as a long in [0, 2**32)."""
    return hbits(col, 32)


def h32_sql(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`h32`."""
    return hbits_sql(expr, 32)


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    ``(a*h + b) % MERSENNE_P``.  ``a`` is capped below 2**30 to keep
    ``a*h`` within int64 under ANSI overflow checks."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, MERSENNE_P))
        for _ in range(num_hashes)
    ]


def hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix for sign-LSH, embedded as
    literals on both the Spark and the SQL-oracle side."""
    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def lsh_bands(n_planes: int, band_bits: int) -> int:
    """Validated band count for banded sign-LSH: ``n_planes / band_bits``.

    Raises instead of silently degrading: ``band_bits > n_planes`` would
    yield zero bands (an empty index and an unfilterable probe), and a
    non-divisible ``n_planes`` would silently ignore the trailing planes.
    """
    if band_bits <= 0 or n_planes <= 0:
        raise ValueError(
            f"n_planes and band_bits must be positive, got "
            f"n_planes={n_planes}, band_bits={band_bits}"
        )
    if n_planes % band_bits != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must be divisible by band_bits "
            f"({band_bits}) — trailing planes would be silently ignored"
        )
    return n_planes // band_bits


def arr_sql(vals: list[float]) -> str:
    """SQL double-array literal.  ``repr(float)`` is the shortest
    round-tripping decimal, and Spark's ``…D`` literal parses with
    ``Double.parseDouble`` — so the JVM sees the exact same IEEE-754
    doubles a ``F.lit`` column would carry."""
    return "array(" + ", ".join(repr(float(c)) + "D" for c in vals) + ")"


def dot_sql(a: str, b: str) -> str:
    """SQL fold-left dot product of two array expressions.

    Why SQL strings and not Column algebra: every ``F.lit(list)`` /
    ``F.zip_with(lambda)`` call is a py4j round-trip, and a
    16-plane × 64-dim signature built Column-by-Column costs ~2 s of
    DRIVER time per query before Spark sees any data (measured; ~78 ms per
    64-element ``F.lit`` alone).  One ``F.expr`` ships the whole tree in a
    single round-trip and the JVM parser builds it in ~1 ms.  The resulting
    plan is identical, so execution and results don't change.
    """
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (s, x) -> s + x)"


def dots_sql(v: str, cents: list[list[float]]) -> str:
    """SQL expression: ``array(dot(v, c) for c in cents)`` as ONE
    higher-order ``transform`` over a constant centroid-matrix literal.

    Value-identical to ``array(dot_sql(v, arr_sql(c)) for c in cents)``
    (same per-element fold order), but the expression tree holds one
    aggregate/zip_with node evaluated ``len(cents)`` times by the HOF
    loop instead of ``len(cents)`` unrolled copies — at auto-scaled cell
    counts (``n_cells ∝ corpus``) the unrolled tree blows past the
    codegen size limit and falls back to interpreted eval (measured r8:
    160-cell assignment dominated semantic_dedup's sf1 probe)."""
    matrix = "array(" + ", ".join(arr_sql(c) for c in cents) + ")"
    return (
        f"transform({matrix}, c_ -> "
        f"aggregate(zip_with({v}, c_, (x, y) -> x * y), 0.0D, (s, x) -> s + x))"
    )


def char_shingles(text: Column, k: int = 5, distinct: bool = True) -> Column:
    """Lowercase character k-grams of ``text``.

    ``distinct=True`` dedups (order of first appearance; callers treat it as
    a set). Pass ``distinct=False`` for consumers that are invariant to
    duplicates — e.g. MinHash, where ``min`` over a multiset equals ``min``
    over its support — saving array_distinct's O(len²) comparisons.

    ``lower(text)`` is bound ONCE per row through a 1-element transform
    (the lr_logit_col trick): a plain outer reference inside the inner
    lambda would inline the lower() into every element — re-lowering and
    copying the whole document once PER SHINGLE (measured at sf0.1:
    2x the whole shingle pass)."""
    out = F.element_at(
        F.transform(
            F.array(F.lower(text)),
            # window count stays keyed on length(text) — NOT length(t):
            # toLowerCase may change the character count for a handful
            # of Unicode titlecase forms, and the shingle windows have
            # always been positioned by the RAW length
            lambda t: F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(text) - (k - 1), F.lit(1)),
                ),
                lambda i: t.substr(i, F.lit(k)),
            ),
        ),
        1,
    )
    return F.array_distinct(out) if distinct else out
