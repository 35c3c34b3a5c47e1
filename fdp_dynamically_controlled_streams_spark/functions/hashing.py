"""Portable deterministic hashing for dedup/similarity operators.

Spark's ``xxhash64``/``hash`` are fast but engine-specific; the DuckDB oracle
cannot reproduce them. For oracle-checkable operators we build a 60-bit hash
from ``md5`` (bit-identical in Spark and DuckDB):

    Spark : conv(substring(md5(s), 1, 15), 16, 10) cast to bigint
    DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)

15 hex digits = 60 bits — always non-negative, no overflow ambiguity.
Seeded variants prefix the payload with ``'seed#'`` so k independent hash
functions come from one md5 core (standard MinHash construction; see
Broder 1997, "On the resemblance and containment of documents").

At 100 TB the md5 expression is still JVM-side whole-stage-codegen (no Python);
swap to xxhash64 via ``fast=True`` when oracle portability is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(col: Column | str, seed: int | None = None, fast: bool = False) -> Column:
    """60-bit non-negative hash of a string column, reproducible in ANSI SQL."""
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}#"), c)
    if fast:
        return F.xxhash64(c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash64_sql(expr: str, seed: int | None = None) -> str:
    """DuckDB twin of :func:`portable_hash64`."""
    payload = f"'{seed}#' || {expr}" if seed is not None else expr
    return f"CAST('0x' || substr(md5({payload}), 1, 15) AS BIGINT)"


# ---------------------------------------------------------------------------
# MinHash permutation family: h_i(x) = (a_i * base(x) + b_i) mod P, P = 2^31-1.
# One md5 per shingle (the expensive part), then k cheap affine permutations —
# the classic Broder construction. The 60-bit base is split hi/lo so every
# intermediate stays < 2^62 (no BIGINT overflow in Spark OR DuckDB).
# ---------------------------------------------------------------------------

MERSENNE_P = (1 << 31) - 1
_LO_MASK = (1 << 30) - 1
_HI_FACTOR = (1 << 30) % MERSENNE_P

import random as _random

_rng = _random.Random(42)
#: (a_i, b_i) for the k=16 permutations — fixed seeds shared with the SQL twin.
MINHASH_COEFFS: tuple[tuple[int, int], ...] = tuple(
    (_rng.randrange(1, MERSENNE_P), _rng.randrange(0, MERSENNE_P)) for _ in range(16)
)


def affine_hash(base: Column, a: int, b: int) -> Column:
    """(a * base + b) mod P without 63-bit overflow (base < 2^60)."""
    hi = F.shiftright(base, 30)
    lo = base.bitwiseAND(F.lit(_LO_MASK))
    return (
        ((F.lit(a) * hi) % F.lit(MERSENNE_P)) * F.lit(_HI_FACTOR)
        + F.lit(a) * lo
        + F.lit(b)
    ) % F.lit(MERSENNE_P)


def affine_hash_sql(base: str, a: int, b: int) -> str:
    """DuckDB twin of :func:`affine_hash` (identical integer arithmetic)."""
    return (
        f"((({a} * (({base}) >> 30)) % {MERSENNE_P}) * {_HI_FACTOR}"
        f" + {a} * (({base}) & {_LO_MASK}) + {b}) % {MERSENNE_P}"
    )


def shingle_rows(df, id_col: str, text_col: str, n: int = 3):
    """One row per n-gram word shingle: ``(id, s)``, duplicates kept.

    Codegen-friendly construction: zip the token array with its n-1 shifted
    slices (``arrays_zip`` pads the tail with nulls — filtered out), explode,
    ``concat_ws``. Every expression is a regular codegen'd one — no lambda
    higher-order functions (those run interpreted, per element, outside
    whole-stage codegen: a transform/slice/array_join shingle array
    measured 4× slower)
    and no window shuffle (a ``lead()``-based build would exchange raw
    tokens; this shape keeps shingle construction entirely map-side, so the
    only shuffle in a signature pass is the downstream per-doc groupBy).

    Duplicate shingles are kept: every consumer (MinHash ``min``, Jaccard
    ``collect_set``) is duplicate-insensitive, and per-doc distinct would
    cost an extra aggregation. Docs with fewer than n tokens yield no rows.
    """
    c = F.col(text_col)
    toks = F.split(F.trim(c), r"\s+")
    sz = F.size(toks)
    z = F.arrays_zip(
        *[
            F.slice(toks, i + 1, F.greatest(sz - i, F.lit(0))).alias(f"w{i}")
            for i in range(n)
        ]
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(z).alias("t"))
        .where(F.col(f"t.w{n-1}").isNotNull())
        .select(
            "id", F.concat_ws(" ", *[f"t.w{i}" for i in range(n)]).alias("s")
        )
    )
