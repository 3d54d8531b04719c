"""Cross-engine-portable string hashing.

The driver's correctness gate runs every query side-by-side in Spark and
DuckDB, so sketch operators (MinHash, SimHash, fingerprints) need a token
hash both engines can compute bit-for-bit. Spark's ``xxhash64`` has no
DuckDB twin, so the portable family is a polynomial rolling hash over the
character codes in the Mersenne-prime field:

    h = fold(chars, acc -> (acc * base + code(ch)) mod (2^31 - 1)), acc0 = 0

Pure integer arithmetic: every intermediate is < 2^39, so ANSI mode (on by
default in Spark 4) can never overflow-error, and DuckDB's checked BIGINT
math is equally safe. Two independent hashes (bases 31 and 131) give 62
usable bits where one 31-bit value is not enough.

The sketch operators (MinHash, SimHash) take
``hash_fn='portable'|'fast'``: *portable* is this family (verifiable
against the DuckDB oracle), *fast* is JVM ``xxhash64`` (native, codegen'd
-- the 100 TB production setting, identical semantics modulo the hash
family). The span passes and the contamination join key raw strings
instead and take ``hash_fn='exact'|'fast'``: *exact* shuffles the n-word
strings themselves, *fast* their ``xxhash64``. Any other value is refused.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE = 2_147_483_647  # 2^31 - 1
POLY_BASE_A = 31
POLY_BASE_B = 131


def char_codes(c: Column) -> Column:
    """Character codes of a string column as array<long> ('' -> [])."""
    return F.when(
        F.length(c) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.ascii(c.substr(i, F.lit(1))).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))


def poly_hash(c: Column, base: int = POLY_BASE_A) -> Column:
    """Portable polynomial hash of a string column, in [0, MERSENNE)."""
    return F.aggregate(
        char_codes(c),
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * base + x, F.lit(MERSENNE)),
    )


def chunk_bounds(n_chunks: int, total_bits: int) -> list[tuple[int, int]]:
    """Evenly distribute ``total_bits`` sketch bits over ``n_chunks``
    non-empty [lo, hi) chunks (requires n_chunks <= total_bits).

    The pigeonhole blocking contract: a pair within Hamming distance
    ``n_chunks - 1`` must match at least one chunk exactly, so equi-joins
    on (chunk, chunk_key) are lossless for that threshold.
    """
    if not 1 <= n_chunks <= total_bits:
        raise ValueError(f"n_chunks must be in [1, {total_bits}]")
    bounds = [i * total_bits // n_chunks for i in range(n_chunks + 1)]
    return [(bounds[i], bounds[i + 1]) for i in range(n_chunks)]


def hamming_chunks(sketch: Column, max_hamming: int, n_bits: int) -> Column:
    """``array<struct<chunk, ckey>>``: the ``max_hamming + 1`` disjoint
    :func:`chunk_bounds` chunks of an ``n_bits``-bit BIGINT sketch, each
    with its index. ``F.inline`` it into one row per chunk and self-join on
    ``(chunk, ckey)``: a pair within Hamming distance ``max_hamming``
    shares at least one row."""
    if not 0 <= max_hamming < n_bits:
        raise ValueError(f"max_hamming must be in [0, {n_bits}), got {max_hamming}")
    return F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(sketch, lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1)).alias("ckey"),
            )
            for c, (lo, hi) in enumerate(chunk_bounds(max_hamming + 1, n_bits))
        ]
    )


def poly_hash_sql(expr: str, base: int = POLY_BASE_A) -> str:
    """The DuckDB twin of :func:`poly_hash` over SQL expression ``expr``."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(ascii(substr({expr}, CAST(i AS INT), 1)) AS BIGINT))), "
        f"(acc, x) -> (acc * {base} + x) % {MERSENNE})"
    )
