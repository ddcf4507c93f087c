"""Column-level EVM helpers: case-insensitive hex equality, U256 arithmetic.

All pure built-in ``pyspark.sql.functions`` compositions — JVM-side,
whole-stage-codegen'd, no Python UDFs.  These mirror the value conventions of
the reference's write path (``src/db.rs:84-89,116-127,161-170``: lowercase
``0x…`` hex, U256 as decimal strings) and its read path
(``src/api.rs:127,141``: case-insensitive compares).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: DecimalType wide enough for any practical wei value (< 10^38 covers total
#: ETH supply in wei ~1.2e26; full U256 overflows → stays NULL, documented).
U256_DECIMAL = "decimal(38,0)"


def hex_eq(col: Column | str, value: str) -> Column:
    """Case-insensitive hash/address equality (``LOWER(x) = LOWER($v)``,
    src/api.rs:126-129).  The column side is lowercased at ingest, so only
    the literal needs normalizing — keeps the predicate pushable to the
    parquet scan (a ``lower(col)`` wrapper would defeat min/max pruning)."""
    c = F.col(col) if isinstance(col, str) else col
    return c == F.lit(value.lower())


def u256_to_decimal(col: Column | str) -> Column:
    """U256-as-TEXT → DecimalType(38,0); values ≥ 10^38 become NULL.

    The reference never does arithmetic on these (SURVEY.md §1.3); this is
    the engine's extension for aggregations over wei/gas.  try_cast, not
    cast: under ANSI mode (Spark 4 default) a plain cast *throws* on
    overflow — the documented contract is NULL, never an aborted job.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(U256_DECIMAL)


def wei_to_eth(col: Column | str) -> Column:
    """Wei decimal-string → ETH as decimal(38,18), exact.

    Implemented by inserting the decimal point 18 digits from the right
    (string ops, whole-stage codegen'd): decimal *division* by 10^18
    would pass through Spark's decimal result-type rules and round to 6
    fractional digits for wide operands — string splitting never loses a
    wei.  Values ≥ 10^38 wei don't fit the decimal and yield NULL.
    """
    c = F.col(col) if isinstance(col, str) else col
    padded = F.when(F.length(c) < 19, F.lpad(c, 19, "0")).otherwise(c)
    int_part = padded.substr(F.lit(1), F.length(padded) - 18)
    frac = padded.substr(F.length(padded) - 17, F.lit(18))
    return F.concat(int_part, F.lit("."), frac).try_cast("decimal(38,18)")


def hex_to_u256_decimal(col: Column | str) -> Column:
    """0x-prefixed 256-bit hex → DecimalType(38,0), JVM-side bignum.

    ``conv(_, 16, 10)`` is 64-bit only, so the word is decoded as two
    limbs combined with decimal arithmetic.  Exact for values < 2¹²⁴
    (≈2.1e37 — covers every real token amount: total ETH supply in wei is
    ~1.2e26); larger values yield NULL, never a wrong number.  This is
    the engine's ABI-decode primitive (e.g. the Transfer amount in
    ``logs.data``).
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.lpad(F.lower(F.regexp_replace(c, "^0x", "")), 64, "0")
    # two limbs: high 15 nibbles (60 bits) · 2^64 + low 16 nibbles.
    # Guarded to values < 2^124 (top 33 nibbles zero) so the decimal
    # arithmetic can never overflow at runtime — ANSI mode turns a
    # decimal overflow into a job-killing error, and try_cast only
    # protects casts, not intermediate products.
    fits = h.substr(1, 33) == F.lit("0" * 33)
    two64 = F.lit("18446744073709551616").cast("decimal(20,0)")  # 2^64
    hi = F.conv(h.substr(34, 15), 16, 10).try_cast("decimal(38,0)")
    lo = F.conv(h.substr(49, 16), 16, 10).try_cast("decimal(38,0)")
    return F.when(fits, (hi * two64 + lo).try_cast(U256_DECIMAL)).otherwise(
        F.lit(None).cast(U256_DECIMAL)
    )


#: base for the 4-limb exact U256 representation: each limb holds 19
#: decimal digits, so any 78-digit U256 splits as
#: ``l3·B³ + l2·B² + l1·B + l0`` with l0..l2 < 10^19 and l3 < 10^21.
_U256_LIMB_BASE = "10000000000000000000"  # 10^19


def u256_limbs(col: Column | str) -> list[Column]:
    """U256-as-decimal-string → 4 exact base-10^19 limbs (least
    significant first), each DECIMAL(38,0).

    This is the LOSSLESS path: :func:`u256_to_decimal` documents that
    values ≥ 10^38 become NULL (fine for real wei, wrong for arbitrary
    U256).  Limb splitting is pure string surgery — lpad to the full 78
    digits, slice 19-digit windows — so every representable U256 maps
    exactly, and sums over limbs can be recombined without loss by
    :func:`u256_string_from_limb_sums`.  Malformed (non-digit) strings
    yield NULL in every limb, mirroring try_cast's contract."""
    c = F.col(col) if isinstance(col, str) else col
    valid = c.rlike("^[0-9]{1,78}$")
    p = F.lpad(c, 78, "0")
    slices = [(60, 19), (41, 19), (22, 19), (1, 21)]  # l0..l3
    return [
        F.when(valid, p.substr(F.lit(start), F.lit(width)).cast(U256_DECIMAL))
        .otherwise(F.lit(None).cast(U256_DECIMAL))
        .alias(f"_u256_l{i}")
        for i, (start, width) in enumerate(slices)
    ]


def u256_string_from_limb_sums(
    s0: Column, s1: Column, s2: Column, s3: Column
) -> Column:
    """Recombine per-limb SUMs into the exact total as a decimal digit
    string, propagating carries between limbs.

    Each input is ``SUM(limb_i)`` over up to ~10^19 rows — still inside
    DECIMAL(38,0), so the aggregation itself can never overflow; the
    final value (up to 95 digits for huge row counts) exists only as a
    string, which is also how the reference stores U256 (SURVEY.md
    §1.3).  Carry quotients are at most the row count, so integral
    ``div`` (BIGINT result) is exact."""
    B = F.lit(_U256_LIMB_BASE).cast(U256_DECIMAL)
    zero = F.lit(0).cast(U256_DECIMAL)
    s0, s1, s2, s3 = [F.coalesce(s, zero) for s in (s0, s1, s2, s3)]
    # carry chain: limb_i' = (s_i + carry_{i-1}) mod B; carry_i via the
    # subtraction form ((t - t%B) / B) — the numerator is exactly
    # divisible, so the (rounding) decimal division is exact, and the
    # quotient (≤ row count) fits any decimal comfortably
    t0 = s0
    r0 = t0 % B
    c0 = ((t0 - r0) / B).cast(U256_DECIMAL)
    t1 = s1 + c0
    r1 = t1 % B
    c1 = ((t1 - r1) / B).cast(U256_DECIMAL)
    t2 = s2 + c1
    r2 = t2 % B
    c2 = ((t2 - r2) / B).cast(U256_DECIMAL)
    t3 = s3 + c2  # top limb keeps any residual magnitude
    digits = F.concat(
        t3.cast("string"),
        F.lpad(r2.cast("string"), 19, "0"),
        F.lpad(r1.cast("string"), 19, "0"),
        F.lpad(r0.cast("string"), 19, "0"),
    )
    trimmed = F.regexp_replace(digits, "^0+", "")
    return F.when(trimmed == "", F.lit("0")).otherwise(trimmed)
