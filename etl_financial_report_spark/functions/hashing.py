"""Portable content-hashing helpers for dedup operators.

Engine-native hash functions (Spark xxhash64/hash, DuckDB hash) differ
across engines, so every oracle-checked dedup operator hashes through
**md5 hex strings** — identical lowercase hex in Spark and DuckDB — and
compares/minimizes them lexicographically (fixed-width hex, so string
order == numeric order). MinHash signatures, LSH band keys, SimHash bit
sums and document fingerprints all derive from this one primitive.

At 100 TB you would swap md5 for xxhash64 (no oracle constraint in
production) — the operator shapes are identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: hex chars whose top nibble bit is set — used for SimHash bit extraction
HI_NIBBLE = ("8", "9", "a", "b", "c", "d", "e", "f")


# ---------------------------------------------------------------------------
# Universal-hash MinHash family: ONE md5 per token, k affine derivations.
#
# h_i(x) = (A_i * base(x) + B_i) mod P  where base(x) is the first 32 bits
# of md5(x) as a bigint. This is the standard k-universal-hashes-from-one-
# base-hash construction (same shape as Spark MLlib MinHashLSH's
# hashFunction). A_i < 2^20 and base < 2^32 keep A*base + B < 2^52, so the
# arithmetic is exact 64-bit in both Spark and DuckDB (no overflow, no
# hugeint promotion).

#: modulus — Mersenne prime 2^31 - 1; every h_i lands in [0, P)
MINHASH_P = 2_147_483_647
#: deterministic odd multipliers / offsets for k=8 hash functions
MINHASH_A = [633023, 857147, 466409, 969169, 559993, 733313, 615671, 104729]
MINHASH_B = [91019, 743209, 380041, 528211, 691499, 815263, 131071, 952229]


def hash32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative bigint (portable base hash)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hash32_sql(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"


def affine_hash(base: Column, i: int) -> Column:
    """h_i = (A_i * base + B_i) mod P over a precomputed ``hash32`` column:
    the one universal-hash derivation behind MinHash components, CMS
    buckets and bloom bit positions."""
    return (F.lit(MINHASH_A[i]) * base + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)


def affine_hash_sql(base_expr: str, i: int) -> str:
    return f"({MINHASH_A[i]} * {base_expr} + {MINHASH_B[i]}) % {MINHASH_P}"


def uminhash_agg(base: Column, i: int) -> Column:
    """MinHash component i over a precomputed ``hash32`` column."""
    return F.min(affine_hash(base, i))


def uminhash_agg_sql(base_expr: str, i: int) -> str:
    return f"min({affine_hash_sql(base_expr, i)})"


def exact_dup_key() -> Column:
    """The dedup family's exact-duplicate key over the ``text`` column:
    md5 of the lowercased, whitespace-collapsed, trimmed text (no Unicode
    normalization — that is ``pipelines.content_key``)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))


def simhash_bit(md5_col: Column, bit: int) -> Column:
    """+1/-1 contribution of one nibble (bit in 1..16) of a PRECOMPUTED
    md5 hex column — callers hash each token once, not once per bit."""
    nibble = F.substring(md5_col, bit, 1)
    return F.when(nibble.isin(*HI_NIBBLE), 1).otherwise(-1)


def simhash_bit_sql(md5_expr: str, bit: int) -> str:
    hi = ", ".join(f"'{c}'" for c in HI_NIBBLE)
    return f"CASE WHEN substr({md5_expr}, {bit}, 1) IN ({hi}) THEN 1 ELSE -1 END"


#: hex digits whose SECOND-highest bit (value 4) is set — the second
#: independent +-1 decision extractable from one nibble
BIT2_NIBBLE = ("4", "5", "6", "7", "c", "d", "e", "f")


def simhash_bit2_sql(md5_expr: str, pos: int) -> str:
    """+1/-1 from the second-highest bit of nibble ``pos`` (1..32) of a
    precomputed md5 hex expression — with :func:`simhash_bit_sql` this
    yields 64 independent decisions from one 32-digit md5, so a 64-bit
    SimHash still hashes each token exactly once."""
    b2 = ", ".join(f"'{c}'" for c in BIT2_NIBBLE)
    return f"CASE WHEN substr({md5_expr}, {pos}, 1) IN ({b2}) THEN 1 ELSE -1 END"
