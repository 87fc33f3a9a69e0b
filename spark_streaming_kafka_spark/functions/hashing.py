"""Deterministic, engine-portable hashing primitives.

MinHash / SimHash / fingerprinting need a token→integer hash that is (a)
computed JVM-side (no Python in the hot path) and (b) reproducible outside
Spark so the DuckDB oracle can verify results value-for-value. Spark's
``hash()``/``xxhash64()`` are fast but Spark-specific; ``md5`` exists in
both engines with identical output, so the portable primitive is:

    md5_long(s) = int(hex_prefix_15(md5(s)), 16)   ∈ [0, 2^60)

15 hex digits keep the value comfortably inside a signed 64-bit range in
both engines (DuckDB: ``('0x' || substr(md5(s),1,15))::BIGINT``).

md5-per-token stays JVM-native and vectorizable by whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Large prime < 2^31 used for universal-hash families a*x+b mod P.
MERSENNE_P = 2147483647  # 2^31 - 1


def md5_long(col: Column | str) -> Column:
    """Portable 60-bit non-negative integer hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def duckdb_md5_long(expr: str) -> str:
    """DuckDB SQL fragment equivalent to :func:`md5_long` — used by the
    oracle queries so both engines hash identically."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def poly_fingerprint(tokens: Column, p: int = MERSENNE_P) -> Column:
    """Order-sensitive document fingerprint over a token array.

    fingerprint(doc) = sum_i ( md5_long(tok_i) mod p ) * (i+1)  mod p

    Position-weighted so permuted documents fingerprint differently
    (a plain token-set hash would not). Pure column algebra — stays in
    whole-stage codegen; no UDF, no shuffle.
    """
    term = F.transform(
        tokens,
        lambda tok, i: ((md5_long(tok) % F.lit(p)) * (i.cast("long") + F.lit(1))) % F.lit(p),
    )
    return F.aggregate(term, F.lit(0).cast("long"), lambda acc, x: (acc + x) % F.lit(p))
