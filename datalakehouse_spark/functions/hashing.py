"""Java ``String.hashCode`` parity — the one cross-engine contract.

The reference derives its 32-way bucket column as
``MOD(ABS(HASH_CODE(device_id)), 32)`` in Flink
(reference: config/flink/sink_telematics_real_time.sql:40) and replicates
it bit-identically in its Spark backfill with a row-at-a-time Python UDF
(reference: config/spark/backfill_telematics.py:6-16,141).  Streaming and
backfill MUST agree on the bucket or partition pruning by bucket breaks.

This rebuild keeps the contract but moves the hot path JVM-side: the hash
is a polynomial ``h = 31*h + c`` over UTF-16 code units with 32-bit signed
wraparound, which is expressible with built-in higher-order functions
(``split`` -> ``transform(ascii)`` -> ``aggregate``) entirely inside
whole-stage codegen — no Python worker, no Arrow hop, ANSI-safe because
the accumulator lives in an unsigned 64-bit window reduced mod 2^32 each
step.  A vectorized pandas_udf and a plain-Python twin exist for golden
cross-checks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TWO32 = 2**32
_TWO31 = 2**31


def java_hashcode_py(s: str) -> int:
    """Plain-Python reference: Java String.hashCode (32-bit signed)."""
    h = 0
    for ch in s:
        # Java hashes UTF-16 code units; BMP chars == codepoint, and the
        # fixture ids are ASCII. Surrogate-pair math for astral chars:
        cp = ord(ch)
        if cp >= 0x10000:
            cp -= 0x10000
            for unit in (0xD800 + (cp >> 10), 0xDC00 + (cp & 0x3FF)):
                h = (31 * h + unit) & 0xFFFFFFFF
            continue
        h = (31 * h + cp) & 0xFFFFFFFF
    return h - _TWO32 if h >= _TWO31 else h


def java_hashcode(col: Column | str) -> Column:
    """JVM-side Java String.hashCode over a string column.

    Stays in whole-stage codegen: split to chars -> code points ->
    aggregate with mod-2^32 wraparound -> re-sign.  `ascii()` returns the
    full code point for BMP chars (fixture ids are ASCII digits, the exact
    domain of the reference's device ids).
    """
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("bigint"))

    def step(acc, code):
        # BMP char: one code unit. Supplementary char: Python/Spark split
        # yields the full codepoint; Java hashes its two UTF-16 surrogates.
        off = code - F.lit(0x10000)
        hi = F.lit(0xD800) + F.shiftright(off, 10)
        lo = F.lit(0xDC00) + (off % F.lit(1024))
        bmp = (acc * 31 + code) % F.lit(_TWO32)
        astral = (((acc * 31 + hi) % F.lit(_TWO32)) * 31 + lo) % F.lit(_TWO32)
        return F.when(code < 0x10000, bmp).otherwise(astral)

    h_unsigned = F.aggregate(codes, F.lit(0).cast("bigint"), step)
    return F.when(h_unsigned >= _TWO31, h_unsigned - _TWO32).otherwise(h_unsigned).cast("int")


@F.pandas_udf(T.IntegerType())
def java_hashcode_pandas(s: pd.Series) -> pd.Series:
    """Arrow-vectorized twin of :func:`java_hashcode` (golden cross-check
    and the fallback if a deployment disallows higher-order functions)."""
    return s.map(lambda x: java_hashcode_py(x) if x is not None else None).astype("Int32")


def device_bucket(col: Column | str, n_buckets: int = 32) -> Column:
    """``mod(abs(java_hashcode(id)), n)`` — the reference's materialized
    bucket column (sink_telematics_real_time.sql:40).

    ``abs`` runs on bigint so abs(Integer.MIN_VALUE) is well-defined
    (+2^31), matching the reference backfill's unbounded-int Python
    (backfill_telematics.py:13-16).
    """
    h = java_hashcode(col).cast("bigint")
    return F.pmod(F.abs(h), F.lit(n_buckets)).cast("int")


def device_bucket_duckdb_expr(expr: str, n_buckets: int = 32) -> str:
    """Inline DuckDB expression computing device_bucket(expr)."""
    h_unsigned = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ord(c) AS BIGINT))), "
        "(a, b) -> (a * 31 + b) % 4294967296)"
    )
    signed = f"(CASE WHEN {h_unsigned} >= 2147483648 THEN {h_unsigned} - 4294967296 ELSE {h_unsigned} END)"
    return f"CAST(abs({signed}) % {n_buckets} AS INT)"
