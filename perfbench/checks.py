"""Output checks that force full computation.

``digest`` replaces ``.count()`` (which lets Spark prune every column it
does not need) with one aggregate over an xxhash64 of ALL columns of
every row, so the whole result is computed. Canonical column order
(lower-cased names, sorted) and canonical types (integers -> bigint,
scale-0 decimals -> bigint, other decimals and floats -> double,
timestamp_ntz -> timestamp) make the digest of a Spark result and of
the same rows loaded from DuckDB comparable.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType)


def _canon(col: Column, dt: T.DataType) -> Column:
    if isinstance(dt, _INTEGRAL):
        return col.cast("bigint")
    if isinstance(dt, T.DecimalType):
        return col.cast("bigint" if dt.scale == 0 else "double")
    if isinstance(dt, _FRACTIONAL):
        return col.cast("double")
    if isinstance(dt, T.TimestampNTZType):
        return col.cast("timestamp")
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dt.elementType))
    return col


def row_hash(df: DataFrame) -> Column:
    """xxhash64 over every column of a row, in canonical order and types."""
    fields = sorted(df.schema.fields, key=lambda f: f.name.lower())
    return F.xxhash64(*[_canon(df[f.name], f.dataType) for f in fields])


def _hash_aggs(h: Column) -> list[Column]:
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("xor"),
        # low 32 bits summed: cannot overflow a bigint below 2^31 rows
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("lo"),
    ]


def digest(df: DataFrame, **extra: Column) -> dict:
    """{"rows", "xor", "lo", **extra} of ``df``; order-insensitive over
    rows. ``extra`` adds named aggregates to the same single job."""
    aggs = _hash_aggs(row_hash(df)) + [c.alias(k) for k, c in extra.items()]
    return df.agg(*aggs).first().asDict()


def digests(frames: dict[str, DataFrame]) -> dict[str, tuple]:
    """``key(digest(df))`` for many small frames in ONE Spark job."""
    parts = [
        df.select(F.lit(name).alias("name"), row_hash(df).alias("h"))
        for name, df in frames.items()
    ]
    union = functools.reduce(DataFrame.unionAll, parts)
    got = {
        r["name"]: (r["rows"], r["xor"], r["lo"])
        for r in union.groupBy("name").agg(*_hash_aggs(F.col("h"))).collect()
    }
    return {name: got.get(name, (0, 0, 0)) for name in frames}


def key(d: dict) -> tuple:
    return d["rows"], d["xor"], d["lo"]
