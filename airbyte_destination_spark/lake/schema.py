"""Schema evolution helpers: union-by-name merge with numeric widening.

Mirrors what Iceberg's schema-merge-on-write does (add column, widen
int->long, float->double). The reference's analogue is catalog-driven
column creation (/root/reference/internal/connector/destination.go:298-313)
with the Airbyte->Propel type map
(/root/reference/internal/connector/types.go:11-50).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# widening lattice: a type may be promoted to anything later in its chain
_NUMERIC_ORDER = [
    T.ByteType(),
    T.ShortType(),
    T.IntegerType(),
    T.LongType(),
    T.FloatType(),
    T.DoubleType(),
]


def _widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least common widened type of two Spark types, or raise."""
    if a == b:
        return a
    if a in _NUMERIC_ORDER and b in _NUMERIC_ORDER:
        return _NUMERIC_ORDER[max(_NUMERIC_ORDER.index(a), _NUMERIC_ORDER.index(b))]
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
        scale = max(a.scale, b.scale)
        intpart = max(a.precision - a.scale, b.precision - b.scale)
        return T.DecimalType(min(38, intpart + scale), scale)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_widen(a.elementType, b.elementType), a.containsNull or b.containsNull)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return merge_schemas(a, b)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(
            _widen(a.keyType, b.keyType),
            _widen(a.valueType, b.valueType),
            a.valueContainsNull or b.valueContainsNull,
        )
    # the reference collapses irreconcilable unions to STRING
    # (types.go:23-26); we do the same rather than failing mid-stream
    return T.StringType()


def is_numeric_widening(src: T.DataType, dst: T.DataType) -> bool:
    """Whether reading `src` data as `dst` is a numeric promotion up the
    lattice or a decimal widening that keeps every digit — the casts
    `_widen` produces other than the collapse to STRING (and nested
    merges), whose results depend on Spark's cast semantics."""
    if src in _NUMERIC_ORDER and dst in _NUMERIC_ORDER:
        return _NUMERIC_ORDER.index(src) < _NUMERIC_ORDER.index(dst)
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
        )
    return False


def merge_schemas(current: T.StructType, incoming: T.StructType) -> T.StructType:
    """Union-by-name schema merge: keep current field order, append new
    fields, widen types where both sides have the field."""
    by_name = {f.name: f for f in incoming.fields}
    fields: list[T.StructField] = []
    for f in current.fields:
        if f.name in by_name:
            g = by_name.pop(f.name)
            fields.append(
                T.StructField(f.name, _widen(f.dataType, g.dataType), f.nullable or g.nullable)
            )
        else:
            fields.append(f)
    # new columns are always nullable: old rows have no value for them
    for g in incoming.fields:
        if g.name in by_name:
            fields.append(T.StructField(g.name, g.dataType, True))
    return T.StructType(fields)


def align_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project/cast df to exactly `target` (missing columns -> NULL).

    This is the read-side of schema evolution: old data files are aligned
    to the table's current schema with one JVM-side select (no UDFs).
    Already-aligned frames (same column names/types in the same order)
    pass through untouched — the hot ingest path calls this per merge
    and per file group, and the no-op Project only cost analyzer time.
    """
    if [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in target.fields
    ]:
        return df
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            src = have[f.name]
            col = F.col(f.name)
            if src.dataType != f.dataType:
                col = col.cast(f.dataType)
            cols.append(col.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
