"""Driver-side point lookups: the job-free path of `LakeTable.read_keys`.

After bucket, zone-map and bloom pruning, a probe of a few keys touches
a handful of small files. Serving it through Spark costs three jobs (the
parquet scan, the MOR fold's exchange and the broadcast semi join) and
about 0.9 s on a 4-CPU machine, most of it fixed per-job overhead. The
reference's ReplacingMergeTree answers the same read with one index
probe. Here the surviving files are read with pyarrow on a small thread
pool (row groups are skipped by their key statistics), aligned to the
current schema with the same policy the Spark reader applies
(`table._file_alignment`), folded per key in Arrow on MOR tables and
returned as a local relation: `.collect()` on it runs no Spark job.

`read_keys_local` returns None whenever the probe does not qualify (see
its docstring); the caller then takes the distributed plan, which stays
the scalable path and the reference this one is tested against.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from airbyte_destination_spark.lake.schema import is_numeric_widening
from airbyte_destination_spark.lake.table import (
    _DELETED_COL,
    _IN_LITERAL_MAX,
    _AlignedCol,
    _file_alignment,
)

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOATING = (T.FloatType, T.DoubleType)
_NESTED = (T.ArrayType, T.MapType, T.StructType)
# footer keys Spark writes under the LEGACY rebase modes: the file's
# dates and timestamps are in the hybrid Julian calendar, which Spark's
# reader rebases and Arrow's does not
_LEGACY_REBASE = {b"org.apache.spark.legacyDateTime", b"org.apache.spark.legacyINT96"}


class _SparkOnly(Exception):
    """A file this path cannot decode as Spark does."""


def read_keys_local(
    spark: SparkSession,
    root: str,
    m: dict,
    schema: T.StructType,
    keys: list,
    entries: list[dict],
) -> DataFrame | None:
    """The rows `read_keys(keys)` returns, computed on the driver from
    the pruned manifest `entries`, or None when the probe does not
    qualify. It qualifies when all of these hold:

    - at most `_IN_LITERAL_MAX` keys, none NULL, of a key type whose
      equality Arrow reproduces (integral, binary-collated string,
      date, timestamp, decimal);
    - the manifest sizes of `entries` sum to at most the session's
      `spark.sql.autoBroadcastJoinThreshold` (-1 disables this path);
    - every cast the alignment needs is a numeric or decimal widening,
      and every initial default it fills is a plain literal of the
      column's type: other casts follow Spark's cast semantics;
    - on MOR tables, the version column is not floating point or
      nested (Spark orders NaN above every number; Arrow's sort puts
      it with the nulls);
    - no file was written under a LEGACY datetime rebase mode."""
    if len(keys) > _IN_LITERAL_MAX or any(k is None for k in keys):
        return None
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if any("bytes" not in e for e in entries) or (
        sum(e["bytes"] for e in entries) > limit
    ):
        return None
    key = m["key_cols"][0]
    key_dt = schema[key].dataType
    probe = _probe_array(keys, key_dt)
    if probe is None:
        return None
    mor = m.get("merge_strategy", "cow") == "mor"
    ver = m.get("version_col")
    if mor and ver and isinstance(schema[ver].dataType, _FLOATING + _NESTED):
        return None
    target = T.StructType(
        schema.fields + [T.StructField(_DELETED_COL, T.BooleanType(), True)]
    )
    plans: dict[tuple[str, bool], list[_AlignedCol]] = {}
    for e in entries:
        g = (str(e["schema_id"]), bool(e.get("stored_cv")))
        if g not in plans:
            _, cols = _file_alignment(m, g[0], target, g[1])
            if not all(_arrow_ok(c) for c in cols):
                return None
            plans[g] = cols

    def read(e: dict) -> pa.Table:
        cols = plans[(str(e["schema_id"]), bool(e.get("stored_cv")))]
        return _read_file(
            os.path.join(root, e["path"]), cols, key, probe, int(e.get("cv", 0))
        )

    try:
        if len(entries) > 1:
            # pyarrow decodes outside the GIL, so a small pool overlaps
            # the reads (like the footer-stats pool in _write_bucketed);
            # the footer handling between decodes holds the GIL, and
            # more than 2-4 threads measured no faster
            with ThreadPoolExecutor(max_workers=min(4, len(entries))) as pool:
                parts = list(pool.map(read, entries))
        else:
            parts = [read(e) for e in entries]
    except _SparkOnly:
        return None
    if parts:
        table = pa.concat_tables(parts)
    else:
        table = pa.table(
            [pa.array([], to_arrow_type(f.dataType)) for f in target.fields]
            + [pa.array([], pa.int64())],
            names=target.fieldNames() + ["_cv"],
        )
    if mor and table.num_rows > 1:
        table = _fold(table, key, ver)
    live = pc.invert(pc.fill_null(table[_DELETED_COL], False))
    # MOR reads come out of the fold's group-by: key column first
    out = schema.fieldNames()
    if mor:
        out = [key] + [c for c in out if c != key]
    table = table.filter(live).select(out)
    return spark.createDataFrame(
        table, T.StructType([_as_nullable(schema[c]) for c in out])
    )


def _probe_array(keys: list, dt: T.DataType) -> pa.Array | None:
    """The probe keys as an Arrow array Spark would compare equal to
    the stored keys, or None for key types (or values) this path does
    not serve. Timestamps go through Spark's own Python conversion."""
    try:
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            micros = [dt.toInternal(k) for k in keys]
            return pa.array(micros, pa.int64()).cast(to_arrow_type(dt))
        if isinstance(dt, _INTEGRAL):
            return pa.array(keys, pa.int64())
        if dt == T.StringType() or isinstance(dt, (T.DateType, T.DecimalType)):
            return pa.array(keys, to_arrow_type(dt))
    except (TypeError, ValueError, AttributeError, pa.ArrowException):
        pass
    return None


def _arrow_ok(c: _AlignedCol) -> bool:
    """Whether Arrow produces exactly what Spark's read of `c` does."""
    if c.src is not None:
        return c.src.dataType == c.dtype or is_numeric_widening(
            c.src.dataType, c.dtype
        )
    return not c.has_default or _default_scalar(c) is not None


def _default_scalar(c: _AlignedCol) -> pa.Scalar | None:
    """The initial default as an Arrow scalar when it is a plain
    literal of the column's type (so Spark's `lit(v).cast(t)` cannot
    differ), else None."""
    dv, dt = c.default, c.dtype
    plain = (
        (isinstance(dv, str) and dt == T.StringType())
        or (isinstance(dv, bool) and isinstance(dt, T.BooleanType))
        or (
            isinstance(dv, int)
            and not isinstance(dv, bool)
            and isinstance(dt, _INTEGRAL + _FLOATING)
        )
        or (isinstance(dv, float) and isinstance(dt, _FLOATING))
    )
    if not plain:
        return None
    try:
        return pa.scalar(dv, to_arrow_type(dt))
    except (TypeError, ValueError, OverflowError, pa.ArrowException):
        return None


def _read_file(
    path: str, cols: list[_AlignedCol], key: str, probe: pa.Array, cv: int
) -> pa.Table:
    """The probed rows of one data file, aligned to `cols` plus `_cv`
    (the entry's commit version unless the file stores its own). Only
    row groups whose key statistics admit a probe key are decoded."""
    # Spark writes INT96 timestamps by default; decoded as nanoseconds
    # they overflow past 2262 (e.g. a 9999-12-31 sentinel), so decode
    # them in the microseconds Spark stores
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
        if _LEGACY_REBASE & (pf.metadata.metadata or {}).keys():
            raise _SparkOnly(path)
        have = set(pf.schema_arrow.names)
        t = pf.read_row_groups(
            _row_groups(pf.metadata, key, probe.to_pylist()),
            columns=[
                c.src.name for c in cols if c.src is not None and c.src.name in have
            ],
            use_threads=False,
        )
    k = t[key]
    if k.type != probe.type:
        # a widened key, or INT96 timestamps read as naive microseconds
        # holding UTC instants
        k = pc.cast(k, probe.type)
    t = t.filter(pc.is_in(k, value_set=probe))
    n = t.num_rows
    arrays, names = [], []
    for c in cols:
        at = to_arrow_type(c.dtype)
        if c.src is not None and c.src.name in have:
            a = t[c.src.name]
            if a.type != at:
                # same Spark type: a representation change (checked);
                # a widening: Spark's cast rounds like Arrow's unchecked
                a = pc.cast(a, at, safe=c.src.dataType == c.dtype)
        elif c.src is None and c.has_default:
            a = pa.repeat(_default_scalar(c), n)
        else:
            a = pa.nulls(n, at)
        arrays.append(a)
        names.append(c.name)
    if "_cv" not in names:
        arrays.append(pa.repeat(pa.scalar(cv, pa.int64()), n))
        names.append("_cv")
    return pa.Table.from_arrays(arrays, names=names)


def _row_groups(md: pq.FileMetaData, key: str, probe: list) -> list[int]:
    """The row groups whose key min/max admit some probe value; a row
    group without usable statistics is kept. (Opening the footer
    directly costs a third of a pyarrow dataset's per-file setup.)"""
    if md.num_row_groups == 0:
        return []
    rg0 = md.row_group(0)
    idx = next(
        (i for i in range(md.num_columns)
         if rg0.column(i).path_in_schema == key),
        None,
    )
    out = []
    for r in range(md.num_row_groups):
        st = None if idx is None else md.row_group(r).column(idx).statistics
        try:
            keep = (
                st is None
                or not st.has_min_max
                or any(st.min <= v <= st.max for v in probe)
            )
        except (TypeError, pa.ArrowNotImplementedError):
            # e.g. naive statistics vs aware probe values, or decimal
            # statistics pyarrow cannot decode (INT64-backed decimals)
            keep = True
        if keep:
            out.append(r)
    return out


def _fold(t: pa.Table, key: str, ver: str | None) -> pa.Table:
    """Per key, the row with the greatest (version, _cv): the order
    `lww_reduce_agg`'s max_by applies, where a NULL version loses."""
    order = [(key, "ascending")] + ([(ver, "ascending")] if ver else [])
    idx = pc.sort_indices(
        t, sort_keys=order + [("_cv", "ascending")], null_placement="at_start"
    )
    t = t.take(idx)
    k = t[key].combine_chunks()
    last = np.ones(t.num_rows, dtype=bool)
    last[:-1] = pc.not_equal(k[:-1], k[1:]).to_numpy(zero_copy_only=False)
    return t.filter(pa.array(last))


def _as_nullable(f: T.StructField) -> T.StructField:
    """`f` with every level nullable — the schema Spark's file scan
    reports, so both read_keys paths return the same schema."""

    def nullable(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(nullable(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(nullable(dt.keyType), nullable(dt.valueType), True)
        if isinstance(dt, T.StructType):
            return T.StructType([_as_nullable(g) for g in dt.fields])
        return dt

    return T.StructField(f.name, nullable(f.dataType), True, f.metadata)
