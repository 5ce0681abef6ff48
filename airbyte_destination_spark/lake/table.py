"""LakeTable — bucketed copy-on-write table with atomic snapshot commits.

Storage layout (all under the table root):

    _meta/version-00000001.json   immutable commit records
    _meta/LATEST                  pointer file (atomic rename commit)
    data/snap-<version>-<nonce>/_b=<bucket>/*.parquet

A resolved snapshot manifest records, per hash bucket, the list of data
files (with the schema id each file was written under), the full schema
history, applied epoch ids (exactly-once markers), and lineage rows.
On disk most commit records are DELTAS (touched buckets + new epoch
markers only) against the previous version, with a full manifest every
_CHECKPOINT_INTERVAL versions — commits stay O(touched), not O(table),
over 10^4-10^5 epochs (the Iceberg manifest-list idea, flattened).

MERGE rewrites only the buckets a change batch touches; all other
buckets carry their previous files forward — the same copy-on-write
strategy Iceberg uses with `PARTITIONED BY (bucket(N, key))`.

Reference semantics being reproduced: ClickHouse ReplacingMergeTree
(Ver=cursor, ORDER BY primary key) configured at
/root/reference/internal/connector/destination.go:337-351 — per key,
the row with the greatest version wins; here the reduce is eager
(window row_number at merge time) so reads always see final state.
"""

from __future__ import annotations

import json
import os
import re
import random
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark.lake.schema import align_to_schema, merge_schemas

_META = "_meta"
_LATEST = "LATEST"
_BUCKET_COL = "_b"
# tombstone marker column persisted in data files (not in the user
# schema). ReplacingMergeTree(ver, is_deleted) semantics: a delete keeps
# a versioned tombstone row so later-arriving OLDER updates still lose;
# reads filter tombstones out; purge_tombstones() reclaims them.
_DELETED_COL = "_deleted"
# transient sort key for z-order compaction; dropped before the write
_ZORDER_COL = "_zorder"


class CommitConflict(Exception):
    """Another writer committed the version we tried to write."""


def _file_col_stats(path: str, cols: list[str]) -> dict[str, tuple]:
    """{col: (min, max)} for `cols` from the parquet FOOTER of one data
    file — a metadata-only read (no row decoding), the Iceberg pattern
    of binding per-file column bounds into the manifest at commit time.
    On a real cluster these bounds come back with the write-task
    metrics; a driver-side footer read per new file (≈ one per touched
    bucket per commit) is the local[] equivalent and costs ~1 ms/file.

    A column is omitted (no pruning possible for this file) when it is
    missing, any row group lacks min/max stats, or the values are not
    JSON-round-trippable scalars (str/int/float). Parquet string stats
    are byte-wise UTF-8 bounds == codepoint order, so Python comparison
    against probe values is exact; writers that truncate long binary
    stats keep them valid *bounds*, which is all pruning needs.
    """
    out: dict[str, tuple] = {}
    try:
        import pyarrow.parquet as pq

        # read_metadata parses just the footer — no ParquetFile/handle
        # construction (measured vs a paired pre-zone-map A/B run: the
        # whole binding costs <=1-2% of a 2M-event MOR apply epoch)
        md = pq.read_metadata(path)
        if md.num_row_groups == 0:
            return out
        rg0 = md.row_group(0)
        idx_by_col = {
            rg0.column(i).path_in_schema: i for i in range(md.num_columns)
        }
        ok = (str, int, float)
        for col in cols:
            idx = idx_by_col.get(col)
            if idx is None:
                continue
            mn = mx = None
            complete = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    complete = False
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if (
                complete
                and isinstance(mn, ok)
                and isinstance(mx, ok)
                and not isinstance(mn, bool)
            ):
                out[col] = (mn, mx)
    except Exception:  # noqa: BLE001 — stats are an optimization only
        return {}
    return out


# ------------------------------------------------------- manifest scaling
#
# A long-running sync commits one snapshot per epoch: 10^10 events at
# ~10^6-event epochs is 10^4-10^5 commits. Rewriting the FULL manifest
# (every bucket's file list + every applied epoch id) per commit is
# O(table) metadata work per epoch — the same wall Iceberg hits and
# solves with manifest lists + snapshot expiry. Here:
#
#  * DELTA manifests: a commit records only the buckets it changed
#    (full-list replacement per touched bucket) plus new epoch markers;
#    every _CHECKPOINT_INTERVAL-th version is a full self-contained
#    manifest, so reconstructing any version walks at most that many
#    small delta files (cached per LakeTable instance).
#  * EPOCH WATERMARKS: exactly-once markers with ordered ids
#    ("<prefix>-<n>") fold losslessly into a per-prefix high watermark —
#    `applied_epochs` stays O(out-of-order tail), not O(history). An
#    epoch is applied iff it is in the explicit map OR its suffix is
#    <= its prefix's watermark; contiguous suffixes fold on every
#    commit, so a single-writer stream keeps the map empty.

_CHECKPOINT_INTERVAL = 32

# optimistic-concurrency retry budget. Every conflicted attempt re-reads
# the new base and re-runs the write, so attempts are not cheap — but a
# FIXED small budget with no backoff thrashes under sustained contention
# (N writers re-read and re-collide in lockstep; observed: a compactor
# loop racing 4 writers starved one writer out of 5 straight attempts).
_COMMIT_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_COMMIT_ATTEMPTS", "8"))


def _conflict_backoff(attempt: int) -> None:
    """Jittered exponential backoff between conflicted commit attempts
    (full jitter, capped at 1 s): desynchronizes contending writers so
    the retry budget buys progress instead of lockstep re-collisions."""
    time.sleep(random.uniform(0.0, min(0.02 * (2 ** attempt), 1.0)))
_EPOCH_RE = re.compile(r"(.*)-(\d+)\Z")
# delta-record bookkeeping keys (never part of a resolved manifest)
_DELTA_KEYS = ("delta", "buckets_set", "buckets_del", "schemas_add",
               "epochs_add", "epochs_del")


def _split_epoch(epoch_id: str):
    m = _EPOCH_RE.fullmatch(epoch_id)
    return (m.group(1), int(m.group(2))) if m else None


def _epoch_applied(m: dict, epoch_id: str) -> bool:
    if epoch_id in m.get("applied_epochs", {}):
        return True
    p = _split_epoch(epoch_id)
    return p is not None and p[1] <= m.get("epoch_watermarks", {}).get(p[0], -1)


def _epoch_list(epoch_id) -> list[str]:
    """Normalize merge()'s epoch_id argument: None, one id, or a list of
    ids that must commit ATOMICALLY (one manifest swap marks them all —
    the sharded-consumer shape, where one micro-batch covers many log
    shards and the per-shard offset frontier must advance all-or-nothing
    with the data)."""
    if epoch_id is None:
        return []
    return [epoch_id] if isinstance(epoch_id, str) else list(epoch_id)


def _epochs_applied_state(m: dict, epoch_ids: list[str]) -> str:
    """'all' / 'none' / 'partial' applied-state of an epoch-id set.
    'partial' can only arise from two writers committing DIFFERENT
    groupings of the same ids — a configuration error (consumers of one
    log must agree on chunk boundaries), surfaced rather than guessed
    at: skipping would lose the unapplied ids' data, applying would
    double-apply the rest."""
    n = sum(1 for e in epoch_ids if _epoch_applied(m, e))
    return "all" if n == len(epoch_ids) else ("none" if n == 0 else "partial")


def _fold_epochs(applied: dict, watermarks: dict) -> tuple[dict, dict]:
    """Advance each prefix's watermark over contiguous suffixes and drop
    the folded explicit entries. Lossless: applied-set membership is
    unchanged, only its representation shrinks."""
    wms = dict(watermarks)
    by_prefix: dict[str, dict[int, str]] = {}
    out: dict = {}
    for k, v in applied.items():
        p = _split_epoch(k)
        if p is None:
            out[k] = v
        else:
            by_prefix.setdefault(p[0], {})[p[1]] = k
    for prefix, suffixes in by_prefix.items():
        wm = wms.get(prefix, -1)
        while wm + 1 in suffixes:
            wm += 1
        if wm >= 0:
            wms[prefix] = wm
        for s, k in suffixes.items():
            if s > wm:
                out[k] = applied[k]
    return out, wms


def _delta_record(base: dict, full: dict) -> dict:
    """The commit record for `full` relative to its parent `base`:
    scalars verbatim (they're tiny), buckets/schemas/epochs as diffs."""
    d = {k: v for k, v in full.items()
         if k not in ("buckets", "schemas", "applied_epochs")}
    d["delta"] = True
    bset = {k: v for k, v in full["buckets"].items()
            if base["buckets"].get(k) != v}
    bdel = [k for k in base["buckets"] if k not in full["buckets"]]
    d["buckets_set"] = bset
    if bdel:
        d["buckets_del"] = bdel
    sadd = {k: v for k, v in full["schemas"].items() if k not in base["schemas"]}
    if sadd:
        d["schemas_add"] = sadd
    eadd = {k: v for k, v in full["applied_epochs"].items()
            if k not in base["applied_epochs"]}
    edel = [k for k in base["applied_epochs"]
            if k not in full["applied_epochs"]]
    if eadd:
        d["epochs_add"] = eadd
    if edel:
        d["epochs_del"] = edel
    return d


def _file_column_maps(
    renames: dict | None,
    adds: dict | None,
    drops: dict | None,
    sid: str,
) -> tuple[dict[str, str], list[str]]:
    """LINEAGE-AWARE column maps for a file written under schema `sid`.

    Returns (ren, dead): `ren` maps the file's ON-DISK column names to
    their CURRENT names; `dead` is the list of on-disk names whose
    lineage was DROPPED after sid — their bytes are prior lives that
    must be force-dropped BEFORE the rename projection runs.

    Why name-based composition (`_compose_renames`) is not enough for
    files: a rename transition names its source column by NAME, but a
    name can change owners — after `rename c->r; add_column c`, a later
    `rename c->x` applies to the NEW c lineage, not to the file's
    on-disk c (which is still alive as r). The soak-found round-5
    regression: blind composition chained the old file's c through the
    new lineage's rename (c->r overwritten by c->x), relabeling live
    bytes into a foreign (possibly dropped) name. This walk replays
    rename/add/drop transitions in schema-id order, tracking which
    names are owned by post-sid ADD lineages (`foreign`) — renames of
    foreign names never touch the file's columns — and marking file
    lineages killed by drops as `dead`."""
    events: list[tuple[int, str, object]] = []
    for tid, mp in (renames or {}).items():
        if int(tid) > int(sid):
            events.append((int(tid), "r", mp))
    for tid, names in (adds or {}).items():
        if int(tid) > int(sid):
            events.append((int(tid), "a", names))
    for tid, names in (drops or {}).items():
        if int(tid) > int(sid):
            events.append((int(tid), "d", names))
    cur: dict[str, str | None] = {}  # on-disk name -> current name
    foreign: set[str] = set()  # names owned by post-sid add lineages
    dead: list[str] = []
    for _, kind, payload in sorted(events, key=lambda e: e[0]):
        if kind == "a":
            for n in payload:
                foreign.add(n)
        elif kind == "d":
            for n in payload:
                if n in foreign:
                    foreign.discard(n)
                else:
                    src = next(
                        (k for k, v in cur.items() if v == n), n
                    )
                    if src not in dead:
                        dead.append(src)
                    cur[src] = None
        else:  # rename {old: new}
            for old, new in payload.items():
                if old in foreign:
                    foreign.discard(old)
                    foreign.add(new)
                    continue
                src = next((k for k, v in cur.items() if v == old), None)
                if src is not None:
                    cur[src] = new
                elif old not in dead:
                    cur[old] = new
    ren = {k: v for k, v in cur.items() if v is not None and k != v}
    return ren, dead


@dataclass(frozen=True)
class _AlignedCol:
    """Where one target column of a file comes from: an on-disk field
    (`src`, cast when its type differs from `dtype`), the column's
    initial default (`has_default`), or NULL."""

    name: str
    dtype: T.DataType
    src: T.StructField | None = None
    default: object = None
    has_default: bool = False


def _file_alignment(
    m: dict, sid: str, target: T.StructType, stored: bool
) -> tuple[T.StructType, list[_AlignedCol]]:
    """The read-side schema-evolution policy for files written under
    schema `sid`, shared by the Spark reader (`_read_file_group`) and
    the driver-side point-lookup reader (lake/point_read.py).

    Returns (file_schema, cols): `file_schema` is what the file holds
    (schema `sid`, `_deleted`, and `_cv` for stored-cv files); `cols`
    produce `target` (plus `_cv` when stored) in order. Dead lineages
    (`_file_column_maps`) are never read, so a dropped-then-re-added
    name cannot resurface prior-life bytes; renamed columns read their
    on-disk name; a column the file predates reads its initial default
    (files that have it keep explicit NULLs); type differences are
    widenings to cast."""
    cv_field = T.StructField("_cv", T.LongType(), True)
    file_schema = T.StructType(
        T.StructType.fromJson(m["schemas"][sid]).fields
        + [T.StructField(_DELETED_COL, T.BooleanType(), True)]
        + ([cv_field] if stored else [])
    )
    ren, dead = _file_column_maps(
        m.get("renames"), m.get("adds"), m.get("drops"), sid
    )
    by_cur = {
        ren.get(f.name, f.name): f
        for f in file_schema.fields
        if f.name not in dead
    }
    defaults = m.get("defaults") or {}
    cols = []
    for f in target.fields + ([cv_field] if stored else []):
        src = by_cur.get(f.name)
        if src is None and f.name in defaults:
            cols.append(
                _AlignedCol(f.name, f.dataType, default=defaults[f.name],
                            has_default=True)
            )
        else:
            cols.append(_AlignedCol(f.name, f.dataType, src=src))
    return file_schema, cols


def _spark_col(c: _AlignedCol):
    """`c` as a Spark column over a frame read with the file schema."""
    if c.src is not None:
        col = F.col(c.src.name)
        if c.src.dataType != c.dtype:
            col = col.cast(c.dtype)
    else:
        col = F.lit(c.default if c.has_default else None).cast(c.dtype)
    return col.alias(c.name)


def _resolve_delta(parent: dict, d: dict) -> dict:
    m = {k: v for k, v in d.items() if k not in _DELTA_KEYS}
    buckets = dict(parent["buckets"])
    buckets.update(d.get("buckets_set", {}))
    for k in d.get("buckets_del", []):
        buckets.pop(k, None)
    m["buckets"] = buckets
    schemas = dict(parent["schemas"])
    schemas.update(d.get("schemas_add", {}))
    m["schemas"] = schemas
    applied = dict(parent["applied_epochs"])
    applied.update(d.get("epochs_add", {}))
    for k in d.get("epochs_del", []):
        applied.pop(k, None)
    m["applied_epochs"] = applied
    return m


@dataclass
class MergeStats:
    epoch_id: str | None
    version: int
    rows_upserted: int
    rows_deleted: int
    buckets_touched: int
    skipped: bool = False  # epoch had already been applied
    lineage: list[dict] = field(default_factory=list)
    # lineage/rows_upserted count records RECEIVED per bucket (the
    # reference's destinationStats.recordCount, destination.go:417-419);
    # when validation quarantines rows, this records how many of those
    # received rows were diverted and never merged.
    rows_quarantined: int = 0


def _entry_bounds(entry: dict, col: str, key0: str):
    """This file's (min, max) for `col` from its manifest entry, or
    None when the entry carries no bounds for it."""
    if col == key0 and "kmin" in entry:
        return entry["kmin"], entry["kmax"]
    s = entry.get("stats", {}).get(col)
    return (s[0], s[1]) if s else None


def _bounds_pred(bounds: dict[str, tuple], key0: str):
    """file_pred keeping a file iff, for every bounded column with
    recorded stats, [file_min, file_max] overlaps [lo, hi] (either end
    None = unbounded). Files without stats for a column — and
    type-mismatched bounds — fail open."""

    def pred(b: int, entry: dict) -> bool:
        for col, (lo, hi) in bounds.items():
            fr = _entry_bounds(entry, col, key0)
            if fr is None:
                continue
            try:
                if (lo is not None and fr[1] < lo) or (
                    hi is not None and fr[0] > hi
                ):
                    return False
            except TypeError:
                continue
        return True

    return pred


def _bucket_cols(m: dict) -> list[str]:
    """The columns the bucket hash is computed over — a subset of the
    key columns (default: all of them). A proper subset makes the
    layout prefix-addressable: `read_prefix` prunes buckets from the
    subset's values alone (the secondary-index layout, where the index
    table is keyed (value, base_key) but bucketed on value only).
    Clustering on a subset still satisfies the merge fold's
    ClusteredDistribution over the full key (coarser partitioning), so
    the one-exchange merge shape is unchanged."""
    return m.get("bucket_cols") or m["key_cols"]


def _zone_map_pred(keys_by_bucket: dict[int, list]):
    """file_pred keeping a file iff it lacks zone-map bounds or some
    probe key of its bucket falls inside them. Type-mismatched bounds
    (manifest written by an older schema) fail open — keep the file."""

    def pred(b: int, entry: dict) -> bool:
        if "kmin" not in entry:
            return True
        try:
            return any(
                k is not None and entry["kmin"] <= k <= entry["kmax"]
                for k in keys_by_bucket.get(b, ())
            )
        except TypeError:
            return True

    return pred


# AQE toggle for merge-shaped jobs. The merge plan is fully determined
# (explicit REPARTITION_BY_NUM to n_buckets, skew absorbed by the
# max_by map-side combine), so adaptive re-planning buys nothing — but
# it costs a driver-side re-optimization barrier per stage, measured as
# a large fraction of small-epoch wall time at high parallelism
# (streaming/pipeline.py first measured 2.3x epoch throughput with it
# off). Round 6 moves the toggle down into LakeTable._apply so EVERY
# merge caller gets it — the engine-replay queries call merge()
# directly, not through apply_change_batch, and were paying the AQE
# barriers on each of their per-epoch commits. Session-wide while an
# apply is in flight (SQLConf has no per-plan switch); the lock makes
# nested/concurrent applies restore the right value.
_AQE_LOCK = threading.RLock()


class _no_aqe:
    """Context manager: AQE off for the duration of a merge-shaped job.
    SPARK_GRAFT_MERGE_AQE=1 disables the toggle (A/B escape hatch)."""

    def __init__(self, spark: SparkSession):
        self.conf = spark.conf
        self.off = os.environ.get("SPARK_GRAFT_MERGE_AQE", "0") != "1"

    def __enter__(self):
        if not self.off:
            return
        _AQE_LOCK.acquire()
        self.prev = self.conf.get("spark.sql.adaptive.enabled", "true")
        self.conf.set("spark.sql.adaptive.enabled", "false")

    def __exit__(self, *exc):
        if not self.off:
            return False
        try:
            self.conf.set("spark.sql.adaptive.enabled", self.prev)
        finally:
            _AQE_LOCK.release()
        return False


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic bucket id for a row: pmod(murmur3_hash(keys), N).

    Deliberately the SAME function Spark's HashPartitioning uses
    (Murmur3, seed 42), so after `repartition(n_buckets, *key_cols)`
    shuffle partition i holds exactly bucket i's rows — the merge's
    aggregation exchange doubles as bucket placement and the bucketed
    write needs no second exchange. Verified: pmod(hash(k), N) ==
    spark_partition_id() under repartition(N, k).
    """
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


# literal-fold routing stays plan-bounded; larger probe lists take the
# distributed path (which read_keys/read_prefix cap anyway)
_ROUTE_FOLD_MAX = 8192
# probe lists up to this size push a literal IN list into the scan, and
# read_keys serves them on the driver when the other rules allow
_IN_LITERAL_MAX = 256


def _route_keys(spark: SparkSession, keys: list, key_dt, n_buckets: int):
    """[(key, bucket, xxhash64)] for a probe key list, deduplicated,
    WITHOUT launching a Spark job when the list is small: the bucket and
    hash expressions are evaluated via ONE `transform` over a single
    array literal on a one-row VALUES relation, which Catalyst
    constant-folds into a LocalTableScan whose collect is driver-side
    (verified job-free; a createDataFrame-based projection is an
    ExistingRDD scan and always pays one job). One array literal keeps
    analysis O(1) in expression count — the earlier two-expressions-
    per-key form spent ~0.4 s of driver time per 1000 probe keys in
    the analyzer/optimizer alone, which is why the fold cap can now sit
    at 8192. The expressions are the SAME engine expressions bucket
    placement and the bloom build use — Python never re-implements the
    hash. Probe lists beyond _ROUTE_FOLD_MAX (or containing NULLs)
    fall back to one distributed projection job."""
    if not keys:
        return []
    uniq = []
    seen = set()
    for k in keys:
        if k not in seen:
            seen.add(k)
            uniq.append(k)
    simple = key_dt.simpleString()
    if uniq and len(uniq) <= _ROUTE_FOLD_MAX and None not in seen:
        arr = F.lit(uniq).cast(f"array<{simple}>")
        expr = F.transform(
            arr,
            lambda kl: F.struct(
                F.pmod(F.hash(kl), F.lit(n_buckets)).cast("int").alias("b"),
                F.xxhash64(kl).alias("h"),
            ),
        ).alias("r")
        row = spark.sql("VALUES (1)").select(expr).collect()[0]
        return [
            (k, int(r["b"]), int(r["h"])) for k, r in zip(uniq, row["r"])
        ]
    kdf = spark.createDataFrame(
        [(k,) for k in uniq], T.StructType([T.StructField("k", key_dt, True)])
    )
    return [
        (r[0], int(r[1]), int(r[2]))
        for r in kdf.select(
            F.col("k"),
            F.pmod(F.hash("k"), F.lit(n_buckets)).cast("int"),
            F.xxhash64("k"),
        ).collect()
    ]


class LakeTable:
    """Handle to one table. Cheap to construct; state lives on disk."""

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, _META)
        # resolved-manifest cache: versions are immutable once written,
        # so entries never invalidate; bounded to the recent tail
        self._mcache: dict[int, dict] = {}

    # ------------------------------------------------------------- meta io

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, _LATEST))

    def _version_path(self, v: int) -> str:
        return os.path.join(self.meta_dir, f"version-{v:08d}.json")

    def current_version(self) -> int:
        try:
            with open(os.path.join(self.meta_dir, _LATEST)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _read_raw(self, v: int) -> dict:
        """The commit record as written — a full manifest or a delta."""
        with open(self._version_path(v)) as f:
            return json.load(f)

    def _resolved(self, v: int) -> dict:
        """Reconstruct version v by applying delta records onto the
        nearest full checkpoint manifest (<= _CHECKPOINT_INTERVAL hops,
        usually 1 thanks to the cache). Do NOT mutate the result."""
        hit = self._mcache.get(v)
        if hit is not None:
            return hit
        raw = self._read_raw(v)
        if raw.get("delta"):
            raw = _resolve_delta(self._resolved(v - 1), raw)
        self._mcache[v] = raw
        if len(self._mcache) > 8:  # keep the recent tail only
            for old in sorted(self._mcache)[:-4]:
                self._mcache.pop(old, None)  # tolerant of racing threads
        return raw

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            raise FileNotFoundError(f"table {self.root} has no snapshots")
        m = self._resolved(v)
        # callers mutate top-level containers in place — hand out copies
        # so the cache stays pristine (inner file lists are only ever
        # replaced wholesale, never mutated, so sharing them is safe)
        return {
            **m,
            "buckets": dict(m["buckets"]),
            "schemas": dict(m["schemas"]),
            "applied_epochs": dict(m["applied_epochs"]),
            "epoch_watermarks": dict(m.get("epoch_watermarks", {})),
        }

    def schema(self) -> T.StructType:
        m = self.manifest()
        return T.StructType.fromJson(m["schemas"][str(m["schema_id"])])

    def properties(self) -> dict:
        return self.manifest().get("properties", {})

    def applied_epochs(self) -> dict:
        """epoch_id -> version, for the UNFOLDED tail only (out-of-order
        or non-parseable ids). Contiguous ordered epochs live in
        `epoch_watermarks` — use is_epoch_applied() for membership."""
        return self.manifest().get("applied_epochs", {})

    def is_epoch_applied(self, epoch_id: str) -> bool:
        """Exactly-once check: has this epoch already been committed?"""
        return _epoch_applied(self.manifest(), epoch_id)

    def n_applied_epochs(self) -> int:
        """Total applied epochs = folded watermark spans + explicit tail."""
        m = self.manifest()
        return sum(w + 1 for w in m.get("epoch_watermarks", {}).values()) + len(
            m.get("applied_epochs", {})
        )

    def epoch_commit_version(self, epoch_id: str) -> int | None:
        """The version committed by `epoch_id`, or None if unknown (never
        applied, or its commit record was GC'd by expire_snapshots).
        Walks raw commit records newest-first — the cold crash-recovery
        path for derived-table maintenance (see operators/incremental),
        not something the hot loop calls."""
        for v in range(self.current_version(), 0, -1):
            try:
                rec = self._read_raw(v).get("epoch_id")
            except FileNotFoundError:
                break  # older records are expired; nothing earlier survives
            # multi-epoch atomic commits record a LIST of ids; match a
            # member, or the joined display form MergeStats carries
            if rec == epoch_id or (
                isinstance(rec, list)
                and (epoch_id in rec or epoch_id == ",".join(rec))
            ):
                return v
        return None

    def history(self) -> list[dict]:
        out = []
        for v in range(1, self.current_version() + 1):
            # per-commit scalars live verbatim in every record (delta or
            # full) — raw reads keep history O(versions), not O(v * K)
            try:
                m = self._read_raw(v)
            except FileNotFoundError:  # expired by expire_snapshots
                continue
            out.append(
                {
                    "version": v,
                    "operation": m.get("operation"),
                    "epoch_id": m.get("epoch_id"),
                    "committed_at": m.get("committed_at"),
                }
            )
        return out

    def lineage_rows(self) -> list[dict]:
        """All lineage rows across history: one per (commit, bucket)."""
        rows = []
        for v in range(1, self.current_version() + 1):
            try:
                rows.extend(self._read_raw(v).get("lineage", []))
            except FileNotFoundError:  # expired by expire_snapshots
                continue
        return rows

    # ------------------------------------------------------------- commit

    def _recover_orphan(self) -> None:
        """Roll forward a commit whose writer died between publishing
        the version record and flipping LATEST. Without this, the
        orphaned record makes every later commit of that version number
        raise CommitConflict forever — the table bricks. Version
        records are published atomically (see _commit), so an existing
        record is always complete and finishing the pointer flip is
        safe; if the original writer is merely slow, both flips write
        the same value (idempotent). Writers call this at the top of
        every optimistic attempt.

        Two defenses against racing/torn state: (1) the record is
        json-parsed before the flip — a record torn by power loss is
        never rolled forward as LATEST. Because _commit fsyncs the temp
        file BEFORE the atomic os.link, an unparseable version file can
        only be pre-fsync power-loss debris that no reader ever saw, so
        it is deleted (leaving it would brick every writer: link →
        FileExistsError → CommitConflict forever). (2) LATEST is
        re-read immediately before the replace and the flip is skipped
        if another writer already advanced the pointer at or past v+1 —
        otherwise a slow recovery could overwrite a newer LATEST with
        an older value and concurrent readers would transiently observe
        an older snapshot (monotonic-read violation)."""
        while True:
            v = self.current_version()
            path = self._version_path(v + 1)
            if not os.path.exists(path):
                return
            try:
                with open(path) as f:
                    json.load(f)
            except FileNotFoundError:
                continue  # another recovery/expiry raced us; re-read LATEST
            except json.JSONDecodeError:
                try:
                    os.unlink(path)  # torn pre-fsync debris, never visible
                except FileNotFoundError:
                    pass
                continue
            tmp = os.path.join(self.meta_dir, f".latest.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(str(v + 1))
                f.flush()
                os.fsync(f.fileno())
            if self.current_version() >= v + 1:  # another writer got there
                os.unlink(tmp)
                continue
            os.replace(tmp, os.path.join(self.meta_dir, _LATEST))

    def _commit(self, manifest: dict, expected_base: int, force_full: bool = False) -> int:
        """Optimistic-concurrency commit: exclusively create the next
        version file, then atomically flip the LATEST pointer.

        The record written is a DELTA relative to the parent version
        (touched buckets + new epoch markers only) except every
        _CHECKPOINT_INTERVAL-th version, which is written full — a
        commit is O(touched buckets) metadata, not O(table), and
        `applied_epochs` is folded into per-prefix watermarks first so
        exactly-once markers stay O(1) for an ordered stream."""
        os.makedirs(self.meta_dir, exist_ok=True)
        new_v = expected_base + 1
        manifest["version"] = new_v
        manifest["committed_at"] = time.time()
        manifest["applied_epochs"], manifest["epoch_watermarks"] = _fold_epochs(
            manifest.get("applied_epochs", {}),
            manifest.get("epoch_watermarks", {}),
        )
        record = manifest
        if not force_full and expected_base >= 1 and new_v % _CHECKPOINT_INTERVAL != 0:
            record = _delta_record(self._resolved(expected_base), manifest)
        path = self._version_path(new_v)
        # publish the commit record ATOMICALLY-AND-EXCLUSIVELY: write a
        # private temp then hard-link it into place. link() fails if the
        # name exists (the optimistic-concurrency conflict check, like
        # open("x")) and, unlike open("x") + write, a crash mid-write
        # can never leave a HALF-WRITTEN version file behind — any
        # version file that exists is complete, which is what makes the
        # orphan roll-forward in _recover_orphan() safe.
        tmpv = os.path.join(self.meta_dir, f".v.{uuid.uuid4().hex}")
        with open(tmpv, "w") as f:
            json.dump(record, f)
            f.flush()
            os.fsync(f.fileno())  # record durable BEFORE it becomes visible
        try:
            os.link(tmpv, path)
        except FileExistsError as e:
            raise CommitConflict(f"version {new_v} already exists at {self.root}") from e
        finally:
            os.unlink(tmpv)
        # fsync the directory so the link itself survives power loss —
        # "any version file that exists is complete" must hold across
        # system crashes, not just process crashes, for _recover_orphan's
        # roll-forward to stay safe.
        dfd = os.open(self.meta_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        tmp = os.path.join(self.meta_dir, f".latest.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(new_v))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.meta_dir, _LATEST))  # atomic
        # seed the cache with what we just committed (manifest() copies)
        self._mcache[new_v] = {
            **manifest,
            "buckets": dict(manifest["buckets"]),
            "schemas": dict(manifest["schemas"]),
            "applied_epochs": dict(manifest["applied_epochs"]),
            "epoch_watermarks": dict(manifest["epoch_watermarks"]),
        }
        return new_v

    # ------------------------------------------------------------- create

    def create(
        self,
        schema: T.StructType,
        key_cols: list[str],
        version_col: str | None,
        n_buckets: int = 32,
        properties: dict | None = None,
        merge_strategy: str = "cow",
        agg_spec: dict | None = None,
        stats_cols: list[str] | None = None,
        bucket_cols: list[str] | None = None,
    ) -> None:
        """`bucket_cols`: subset of `key_cols` the bucket hash uses
        (default: all). A proper subset makes the layout
        prefix-addressable — `read_prefix` prunes buckets from the
        subset's values alone (secondary-index layout) — while the
        merge still co-locates full keys (coarser partitioning
        satisfies the fold's clustering).

        `stats_cols`: extra columns whose per-file (min, max) bounds
        are bound into the manifest at every commit (the first key
        column always is); `scan(bounds=...)` skips files with them.

        merge_strategy:
        - "cow" (copy-on-write): each merge eagerly reduces batch +
          touched buckets and rewrites them; reads are plain scans.
        - "mor" (merge-on-read): each merge only appends the batch's
          per-key winners as delta files — no read/rewrite of existing
          data, so ingest cost is O(batch) regardless of table size;
          reads reduce base+deltas per key (greatest (version,
          commit_version) wins) and `compact()` folds deltas back down.
          This is ClickHouse ReplacingMergeTree's architecture — the
          reference's storage engine (destination.go:337-351): inserts
          are cheap appends, background merges fold, readers see the
          final state (we reduce at read instead of requiring FINAL).
        """
        if self.exists():
            raise FileExistsError(f"table {self.root} already exists")
        for c in key_cols:
            if c not in schema.fieldNames():
                raise ValueError(f"key column {c!r} not in schema")
        if version_col is not None and version_col not in schema.fieldNames():
            raise ValueError(f"version column {version_col!r} not in schema")
        if merge_strategy not in ("cow", "mor"):
            raise ValueError(f"unknown merge_strategy {merge_strategy!r}")
        for c in stats_cols or []:
            if c not in schema.fieldNames():
                raise ValueError(f"stats column {c!r} not in schema")
        if bucket_cols is not None:
            if not bucket_cols or any(c not in key_cols for c in bucket_cols):
                raise ValueError(
                    f"bucket_cols {bucket_cols!r} must be a non-empty subset "
                    f"of key_cols {key_cols!r}"
                )
        if agg_spec is not None:
            # aggregation merge engine DDL (ClickHouse SummingMergeTree /
            # Paimon aggregation analog) — bound at CREATE so every merge
            # folds with the same functions; see operators/dedup.AGG_FNS
            from airbyte_destination_spark.operators.dedup import AGG_FNS

            for c, fn in agg_spec.items():
                if fn not in AGG_FNS:
                    raise ValueError(f"unknown aggregate fn {fn!r} for column {c!r}")
                if c not in schema.fieldNames():
                    raise ValueError(f"agg_spec column {c!r} not in schema")
                if c in key_cols or c == version_col:
                    raise ValueError(f"agg_spec column {c!r} is a key/version column")
            if version_col is None:
                raise ValueError("agg_spec requires a version column")
            if merge_strategy != "cow":
                raise ValueError(
                    "agg_spec requires a COW table — MOR delta files fold with "
                    "LWW at read time, which would drop partial aggregates"
                )
        manifest = {
            "merge_strategy": merge_strategy,
            "schema_id": 0,
            "schemas": {"0": schema.jsonValue()},
            "key_cols": key_cols,
            "version_col": version_col,
            "n_buckets": n_buckets,
            "bucket_fn": "murmur3_pmod",  # == Spark HashPartitioning
            "buckets": {},
            "applied_epochs": {},
            "epoch_watermarks": {},
            "properties": properties or {},
            "agg_spec": agg_spec,
            "stats_cols": list(stats_cols or []),
            "bucket_cols": list(bucket_cols) if bucket_cols else None,
            "operation": "create",
            "lineage": [],
        }
        self._commit(manifest, 0)

    def drop(self) -> None:
        """DROP TABLE PURGE — the reference's cascade delete
        (/root/reference/internal/connector/destination.go:516-574) is a
        polled cloud API; here it is one recursive remove."""
        shutil.rmtree(self.root, ignore_errors=True)

    # ------------------------------------------------------------- read

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        read_optimized: bool = False,
        tag: str | None = None,
    ) -> DataFrame:
        """Current table state as a DataFrame (bucket column excluded).

        Files are grouped by the schema they were written under, each
        group aligned (cast / null-fill) to the table's current schema,
        then unioned — this is how added/widened columns read back
        without rewriting history.

        `read_optimized=True` (MOR tables; the Hudi RO-view shape):
        skip the per-key LWW fold entirely and read only each bucket's
        BASE files — the fully-folded output of the last maintenance
        rewrite (compact / purge_tombstones / rebucket), which is
        key-unique by construction. Deltas landed after the rewrite
        are NOT visible: the view trades bounded staleness for a
        fold-free scan (no aggregate exchange in the plan). A bucket
        never rewritten contributes nothing until its first
        compaction, exactly like a Hudi bucket before its first base
        file (a lone un-rewritten file is NOT served: append-mode
        files legitimately carry duplicate keys, so "single file" does
        not imply key-unique). No-op for COW tables (reads never
        fold).

        `tag="name"` reads the snapshot a tag pins (exclusive with
        `version`)."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version or tag, not both")
            version = self.resolve_tag(tag)
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        all_buckets = [int(b) for b in m["buckets"]]
        if read_optimized and m.get("merge_strategy", "cow") == "mor":
            allowed: set[str] = set()
            for fs in m["buckets"].values():
                allowed.update(e["path"] for e in fs if e.get("base"))
            out = self._read_buckets(
                spark, m, all_buckets, schema,
                file_pred=lambda b, e: e["path"] in allowed,
            )
            return (
                out.where(~F.coalesce(F.col(_DELETED_COL), F.lit(False)))
                .drop(_DELETED_COL, "_cv")
            )
        return self._resolve(spark, m, all_buckets, schema)

    def _resolve(
        self,
        spark: SparkSession,
        m: dict,
        buckets: list[int],
        schema: T.StructType,
        file_pred=None,
    ) -> DataFrame:
        """Final visible state of the given buckets: MOR tables fold
        base+deltas per key (greatest (version, commit) wins), then
        tombstones are filtered for both strategies.

        `file_pred(bucket, entry) -> bool` optionally skips data files
        before the scan. Safe under the MOR fold only for predicates
        that are *per-key complete* — every file that can contain a
        probed key must be kept (zone-map pruning is; see read_keys)."""
        out = self._read_buckets(spark, m, buckets, schema, file_pred=file_pred)
        if m.get("merge_strategy", "cow") == "mor":
            from airbyte_destination_spark.operators.dedup import lww_reduce_agg

            ver = m["version_col"]
            out = lww_reduce_agg(
                out, m["key_cols"], ([ver] if ver else []) + ["_cv"]
            )
        return (
            out.where(~F.coalesce(F.col(_DELETED_COL), F.lit(False)))
            .drop(_DELETED_COL, "_cv")
        )

    def read_keys(self, spark: SparkSession, keys: list) -> DataFrame:
        """Point lookups with three file-level pruning layers:
        (1) bucket pruning — only the buckets the keys hash to are
        scanned (1/n_buckets of the table per key); (2) zone-map FILE
        pruning inside each candidate bucket — a file is opened only
        if some probe key falls inside its manifest (kmin, kmax)
        bounds; (3) bloom pruning (lake/bloom.py) — when a per-file
        key bloom exists, the file is opened only if some probe key
        MAY be present. Zone maps win on key-clustered files (sorted
        compaction); blooms win on the CDC-natural shape where every
        epoch's file spans the whole key space and ranges prune
        nothing. Together they keep point lookups O(files containing
        the key) on an un-compacted MOR table. Safe under the MOR LWW
        fold because every layer is per-key complete (any file that
        CAN contain a probed key is kept; blooms have no false
        negatives).

        The surviving files are then served by one of two paths:

        - DRIVER path (lake/point_read.py), when the probe has at most
          256 keys and no NULL, the manifest sizes of the surviving
          files sum to at most the session's
          `spark.sql.autoBroadcastJoinThreshold`, every column the
          files need cast is a numeric or decimal widening, and no file
          was written under a LEGACY datetime rebase mode: the files
          are read with pyarrow (row groups skipped by their key
          statistics), aligned to the current schema, folded per key
          in Arrow on MOR tables, and returned as a local relation —
          `.collect()` launches no Spark job.
        - SPARK path otherwise: the files are scanned and folded by a
          distributed plan (`_resolve`), with the IN list pushed into
          the scan for probes of at most 256 keys and a broadcast semi
          join against the probe.

        Both return the same rows. Single-column keys only; `keys` is a
        list of key values.
        """
        m = self.manifest()
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        key_cols = m["key_cols"]
        keys_by_bucket, pred, entries = self._point_lookup(spark, m, schema, keys)
        from airbyte_destination_spark.lake import point_read

        local = point_read.read_keys_local(spark, self.root, m, schema, keys, entries)
        if local is not None:
            return local
        pruned = self._resolve(
            spark, m, sorted(keys_by_bucket), schema, file_pred=pred
        )
        if len(keys) <= _IN_LITERAL_MAX:
            # third pruning layer: a literal IN predicate reaches the
            # parquet scan as a pushed filter, so ROW GROUPS inside the
            # kept files are skipped by their min/max stats (selective
            # after sorted compaction keys every file). The semi join
            # stays authoritative; the filter is a redundant narrowing,
            # applied pre-fold which is safe for the same per-key-
            # completeness reason as file pruning. Capped so a huge key
            # list can't bloat the plan with a kilobyte literal.
            pruned = pruned.where(F.col(key_cols[0]).isin(list(keys)))
        kdf = spark.createDataFrame(
            [(k,) for k in keys], T.StructType([schema[key_cols[0]]])
        )
        return pruned.join(F.broadcast(kdf), key_cols, "left_semi")

    def _point_lookup(self, spark, m, schema, keys):
        """(bucket -> probe keys, file_pred, kept manifest entries) for
        a point lookup: bucket routing plus the combined zone-map and
        bloom file predicate. The bloom hashes ride the same tiny
        collect the bucket routing already pays, and are the SAME
        engine expression the bloom build hashes file keys with —
        Python never re-implements it."""
        key_cols = m["key_cols"]
        if len(key_cols) != 1:
            raise ValueError("point lookups support single-column keys only")
        keys_by_bucket: dict[int, list] = {}
        hashes_by_bucket: dict[int, list[int]] = {}
        key_dt = schema[key_cols[0]].dataType
        for k, b, h in _route_keys(spark, keys, key_dt, m["n_buckets"]):
            keys_by_bucket.setdefault(b, []).append(k)
            hashes_by_bucket.setdefault(b, []).append(h)
        pred = self._point_lookup_pred(
            keys_by_bucket, hashes_by_bucket, key_type=key_dt.simpleString()
        )
        entries = [
            e
            for b in sorted(keys_by_bucket)
            for e in m["buckets"].get(str(b), [])
            if pred(b, e)
        ]
        return keys_by_bucket, pred, entries

    def scan(
        self,
        spark: SparkSession,
        bounds: dict[str, tuple] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping scan: `bounds` maps column -> (lo, hi)
        inclusive range (either end None = unbounded). Files whose
        manifest bounds cannot overlap a range are never opened; the
        range predicates are then applied to the surviving rows (and
        reach the parquet scan as pushed filters where Catalyst can
        move them).

        Pruning safety depends on the merge strategy:
        - COW: every live row sits in exactly one CURRENT file (reads
          don't fold), so file skipping is safe on ANY column.
        - MOR: reads fold base+deltas per key, and a non-key bound
          could prune the file holding a key's NEWEST image while an
          older in-range image survives elsewhere — the fold would
          then resurrect a stale row. So only first-key-column bounds
          prune files (per-key complete: every file that can contain
          an in-range key is kept); other bounds filter POST-fold only
          (Catalyst cannot push a non-grouping predicate below the
          fold's aggregate, which is exactly the safety we need).

        The classic win: an append-shaped COW event table whose lsn /
        event-time correlates with commit order — a time-window scan
        opens O(files in window), the Iceberg/Delta data-skipping
        shape (stats_cols at create() declares the bounded columns)."""
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        bounds = dict(bounds or {})
        for c in bounds:
            if c not in schema.fieldNames():
                raise ValueError(f"bounds column {c!r} not in schema")
        k0 = m["key_cols"][0]
        mor = m.get("merge_strategy", "cow") == "mor"
        prunable = {c: r for c, r in bounds.items() if c == k0 or not mor}
        pred = _bounds_pred(prunable, k0) if prunable else None
        all_buckets = [int(b) for b in m["buckets"]]
        out = self._resolve(spark, m, all_buckets, schema, file_pred=pred)
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                out = out.where(F.col(c) >= F.lit(lo))
            if hi is not None:
                out = out.where(F.col(c) <= F.lit(hi))
        return out

    def read_prefix(self, spark: SparkSession, values: list) -> DataFrame:
        """Prefix point lookups for tables bucketed on a single-column
        proper subset of their key (`bucket_cols=[c]`): all rows whose
        bucket column equals any of `values`, with bucket pruning, the
        zone-map file skip (when the bucket column is also the first
        key column — the secondary-index layout), and a pushed IN
        predicate. This is the index-probe read: the table may hold
        many rows per prefix value (one per full key)."""
        m = self.manifest()
        bcols = _bucket_cols(m)
        if len(bcols) != 1:
            raise ValueError("read_prefix requires a single bucket column")
        b0 = bcols[0]
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        vdf = spark.createDataFrame([(v,) for v in values], T.StructType([schema[b0]]))
        by_bucket: dict[int, list] = {}
        # job-free literal-fold routing for small probe lists (see
        # _route_keys)
        for v, b, _h in _route_keys(
            spark, values, schema[b0].dataType, m["n_buckets"]
        ):
            by_bucket.setdefault(b, []).append(v)
        buckets = sorted(by_bucket)
        pred = _zone_map_pred(by_bucket) if b0 == m["key_cols"][0] else None
        out = self._resolve(spark, m, buckets, schema, file_pred=pred)
        if len(values) <= _IN_LITERAL_MAX:
            out = out.where(F.col(b0).isin(list(values)))
        return out.join(F.broadcast(vdf), [b0], "left_semi")

    def files_for_bounds(self, bounds: dict[str, tuple]) -> list[dict]:
        """The manifest entries scan(bounds) would open — introspection
        for tests/EXPLAIN (applies the same strategy-aware safety
        rule)."""
        m = self.manifest()
        k0 = m["key_cols"][0]
        mor = m.get("merge_strategy", "cow") == "mor"
        prunable = {c: r for c, r in (bounds or {}).items() if c == k0 or not mor}
        pred = _bounds_pred(prunable, k0)
        return [
            e
            for b in sorted(int(x) for x in m["buckets"])
            for e in m["buckets"][str(b)]
            if pred(b, e)
        ]

    def files_for_keys(self, spark: SparkSession, keys: list) -> list[dict]:
        """The manifest entries read_keys would scan for `keys` (after
        bucket + zone-map + bloom pruning) — introspection for
        tests/EXPLAIN."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        return self._point_lookup(spark, m, schema, keys)[2]

    def _point_lookup_pred(
        self,
        keys_by_bucket: dict[int, list],
        hashes_by_bucket: dict[int, list[int]],
        key_type: str | None = None,
    ):
        """Combined per-file predicate for point lookups: zone-map
        range check AND bloom membership (lake/bloom.py). Both layers
        are per-key complete — a file that can contain a probed key is
        always kept — so the MOR LWW fold stays exact. Bloom shards
        are loaded for the probed buckets only and entries decode
        lazily (files the zone map already rejected never pay the
        base64+unpackbits). `key_type` drops entries built before a
        key-column widening (their hashes no longer match the probe's
        — a stale entry would be a silent false negative)."""
        from airbyte_destination_spark.lake import bloom as _bloom

        zone = _zone_map_pred(keys_by_bucket)
        raw: dict[str, dict] = {}
        for b in keys_by_bucket:
            raw.update(_bloom.load_shard(self.root, b))
        if not raw:
            return zone
        bl = _bloom.bloom_pred(raw, hashes_by_bucket, key_type=key_type)

        def pred(b: int, entry: dict) -> bool:
            return zone(b, entry) and bl(b, entry)

        return pred

    def build_bloom_index(
        self,
        spark: SparkSession,
        fpp: float = 0.01,
        only_missing: bool = True,
    ) -> int:
        """Build/refresh per-file key blooms (lake/bloom.py sidecars).

        ONE distributed job over the files that need blooms: project
        (xxhash64(key), input_file_name) — an ids-only column, key
        payloads never shuffle — group by file, fold each group's
        hashes into a packed bit array vectorized in numpy. Entries
        land in per-bucket `_meta/bloom/` shards keyed by data-file
        path; data files are immutable so entries never go stale, and
        `only_missing=True` (the default) scans ONLY files without an
        entry — post-ingest maintenance costs O(new files), the same
        amortization as sorted compaction. Returns #files indexed.

        Files written after the last build simply lack entries and
        fail open at probe time; `describe()` reports coverage.

        Entries record the key column's type at build time (`ktype`):
        a key-column WIDENING (int -> long) changes xxhash64 of the
        same logical value, so pre-widening entries are unusable —
        probes ignore them (fail open) and this build re-indexes them
        (a ktype mismatch counts as missing). Shard writes also PRUNE
        entries for files no longer in the current manifest, so shard
        size tracks live files, not table history."""
        from airbyte_destination_spark.lake import bloom as _bloom

        m = self.manifest()
        key0 = m["key_cols"][0]
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        cur_field = schema[key0]
        ktype = cur_field.dataType.simpleString()
        # (bucket, relpath) for files needing an entry, grouped by the
        # schema they were written under (the key may have widened —
        # hash over the CURRENT type so probe hashes match)
        shards: dict[int, dict] = {}
        live_paths: dict[int, set] = {}
        by_schema: dict[str, list[tuple[int, str]]] = {}
        for b_str, entries in m["buckets"].items():
            b = int(b_str)
            shards[b] = _bloom.load_shard(self.root, b)
            live_paths[b] = {e["path"] for e in entries}
            for e in entries:
                have = shards[b].get(e["path"]) if only_missing else None
                if have is not None and have.get("ktype") == ktype:
                    continue
                by_schema.setdefault(str(e["schema_id"]), []).append((b, e["path"]))
        if not by_schema:
            return 0
        rel_by_abs: dict[str, tuple[int, str]] = {}
        parts = []
        for sid, pairs in by_schema.items():
            file_field = T.StructType.fromJson(m["schemas"][sid])[key0]
            paths = []
            for b, rel in pairs:
                ap = os.path.join(self.root, rel)
                rel_by_abs[os.path.realpath(ap)] = (b, rel)
                paths.append(ap)
            df = spark.read.schema(T.StructType([file_field])).parquet(*paths)
            parts.append(
                df.select(
                    F.xxhash64(F.col(key0).cast(cur_field.dataType)).alias("h"),
                    F.input_file_name().alias("f"),
                )
            )
        hashed = parts[0]
        for p in parts[1:]:
            hashed = hashed.unionByName(p)

        def fold(pdf):
            import pandas as pd

            entry = _bloom.build_bloom_bits(pdf["h"].to_numpy(), fpp)
            return pd.DataFrame(
                [
                    {
                        "f": pdf["f"].iloc[0],
                        "n": entry["n"],
                        "m": entry["m"],
                        "k": entry["k"],
                        "bits": entry["bits"],
                    }
                ]
            )

        from urllib.parse import unquote

        built = 0
        touched: set[int] = set()
        for r in (
            hashed.groupBy("f")
            .applyInPandas(fold, "f string, n long, m long, k int, bits string")
            .collect()
        ):
            # input_file_name() returns a percent-encoded file: URI
            abs_path = os.path.realpath(unquote(r["f"].removeprefix("file:")))
            hit = rel_by_abs.get(abs_path)
            if hit is None:
                continue
            b, rel = hit
            shards[b][rel] = {
                "n": r["n"], "m": r["m"], "k": r["k"], "bits": r["bits"],
                "ktype": ktype,
            }
            touched.add(b)
            built += 1
        for b in touched:
            # prune entries whose files left the manifest (compaction /
            # rebucket / expiry): shard size tracks LIVE files
            _bloom.write_shard(
                self.root, b,
                {p: d for p, d in shards[b].items() if p in live_paths[b]},
            )
        return built

    def table_changes(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int | None = None,
        pre_images: bool = False,
    ) -> DataFrame:
        """Change data feed (Iceberg/Delta CDF analogue): the net row
        changes between snapshot `v_from` and snapshot `v_to` (default:
        current). Emits one row per key whose VISIBLE state changed:

            change_type = 'insert'  key absent (or deleted) at v_from,
                                    present at v_to — payload = post
            change_type = 'update'  present in both, version advanced —
                                    payload = post
            change_type = 'delete'  present at v_from, gone at v_to —
                                    payload = pre (the last-seen row)

        NET semantics (like Iceberg CDF between non-adjacent snapshots):
        a key inserted and deleted inside the window emits nothing.

        Plan shape (one-pass fast path — the common case): every data
        file of EITHER snapshot is read ONCE, tagged with literal
        membership flags for the before/after file sets, and a single
        key-grouped conditional LWW fold (max_by over (version, _cv),
        the exact read-side ordering) computes both sides' visible
        winners — one scan + ONE exchange, replacing two snapshot
        reads (each a scan, plus a fold exchange on MOR) and a
        full-outer join. Shared files (untouched buckets, MOR bases)
        are scanned once instead of twice. When the window crosses
        schema evolution or a strategy change, the general two-read
        full-outer-join path below still applies — both sides
        hash-partition on the key columns, no broadcast of table-sized
        data; with a version column the changed-row test compares
        versions only (LWW invariant: one (key, version) is one row),
        so payload columns never widen the join condition.
        """
        m = self.manifest(v_to)
        mb = self.manifest(v_from)
        key_cols = m["key_cols"]
        ver = m["version_col"]
        if (
            mb["schema_id"] == m["schema_id"]
            and mb["schemas"] == m["schemas"]
            and mb.get("renames") == m.get("renames")
            and mb.get("adds") == m.get("adds")
            and mb.get("drops") == m.get("drops")
            and mb.get("defaults") == m.get("defaults")
            and mb["key_cols"] == key_cols
            and mb["version_col"] == ver
            and mb.get("merge_strategy", "cow") == m.get("merge_strategy", "cow")
        ):
            return self._changes_one_pass(spark, mb, m, pre_images)
        after = self.read(spark, version=v_to)
        before = self.read(spark, version=v_from)
        cols = after.columns
        # the window may span schema evolution: align the BEFORE
        # snapshot to the after-schema (typed nulls for columns added
        # inside the window, casts for widened ones) so the diff join
        # resolves; pre-images of such rows carry null in new columns,
        # which is exactly what the old snapshot said.
        before_types = {f.name: f.dataType for f in before.schema.fields}
        for f in after.schema.fields:
            if f.name not in before_types:
                before = before.withColumn(f.name, F.lit(None).cast(f.dataType))
            elif before_types[f.name] != f.dataType:
                before = before.withColumn(f.name, F.col(f.name).cast(f.dataType))
        before = before.select(cols)
        af = after.select([F.col(c).alias(f"a_{c}") for c in cols])
        bf = before.select([F.col(c).alias(f"b_{c}") for c in cols])
        cond = None
        for k in key_cols:
            e = af[f"a_{k}"].eqNullSafe(bf[f"b_{k}"])
            cond = e if cond is None else (cond & e)
        j = af.join(bf, cond, "full_outer")
        is_ins = F.col(f"b_{key_cols[0]}").isNull()
        is_del = F.col(f"a_{key_cols[0]}").isNull()
        if ver is not None:
            differs = F.col(f"a_{ver}") != F.col(f"b_{ver}")
        else:
            payload = [c for c in cols if c not in key_cols]
            differs = F.xxhash64(*[F.col(f"a_{c}") for c in payload]) != F.xxhash64(
                *[F.col(f"b_{c}") for c in payload]
            )
        # With pre_images=True an update emits TWO rows — Delta CDF's
        # update_preimage/update_postimage shape — which is what signed
        # incremental aggregate maintenance needs (the -pre +post
        # contributions). Built by exploding a per-row entry array so
        # the full-outer join runs ONCE either way.
        payload_cols = [c for c in cols if c not in key_cols]

        def _img(side: str, ct: str):
            return F.struct(
                F.lit(ct).alias("change_type"),
                *[F.col(f"{side}_{c}").alias(c) for c in payload_cols],
            )

        upd = (
            F.array(_img("b", "update_preimage"), _img("a", "update_postimage"))
            if pre_images
            else F.array(_img("a", "update"))
        )
        entries = (
            F.when(is_ins, F.array(_img("a", "insert")))
            .when(is_del, F.array(_img("b", "delete")))
            .otherwise(upd)
        )
        keys_out = [
            F.coalesce(F.col(f"a_{k}"), F.col(f"b_{k}")).alias(k) for k in key_cols
        ]
        return (
            j.where(is_ins | is_del | differs)
            .select(*keys_out, F.explode(entries).alias("__c"))
            .select(
                *key_cols,
                F.col("__c.change_type").alias("change_type"),
                *[F.col(f"__c.{c}").alias(c) for c in payload_cols],
            )
        )

    def _changes_one_pass(
        self, spark: SparkSession, mb: dict, m: dict, pre_images: bool
    ) -> DataFrame:
        """Single-pass CDF (see table_changes): read the UNION of both
        snapshots' data files once, each file flagged with its
        membership in the before/after file sets, then fold both
        sides' visible winners in one key-grouped aggregate. The
        conditional max_by skips rows whose side flag is false (a null
        ordering never wins) and uses the identical (version, _cv)
        ordering as the read-side LWW fold, so each side's winner —
        and therefore every emitted change row — matches the two-read
        join path bit for bit. Tombstone winners make a key invisible
        on that side, exactly like read()'s post-fold filter."""
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        key_cols = m["key_cols"]
        ver = m["version_col"]
        cols = schema.fieldNames()
        payload_cols = [c for c in cols if c not in key_cols]
        target = T.StructType(
            schema.fields + [T.StructField(_DELETED_COL, T.BooleanType(), True)]
        )
        out_schema = T.StructType(
            [schema[k] for k in key_cols]
            + [T.StructField("change_type", T.StringType(), False)]
            + [schema[c] for c in payload_cols]
        )
        by_group: dict[tuple, list[str]] = {}
        for b in set(m["buckets"]) | set(mb["buckets"]):
            ae = {e["path"]: e for e in m["buckets"].get(b, [])}
            be = {e["path"]: e for e in mb["buckets"].get(b, [])}
            for path, e in {**be, **ae}.items():
                key = (
                    str(e["schema_id"]),
                    int(e.get("cv", 0)),
                    bool(e.get("stored_cv")),
                    path in be,
                    path in ae,
                )
                by_group.setdefault(key, []).append(
                    os.path.join(self.root, path)
                )
        if not by_group:
            return spark.createDataFrame([], out_schema)
        parts = [
            self._read_file_group(spark, m, sid, cv, stored, paths, target)
            .withColumn("_in_b", F.lit(in_b))
            .withColumn("_in_a", F.lit(in_a))
            for (sid, cv, stored, in_b, in_a), paths in by_group.items()
        ]
        src = parts[0]
        for p in parts[1:]:
            src = src.unionByName(p)
        pay = F.struct(
            *[F.col(c) for c in payload_cols],
            F.coalesce(F.col(_DELETED_COL), F.lit(False)).alias("_del"),
        )
        ordc = F.struct(
            *([F.col(ver)] if ver is not None else []), F.col("_cv")
        )
        g = src.groupBy(*key_cols).agg(
            F.max_by(
                F.when(F.col("_in_a"), pay), F.when(F.col("_in_a"), ordc)
            ).alias("_wa"),
            F.max_by(
                F.when(F.col("_in_b"), pay), F.when(F.col("_in_b"), ordc)
            ).alias("_wb"),
        )
        pa = F.col("_wa").isNotNull() & ~F.col("_wa._del")
        pb = F.col("_wb").isNotNull() & ~F.col("_wb._del")
        if ver is not None:
            differs = F.col(f"_wa.{ver}") != F.col(f"_wb.{ver}")
        else:
            differs = F.xxhash64(
                *[F.col(f"_wa.{c}") for c in payload_cols]
            ) != F.xxhash64(*[F.col(f"_wb.{c}") for c in payload_cols])

        def _img(side: str, ct: str):
            return F.struct(
                F.lit(ct).alias("change_type"),
                *[F.col(f"{side}.{c}").alias(c) for c in payload_cols],
            )

        upd = (
            F.array(_img("_wb", "update_preimage"), _img("_wa", "update_postimage"))
            if pre_images
            else F.array(_img("_wa", "update"))
        )
        entries = (
            F.when(pa & ~pb, F.array(_img("_wa", "insert")))
            .when(pb & ~pa, F.array(_img("_wb", "delete")))
            .otherwise(upd)
        )
        return (
            g.where((pa & ~pb) | (pb & ~pa) | (pa & pb & differs))
            .select(*key_cols, F.explode(entries).alias("__c"))
            .select(
                *key_cols,
                F.col("__c.change_type").alias("change_type"),
                *[F.col(f"__c.{c}").alias(c) for c in payload_cols],
            )
        )

    def compact(
        self,
        spark: SparkSession,
        min_files: int = 2,
        cluster_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        cluster: str = "range",
    ) -> int | None:
        """Fold MOR delta files (and small-file buildup generally):
        rewrite every bucket holding >= min_files files as one reduced
        file set. Tombstones are RETAINED (they still guard against late
        older updates) — purge_tombstones() reclaims them separately.
        Returns the new version, or None if nothing needed compaction.

        This is the reference storage engine's background merge
        (ReplacingMergeTree merge threads) as an explicit operation.

        `cluster_by` + `max_records_per_file`: RANGE-CLUSTERED
        compaction. Plain compaction collapses a bucket into one file
        spanning the full value range of every column, so the zone-map
        selectivity that un-compacted epoch files had (time-correlated
        lsn/event-time) is destroyed. Sorting each bucket by
        `cluster_by` and capping records per file makes the parquet
        writer cut the sorted stream into CONSECUTIVE files, each
        covering a contiguous value range — scan(bounds) then skips
        compacted files by their manifest bounds again (declare the
        columns in stats_cols). The Iceberg sort-order-rewrite shape,
        one-dimensional.

        `cluster="zorder"` (with >=2 cluster_by columns): sort by the
        bit-interleaved Morton key instead (lake/zorder.py) — each cut
        file's bounding box is tight in EVERY clustered dimension, so
        scan(bounds) prunes files on any of them (Delta OPTIMIZE
        ZORDER BY). Costs one extra min/max aggregation pass to fix
        the rank ranges; the key itself is pure codegen arithmetic."""
        if cluster not in ("range", "zorder"):
            raise ValueError(f"unknown cluster mode {cluster!r}")
        if cluster == "zorder" and not cluster_by:
            # silently falling back to key-sorted compaction would leave
            # the operator believing multi-dimensional pruning exists
            raise ValueError("cluster='zorder' requires cluster_by columns")
        with _no_aqe(spark):  # fixed-shape fold+write, like _apply
            return self._compact_no_aqe(
                spark, min_files, cluster_by, max_records_per_file, cluster
            )

    def _compact_no_aqe(
        self,
        spark: SparkSession,
        min_files: int,
        cluster_by: list[str] | None,
        max_records_per_file: int | None,
        cluster: str,
    ) -> int | None:
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
            todo = [int(b) for b, fs in m["buckets"].items() if len(fs) >= min_files]
            if not todo:
                return None
            folded = self._read_buckets(spark, m, todo, schema)
            if m.get("merge_strategy", "cow") == "mor":
                from airbyte_destination_spark.operators.dedup import lww_reduce_agg

                ver = m["version_col"]
                folded = lww_reduce_agg(
                    folded, m["key_cols"], ([ver] if ver else []) + ["_cv"]
                )
            folded = self._with_bucket(folded.drop("_cv"), m)
            sort_cols = cluster_by
            if cluster == "zorder" and cluster_by:
                from airbyte_destination_spark.lake.zorder import (
                    column_ranges,
                    zorder_key,
                )

                ranges = column_ranges(folded, cluster_by)
                folded = folded.withColumn(_ZORDER_COL, zorder_key(ranges))
                sort_cols = [_ZORDER_COL]
            new_files = self._write_bucketed(
                folded, m, base + 1, n_out=len(todo),
                sort_keys=cluster_by is None, sort_cols=sort_cols,
                max_records_per_file=max_records_per_file,
                mark_base=True,
            )
            buckets = dict(m["buckets"])
            for b in todo:
                buckets[str(b)] = new_files.get(str(b), [])
            m["buckets"] = buckets
            m["operation"] = "compact"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def compact_tiered(
        self,
        spark: SparkSession,
        min_run: int = 4,
        tier_factor: float = 4.0,
        max_run: int = 32,
    ) -> dict | None:
        """Size-tiered (LSM-style) compaction: per bucket, merge ONE run
        of similar-sized small files into a single file, leaving the
        bucket's large base file(s) alone until the merged deltas grow
        into their size class.

        Why it exists: `compact()` rewrites EVERY file of a qualifying
        bucket — including its base — so sustained MOR ingest pays
        O(bucket bytes) per fold and write amplification grows with the
        table. Size-tiered runs bound amplification at O(log(table /
        delta)) rewrites per ingested byte (the LSM/ClickHouse merge-
        tree shape): deltas merge with deltas, the output re-enters the
        next size tier, and the base is touched only when a run reaches
        it.

        Correctness (the subtle part): MOR read order is
        (version_col, commit version) — `compact()` may renumber rows
        to the new commit version only because it folds a WHOLE bucket.
        Merging a SUBSET would reorder version ties against unmerged
        files, so tiered output stores each row's ORIGINAL commit
        version as a real `_cv` data column (`stored_cv` manifest
        entries; `_read_buckets` reads it back instead of stamping the
        file's own commit version). The within-run LWW fold is a
        partial max per key — associative, so dropping rows strictly
        dominated inside the run can never change the global winner.
        Non-MOR tables (append mode: duplicate keys are data) skip the
        fold and just bin-pack the run.

        Run selection is deterministic: files ascend by (bytes, path);
        the run grows while the next file is <= tier_factor x the run's
        mean size, merges when >= min_run files joined (capped at
        max_run). File sizes come from the manifest (`bytes`, recorded
        at write; getsize fallback for pre-existing entries).

        Returns {"version", "buckets", "files_merged", "bytes_merged"}
        or None when no bucket holds a qualifying run.
        """
        from airbyte_destination_spark.operators.dedup import lww_reduce_agg

        def _size(e: dict) -> int:
            b = e.get("bytes")
            if b is None:
                try:
                    b = os.path.getsize(os.path.join(self.root, e["path"]))
                except OSError:
                    b = 0
            return int(b)

        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
            runs: dict[str, set] = {}
            n_files = 0
            n_bytes = 0
            for b, fs in m["buckets"].items():
                if len(fs) < min_run:
                    continue
                sized = sorted(fs, key=lambda e: (_size(e), e["path"]))
                run, total = [sized[0]], _size(sized[0])
                for e in sized[1:]:
                    if len(run) >= max_run:
                        break
                    if _size(e) <= tier_factor * (total / len(run)):
                        run.append(e)
                        total += _size(e)
                    else:
                        break
                if len(run) >= min_run:
                    runs[b] = {e["path"] for e in run}
                    n_files += len(run)
                    n_bytes += total
            if not runs:
                return None

            def pred(b: int, entry: dict) -> bool:
                return entry["path"] in runs.get(str(b), ())

            todo = sorted(int(b) for b in runs)
            folded = self._read_buckets(spark, m, todo, schema, file_pred=pred)
            if m.get("merge_strategy", "cow") == "mor":
                ver = m["version_col"]
                folded = lww_reduce_agg(
                    folded, m["key_cols"], ([ver] if ver else []) + ["_cv"]
                )
            folded = self._with_bucket(folded, m)
            new_files = self._write_bucketed(
                folded, m, base + 1, n_out=len(todo), sort_keys=True,
                stored_cv=True,
            )
            buckets = dict(m["buckets"])
            for b in runs:
                keep = [e for e in buckets[b] if e["path"] not in runs[b]]
                buckets[b] = keep + new_files.get(b, [])
            m["buckets"] = buckets
            m["operation"] = "compact_tiered"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                v = self._commit(m, base)
                return {
                    "version": v,
                    "buckets": len(runs),
                    "files_merged": n_files,
                    "bytes_merged": n_bytes,
                }
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def purge_tombstones(self, spark: SparkSession) -> int:
        """Maintenance compaction: rewrite the buckets that HOLD
        tombstone rows without them; every other bucket keeps its files
        untouched. Safe once the source can no longer deliver events
        older than the tombstones' versions (e.g. past the log's
        watermark).

        Scale shape: the detection pre-pass scans only the raw
        tombstone-flag column (Catalyst prunes the scan to it plus the
        bucket key), so on a 100 TB table with deletes concentrated in
        recent partitions the rewrite cost is O(buckets containing
        tombstones), not O(table). A bucket with no tombstone row in
        ANY of its raw files (a superseded-then-reinserted key still
        leaves its old tombstone row in a file) is provably unchanged
        by the purge and is skipped. Returns the current version
        unchanged when no bucket holds a tombstone."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
            all_buckets = [int(b) for b in m["buckets"]]
            raw = self._read_buckets(spark, m, all_buckets, schema)
            dirty = sorted(
                int(r[0])
                for r in self._with_bucket(
                    raw.where(F.coalesce(F.col(_DELETED_COL), F.lit(False))), m
                )
                .select(_BUCKET_COL)
                .distinct()
                .collect()
            )
            if not dirty:
                return base
            # _resolve folds MOR deltas and drops tombstone rows
            live = self._resolve(spark, m, dirty, schema)
            live = self._with_bucket(live, m)
            new_files = self._write_bucketed(
                live, m, base + 1, sort_keys=True, mark_base=True
            )
            # a bucket whose every key was deleted writes no file
            m["buckets"] = {
                **m["buckets"],
                **{str(b): new_files.get(str(b), []) for b in dirty},
            }
            m["operation"] = "purge_tombstones"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def rebucket(self, spark: SparkSession, n_buckets: int) -> int:
        """Bucket-count evolution — the Iceberg partition-spec-evolution
        analog for this table's hash bucketing. At 10^10 rows a bucket
        count chosen at create time is wrong twice: too few buckets cap
        merge parallelism and grow per-bucket files past executor
        memory; too many drown small tables in file/commit overhead.
        `rebucket` rewrites the table once under a new key->bucket
        mapping and commits it like any other version:

        - the new manifest's `n_buckets` drives every LATER write's
          repartition width and `read_keys` pruning, while time travel
          to older versions keeps using THEIR manifests (each version
          record carries its own n_buckets + file map, so no reader
          ever mixes mappings);
        - MOR delta files are folded in the same pass (a delta written
          under the old mapping must not survive under the new one);
        - tombstones are RETAINED (they still guard against late older
          updates), unlike purge_tombstones;
        - concurrent ingest is safe: commit is optimistic, and a loser
          retries against the winner's manifest.

        Returns the new version (current version if n_buckets already
        matches). The rewrite is one shuffle of the live table — the
        same cost class as purge_tombstones — so it's a maintenance
        operation, not an ingest-path one."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            if n_buckets == m["n_buckets"]:
                return base
            schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
            folded = self._read_buckets(
                spark, m, [int(b) for b in m["buckets"]], schema
            )
            if m.get("merge_strategy", "cow") == "mor":
                from airbyte_destination_spark.operators.dedup import lww_reduce_agg

                ver = m["version_col"]
                folded = lww_reduce_agg(
                    folded, m["key_cols"], ([ver] if ver else []) + ["_cv"]
                )
            m["n_buckets"] = n_buckets
            folded = self._with_bucket(folded.drop("_cv"), m)
            new_files = self._write_bucketed(folded, m, base + 1, sort_keys=True, mark_base=True)
            m["buckets"] = new_files
            m["operation"] = "rebucket"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    # --------------------------------------------------- bucket rescale

    @staticmethod
    def _entry_fp(entries: list[dict]) -> list[list]:
        """Order-insensitive identity of a bucket's entry list — what
        `split_buckets` uses to detect that concurrent commits changed
        a bucket after it was split (delta appends, compaction
        rewrites, purges all change it; metadata-only commits don't)."""
        return sorted(
            [e["path"], int(e.get("cv", 0)), str(e["schema_id"]),
             bool(e.get("base"))]
            for e in entries
        )

    def _update_staged_record(self, staging_id: str, rec: dict) -> None:
        """Overwrite-in-place update of an existing staged record (the
        rescale campaign's progress log). Same fsync discipline as
        _commit; os.replace is atomic so readers (GC pinning) always
        see a complete record. Only the single campaign runner updates
        its record — exclusive CREATION is _write_staged's job."""
        path = self._staged_path(staging_id)
        tmp = os.path.join(self.meta_dir, f".s.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def split_buckets(
        self,
        spark: SparkSession,
        factor: int = 2,
        max_groups: int | None = None,
        group_size: int = 8,
        campaign_id: str = "default",
    ) -> dict:
        """Online bucket-count MULTIPLICATION as a paced, resumable,
        ZERO-SHUFFLE campaign — the at-scale form of `rebucket`.

        Because the layout is pmod(hash(keys), N) and the new count is
        N*factor, every row of old bucket b lands in one of exactly
        `factor` new buckets {b, b+N, b+2N, ...}: splitting is a
        map-only re-cut of each old bucket's files (read, tag
        pmod(hash, N*factor), write partitioned) with NO exchange
        anywhere — the consistent-hashing property Iceberg's
        bucket-spec evolution exploits. Contrast `rebucket`, which
        supports arbitrary counts but pays one full-table shuffle in
        one job.

        Campaign mechanics (resumable, online, concurrent-ingest-safe):
        - progress lives in a staged record (`_meta/staged/
          rescale-<campaign_id>.json`) whose accumulated `buckets` map
          pins the campaign's data dirs against expire_snapshots GC —
          the same pinning every WAP staging gets;
        - each call splits up to `max_groups` groups of `group_size`
          old buckets, each group ONE map-only Spark job over the
          bucket's files as they are (MOR deltas are NOT folded: every
          entry keeps its own cv / schema_id / base flag through
          partitioned sub-dirs, so fold-on-read precedence — and the
          exactly-once epoch state — is untouched);
        - every split bucket records the fingerprint of the source
          entries it split; commits that land DURING the campaign make
          those buckets stale, and the next call re-splits just them
          (O(changed buckets) catch-up, not a restart);
        - when every old bucket is split and fresh against the CURRENT
          manifest, the campaign publishes: one optimistic commit of a
          full manifest with n_buckets *= factor (operation
          "rescale"). A racing writer raises CommitConflict inside the
          publish — the campaign stays staged and the next call
          catches up and retries. Readers never see a mixed layout;
          writers never block; time travel keeps each version's own
          n_buckets.

        Crash mid-group orphans that group's files (unreferenced,
        version-hinted, mtime-graced — ordinary conflicted-writer
        debris the next expiry collects); crash after the record
        update resumes exactly where it stopped. Superseded re-split
        files stay inside still-pinned dirs until the campaign's dirs
        age out after publish — wasted bytes, never wrong reads.

        Returns {"published", "version", "split", "pending", "stale"}.
        Loop `while not split_buckets(...)["published"]` to drive a
        campaign to completion under concurrent ingest.
        """
        if factor < 2 or int(factor) != factor:
            raise ValueError(f"factor must be an integer >= 2, got {factor!r}")
        staging_id = f"rescale-{campaign_id}"
        path = self._staged_path(staging_id)
        self._recover_orphan()
        base = self.current_version()
        m = self.manifest(base)
        if os.path.exists(path):
            rec = self._read_staged(staging_id)
            if not rec.get("rescale"):
                raise ValueError(
                    f"staging id {staging_id!r} exists and is not a "
                    "rescale campaign"
                )
            if rec["factor"] != factor or rec["n_old"] != m["n_buckets"]:
                raise ValueError(
                    f"campaign {campaign_id!r} was started as "
                    f"{rec['n_old']}x{rec['factor']} but the table now has "
                    f"{m['n_buckets']} buckets — abort_rescale() it first"
                )
        else:
            rec = {
                "rescale": True,
                "factor": factor,
                "n_old": m["n_buckets"],
                "n_buckets": m["n_buckets"] * factor,
                "done": {},
                "buckets": {},
                "schemas": dict(m["schemas"]),
            }
            self._write_staged(staging_id, rec, base)
            rec = self._read_staged(staging_id)

        n_old = rec["n_old"]
        # classify every old bucket against the CURRENT manifest
        pending = [
            b for b in range(n_old) if str(b) not in rec["done"]
        ]
        stale = [
            b
            for b in range(n_old)
            if str(b) in rec["done"]
            and rec["done"][str(b)]["fp"]
            != self._entry_fp(m["buckets"].get(str(b), []))
        ]
        work = stale + pending  # stale buckets block publish: do first
        groups = [
            work[i : i + group_size] for i in range(0, len(work), group_size)
        ]
        if max_groups is not None:
            groups = groups[:max_groups]
        n_split = 0
        for grp in groups:
            self._split_group(spark, m, rec, grp, factor)
            self._update_staged_record(staging_id, rec)
            n_split += len(grp)

        # publish when complete and fresh against the LATEST manifest
        self._recover_orphan()
        head = self.current_version()
        hm = self.manifest(head)
        still_stale = [
            b
            for b in range(n_old)
            if str(b) not in rec["done"]
            or rec["done"][str(b)]["fp"]
            != self._entry_fp(hm["buckets"].get(str(b), []))
        ]
        if not still_stale:
            new_m = dict(hm)
            new_m["n_buckets"] = n_old * factor
            new_m["buckets"] = {
                nb: list(entries) for nb, entries in rec["buckets"].items()
            }
            new_m["operation"] = "rescale"
            new_m["epoch_id"] = None
            new_m["lineage"] = []
            try:
                v = self._commit(new_m, head)
                os.unlink(path)
                return {
                    "published": True,
                    "version": v,
                    "split": n_split,
                    "pending": 0,
                    "stale": 0,
                }
            except CommitConflict:
                pass  # a writer raced the publish; next call catches up
        remaining = [b for b in range(n_old) if str(b) not in rec["done"]]
        return {
            "published": False,
            "version": None,
            "split": n_split,
            "pending": len(remaining),
            "stale": len(still_stale) - len(remaining),
        }

    def _split_plan(
        self,
        spark: SparkSession,
        m: dict,
        by_group: dict[tuple[str, int, bool, bool], list[str]],
        target: "T.StructType",
        n_new: int,
    ) -> DataFrame | None:
        """The split re-cut as a DataFrame: union of per-(schema, cv,
        base, stored_cv) file scans, schema-aligned, tagged with the
        NEW bucket id pmod(hash(keys), n_new). Pure projection over the
        scans — no groupBy/join/repartition anywhere, so the physical
        plan has ZERO exchanges (asserted in tests/test_rescale.py):
        each task reads old-bucket files and writes new-bucket
        partitions directly, which is what makes rescale
        O(table)/map-only rather than O(table)+shuffle like rebucket.

        Tiered-compaction output ("stored_cv" entries) carries each
        row's ORIGINAL commit version as a real `_cv` data column; the
        split must preserve that column VERBATIM (and re-emit the new
        entries with stored_cv=True) rather than re-stamping rows with
        the entry's own cv — the entry cv is the compaction's commit
        version, higher than every unmerged delta existing at
        compaction time, so a re-stamp would silently promote stale
        rows over newer deltas in MOR LWW reads after publish."""
        if not by_group:
            return None
        parts = []
        for (sid, cv, isbase, stored), paths in by_group.items():
            # stored-cv files keep each row's original commit version
            # verbatim; the others get a NULL _cv (cv=None)
            aligned = self._read_file_group(
                spark, m, sid, None, stored, paths, target
            )
            parts.append(
                aligned.withColumn("_scv", F.lit(cv).cast("long"))
                .withColumn("_sbase", F.lit(1 if isbase else 0))
                .withColumn("_sstored", F.lit(1 if stored else 0))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.withColumn(_BUCKET_COL, bucket_expr(_bucket_cols(m), n_new))

    def _split_group(
        self, spark: SparkSession, m: dict, rec: dict, grp: list[int], factor: int
    ) -> None:
        """Split one group of old buckets into the new layout: ONE
        map-only job — no exchange (asserted in tests/test_rescale.py)
        — whose output files inherit each source entry's (cv, schema
        alignment, base flag) through partitioned sub-dirs."""
        n_old = rec["n_old"]
        n_new = n_old * factor
        cur_schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        target = T.StructType(
            cur_schema.fields
            + [T.StructField(_DELETED_COL, T.BooleanType(), True)]
        )
        fps: dict[int, list] = {}
        by_group: dict[tuple[str, int, bool, bool], list[str]] = {}
        for b in grp:
            entries = m["buckets"].get(str(b), [])
            fps[b] = self._entry_fp(entries)
            for e in entries:
                key = (
                    str(e["schema_id"]),
                    int(e.get("cv", 0)),
                    bool(e.get("base")),
                    bool(e.get("stored_cv")),
                )
                by_group.setdefault(key, []).append(
                    os.path.join(self.root, e["path"])
                )
        new_by_old: dict[int, dict[str, list[dict]]] = {b: {} for b in grp}
        out = self._split_plan(spark, m, by_group, target, n_new)
        if out is not None:
            nonce = uuid.uuid4().hex[:12]
            rel_snap = os.path.join(
                "data", f"snap-{self.current_version() + 1:08d}-rs{nonce}"
            )
            out_dir = os.path.join(self.root, rel_snap)
            out.write.mode("overwrite").partitionBy(
                _BUCKET_COL, "_scv", "_sbase", "_sstored"
            ).parquet(out_dir)
            sid_now = m["schema_id"]
            k0 = m["key_cols"][0]
            stat_cols = [k0] + [
                c for c in m.get("stats_cols", []) if c != k0
            ]
            new_entries: list[tuple[int, dict]] = []
            for bdir in sorted(os.listdir(out_dir)):
                if not bdir.startswith(f"{_BUCKET_COL}="):
                    continue
                nb = int(bdir.split("=", 1)[1])
                for cvdir in sorted(os.listdir(os.path.join(out_dir, bdir))):
                    cv = int(cvdir.split("=", 1)[1])
                    for basedir in sorted(
                        os.listdir(os.path.join(out_dir, bdir, cvdir))
                    ):
                        isbase = basedir.endswith("=1")
                        for storeddir in sorted(
                            os.listdir(
                                os.path.join(out_dir, bdir, cvdir, basedir)
                            )
                        ):
                            stored = storeddir.endswith("=1")
                            d = os.path.join(
                                out_dir, bdir, cvdir, basedir, storeddir
                            )
                            for fname in sorted(os.listdir(d)):
                                if not fname.endswith(".parquet"):
                                    continue
                                entry = {
                                    "path": os.path.join(
                                        rel_snap, bdir, cvdir, basedir,
                                        storeddir, fname
                                    ),
                                    "schema_id": sid_now,
                                    "cv": cv,
                                    "bytes": os.path.getsize(
                                        os.path.join(d, fname)
                                    ),
                                }
                                if isbase:
                                    entry["base"] = True
                                if stored:
                                    # rows keep their ORIGINAL per-row
                                    # commit version (_cv data column)
                                    # through the split — never
                                    # re-stamped with the compaction cv
                                    entry["stored_cv"] = True
                                new_entries.append((nb, entry))
            from concurrent.futures import ThreadPoolExecutor

            def _bind_stats(item):
                nb, entry = item
                stats = _file_col_stats(
                    os.path.join(self.root, entry["path"]), stat_cols
                )
                if k0 in stats:
                    entry["kmin"], entry["kmax"] = stats[k0]
                extra = {
                    c: list(stats[c]) for c in stat_cols[1:] if c in stats
                }
                if extra:
                    entry["bounds"] = extra

            with ThreadPoolExecutor(max_workers=8) as pool:
                list(pool.map(_bind_stats, new_entries))
            for nb, entry in new_entries:
                old_b = nb % n_old
                new_by_old[old_b].setdefault(str(nb), []).append(entry)
        for b in grp:
            rec["done"][str(b)] = {"fp": fps[b], "new": new_by_old[b]}
        # rebuild the accumulated new-layout map (GC pinning + publish)
        acc: dict[str, list[dict]] = {}
        for d in rec["done"].values():
            for nb, entries in d["new"].items():
                acc.setdefault(nb, []).extend(entries)
        rec["buckets"] = acc

    def abort_rescale(self, campaign_id: str = "default") -> None:
        """Drop a rescale campaign: delete the campaign's own snapshot
        dirs (they carry an `-rs` nonce no committed version can
        reference) and its staged record."""
        staging_id = f"rescale-{campaign_id}"
        rec = self._read_staged(staging_id)
        if not rec.get("rescale"):
            raise ValueError(f"{staging_id!r} is not a rescale campaign")
        snaps = {
            e["path"].split(os.sep)[1]
            for fs in rec.get("buckets", {}).values()
            for e in fs
        }
        for snap in snaps:
            shutil.rmtree(
                os.path.join(self.root, "data", snap), ignore_errors=True
            )
        os.unlink(self._staged_path(staging_id))

    def optimize(
        self,
        spark: SparkSession,
        min_files: int = 2,
        keep_last: int = 100,
        purge_tombstones: bool = False,
        grace_seconds: float = 3600.0,
        bloom: bool = False,
        analyze: bool = False,
    ) -> dict:
        """One-call table maintenance, the nightly-job surface: fold
        MOR deltas / small files (compact), optionally rewrite
        tombstones away (only safe once the source can no longer
        deliver events older than them), then expire old snapshots and
        GC unreferenced data files. `bloom=True` rebuilds point-lookup
        blooms for the files the rewrites just created (incremental —
        untouched files keep their entries); `analyze=True` refreshes
        table statistics afterwards. Returns a summary of what ran."""
        out: dict = {}
        out["compacted_version"] = self.compact(spark, min_files=min_files)
        if purge_tombstones:
            out["purged_version"] = self.purge_tombstones(spark)
        out.update(
            self.expire_snapshots(keep_last=keep_last, grace_seconds=grace_seconds)
        )
        if bloom:
            out["blooms_built"] = self.build_bloom_index(spark)
        if analyze:
            out["row_count"] = self.analyze(spark)["row_count"]
        return out

    def expire_snapshots(self, keep_last: int = 100, grace_seconds: float = 3600.0) -> dict:
        """Snapshot expiry (the other half of the Iceberg answer to
        metadata growth, next to delta manifests): retire history older
        than the last `keep_last` versions and garbage-collect data
        files no retained version references.

        The expiry BOUNDARY is the newest FULL checkpoint manifest at or
        below (current - keep_last): delta records chain off their
        parent, so everything >= that checkpoint stays reconstructable
        while commit records strictly below it are deleted. Referenced
        data files are accumulated in ONE incremental walk of the
        retained chain (the boundary's resolved file lists, plus every
        later delta's buckets_set) — O(retained) work, no Spark jobs.
        Time travel below the boundary raises afterwards, exactly like
        Iceberg's expire_snapshots. Returns a summary dict.

        Concurrency: safe next to READERS of retained versions (only
        strictly-older immutable files are removed) and next to
        in-flight WRITES: a merge/compact writes its snapshot data dir
        for version cur+1 BEFORE its metadata commit, so the GC below
        never touches a snap dir whose encoded version is above the
        `cur` this expiry observed — an unreferenced higher-versioned
        dir is either an in-flight write (deleting it would corrupt the
        upcoming commit) or an aborted one (the NEXT expiry, run after
        that version number is surpassed, collects it). Do not run two
        expiries at once.

        Note on the conflict-rebase fast-path (_rebase_append_commit):
        a rebasing writer's data dir carries a version HINT that can
        fall at or below `cur` while its commit is still in flight —
        the version-number guard above does not cover it. The
        `grace_seconds` window (default 1 h, measured from the dir's
        mtime) is what protects such dirs; do not run expiry with
        grace_seconds=0 next to live writers.
        """
        cur = self.current_version()
        if cur == 0:
            return {"expired_versions": 0, "deleted_files": 0, "boundary": 0}
        cutoff = max(cur - keep_last, 1)
        # tags pin history: retain at least back to the oldest tagged
        # snapshot (Iceberg refs semantics) — the retained-chain walk
        # below then keeps every data file those versions reference
        tagged = self.tags()
        if tagged:
            cutoff = min(cutoff, min(tagged.values()))
        boundary = None
        for v in range(cutoff, 0, -1):
            try:
                if not self._read_raw(v).get("delta"):
                    boundary = v
                    break
            except FileNotFoundError:
                # a previous, tighter expiry already deleted records at
                # and below v — nothing older survives, so there is no
                # full checkpoint at or below the cutoff: no-op.
                break
        if boundary is None or boundary <= 1:
            return {"expired_versions": 0, "deleted_files": 0, "boundary": boundary or 1}

        # one incremental walk: every data path any retained version uses
        referenced: set[str] = set()
        m = self._resolved(boundary)
        for files in m["buckets"].values():
            referenced.update(e["path"] for e in files)
        for v in range(boundary + 1, cur + 1):
            raw = self._read_raw(v)
            src = raw.get("buckets_set") if raw.get("delta") else raw.get("buckets", {})
            for files in (src or {}).values():
                referenced.update(e["path"] for e in files)
        referenced_snaps = {p.split(os.sep)[1] for p in referenced if p.startswith("data")}
        # staged (write-audit-publish) manifests pin their data dirs
        # until published or aborted — a long-lived staging must survive
        # expiry even after the table advances past its base version
        for sid in self.staged_ids():
            try:
                rec = self._read_staged(sid)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            referenced_snaps.update(
                e["path"].split(os.sep)[1]
                for fs in rec.get("buckets", {}).values()
                for e in fs
                if e["path"].startswith("data")
            )

        expired = 0
        for v in range(1, boundary):
            try:
                os.remove(self._version_path(v))
                expired += 1
            except FileNotFoundError:
                pass
            self._mcache.pop(v, None)
        deleted = 0
        data_dir = os.path.join(self.root, "data")
        if os.path.isdir(data_dir):
            for snap in os.listdir(data_dir):
                if snap in referenced_snaps:
                    continue
                # snap dirs are named snap-<version:08d>-<nonce>; skip
                # any at a version above the observed current — those
                # belong to writes still in flight (data lands before
                # the metadata commit). Unparseable names are skipped
                # too: never delete what we can't identify.
                try:
                    snap_v = int(snap.split("-")[1])
                except (IndexError, ValueError):
                    continue
                if snap_v > cur:
                    continue
                full = os.path.join(data_dir, snap)
                try:
                    if time.time() - os.path.getmtime(full) < grace_seconds:
                        continue  # possibly a conflicted writer mid-write
                except OSError:
                    continue
                shutil.rmtree(full, ignore_errors=True)
                deleted += 1
        return {
            "expired_versions": expired,
            "deleted_files": deleted,  # snapshot dirs removed
            "boundary": boundary,
        }

    def _read_buckets(
        self,
        spark: SparkSession,
        m: dict,
        buckets: list[int],
        schema: T.StructType,
        file_pred=None,
    ) -> DataFrame:
        """Read only the given buckets, aligned to `schema` plus the
        `_deleted` tombstone column (null/false for live rows and for
        files written before tombstones existed)."""
        target = T.StructType(
            schema.fields + [T.StructField(_DELETED_COL, T.BooleanType(), True)]
        )
        # group files by (schema they were written under, commit version,
        # stored-cv flag): schema id drives the alignment cast, commit
        # version becomes the _cv column MOR reads use as the
        # within-version tiebreak. Files written by TIERED compaction
        # carry each row's ORIGINAL commit version as a real _cv data
        # column ("stored_cv" entries) — merging an arbitrary subset of
        # a bucket's files is order-correct only because every row keeps
        # the commit version it was first written under.
        by_group: dict[tuple[str, int, bool], list[str]] = {}
        for b in buckets:
            for entry in m["buckets"].get(str(b), []):
                if file_pred is not None and not file_pred(b, entry):
                    continue
                key = (
                    str(entry["schema_id"]),
                    int(entry.get("cv", 0)),
                    bool(entry.get("stored_cv")),
                )
                by_group.setdefault(key, []).append(os.path.join(self.root, entry["path"]))
        if not by_group:
            return spark.createDataFrame([], target).withColumn(
                "_cv", F.lit(0).cast("long")
            )
        parts = [
            self._read_file_group(spark, m, sid, cv, stored, paths, target)
            for (sid, cv, stored), paths in by_group.items()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_file_group(
        self,
        spark: SparkSession,
        m: dict,
        sid: str,
        cv: int | None,
        stored: bool,
        paths: list[str],
        target: T.StructType,
    ) -> DataFrame:
        """Read ONE (schema_id, commit version, stored-cv) file group
        aligned to `target` plus the `_cv` column (the stored one, else
        `cv`) — the per-group body of `_read_buckets`, shared with the
        one-pass CDF reader and the split re-cut. The alignment policy
        is `_file_alignment`'s; already-aligned files skip the
        projection (it only cost analyzer time)."""
        file_schema, cols = _file_alignment(m, sid, target, stored)
        df = spark.read.schema(file_schema).parquet(*paths)
        if [c.src for c in cols] != file_schema.fields or any(
            c.src.name != c.name or c.src.dataType != c.dtype for c in cols
        ):
            # ONE projection (not sequential renames): the composed
            # map may reuse freed names (a->b with c->a)
            df = df.select(*[_spark_col(c) for c in cols])
        if stored:
            return df
        return df.withColumn("_cv", F.lit(cv).cast("long"))

    # ------------------------------------------------------------- write

    def _write_bucketed(
        self,
        df: DataFrame,
        m: dict,
        version_hint: int,
        n_out: int | None = None,
        already_bucket_aligned: bool = False,
        sort_keys: bool = False,
        sort_cols: list[str] | None = None,
        max_records_per_file: int | None = None,
        mark_base: bool = False,
        bounds_provider=None,
        stored_cv: bool = False,
    ) -> dict[str, list[dict]]:
        """Write df (which must carry _BUCKET_COL) partitioned by bucket;
        return {bucket: [file entries]} with paths relative to root.

        Co-locates each bucket in one task before the write (repartition
        on the bucket id) so a snapshot produces ~1 file per touched
        bucket instead of (tasks x buckets) small files — file count is
        what kills both the commit listing and later scans at scale.

        `sort_keys=True` additionally sorts each task's rows by the key
        columns, so every parquet file comes out key-ordered and its
        row-group min/max statistics become selective: a `read_keys`
        point lookup then skips whole row groups inside the (already
        bucket-pruned) file, and clustered keys compress better. Used
        by the MAINTENANCE writes (compact / purge_tombstones) only —
        the ingest hot path stays sort-free because a per-batch sort
        would tax merge throughput for files that compaction will
        rewrite anyway (the Iceberg/ClickHouse shape: append fast,
        sort on merge).

        `bounds_provider` (optional): a zero-arg callable returning
        {bucket_str: {col: (min, max)}} per-bucket column bounds that
        were computed DISTRIBUTED (the caller's lineage aggregation),
        used instead of driver-side footer reads for buckets that wrote
        exactly one file and whose map covers every stat column —
        the dominant fixed per-commit driver cost on the MOR hot path
        (measured: ~0.27 s of 64 footer reads per epoch at local[8] vs
        ~0 for dict lookups; at 10^10-event scale this is the Amdahl
        serial term of every epoch). Provided bounds may be WIDER than
        the file's true contents (they're aggregated over the
        pre-reduce batch, a superset of the winners) — wider bounds
        are still valid for pruning, just marginally less selective
        until compaction rewrites the file with footer-exact bounds.
        Multi-file buckets and uncovered columns fall back to footer
        reads; provider errors propagate (they signal a failed lineage
        job, which must abort the commit)."""
        nonce = uuid.uuid4().hex[:12]
        rel_snap = os.path.join("data", f"snap-{version_hint:08d}-{nonce}")
        out_dir = os.path.join(self.root, rel_snap)
        if n_out is None:
            n_out = m["n_buckets"]
        if not already_bucket_aligned:
            # co-locate each bucket in one task; callers whose plan is
            # already hash(key)-partitioned with n_buckets partitions
            # (the merge path) skip this exchange entirely
            df = df.repartition(max(1, n_out), F.col(_BUCKET_COL))
        if sort_cols:
            # range clustering: the sorted stream + per-file record cap
            # makes consecutive files cut contiguous value ranges
            df = df.sortWithinPartitions(_BUCKET_COL, *sort_cols)
            if _ZORDER_COL in sort_cols:
                # the Morton key orders the write but is not part of
                # the table; the projection after the sort preserves
                # row order into the writer
                df = df.drop(_ZORDER_COL)
        elif sort_keys:
            df = df.sortWithinPartitions(_BUCKET_COL, *m["key_cols"])
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.partitionBy(_BUCKET_COL).parquet(out_dir)
        new_files: dict[str, list[dict]] = {}
        sid = m["schema_id"]
        k0 = m["key_cols"][0]
        entries: list[dict] = []
        for bdir in sorted(os.listdir(out_dir)):
            if not bdir.startswith(f"{_BUCKET_COL}="):
                continue
            b = bdir.split("=", 1)[1]
            for fname in sorted(os.listdir(os.path.join(out_dir, bdir))):
                if fname.endswith(".parquet"):
                    rel = os.path.join(rel_snap, bdir, fname)
                    entry = {
                        "path": rel,
                        "schema_id": sid,
                        "cv": version_hint,  # commit version (MOR precedence)
                        # size in the manifest so maintenance policies
                        # (tiered compaction) never stat data files
                        "bytes": os.path.getsize(os.path.join(self.root, rel)),
                    }
                    if mark_base:
                        # fully-folded maintenance output: key-unique
                        # per bucket, eligible for the RO view
                        entry["base"] = True
                    if stored_cv:
                        # rows carry their ORIGINAL commit version as a
                        # real _cv column (tiered-compaction output);
                        # readers must use it, not this entry's cv
                        entry["stored_cv"] = True
                    new_files.setdefault(b, []).append(entry)
                    entries.append((b, entry))
        # zone maps: first-key-column bounds (kmin/kmax — read_keys
        # prunes FILES with these on top of bucket pruning; selective
        # for MOR deltas whose batches cover narrow key ranges, CDC
        # doc_ids correlate with time, and for sorted maintenance
        # rewrites) plus declared stats_cols bounds for scan(). Footer
        # reads release the GIL inside Arrow C++, so a small pool keeps
        # this off the ingest critical path (~n_buckets/8 ms instead of
        # n_buckets ms of serial driver time per commit; on a real
        # cluster the bounds come back with the write-task metrics).
        stat_cols = [k0] + [c for c in m.get("stats_cols", []) if c != k0]
        from concurrent.futures import ThreadPoolExecutor

        def _bind(entry: dict) -> None:
            stats = _file_col_stats(
                os.path.join(self.root, entry["path"]), stat_cols
            )
            if k0 in stats:
                entry["kmin"], entry["kmax"] = stats.pop(k0)
            if stats:
                entry["stats"] = {c: list(v) for c, v in stats.items()}

        provided: dict[str, dict] = {}
        if entries and bounds_provider is not None:
            provided = bounds_provider() or {}
        pending: list[dict] = []
        for b, entry in entries:
            bmap = provided.get(b)
            if (
                bmap is not None
                and len(new_files[b]) == 1
                and all(c in bmap for c in stat_cols)
            ):
                entry["kmin"], entry["kmax"] = bmap[k0]
                stats = {c: list(bmap[c]) for c in stat_cols[1:]}
                if stats:
                    entry["stats"] = stats
            else:
                pending.append(entry)
        if pending:
            with ThreadPoolExecutor(max_workers=min(8, len(pending))) as pool:
                list(pool.map(_bind, pending))
        return new_files

    def _with_bucket(self, df: DataFrame, m: dict) -> DataFrame:
        return df.withColumn(_BUCKET_COL, bucket_expr(_bucket_cols(m), m["n_buckets"]))

    def _evolve_if_needed(self, m: dict, incoming: T.StructType) -> T.StructType:
        """Mutate manifest-in-progress to include evolved schema; return it."""
        current = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        merged = merge_schemas(current, incoming)
        if merged != current:
            new_names = {f.name for f in merged.fields} - {
                f.name for f in current.fields
            }
            dropped_ever = {
                c for v in (m.get("drops") or {}).values() for c in v
            }
            bad = new_names & dropped_ever
            if bad:
                # an implicit re-add would resurface prior-life values
                # (merge evolution records no add transition)
                raise ValueError(
                    f"column(s) {sorted(bad)} were dropped from this "
                    "table; re-add explicitly via add_column() so old "
                    "files' prior-life values cannot resurface"
                )
            new_id = max(int(k) for k in m["schemas"]) + 1
            m["schemas"][str(new_id)] = merged.jsonValue()
            m["schema_id"] = new_id
        return merged

    def append(self, df: DataFrame, epoch_id: str | None = None) -> MergeStats:
        """Append rows without dedup — the reference's `append` sync mode
        (destination.go:329-335): duplicates are allowed and visible."""
        return self._apply(df, mode="append", epoch_id=epoch_id)

    def merge(
        self,
        batch: DataFrame,
        epoch_id: str | list[str] | None = None,
        tiebreak_cols: list[str] | None = None,
        lineage_df: DataFrame | None = None,
        post_reduce=None,
        carry_cols: tuple[str, ...] = (),
        reduce: str = "lww",
        stage: str | None = None,
    ) -> MergeStats:
        """Last-writer-wins MERGE of a change batch.

        `epoch_id` may be a LIST of ids that commit ATOMICALLY in the
        one manifest swap — the sharded-consumer shape (one micro-batch
        covering many log shards; streaming/sharded.py), where the
        per-shard offset frontier must advance all-or-nothing with the
        data. Replay of a fully-applied group skips; a group that
        PARTIALLY overlaps previously-applied ids raises (consumers of
        one log must agree on chunk boundaries — skipping would lose
        data, re-applying would duplicate it).

        `stage` (optional): a staging id. The merge runs fully — data
        files land, the new manifest is computed — but instead of
        committing, the manifest is written to `_meta/staged/<id>.json`
        pinned to its base version (write-audit-publish, the Iceberg
        WAP pattern). `read_staged()` serves the audit queries,
        `publish()` commits atomically (CommitConflict if the table
        advanced past the base — re-stage), `abort()` drops the staged
        data. Returned MergeStats carries version=-1 (nothing visible
        changed). Staged data dirs are excluded from expire_snapshots
        GC until published or aborted.

        `batch` columns = table data columns + `op` (I/U/D). Per key the
        greatest version wins, including against rows already in the
        table (ReplacingMergeTree(Ver) semantics, destination.go:337-351).
        Rows whose winning op is D are removed. Only buckets containing
        batch keys are rewritten. Ties on the version column are broken
        by `tiebreak_cols`, then batch-over-existing.

        `lineage_df` (optional): a cheaper projection to aggregate the
        per-bucket lineage from — it only needs the key + version
        columns, so a caller holding the raw pre-validation batch can
        hand a 2-column scan that never decodes the payload (the
        default aggregates `batch` itself, which re-runs whatever
        pipeline produced it, payload columns included). It must cover
        the same keys as `batch`, since it also decides which buckets
        the merge reads and rewrites.

        `post_reduce` / `carry_cols` (optional): deferred derived
        columns. `carry_cols` names batch columns that are NOT table
        columns but ride through the reduce so `post_reduce(winners)`
        can compute table columns from them AFTER the per-key dedup —
        e.g. a deterministic id hash that is pointless to compute for
        rows the reduce will discard, and wide to shuffle. Carries are
        excluded from schema evolution, null on the existing-table side
        (post_reduce must leave existing rows' stored values intact —
        coalesce on the stored column), and dropped before the write.

        `reduce` selects the merge engine: "lww" (default, whole-row
        last-writer-wins), "partial" (partial-image updates — NULL
        batch columns mean "not written" and inherit the stored value
        per column; see operators/dedup.partial_update_reduce for exact
        semantics and the in-order-batch invariant), or "aggregate"
        (per-column declared aggregate functions from the `agg_spec`
        bound at create() — the SummingMergeTree / Paimon aggregation
        shape; operators/dedup.aggregate_reduce). Both non-LWW engines
        require a COW table with a version column; the stored row
        re-enters the fold as one event at the row's version, so
        ordered epochs (the ingest pipeline's lsn ranges) make the fold
        exact across batches.
        """
        return self._apply(
            batch, mode="merge", epoch_id=epoch_id, tiebreak_cols=tiebreak_cols,
            lineage_df=lineage_df, post_reduce=post_reduce, carry_cols=carry_cols,
            reduce=reduce, stage=stage,
        )

    def overwrite_where(
        self, spark: SparkSession, predicate: str, epoch_id: str | None = None
    ) -> MergeStats:
        """DELETE FROM table WHERE predicate — rewrite of MATCHING
        buckets only. Spark-side equivalent of the reference's
        DeletionJob (destination.go:198-241), synchronous and
        transactional.

        Scale shape: a match pre-pass finds the buckets that contain
        any matching row (a column-pruned scan — Catalyst prunes it to
        the predicate + key/version columns), and only those buckets
        are re-resolved and rewritten; every other bucket keeps its
        existing files untouched in the new manifest. A selective
        retention delete on a 100 TB table therefore costs one pruned
        read plus an O(matching-buckets) write — never an O(table)
        rewrite. Matching buckets are written from FINAL state (MOR
        deltas folded, tombstones compacted away — the reference's
        DeletionJob deletes rows of the visible table)."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
            all_buckets = [int(b) for b in m["buckets"]]
            pred = F.expr(predicate)
            dirty = sorted(
                int(r[0])
                for r in self._with_bucket(
                    self._resolve(spark, m, all_buckets, schema), m
                )
                .where(pred)
                .select(_BUCKET_COL)
                .distinct()
                .collect()
            )
            if dirty:
                kept = self._resolve(spark, m, dirty, schema).where(
                    ~pred | pred.isNull()
                )
                kept = self._with_bucket(kept, m)
                new_files = self._write_bucketed(kept, m, base + 1, mark_base=True)
                # a dirty bucket whose every row matched writes no file
                m["buckets"] = {
                    **m["buckets"],
                    **{str(b): new_files.get(str(b), []) for b in dirty},
                }
            m["operation"] = f"delete_where({predicate})"
            m["epoch_id"] = epoch_id
            m["lineage"] = []
            try:
                v = self._commit(m, base)
                return MergeStats(epoch_id, v, 0, 0, len(dirty))
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def backfill(
        self,
        spark: SparkSession,
        exprs: dict[str, str],
        where: str | None = None,
        epoch_prefix: str = "backfill",
        buckets_per_commit: int = 8,
        max_groups: int | None = None,
    ) -> dict:
        """Online, resumable, bucket-scoped column backfill: set each
        output column to its SQL expression over the row's current
        columns — adding new columns (with an upfront metadata-only
        schema-evolution commit) or recomputing existing ones.

        The production scenario behind it: a schema evolution lands
        (say `n_tok` added to a 10^10-row tokenized-sequences table)
        and historical rows must be populated WITHOUT a table-wide
        atomic rewrite or an ingest pause. So:

        * buckets are rewritten in groups of `buckets_per_commit`,
          each group its own epoch-marked commit — a crashed or
          interrupted backfill resumes by skipping applied epochs,
          exactly the ingest path's exactly-once contract;
        * readers stay online throughout: not-yet-backfilled rows
          read as schema-aligned NULLs (new column) or old values
          (recompute), never as errors, and every commit is atomic;
        * `where` scopes the rewrite to matching rows, and buckets
          with no matching row keep their files untouched (same
          match pre-pass as overwrite_where — a selective backfill
          is O(matching buckets), never O(table));
        * `max_groups` paces the work across maintenance windows
          (run k groups now, resume later) — at 100 TB a backfill is
          an operational campaign, not one job;
        * concurrent ingest is safe: each group commit re-reads the
          manifest and retries on CommitConflict, and a bucket is
          rewritten from its FINAL resolved state (MOR deltas folded,
          tombstones dropped — the same contract as compact()).

        Returns {"groups_done", "groups_skipped", "buckets_rewritten",
        "schema_evolved", "complete"}.

        Epoch ids derive from `epoch_prefix` alone, so re-running with
        the SAME prefix resumes that campaign; a genuinely NEW campaign
        over the same table must use a distinct prefix or it will be
        skipped as already applied.
        """
        # phase 0: metadata-only schema evolution so readers and
        # concurrent writers see the target schema before any rewrite
        cur_schema = self.schema()
        target = (
            spark.createDataFrame([], cur_schema)
            .withColumns({c: F.expr(e) for c, e in exprs.items()})
            .schema
        )
        evolved = False
        schema_epoch = f"{epoch_prefix}-schema"
        if target != cur_schema and not self.is_epoch_applied(schema_epoch):
            for attempt in range(_COMMIT_ATTEMPTS):
                self._recover_orphan()
                base = self.current_version()
                m = self.manifest(base)
                self._evolve_if_needed(m, target)
                m["operation"] = f"backfill_schema({sorted(exprs)})"
                m["epoch_id"] = schema_epoch
                m["applied_epochs"][schema_epoch] = base + 1
                m["lineage"] = []
                try:
                    self._commit(m, base)
                    evolved = True
                    break
                except CommitConflict:
                    if attempt == _COMMIT_ATTEMPTS - 1:
                        raise
                    _conflict_backoff(attempt)

        pred = F.expr(where) if where is not None else None
        done = skipped = rewritten = 0
        groups_total = 0
        all_buckets = sorted(int(b) for b in self.manifest()["buckets"])
        groups = [
            all_buckets[i : i + buckets_per_commit]
            for i in range(0, len(all_buckets), buckets_per_commit)
        ]
        for group in groups:
            groups_total += 1
            epoch = f"{epoch_prefix}-buckets-{group[0]}-{group[-1]}"
            if self.is_epoch_applied(epoch):
                skipped += 1
                continue
            if max_groups is not None and done >= max_groups:
                return {
                    "groups_done": done,
                    "groups_skipped": skipped,
                    "buckets_rewritten": rewritten,
                    "schema_evolved": evolved,
                    "complete": False,
                }
            for attempt in range(_COMMIT_ATTEMPTS):
                self._recover_orphan()
                base = self.current_version()
                m = self.manifest(base)
                schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
                state = self._resolve(spark, m, group, schema)
                dirty = group
                if pred is not None:
                    dirty = sorted(
                        int(r[0])
                        for r in self._with_bucket(state, m)
                        .where(pred)
                        .select(_BUCKET_COL)
                        .distinct()
                        .collect()
                    )
                    state = self._resolve(spark, m, dirty, schema)
                if dirty:
                    out = state.withColumns(
                        {
                            c: F.expr(e)
                            if pred is None
                            else F.when(pred, F.expr(e)).otherwise(
                                F.col(c) if c in state.columns else F.lit(None)
                            )
                            for c, e in exprs.items()
                        }
                    )
                    out = align_to_schema(out, schema)
                    new_files = self._write_bucketed(
                        self._with_bucket(out, m), m, base + 1, mark_base=True
                    )
                    m["buckets"] = {
                        **m["buckets"],
                        **{str(b): new_files.get(str(b), []) for b in dirty},
                    }
                m["operation"] = f"backfill({sorted(exprs)}, buckets={group})"
                m["epoch_id"] = epoch
                m["applied_epochs"][epoch] = base + 1
                m["lineage"] = []
                try:
                    self._commit(m, base)
                    done += 1
                    rewritten += len(dirty)
                    break
                except CommitConflict:
                    if attempt == _COMMIT_ATTEMPTS - 1:
                        raise
                    _conflict_backoff(attempt)
        return {
            "groups_done": done,
            "groups_skipped": skipped,
            "buckets_rewritten": rewritten,
            "schema_evolved": evolved,
            "complete": True,
        }

    # -------------------------------------------------- observability

    def analyze(self, spark: SparkSession, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE: one distributed scan over the current visible
        state computing row count plus per-column null counts, approx
        NDV (HyperLogLog via approx_count_distinct — executor-side
        sketches, one tiny driver row back), and min/max for orderable
        atomic types. The result is written to `_meta/stats/v<N>.json`
        pinned to the analyzed version — the Iceberg ANALYZE / Spark
        CBO statistics shape — and `describe()` surfaces the latest
        along with its staleness (versions since analyzed)."""
        v = self.current_version()
        m = self.manifest(v)
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        cols = columns or [f.name for f in schema.fields]
        orderable = (
            T.LongType, T.IntegerType, T.ShortType, T.ByteType,
            T.DoubleType, T.FloatType, T.StringType, T.TimestampType,
            T.DateType, T.DecimalType,
        )
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in cols:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"))
            aggs.append(F.approx_count_distinct(c).alias(f"_ndv_{c}"))
            if isinstance(schema[c].dataType, orderable):
                aggs.append(F.min(c).alias(f"_min_{c}"))
                aggs.append(F.max(c).alias(f"_max_{c}"))
        # pinned to the version the stats are stamped with — a commit
        # racing the scan must not mislabel the result
        row = self.read(spark, version=v).agg(*aggs).first().asDict()

        def _jsonable(v):
            return v if isinstance(v, (int, float, str, bool, type(None))) else str(v)

        stats = {
            "analyzed_version": v,
            "row_count": int(row["_rows"]),
            "columns": {
                c: {
                    "null_count": int(row[f"_nulls_{c}"] or 0),
                    "ndv": int(row[f"_ndv_{c}"]),
                    **(
                        {
                            "min": _jsonable(row.get(f"_min_{c}")),
                            "max": _jsonable(row.get(f"_max_{c}")),
                        }
                        if f"_min_{c}" in row
                        else {}
                    ),
                }
                for c in cols
            },
        }
        out_dir = os.path.join(self.meta_dir, "stats")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"v{stats['analyzed_version']:08d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stats, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        return stats

    def latest_stats(self) -> dict | None:
        """The most recent analyze() result, or None."""
        out_dir = os.path.join(self.meta_dir, "stats")
        try:
            names = sorted(n for n in os.listdir(out_dir) if n.endswith(".json"))
        except FileNotFoundError:
            return None
        if not names:
            return None
        try:
            with open(os.path.join(out_dir, names[-1])) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def describe(self) -> dict:
        """Table-health snapshot from metadata alone (no data read):
        per-bucket file/byte/delta-depth stats, epoch bookkeeping, and
        maintenance signals (max delta depth drives compact(); stats
        coverage shows how prunable point lookups are)."""
        m = self.manifest()
        from airbyte_destination_spark.lake import bloom as _bloom

        n_files = 0
        n_bytes = 0
        with_stats = 0
        with_bloom = 0
        depth = {}
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        ktype = schema[m["key_cols"][0]].dataType.simpleString()
        for b, fs in m["buckets"].items():
            shard = _bloom.load_shard(self.root, int(b))
            depth[b] = len(fs)
            for e in fs:
                n_files += 1
                with_stats += 1 if "kmin" in e else 0
                # only entries built under the CURRENT key type are
                # usable at probe time (see build_bloom_index)
                have = shard.get(e["path"])
                with_bloom += 1 if have and have.get("ktype") == ktype else 0
                try:
                    n_bytes += os.path.getsize(os.path.join(self.root, e["path"]))
                except OSError:
                    pass
        depths = sorted(depth.values())
        return {
            "version": m.get("version", self.current_version()),
            "merge_strategy": m.get("merge_strategy", "cow"),
            "key_cols": m["key_cols"],
            "bucket_cols": _bucket_cols(m),
            "version_col": m["version_col"],
            "n_buckets": m["n_buckets"],
            "agg_spec": m.get("agg_spec"),
            "stats_cols": m.get("stats_cols", []),
            "n_data_files": n_files,
            "data_bytes": n_bytes,
            "files_with_zone_maps": with_stats,
            "files_with_blooms": with_bloom,
            "max_files_per_bucket": depths[-1] if depths else 0,
            "applied_epochs": self.n_applied_epochs(),
            "staged": self.staged_ids(),
            "schemas": len(m["schemas"]),
            "stats": (
                None
                if (st := self.latest_stats()) is None
                else {
                    "analyzed_version": st["analyzed_version"],
                    "row_count": st["row_count"],
                    "versions_stale": max(
                        0,
                        m.get("version", self.current_version())
                        - st["analyzed_version"],
                    ),
                }
            ),
        }

    # ---------------------------------------------------------- tags

    def tag(self, name: str, version: int | None = None) -> int:
        """Name a snapshot (Iceberg tag): `read(tag=name)` resolves to
        it and `expire_snapshots` retains at least back to the oldest
        tag. One file per tag (`_meta/refs/<name>.json`, fsync +
        atomic replace) so concurrent taggers of different names never
        race a shared record; re-tagging a name moves it (last writer
        wins). Returns the pinned version."""
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        v = self.current_version() if version is None else int(version)
        if v < 1 or v > self.current_version():
            raise ValueError(f"cannot tag version {v}")
        self.manifest(v)  # raises if already expired
        refs_dir = os.path.join(self.meta_dir, "refs")
        os.makedirs(refs_dir, exist_ok=True)
        path = os.path.join(refs_dir, f"{name}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": v}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        return v

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(os.path.join(self.meta_dir, "refs", f"{name}.json"))
        except FileNotFoundError:
            pass

    def tags(self) -> dict[str, int]:
        refs_dir = os.path.join(self.meta_dir, "refs")
        out: dict[str, int] = {}
        try:
            names = os.listdir(refs_dir)
        except FileNotFoundError:
            return out
        for n in sorted(names):
            if not n.endswith(".json"):
                continue
            try:
                with open(os.path.join(refs_dir, n)) as f:
                    out[n[:-5]] = int(json.load(f)["version"])
            except (OSError, json.JSONDecodeError, KeyError, ValueError):
                continue  # torn/corrupt ref: ignore, never block reads
        return out

    def resolve_tag(self, name: str) -> int:
        v = self.tags().get(name)
        if v is None:
            raise KeyError(f"unknown tag {name!r}")
        return v

    # ------------------------------------------------------ rollback

    def checkpoint(self) -> int:
        """Commit the CURRENT state as a FULL manifest record — the
        Iceberg `rewrite_manifests` analog. Metadata-only: no data
        moves; the new version's record is the resolved state of the
        old one rather than a delta chained off it.

        Two uses at scale: (1) it bounds read/time-travel resolution to
        O(1) hops on demand, independent of where the automatic
        every-`_CHECKPOINT_INTERVAL`-th full record falls; (2) it
        creates an expiry boundary — `expire_snapshots` retires history
        strictly below the newest full record at or under its cutoff,
        so `checkpoint()` + `expire_snapshots(keep_last=k)` is the
        explicit "squash history now" maintenance pair a long-running
        10^10-event ingest schedules between epochs. Epoch markers and
        watermarks ride the record unchanged, so exactly-once replay
        protection is unaffected."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if base < 1:
                raise ValueError("cannot checkpoint an uncreated table")
            old = self._resolved(base)
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old.items()
                if k not in ("version", "committed_at")
            }
            m["operation"] = "checkpoint"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base, force_full=True)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename — the Iceberg field-rename
        analog (Iceberg resolves columns by field id; this format
        resolves by name, so the manifest records the transition in a
        `renames` map and every reader composes the mapping for files
        written under older schema ids before name-based alignment).
        No data moves; old files keep their on-disk column name and
        are renamed in the read projection.

        Restrictions (raise ValueError): key columns, the version
        column, and declared stats columns keep their names — they are
        woven into bucket routing, MOR ordering, and zone-map pruning.
        `agg_spec` keys follow the rename. Old files' per-file stats
        stay under the old name, so `scan(bounds={new: ...})` fails
        open (keeps) pre-rename files until compaction rewrites them —
        correct, just less selective. Externally-configured secondary
        indexes on the renamed column must be re-pointed by the caller.
        Time travel below the rename shows the old name (the mapping
        composes per snapshot). A `lake_changes` stream bound before
        the rename fails loudly at the rename commit (schema change ⇒
        re-bootstrap, the Delta CDF discipline)."""
        if old == new:
            raise ValueError("rename to the same name")
        if new.startswith("_"):
            raise ValueError(f"{new!r}: leading underscore is reserved")
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if base < 1:
                raise ValueError("cannot rename on an uncreated table")
            old_m = self._resolved(base)
            cur = T.StructType.fromJson(old_m["schemas"][str(old_m["schema_id"])])
            names = [f.name for f in cur.fields]
            if old not in names:
                raise ValueError(f"no column {old!r} (have {names})")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            if any(
                new in ns for ns in (old_m.get("drops") or {}).values()
            ):
                # renaming ONTO a previously dropped name would collide
                # with the dropped column's prior-life bytes in old
                # files (two same-named columns in the read projection,
                # with no add transition to force-drop the stale one).
                # add_column() is the only safe way to reuse the name —
                # it records the transition readers key the force-drop
                # on.
                raise ValueError(
                    f"column {new!r} was previously dropped; re-adding "
                    "the name is only safe via add_column(), not a "
                    "rename — old files still physically carry its "
                    "prior-life values"
                )
            if old in old_m["key_cols"] or old == old_m.get("version_col"):
                raise ValueError(f"{old!r} is a key/version column")
            if old in (old_m.get("stats_cols") or []):
                raise ValueError(f"{old!r} is a declared stats column")
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old_m.items()
                if k not in ("version", "committed_at")
            }
            new_id = max(int(k) for k in m["schemas"]) + 1
            m["schemas"][str(new_id)] = T.StructType(
                [
                    T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                    for f in cur.fields
                ]
            ).jsonValue()
            m["schema_id"] = new_id
            renames = {k: dict(v) for k, v in (m.get("renames") or {}).items()}
            renames[str(new_id)] = {old: new}
            m["renames"] = renames
            if old in (m.get("agg_spec") or {}):
                spec = dict(m["agg_spec"])
                spec[new] = spec.pop(old)
                m["agg_spec"] = spec
            if old in (m.get("defaults") or {}):
                dd = dict(m["defaults"])
                dd[new] = dd.pop(old)
                m["defaults"] = dd
            m["operation"] = f"rename({old}->{new})"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def add_column(
        self, name: str, dtype: T.DataType, initial_default=None
    ) -> int:
        """Metadata-only column ADD with an optional INITIAL DEFAULT —
        the Iceberg v3 default-value evolution shape: rows that existed
        BEFORE the add (files whose schema lacks the column) read the
        default; rows written after it read what was written, so an
        explicit NULL stays NULL. No data moves — readers fill the
        default per file before name-based alignment, exactly where
        the rename map applies. Without a default this is just
        union-by-name evolution made explicit (old rows read NULL).
        `initial_default` must be a JSON-serializable literal castable
        to `dtype`."""
        if name.startswith("_"):
            raise ValueError(f"{name!r}: leading underscore is reserved")
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if base < 1:
                raise ValueError("cannot add a column on an uncreated table")
            old_m = self._resolved(base)
            cur = T.StructType.fromJson(old_m["schemas"][str(old_m["schema_id"])])
            if name in [f.name for f in cur.fields]:
                raise ValueError(f"column {name!r} already exists")
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old_m.items()
                if k not in ("version", "committed_at")
            }
            new_id = max(int(k) for k in m["schemas"]) + 1
            m["schemas"][str(new_id)] = T.StructType(
                cur.fields + [T.StructField(name, dtype, True)]
            ).jsonValue()
            m["schema_id"] = new_id
            if initial_default is not None:
                defaults = dict(m.get("defaults") or {})
                defaults[name] = initial_default
                m["defaults"] = defaults
            # record the add transition: a column DROPPED and later
            # RE-ADDED under the same name must not resurface its
            # prior-life values out of files that physically still
            # carry them — readers force-drop the column from files
            # whose schema id predates the add, then apply the default
            adds = {k: list(v) for k, v in (m.get("adds") or {}).items()}
            adds[str(new_id)] = [name]
            m["adds"] = adds
            m["operation"] = f"add_column({name})"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def drop_column(self, name: str) -> int:
        """Metadata-only column DROP (Iceberg drop-column semantics):
        the column leaves the current schema in one manifest commit; no
        data moves, old files keep the bytes until compaction rewrites
        them, and time travel below the drop still serves the column.
        Re-adding the same name later is safe ONLY through
        `add_column()` (it records the add transition, so prior-life
        values in surviving files are force-dropped at read instead of
        resurfacing); implicit merge-evolution re-adds are rejected for
        a previously-dropped name. Key / version / stats / agg_spec
        columns are restricted."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if base < 1:
                raise ValueError("cannot drop a column on an uncreated table")
            old_m = self._resolved(base)
            cur = T.StructType.fromJson(old_m["schemas"][str(old_m["schema_id"])])
            if name not in [f.name for f in cur.fields]:
                raise ValueError(f"no column {name!r}")
            if name in old_m["key_cols"] or name == old_m.get("version_col"):
                raise ValueError(f"{name!r} is a key/version column")
            if name in (old_m.get("stats_cols") or []):
                raise ValueError(f"{name!r} is a declared stats column")
            if name in (old_m.get("agg_spec") or {}):
                raise ValueError(f"{name!r} is an aggregate-engine column")
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old_m.items()
                if k not in ("version", "committed_at")
            }
            new_id = max(int(k) for k in m["schemas"]) + 1
            m["schemas"][str(new_id)] = T.StructType(
                [f for f in cur.fields if f.name != name]
            ).jsonValue()
            m["schema_id"] = new_id
            if name in (m.get("defaults") or {}):
                dd = dict(m["defaults"])
                dd.pop(name)
                m["defaults"] = dd
            drops = {k: list(v) for k, v in (m.get("drops") or {}).items()}
            drops[str(new_id)] = [name]
            m["drops"] = drops
            m["operation"] = f"drop_column({name})"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def rollback(self, version: int) -> int:
        """Restore the table to an earlier snapshot as a NEW commit
        (Iceberg `rollback_to_snapshot`): metadata-only — the new
        version's manifest is the old version's buckets/schema, no data
        moves, and history after `version` stays readable until expiry.
        Epoch markers revert with the manifest, so the exactly-once
        gate re-admits the rolled-back epochs: replaying the change log
        from `version` forward reconverges the table (this interplay is
        pytest-pinned)."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if version > base or version < 1:
                raise ValueError(f"cannot roll back to version {version}")
            old = self._resolved(version)
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old.items()
                if k not in ("version", "committed_at")
            }
            m["operation"] = f"rollback({version})"
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    # ------------------------------------- incremental consumers (CDF)

    def _consumer_path(self, consumer_id: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,128}", consumer_id):
            raise ValueError(f"invalid consumer id {consumer_id!r}")
        return os.path.join(self.meta_dir, "consumers", f"{consumer_id}.json")

    def consumer_offset(self, consumer_id: str) -> int:
        """Last snapshot version this consumer acknowledged (0 = never
        consumed: the first poll sees the whole table as inserts)."""
        try:
            with open(self._consumer_path(consumer_id)) as f:
                return int(json.load(f)["acked_version"])
        except FileNotFoundError:
            return 0

    def poll_changes(
        self, spark: SparkSession, consumer_id: str, pre_images: bool = False
    ):
        """Incremental consumption of the change feed (the Delta/Hudi
        streaming-source shape): returns (changes_df, v_to) — the net
        CDF from the consumer's acked offset to the current snapshot —
        or (None, acked) when there is nothing new. Call
        `ack(consumer_id, v_to)` after durably processing the batch;
        an unacked crash re-delivers the same window (at-least-once for
        the consumer, idempotent when its sink keys on the table key:
        the same offset window always yields the same net changes)."""
        acked = self.consumer_offset(consumer_id)
        cur = self.current_version()
        if cur <= acked:
            return None, acked
        if acked == 0:
            # bootstrap: the whole current snapshot as inserts, shaped
            # like table_changes output (key cols, change_type, payload)
            m = self.manifest(cur)
            snap = self.read(spark, version=cur)
            payload = [c for c in snap.columns if c not in m["key_cols"]]
            return (
                snap.select(
                    *m["key_cols"], F.lit("insert").alias("change_type"), *payload
                ),
                cur,
            )
        return (
            self.table_changes(spark, v_from=acked, v_to=cur, pre_images=pre_images),
            cur,
        )

    def ack(self, consumer_id: str, version: int) -> None:
        """Advance a consumer's offset — refuses to move backwards."""
        path = self._consumer_path(consumer_id)
        prev = self.consumer_offset(consumer_id)
        if version < prev:
            raise ValueError(f"ack {version} < acked {prev}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(self.meta_dir, f".c.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"acked_version": version, "acked_at": time.time()}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    # ------------------------------------------- write-audit-publish

    def _staged_path(self, staging_id: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,128}", staging_id):
            raise ValueError(f"invalid staging id {staging_id!r}")
        return os.path.join(self.meta_dir, "staged", f"{staging_id}.json")

    def _write_staged(self, staging_id: str, manifest: dict, base: int) -> None:
        """Persist a fully-computed manifest WITHOUT committing it —
        same durability discipline as _commit (fsynced temp, exclusive
        hard-link so a staging id can't be silently overwritten)."""
        path = self._staged_path(staging_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rec = dict(manifest)
        rec["staged_base"] = base
        rec["staged_id"] = staging_id
        rec["staged_at"] = time.time()
        # wap_id rides INTO the committed version record (it is not
        # stripped at publish) so a crash between _commit and the
        # staged-record unlink is self-healing: the retry recognizes
        # its own commit instead of wedging on CommitConflict
        rec["wap_id"] = staging_id
        tmp = os.path.join(self.meta_dir, f".s.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            os.unlink(tmp)
            raise FileExistsError(f"staging id {staging_id!r} already exists")
        os.unlink(tmp)

    def _read_staged(self, staging_id: str) -> dict:
        with open(self._staged_path(staging_id)) as f:
            return json.load(f)

    def staged_ids(self) -> list[str]:
        d = os.path.join(self.meta_dir, "staged")
        if not os.path.isdir(d):
            return []
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    def read_staged(self, spark: SparkSession, staging_id: str) -> DataFrame:
        """The staged table state, for audit queries before publish."""
        rec = self._read_staged(staging_id)
        if rec.get("rescale"):
            raise ValueError(
                f"{staging_id!r} is a rescale campaign — drive it with "
                "split_buckets()/abort_rescale(), not the WAP API"
            )
        schema = T.StructType.fromJson(rec["schemas"][str(rec["schema_id"])])
        return self._resolve(
            spark, rec, [int(b) for b in rec["buckets"]], schema
        )

    def publish(self, staging_id: str) -> int:
        """Atomically commit a staged merge. Raises CommitConflict when
        the table advanced past the staged base (the staged rewrite was
        computed against state that no longer exists) — abort and
        re-stage, the WAP retry discipline."""
        rec = self._read_staged(staging_id)
        if rec.get("rescale"):
            raise ValueError(
                f"{staging_id!r} is a rescale campaign — drive it with "
                "split_buckets()/abort_rescale(), not the WAP API"
            )
        base = rec.pop("staged_base")
        rec.pop("staged_id", None)
        rec.pop("staged_at", None)
        self._recover_orphan()
        try:
            v = self._commit(rec, base)
        except CommitConflict:
            # crash-retry self-heal: if version base+1 IS this staging's
            # own commit (a previous publish died between _commit and
            # the unlink below), finish the cleanup and succeed
            try:
                already = self._read_raw(base + 1).get("wap_id") == staging_id
            except FileNotFoundError:
                already = False
            if not already:
                raise
            v = base + 1
        os.unlink(self._staged_path(staging_id))
        return v

    def abort(self, staging_id: str) -> None:
        """Drop a staged merge: delete the snapshot dirs only THIS
        staging created (referenced by the staged manifest but not by
        its base — new dirs carry a fresh nonce, so no committed
        version can reference them) and the staged record."""
        rec = self._read_staged(staging_id)
        if rec.get("rescale"):
            raise ValueError(
                f"{staging_id!r} is a rescale campaign — drive it with "
                "split_buckets()/abort_rescale(), not the WAP API"
            )
        base = rec["staged_base"]
        base_m = self._resolved(base) if base >= 1 else {"buckets": {}}

        def _snaps(man: dict) -> set[str]:
            return {
                e["path"].split(os.sep)[1]
                for fs in man.get("buckets", {}).values()
                for e in fs
                if e["path"].startswith("data")
            }

        for snap in _snaps(rec) - _snaps(base_m):
            shutil.rmtree(os.path.join(self.root, "data", snap), ignore_errors=True)
        os.unlink(self._staged_path(staging_id))

    # ------------------------------------------------------------- core

    def _rebase_append_commit(
        self,
        old_m: dict,
        new_files: dict,
        epoch_id: str | None,
        mode: str,
        lineage: list,
        rows_up: int,
        rows_del: int,
    ) -> "MergeStats | None":
        """Conflict fast-path for delta-APPEND commits (MOR merge and
        append mode): those data files never read the base snapshot, so
        a lost commit race needs a new MANIFEST, not a new write —
        re-read the advanced base, restamp each new entry's `cv` to the
        new target version (cv is carried only in the manifest, so the
        LWW tiebreak ordering stays exactly what a serial commit would
        have produced), append the entries, and commit. This turns the
        cost of a conflicted attempt from a full Spark write (seconds)
        into a metadata round (milliseconds) — without it, a compactor
        loop racing four writers starved one past its whole retry
        budget (tests/test_manifest_scaling.py).

        Returns None to demand a full re-run when the table shape moved
        underneath (bucket count / bucket columns / merge strategy /
        our entries' schema id missing or remapped) — those races
        invalidate the written files themselves. A concurrent replica
        that applied the same epoch wins: we return skipped, like the
        top of _apply."""
        sid = str(old_m["schema_id"])
        epoch_ids = _epoch_list(epoch_id)
        eid = epoch_id if isinstance(epoch_id, str) else (
            ",".join(epoch_ids) if epoch_ids else None
        )
        m_eid = epoch_ids if len(epoch_ids) > 1 else eid
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            if epoch_ids:
                state = _epochs_applied_state(m, epoch_ids)
                if state == "all":
                    return MergeStats(eid, base, 0, 0, 0, skipped=True)
                if state == "partial":
                    raise ValueError(
                        f"epoch ids {epoch_ids} are PARTIALLY applied on "
                        f"{self.root}: atomic epoch groups must not "
                        "straddle another writer's groupings"
                    )
            if (
                m["n_buckets"] != old_m["n_buckets"]
                or _bucket_cols(m) != _bucket_cols(old_m)
                or m.get("merge_strategy", "cow") != old_m.get("merge_strategy", "cow")
                or m["schemas"].get(sid) != old_m["schemas"][sid]
            ):
                return None  # shape moved: the files must be rewritten
            buckets = dict(m["buckets"])
            for b, files in new_files.items():
                buckets[b] = buckets.get(b, []) + [
                    {**e, "cv": base + 1} for e in files
                ]
            m["buckets"] = buckets
            m["operation"] = mode
            m["epoch_id"] = m_eid
            m["lineage"] = lineage
            for e in epoch_ids:
                m["applied_epochs"][e] = base + 1
            try:
                v = self._commit(m, base)
                return MergeStats(
                    eid, v, rows_up, rows_del, len(new_files), lineage=lineage
                )
            except CommitConflict:
                _conflict_backoff(attempt)
        return None  # rebase budget exhausted; caller may full-retry

    def _apply(
        self,
        batch: DataFrame,
        mode: str,
        epoch_id: str | None,
        tiebreak_cols: list[str] | None = None,
        lineage_df: DataFrame | None = None,
        post_reduce=None,
        carry_cols: tuple[str, ...] = (),
        reduce: str = "lww",
        stage: str | None = None,
    ) -> MergeStats:
        # every data job this method runs (lineage agg, bucketed write)
        # has a fixed plan shape — run the whole apply with AQE off so
        # its per-stage re-optimization barriers never tax the commit
        with _no_aqe(batch.sparkSession):
            return self._apply_no_aqe(
                batch, mode, epoch_id, tiebreak_cols, lineage_df,
                post_reduce, carry_cols, reduce, stage,
            )

    def _apply_no_aqe(
        self,
        batch: DataFrame,
        mode: str,
        epoch_id: str | None,
        tiebreak_cols: list[str] | None = None,
        lineage_df: DataFrame | None = None,
        post_reduce=None,
        carry_cols: tuple[str, ...] = (),
        reduce: str = "lww",
        stage: str | None = None,
    ) -> MergeStats:
        spark = batch.sparkSession
        if reduce not in ("lww", "partial", "aggregate"):
            raise ValueError(f"unknown reduce mode {reduce!r}")
        if reduce != "lww" and (post_reduce is not None or carry_cols):
            raise ValueError(
                f"reduce={reduce!r} does not compose with post_reduce/carry_cols"
            )
        # epoch_id may be a LIST of ids committing atomically (one
        # micro-batch covering many log shards); MergeStats and the
        # lineage rows carry the joined display form
        epoch_ids = _epoch_list(epoch_id)
        eid = epoch_id if isinstance(epoch_id, str) else (
            ",".join(epoch_ids) if epoch_ids else None
        )
        m_eid = epoch_ids if len(epoch_ids) > 1 else eid
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)

            # exactly-once: an epoch already recorded in the snapshot is
            # a replay (foreachBatch re-delivery) — skip without writing.
            if epoch_ids:
                state = _epochs_applied_state(m, epoch_ids)
                if state == "all":
                    return MergeStats(eid, base, 0, 0, 0, skipped=True)
                if state == "partial":
                    raise ValueError(
                        f"epoch ids {epoch_ids} are PARTIALLY applied on "
                        f"{self.root}: atomic epoch groups must not "
                        "straddle another writer's groupings"
                    )

            key_cols = m["key_cols"]
            ver_col = m["version_col"]
            missing = [c for c in m["key_cols"] if c not in batch.columns]
            if missing:
                raise ValueError(
                    f"batch is missing key column(s) {missing}; table key is {m['key_cols']}"
                )
            if mode == "merge" and m["version_col"] is not None and m["version_col"] not in batch.columns:
                raise ValueError(f"merge batch is missing version column {m['version_col']!r}")
            if reduce in ("partial", "aggregate"):
                if m.get("merge_strategy", "cow") != "cow":
                    raise ValueError(
                        f"reduce={reduce!r} requires a COW table — MOR delta files fold "
                        "with LWW at read time, which would drop inherited columns"
                    )
                if m["version_col"] is None:
                    raise ValueError(f"reduce={reduce!r} requires a version column")
            if reduce == "aggregate" and m.get("agg_spec") is None:
                raise ValueError(
                    "reduce='aggregate' requires agg_spec bound at create()"
                )
            has_op = "op" in batch.columns
            skip = {"op", *carry_cols}
            data_fields = [f for f in batch.schema.fields if f.name not in skip]
            schema = self._evolve_if_needed(m, T.StructType(data_fields))

            # align data columns to the (possibly evolved) table schema,
            # carrying `op` and any carry_cols through as trailing columns
            batch_fields = {f.name: f for f in batch.schema.fields}
            align_target = T.StructType(
                schema.fields
                + ([T.StructField("op", T.StringType(), True)] if has_op else [])
                + [
                    T.StructField(c, batch_fields[c].dataType, True)
                    for c in carry_cols
                ]
            )
            # no cache: the lineage agg only references (key, version) so
            # Catalyst prunes everything else from its scan; caching the
            # full payload costs more than the second pruned scan.
            # Callers that validate/enrich upstream pass `lineage_df`
            # (the raw key+version projection) so this pre-pass prunes
            # all the way down to two thin parquet columns instead of
            # re-running their pipeline (whose payload-referencing
            # filters would drag the fat columns into the scan).
            aligned = self._with_bucket(align_to_schema(batch, align_target), m)
            lin_src = (
                self._with_bucket(lineage_df, m) if lineage_df is not None else aligned
            )

            # lineage before the reduce: per-bucket lsn range + row count
            lineage_agg = [F.count(F.lit(1)).alias("rows_applied")]
            if ver_col is not None:
                lineage_agg += [
                    F.min(ver_col).alias("lsn_min"),
                    F.max(ver_col).alias("lsn_max"),
                ]
            def _json_safe(v):
                # version columns may be ints (lsn) or timestamps (cursor)
                if v is None or isinstance(v, (int, float, str)):
                    return v
                return str(v)

            def _lineage_rows(collected) -> list[dict]:
                return [
                    {
                        "epoch_id": eid,
                        "partition_id": int(r[_BUCKET_COL]),
                        "lsn_min": (_json_safe(r["lsn_min"]) if ver_col else None),
                        "lsn_max": (_json_safe(r["lsn_max"]) if ver_col else None),
                        "rows_applied": int(r["rows_applied"]),
                    }
                    for r in collected
                ]

            is_mor_merge = mode == "merge" and m.get("merge_strategy", "cow") == "mor"
            # MOR rider: per-bucket (min, max) of the key + declared
            # stats columns, aggregated in the SAME lineage job, replace
            # the post-write parquet-footer reads when each bucket wrote
            # one delta file (the MOR shape). The footer loop was the
            # dominant fixed per-commit driver cost (~0.27 s/epoch at 64
            # buckets, local[8]) — a pure serial term that depressed the
            # N->4N paired efficiency. Bounds over the PRE-reduce batch
            # are exact for the key (the reduce preserves the distinct
            # key set) and a valid superset for other columns (winners
            # are a subset of batch rows). Only JSON-scalar columns
            # participate; anything else falls back to footer reads in
            # _write_bucketed.
            bound_cols: list[str] = []
            if is_mor_merge:
                _scalar = (
                    T.StringType, T.LongType, T.IntegerType,
                    T.ShortType, T.ByteType, T.DoubleType, T.FloatType,
                )
                lin_types = {f.name: f.dataType for f in lin_src.schema.fields}
                k0 = key_cols[0]
                for c in [k0] + [s for s in m.get("stats_cols", []) if s != k0]:
                    if isinstance(lin_types.get(c), _scalar):
                        lineage_agg += [
                            F.min(c).alias(f"_bmin_{c}"),
                            F.max(c).alias(f"_bmax_{c}"),
                        ]
                        bound_cols.append(c)
            lineage_job = lin_src.groupBy(_BUCKET_COL).agg(*lineage_agg)
            if is_mor_merge:
                # MOR never reads existing data and its bucket-aligned
                # write ignores n_out, so nothing in the main job's PLAN
                # depends on the lineage result — run the lineage job on
                # a background thread, concurrent with the merge write,
                # and join before assembling the manifest. (COW needs
                # `touched` up front to prune the existing-bucket read.)
                holder: dict = {}

                def _lineage_bg() -> None:
                    try:
                        holder["rows"] = lineage_job.collect()
                    except BaseException as e:  # surfaced after join()
                        holder["err"] = e

                t = threading.Thread(target=_lineage_bg)
                t.start()
                lineage = None
            else:
                lineage = _lineage_rows(lineage_job.collect())
                touched = sorted({l["partition_id"] for l in lineage})
            if lineage is not None and not touched:
                m["operation"] = mode
                m["epoch_id"] = m_eid
                m["lineage"] = []
                for e in epoch_ids:
                    m["applied_epochs"][e] = base + 1
                if stage is not None:
                    self._write_staged(stage, m, base)
                    return MergeStats(eid, -1, 0, 0, 0)
                try:
                    v = self._commit(m, base)
                    return MergeStats(eid, v, 0, 0, 0)
                except CommitConflict:
                    _conflict_backoff(attempt)
                    continue

            if mode == "append":
                out = aligned.drop("op") if has_op else aligned
                new_files = self._write_bucketed(out, m, base + 1, n_out=len(touched))
                buckets = dict(m["buckets"])
                for b, files in new_files.items():
                    buckets[b] = buckets.get(b, []) + files
                rows_up = sum(l["rows_applied"] for l in lineage)
                rows_del = 0
            elif m.get("merge_strategy", "cow") == "mor":
                # merge-on-read: reduce the batch per key and APPEND the
                # winners as delta files — never read or rewrite existing
                # data, so ingest is O(batch) no matter how big the table
                # is. Readers fold deltas (read()/compact()).
                src = aligned if has_op else aligned.withColumn("op", F.lit("U"))
                src = src.repartition(m["n_buckets"], *[F.col(c) for c in _bucket_cols(m)])
                other = [c for c in src.columns if c not in key_cols]
                ord_fields = ([F.col(ver_col)] if ver_col is not None else []) + [
                    F.col(c) for c in tiebreak_cols or []
                ]
                winners = (
                    src.groupBy(*key_cols)
                    .agg(
                        F.max_by(
                            F.struct(*[F.col(c) for c in other]), F.struct(*ord_fields)
                        ).alias("_w")
                    )
                    .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in other])
                )
                if post_reduce is not None:
                    winners = post_reduce(winners)
                final = winners.withColumn(
                    _DELETED_COL, F.coalesce(F.col("op") == F.lit("D"), F.lit(False))
                ).drop("op", *carry_cols)
                def _lineage_bounds() -> dict:
                    # invoked by _write_bucketed AFTER its write action:
                    # the lineage job ran concurrently, so this join is
                    # usually instant; its rows carry the per-bucket
                    # bounds aggregated executor-side
                    t.join()
                    if "err" in holder:
                        raise holder["err"]
                    out: dict[str, dict] = {}
                    for r in holder["rows"]:
                        bmap = {}
                        for c in bound_cols:
                            lo, hi = r[f"_bmin_{c}"], r[f"_bmax_{c}"]
                            if isinstance(lo, (str, int, float)) and isinstance(
                                hi, (str, int, float)
                            ):
                                bmap[c] = (lo, hi)
                        out[str(int(r[_BUCKET_COL]))] = bmap
                    return out

                try:
                    new_files = self._write_bucketed(
                        final, m, base + 1, already_bucket_aligned=True,
                        bounds_provider=_lineage_bounds if bound_cols else None,
                    )
                finally:
                    # always reap the background lineage job — a failed
                    # write must not orphan the thread
                    t.join()
                if "err" in holder:
                    raise holder["err"]
                lineage = _lineage_rows(holder["rows"])
                touched = sorted({l["partition_id"] for l in lineage})
                buckets = dict(m["buckets"])
                for b, files in new_files.items():
                    buckets[b] = buckets.get(b, []) + files
                rows_up = sum(l["rows_applied"] for l in lineage)
                rows_del = 0
            else:
                src = (aligned if has_op else aligned.withColumn("op", F.lit("U"))).withColumn(
                    "_src", F.lit(1)
                )
                has_existing = any(m["buckets"].get(str(b)) for b in touched)
                if has_existing:
                    # tombstones re-enter the reduce as op='D' rows so a
                    # late-arriving OLDER update loses to them
                    existing = (
                        self._with_bucket(self._read_buckets(spark, m, touched, schema), m)
                        .withColumn(
                            "op",
                            F.when(
                                F.coalesce(F.col(_DELETED_COL), F.lit(False)), F.lit("D")
                            ).otherwise(F.lit(None).cast("string")),
                        )
                        .drop(_DELETED_COL, "_cv")
                        .withColumn("_src", F.lit(0))
                    )
                    for c in carry_cols:  # existing rows carry nothing
                        existing = existing.withColumn(
                            c, F.lit(None).cast(batch_fields[c].dataType)
                        )
                    combined = existing.unionByName(src)
                else:
                    # empty target: unioning a LocalRelation measurably
                    # slows the whole plan — skip it
                    combined = src
                # one explicit exchange on the key with EXACTLY n_buckets
                # partitions: the aggregation below reuses it (its
                # ClusteredDistribution is satisfied), and because the
                # bucket function IS Spark's hash partitioning, partition
                # i == bucket i afterwards — the write then needs no
                # further shuffle. REPARTITION_BY_NUM is AQE-stable.
                combined = combined.repartition(m["n_buckets"], *[F.col(c) for c in _bucket_cols(m)])
                # LWW as max_by aggregation: map-side partial combine
                # pre-reduces every upstream partition, so hot keys never
                # concentrate on one reducer (built-in skew handling) and
                # the batch needs no separate pre-dedup pass.
                if reduce == "partial":
                    # per-column last-non-null fold; the existing live
                    # row re-enters as one non-delete event at the row's
                    # stored version (op=null there, so ~is_del holds),
                    # the tombstone as the delete cut. Same single
                    # exchange + aggregate shape as the LWW branch.
                    from airbyte_destination_spark.operators.dedup import (
                        partial_update_reduce,
                    )

                    winners = partial_update_reduce(
                        combined.drop(_BUCKET_COL), key_cols, ver_col,
                        tiebreak_cols=list(tiebreak_cols or []) + ["_src"],
                    )
                    # _bucket is key-functional — recompute it rather
                    # than letting the per-column fold null it on
                    # tombstones (adds a column; the agg's hash(key)
                    # partitioning from the repartition above survives)
                    winners = self._with_bucket(winners, m)
                elif reduce == "aggregate":
                    # per-column declared-aggregate fold (SummingMergeTree
                    # shape); the repartition above is the ONE exchange —
                    # cuts, join and fold are all key-clustered off it
                    from airbyte_destination_spark.operators.dedup import (
                        aggregate_reduce,
                    )

                    winners = aggregate_reduce(
                        combined.drop(_BUCKET_COL), key_cols, ver_col,
                        agg_spec=m["agg_spec"],
                        tiebreak_cols=list(tiebreak_cols or []) + ["_src"],
                    )
                    winners = self._with_bucket(winners, m)
                else:
                    other = [c for c in combined.columns if c not in key_cols]
                    ord_fields = ([F.col(ver_col)] if ver_col is not None else []) + (
                        [F.col(c) for c in tiebreak_cols or []]
                    ) + [F.col("_src")]
                    winners = (
                        combined.groupBy(*key_cols)
                        .agg(
                            F.max_by(
                                F.struct(*[F.col(c) for c in other]), F.struct(*ord_fields)
                            ).alias("_w")
                        )
                        .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in other])
                    )
                if post_reduce is not None:
                    winners = post_reduce(winners)
                # keep delete winners as tombstone rows (versioned via
                # their version column, payload nulled)
                final = winners.withColumn(
                    _DELETED_COL,
                    F.coalesce(F.col("op") == F.lit("D"), F.lit(False)),
                ).drop("_src", "op", *carry_cols)
                new_files = self._write_bucketed(
                    final, m, base + 1, n_out=len(touched), already_bucket_aligned=True
                )
                buckets = dict(m["buckets"])
                for b in touched:
                    buckets[str(b)] = new_files.get(str(b), [])
                rows_up = sum(l["rows_applied"] for l in lineage)
                rows_del = 0  # refined by caller via counts if needed

            m["buckets"] = buckets
            m["operation"] = mode
            m["epoch_id"] = m_eid
            m["lineage"] = lineage
            for e in epoch_ids:
                m["applied_epochs"][e] = base + 1
            if stage is not None:
                self._write_staged(stage, m, base)
                return MergeStats(
                    eid, -1, rows_up, rows_del, len(touched), lineage=lineage
                )
            try:
                v = self._commit(m, base)
                return MergeStats(
                    eid, v, rows_up, rows_del, len(touched), lineage=lineage
                )
            except CommitConflict:
                if mode == "append" or is_mor_merge:
                    # delta-append commits rebase in metadata instead of
                    # re-running the write (see _rebase_append_commit)
                    rb = self._rebase_append_commit(
                        m, new_files, epoch_id, mode, lineage, rows_up, rows_del
                    )
                    if rb is not None:
                        return rb
                _conflict_backoff(attempt)
                continue
        raise CommitConflict(
            f"could not commit to {self.root} after {_COMMIT_ATTEMPTS} attempts"
        )
