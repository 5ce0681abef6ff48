"""Driver-side point lookups (lake/point_read.py) against the Spark path.

Each test builds one table layout and checks that `read_keys` takes the
expected path and returns exactly the rows of the reference: the full
distributed read (`_resolve`, every file, no pruning) semi-joined to the
probe keys. The reference shares no code with the driver path beyond
the table's manifest.
"""

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable


def _reference(spark, t, keys):
    key = t.manifest()["key_cols"][0]
    kdf = spark.createDataFrame(
        [(k,) for k in keys], T.StructType([t.schema()[key]])
    )
    return t.read(spark).join(F.broadcast(kdf), [key], "left_semi")


def _is_local(df) -> bool:
    return df._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"


def _check(spark, t, keys, local=True, exact_schema=True):
    """read_keys(keys) takes the driver path iff `local`, and returns
    the reference's rows and schema. Returns the rows."""
    got = t.read_keys(spark, keys)
    assert _is_local(got) == local
    ref = _reference(spark, t, keys)
    if exact_schema:
        assert got.schema == ref.schema, (got.schema, ref.schema)
    else:  # an empty table's Spark read keeps the declared nullability
        assert got.schema.simpleString() == ref.schema.simpleString()
    rows = sorted(got.collect(), key=repr)
    assert rows == sorted(ref.collect(), key=repr)
    return rows


@pytest.fixture()
def broadcast_threshold(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    def set_(v: str) -> None:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)

    yield set_
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


KV = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("p", T.StringType(), True),
    ]
)
KV_OP = "k string, v long, p string, op string"


def _kv_table(spark, path, strategy="mor", n_buckets=2):
    t = LakeTable(str(path))
    t.create(KV, ["k"], "v", n_buckets=n_buckets, merge_strategy=strategy)
    return t


def test_mor_fold_tombstones_order_and_null_versions(spark, tmp_path):
    t = _kv_table(spark, tmp_path / "t")
    t.merge(
        spark.createDataFrame(
            [("A", 5, "a0", "I"), ("B", 5, "b0", "I"), ("C", 5, "c0", "I"),
             ("D", 5, "d0", "I"), ("E", None, "e0", "I")],
            KV_OP,
        ),
        epoch_id="e-0",
    )
    t.merge(
        spark.createDataFrame(
            [("A", 3, "a-late", "U"),   # out of order: older version loses
             ("B", 5, "b-tie", "U"),    # equal version: later commit wins
             ("C", 6, None, "D"),       # tombstone
             ("D", None, "d-null", "U"),  # a NULL version loses
             ("E", 1, "e1", "U"),       # any version beats NULL
             ("F", 1, "f0", "I")],
            KV_OP,
        ),
        epoch_id="e-1",
    )
    t.merge(
        spark.createDataFrame(
            [("C", 4, "c-late", "U"), ("F", 1, "f-tie", "U")], KV_OP
        ),
        epoch_id="e-2",
    )
    rows = _check(spark, t, ["A", "B", "C", "D", "E", "F", "absent"])
    assert [(r.k, r.v, r.p) for r in rows] == [
        ("A", 5, "a0"), ("B", 5, "b-tie"), ("D", 5, "d0"),
        ("E", 1, "e1"), ("F", 1, "f-tie"),
    ]


def test_tiered_compaction_stored_cv(spark, tmp_path):
    t = _kv_table(spark, tmp_path / "t", n_buckets=1)
    t.merge(spark.createDataFrame([("A", 5, "x", "U")], KV_OP), epoch_id="e-0")
    t.merge(spark.createDataFrame([("A", 5, "y", "U")], KV_OP), epoch_id="e-1")
    big = [("A", 5, "z", "U")] + [(f"pad{i}", 1, "p" * 64, "U") for i in range(4000)]
    t.merge(spark.createDataFrame(big, KV_OP), epoch_id="e-2")
    assert t.compact_tiered(spark, min_run=2, tier_factor=4.0) is not None
    assert any(
        e.get("stored_cv") for fs in t.manifest()["buckets"].values() for e in fs
    )
    t.merge(spark.createDataFrame([("B", 2, "b", "U")], KV_OP), epoch_id="e-3")
    rows = _check(spark, t, ["A", "B", "pad7"])
    assert [(r.k, r.p) for r in rows] == [("A", "z"), ("B", "b"), ("pad7", "p" * 64)]


def test_rename_drop_readd_and_initial_defaults(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("v", T.LongType(), True),
                T.StructField("a", T.StringType(), True),
                T.StructField("b", T.LongType(), True),
            ]
        ),
        ["k"], "v", n_buckets=2, merge_strategy="mor",
    )
    t.merge(
        spark.createDataFrame(
            [(i, 1, f"a{i}", 100 + i, "I") for i in range(6)],
            "k long, v long, a string, b long, op string",
        ),
        epoch_id="e-0",
    )
    t.rename_column("a", "a2")
    t.drop_column("b")
    t.add_column("b", T.LongType(), initial_default=7)
    t.add_column("s", T.StringType(), initial_default="dflt")
    t.add_column("n", T.DoubleType())
    t.merge(
        spark.createDataFrame(
            [(1, 2, "new1", None, None, 1.5, "U"), (9, 1, "new9", 3, "x", None, "I")],
            "k long, v long, a2 string, b long, s string, n double, op string",
        ),
        epoch_id="e-1",
    )
    rows = _check(spark, t, [0, 1, 9, 42])
    assert [tuple(r) for r in rows] == [
        (0, 1, "a0", 7, "dflt", None),  # pre-add file: prior-life b dropped
        (1, 2, "new1", None, None, 1.5),  # explicit NULLs stay NULL
        (9, 1, "new9", 3, "x", None),
    ]


def test_numeric_widening_local_and_string_collapse_spark(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.IntegerType(), False),
                T.StructField("v", T.LongType(), True),
                T.StructField("i", T.IntegerType(), True),
                T.StructField("f", T.FloatType(), True),
                T.StructField("c", T.LongType(), True),
            ]
        ),
        ["k"], "v", n_buckets=2, merge_strategy="mor",
    )
    t.merge(
        spark.createDataFrame(
            [(j, 1, 2**31 - 1 - j, 0.1 * j, j, "I") for j in range(8)],
            "k int, v long, i int, f float, c long, op string",
        ),
        epoch_id="e-0",
    )
    t.merge(
        spark.createDataFrame(
            [(3, 2, 2**40, 1e300, 33, "U")],
            "k long, v long, i long, f double, c long, op string",
        ),
        epoch_id="e-1",
    )
    sch = {f.name: f.dataType for f in t.schema().fields}
    assert (sch["k"], sch["i"], sch["f"]) == (T.LongType(), T.LongType(), T.DoubleType())
    probe = [1, 3, 5, 99]
    rows = _check(spark, t, probe)
    assert [r.i for r in rows] == [2**31 - 2, 2**40, 2**31 - 6]
    # an irreconcilable type collapses the column to STRING; casting the
    # old files' longs follows Spark's cast, so the Spark path serves it
    t.merge(
        spark.createDataFrame(
            [(5, 3, 1, 0.5, "five", "U")],
            "k long, v long, i long, f double, c string, op string",
        ),
        epoch_id="e-2",
    )
    assert t.schema()["c"].dataType == T.StringType()
    rows = _check(spark, t, probe, local=False)
    assert [r.c for r in rows] == ["1", "33", "five"]


def test_bloom_pruned_split_and_rebucketed(spark, tmp_path):
    t = _kv_table(spark, tmp_path / "t", n_buckets=2)
    for e in range(4):
        # every epoch spans the whole key space: zone maps prune nothing
        t.merge(
            spark.createDataFrame(
                [(f"k{j:03d}", e, f"p{e}-{j}", "D" if (e, j % 7) == (3, 0) else "U")
                 for j in range(e, 200, 3)],
                KV_OP,
            ),
            epoch_id=f"e-{e}",
        )
    probe = ["k000", "k007", "k010", "k101", "k199", "nope"]
    before = len(t.files_for_keys(spark, probe))
    t.build_bloom_index(spark, fpp=0.001)
    assert len(t.files_for_keys(spark, probe)) < before
    expect = _check(spark, t, probe)
    t.split_buckets(spark, factor=2)
    assert t.manifest()["n_buckets"] == 4
    assert _check(spark, t, probe) == expect
    t.rebucket(spark, 3)
    assert _check(spark, t, probe) == expect


def test_cow_append_duplicates_all_come_back(spark, tmp_path):
    t = _kv_table(spark, tmp_path / "t", strategy="cow")
    rows = [("A", 1, "x"), ("A", 1, "x"), ("B", 2, "y")]
    t.append(spark.createDataFrame(rows, "k string, v long, p string"), epoch_id="a-0")
    t.append(spark.createDataFrame(rows[:1], "k string, v long, p string"), epoch_id="a-1")
    got = _check(spark, t, ["A", "B"])
    assert [(r.k, r.p) for r in got] == [("A", "x")] * 3 + [("B", "y")]


# Spark stores timestamps as INT96 by default; 9999-12-31 (a common
# open-ended sentinel in CDC tables) does not fit int64 nanoseconds
FAR = datetime.datetime(9999, 12, 31, 23, 59, 59)


@pytest.mark.parametrize(
    "dt,keys",
    [
        (T.StringType(), ["é-1", "b", "zz"]),
        (T.IntegerType(), [-3, 0, 2**31 - 1]),
        (
            T.TimestampType(),
            [
                datetime.datetime(2020, 3, 29, 1, 30, 0, 123456),
                datetime.datetime(1969, 12, 31, 23, 59, 59),
                datetime.datetime(2038, 1, 19, 3, 14, 8),
            ],
        ),
        (
            T.TimestampType(),
            [FAR, datetime.datetime(1900, 1, 1), datetime.datetime(2262, 4, 12)],
        ),
        (
            T.DateType(),
            [
                datetime.date(2020, 2, 29),
                datetime.date(1969, 12, 31),
                datetime.date(9999, 12, 31),
            ],
        ),
        # decimal(10,2) is stored as INT64, decimal(20,4) as fixed bytes;
        # small positive keys would be pruned if row groups were
        # compared against the unscaled statistics
        (
            T.DecimalType(10, 2),
            [Decimal("1.50"), Decimal("-0.01"), Decimal("12345678.99")],
        ),
        (
            T.DecimalType(20, 4),
            [Decimal("2.0001"), Decimal("-9.5"), Decimal("1234567890123456.7891")],
        ),
    ],
    ids=["string", "int", "timestamp", "timestamp-far", "date", "decimal-int64",
         "decimal-fixed"],
)
@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_key_types(spark, tmp_path, dt, keys, strategy):
    t = LakeTable(str(tmp_path / "t"))
    schema = T.StructType(
        [
            T.StructField("k", dt, False),
            T.StructField("v", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    t.create(schema, ["k"], "v", n_buckets=2, merge_strategy=strategy)
    op = T.StructType(schema.fields + [T.StructField("op", T.StringType(), True)])
    when = datetime.datetime(2021, 6, 1, 12, 0, 0, 5)
    t.merge(
        spark.createDataFrame([(k, 1, when, "I") for k in keys], op), epoch_id="e-0"
    )
    t.merge(
        spark.createDataFrame([(keys[0], 2, FAR, "U"), (keys[1], 2, None, "U")], op),
        epoch_id="e-1",
    )
    rows = _check(spark, t, keys)
    assert sorted(r.k for r in rows) == sorted(keys)
    assert {r.k: r.ts for r in rows} == {keys[0]: FAR, keys[1]: None, keys[2]: when}


@pytest.fixture()
def legacy_rebase(spark):
    confs = [
        "spark.sql.parquet.datetimeRebaseModeInWrite",
        "spark.sql.parquet.int96RebaseModeInWrite",
    ]
    prev = [spark.conf.get(c) for c in confs]
    for c in confs:
        spark.conf.set(c, "LEGACY")
    yield
    for c, v in zip(confs, prev):
        spark.conf.set(c, v)


def test_legacy_rebased_files_take_spark_path(spark, tmp_path, legacy_rebase):
    """Files written under a LEGACY rebase mode hold hybrid-calendar
    dates, which only Spark's reader converts back."""
    t = LakeTable(str(tmp_path / "t"))
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("d", T.DateType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    t.create(schema, ["k"], "v", n_buckets=1)
    old = (datetime.date(1000, 1, 1), datetime.datetime(1000, 1, 1))
    t.merge(
        spark.createDataFrame(
            [("a", 1, *old, "I")], "k string, v long, d date, ts timestamp, op string"
        ),
        epoch_id="e-0",
    )
    rows = _check(spark, t, ["a"], local=False)
    assert [(r.d, r.ts) for r in rows] == [old]


def test_absent_duplicate_probe_and_empty_table(spark, tmp_path):
    t = _kv_table(spark, tmp_path / "t")
    # created, never written
    assert _check(spark, t, ["A", "B"], exact_schema=False) == []
    assert _check(spark, t, [], exact_schema=False) == []
    t.merge(spark.createDataFrame([("A", 1, "a", "I")], KV_OP), epoch_id="e-0")
    rows = _check(spark, t, ["A", "A", "missing", "A"])
    assert [(r.k, r.p) for r in rows] == [("A", "a")]
    assert _check(spark, t, ["missing"]) == []


def test_path_rules(spark, tmp_path, broadcast_threshold):
    """The driver path needs <= 256 keys, no NULL key and pruned files
    within the broadcast threshold; otherwise the Spark path answers."""
    t = _kv_table(spark, tmp_path / "t")
    t.merge(
        spark.createDataFrame([(f"k{j}", 1, "p", "I") for j in range(50)], KV_OP),
        epoch_id="e-0",
    )
    few = ["k1", "k2"]
    _check(spark, t, few)
    _check(spark, t, few + [f"x{j}" for j in range(255)], local=False)
    _check(spark, t, few + [None], local=False)
    broadcast_threshold("1")
    _check(spark, t, few, local=False)
    broadcast_threshold("-1")
    _check(spark, t, few, local=False)


def _jobs_for(spark, fn):
    sc = spark.sparkContext
    group = f"read-keys-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_small_lookup_launches_no_spark_job(spark, tmp_path, broadcast_threshold):
    t = _kv_table(spark, tmp_path / "t")
    for e in range(3):
        t.merge(
            spark.createDataFrame(
                [(f"k{j}", e, f"p{e}", "U") for j in range(e, 40)], KV_OP
            ),
            epoch_id=f"e-{e}",
        )
    probe = ["k1", "k5", "k39"]
    rows = []
    jobs = _jobs_for(spark, lambda: rows.extend(t.read_keys(spark, probe).collect()))
    assert jobs == [], f"driver-path lookup launched Spark jobs: {jobs}"
    assert sorted((r.k, r.p) for r in rows) == [("k1", "p1"), ("k39", "p2"), ("k5", "p2")]
    # over the size cap the Spark path runs, and it does launch jobs
    broadcast_threshold("1")
    jobs = _jobs_for(spark, lambda: t.read_keys(spark, probe).collect())
    assert jobs, "a probe over the size cap should run on Spark"
