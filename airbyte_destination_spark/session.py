"""SparkSession factory with scale-appropriate defaults.

Local testing runs `local[$SPARK_GRAFT_CPUS]`; on a real cluster the same
conf applies (AQE, Arrow, UTC) and `master` is supplied by spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "airbyte_destination_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the CDC-ingest workload.

    - AQE on (runtime coalescing + skew-join splitting),
    - Arrow on (all Python crossings are vectorized batches),
    - UTC session timezone (oracle comparisons are TZ-stable),
    - shuffle partitions sized to cores, not the 200 default.
    """
    # Python workers resolve module-level functions by import; make sure
    # the package root is importable from worker processes regardless of
    # the caller's cwd
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        # 16g, not bigger: G1 on a huge heap intermittently burns minutes
        # of CPU at high thread counts (measured); nothing here caches
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # throughput collector: the ingest path is allocation-heavy
        # (parquet decode, shuffle, row copies) and ParallelGC with a
        # half-heap young gen measured +25-35% over default G1 at both
        # local[8] and local[32] on an allocation-bound probe
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JVM_OPTS", "-XX:+UseParallelGC -XX:NewRatio=1"),
        )
        # split packing sized for local-mode data volumes: micro-batches
        # are tens of MB, and the 128m default packs a whole batch into
        # 1-2 scan tasks, pinning the map side (decode+validate+enrich)
        # to 2 cores no matter how many the session has. 4m keeps ~32
        # map tasks live for a ~100MB batch. On a real cluster against
        # TB inputs, override back to 128m+ via spark-submit conf.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # bigger shuffle write buffer = fewer flush syscalls per task
        .config("spark.shuffle.file.buffer", "1m")
        # v2 file-output commit: task output renames to the destination
        # at task commit instead of v1's serial per-file rename loop in
        # the driver at job commit, a per-commit cost that grows with
        # bucket count (measured ~0.04 s per 8-bucket merge commit
        # locally; a 64-file v2-full 2M-row write went 3.9 s -> 0.9 s
        # at local[32]). Safe for the lake format because the fsynced
        # snapshot manifest, not the directory, is the real commit:
        # uncommitted leftovers are never referenced, task attempts
        # stay under _temporary until commitTask, and speculation is
        # off.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Hadoop's ChecksumFileSystem serializes concurrent local writes
        # (measured 6x slowdown at 32 threads); raw local FS scales and
        # only affects file:// — cluster deployments use HDFS/S3 anyway
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # don't mmap shuffle blocks: at 32 threads the munmap TLB
        # shootdowns serialize the whole box (jstack showed executor
        # threads piled in FileChannelImpl.map0/unmap0; raising the
        # threshold tripled wide-config throughput)
        .config("spark.storage.memoryMapThreshold", "2g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
