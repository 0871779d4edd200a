"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would
set per-executor: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), Arrow for any Python exchange, UTC session time,
shuffle partitions sized to the parallelism actually available instead of
the legacy 200 default.  At cluster scale the same builder is used with
``master`` unset and ``spark.sql.shuffle.partitions`` raised to
~2-3x total cores by the deployment config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Input-size-aware shuffle sizing (the deployment rule, measured with
# the sf10 scaling probe): a shuffle partition should hold a ROUGHLY
# FIXED volume of input regardless of corpus size, so growing the data
# can never silently turn an in-memory shuffle into a spilling one.
# 8 MiB of on-disk parquet per partition (~3-5x that in memory after
# decompression) keeps partitions comfortably inside a local[32]
# thread's share of the heap; a real cluster deployment would
# raise the target to ~128 MiB per core-slot and let AQE coalesce the
# small tail.  Measured effect: dedup_prefix_filter_join's sf1->sf10
# step went 5.5x -> 2.9x when partitions scaled 32 -> 128+ instead of
# staying pinned at the cpu count.
_TARGET_PARTITION_BYTES = 8 * 1024 * 1024
_MAX_SHUFFLE_PARTITIONS = 4096


def shuffle_partitions_for(input_bytes: int, cpus: int = DEFAULT_CPUS) -> int:
    """Partitions for ``input_bytes`` of on-disk input: floor at the
    parallelism actually available, grow linearly with data, cap at
    4096 (AQE coalesces any over-split tail at runtime)."""
    by_bytes = -(-input_bytes // _TARGET_PARTITION_BYTES)  # ceil
    return max(cpus, min(_MAX_SHUFFLE_PARTITIONS, by_bytes))


def dir_bytes(path: str) -> int:
    """Total on-disk bytes under ``path`` (parquet dirs or files)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def tune_for_input(spark: SparkSession, sf_dir: str) -> int:
    """Apply the input-size-aware shuffle sizing to a live session for
    queries over ``sf_dir``; returns the partition count chosen.
    ``spark.sql.shuffle.partitions`` is a runtime conf read at planning
    time, so this takes effect for every subsequently-built plan."""
    n = shuffle_partitions_for(dir_bytes(sf_dir))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


def get_spark(
    app_name: str = "kbrowse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-appropriate defaults."""
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime row-level filtering: inject a bloom filter built from
        # the small side of a shuffle join into the big side's scan —
        # at 100 TB this prunes most of a selective join's probe input
        # before the shuffle (no-op for broadcast joins).  NOTE: do NOT
        # also set runtimeFilter.semiJoinReduction here — on this Spark
        # build enabling it makes every py4j/planning round-trip
        # pathologically slow (empirically: session startup alone goes
        # from 5 s to >150 s).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Fixture events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as long and convert at the
        # source (see sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark's call-site capture sends ~5 extra py4j calls with
        # every Column and DataFrame method (and tries to import IPython
        # each time) to enrich error messages.  Its on/off switch is
        # latched once per process by whichever thread builds the first
        # Column, so without this line it is on or off by accident.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
