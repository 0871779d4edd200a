"""Relational table catalog over the driver-generated parquet fixtures.

Tables (see TESTDATA.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per table
under a scale-factor directory.  ``load`` returns a new plain DataFrame
scan on every call, so Catalyst can push filters and column pruning into
the parquet reader.  What is cached is each table's schema, never rows:
reads go through the source snapshot cache (sources/fixture.py), so only
the first read of a table file runs a schema-inference job, and a
rewritten file is read afresh.

Small dimensions (region, nation, supplier at low SF) are good broadcast
candidates — the operator layer wraps them with ``F.broadcast`` where a
join's dim side is known-small.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kbrowse_spark.sources.fixture import read_parquet, stream_parquet, ts_micros

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale factor
# (region: 5 rows, nation: 25 rows — fixed-size in TPC-H-style data).
ALWAYS_BROADCAST = {"region", "nation"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's reader
    # surfaces as long only under spark.sql.legacy.parquet.nanosAsLong;
    # read_parquet sets it at runtime, so this works on any
    # caller-provided session (the driver's carries none of our confs).
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", ts_micros())
    return df


def load_stream(
    spark: SparkSession, sf_dir: str, name: str, tag: str = ""
) -> DataFrame:
    """readStream over a table (:func:`stream_parquet`; ``tag`` names a
    private staging directory), ``ts`` normalized as
    :func:`_normalize_stream_ts` does."""
    df = stream_parquet(spark, table_path(sf_dir, name), tag)
    # The stream carries its static read's schema.
    return _normalize_stream_ts(df, df)


def _normalize_stream_ts(stream: DataFrame, static: DataFrame) -> DataFrame:
    """Normalize a stream's ``ts`` column to TIMESTAMP (with local tz),
    whatever physical type its parquet (read as ``static``) stored:

    * TIMESTAMP(NANOS) surfaces as bigint (nanosAsLong) -> truncate to
      micros exactly like DuckDB/Arrow do;
    * plain ``timestamp[us]`` surfaces as TIMESTAMP_NTZ -> cast to
      TIMESTAMP, interpreting the wall clock in the session time zone.
      Watermarks/event-time ops require TIMESTAMP, and downstream
      formatting renders back in session tz, so wall-clock values match
      the oracle for ANY session time zone.
    """
    dt = dict(static.dtypes).get("ts")
    if dt == "bigint":
        return stream.withColumn("ts", ts_micros())
    if dt == "timestamp_ntz":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def load_events_range(
    spark: SparkSession,
    sf_dir: str,
    *,
    ts_ge: str | None = None,
    ts_lt: str | None = None,
) -> DataFrame:
    """Events scan with timestamp bounds applied to the RAW storage
    column before the nanos→micros conversion.

    ``load`` surfaces events.ts as ``timestamp_micros(raw div 1000)``;
    a filter written against that computed column cannot push down, so
    a bounded scan would still read every row group.  Because the
    conversion is monotonic (integer floor division), ``converted <
    T`` ⟺ ``raw < T_nanos`` for whole-second bounds — so filtering the
    raw long column first is equivalent AND reaches the parquet reader
    as a min/max-prunable predicate.  At 100 TB (date-partitioned
    events) this same rewrite is what turns a time-bounded query into
    a partition-pruned one.

    Bounds are ``'YYYY-MM-DD HH:MM:SS'`` UTC wall-clock strings.
    """
    from datetime import datetime, timezone

    df = read_parquet(spark, table_path(sf_dir, "events"))
    raw_nanos = dict(df.dtypes).get("ts") == "bigint"

    def _nanos(s: str) -> int:
        dt = datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
        return int(dt.timestamp()) * 1_000_000_000

    if raw_nanos:
        if ts_ge is not None:
            df = df.filter(F.col("ts") >= _nanos(ts_ge))
        if ts_lt is not None:
            df = df.filter(F.col("ts") < _nanos(ts_lt))
        df = df.withColumn("ts", ts_micros())
    else:
        if ts_ge is not None:
            df = df.filter(F.col("ts") >= F.lit(ts_ge).cast("timestamp"))
        if ts_lt is not None:
            df = df.filter(F.col("ts") < F.lit(ts_lt).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for name in TABLE_NAMES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            load(spark, sf_dir, name).createOrReplaceTempView(name)
