"""Kafka-envelope-shaped sources for offline execution and tests.

The envelope schema mirrors Spark's Kafka source output exactly
(`key, value, topic, partition, offset, timestamp, timestampType`), so
every operator downstream of the source is source-agnostic: swap the
fixture for the real ``format("kafka")`` reader and nothing changes
(kbrowse's record envelope: `src/kbrowse/search.clj:34-42`).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kbrowse_spark.functions.partitioner import default_partition

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), False),
    ]
)


def _to_envelope(df: DataFrame) -> DataFrame:
    """The one envelope adapter for a raw parquet read, batch or
    streaming.  An envelope-shaped read passes through; a read in the
    ``events`` table shape (user_id/event_id/props/ts) maps to
    topic='events', partition=user_id%10, offset=event_id,
    key=user_id bytes, value=props bytes, so search and follow both run
    directly against a generated events.parquet."""
    missing = {f.name for f in ENVELOPE_SCHEMA} - set(df.columns)
    if not missing:
        return df.select([f.name for f in ENVELOPE_SCHEMA])
    if not {"user_id", "event_id", "props", "ts"} <= set(df.columns):
        raise ValueError(f"fixture missing envelope columns {missing}")
    ts = F.col("ts")
    if dict(df.dtypes).get("ts") == "bigint":
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    return df.select(
        F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
        F.encode(F.col("props"), "UTF-8").alias("value"),
        F.lit("events").alias("topic"),
        (F.col("user_id") % 10).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        ts.alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Static read of ``path``.  A directory with no files yet reads as
    an empty envelope, so follow mode can wait on it."""
    # TIMESTAMP(NANOS) handling, same as tables.load.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return spark.read.schema(ENVELOPE_SCHEMA).parquet(path)


def envelope_from_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Batch envelope read of a parquet file, directory or glob."""
    return _to_envelope(_read_parquet(spark, path))


def envelope_stream_from_parquet(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Follow-mode read of ``path``: (stream, snapshot), both in envelope
    shape.  The stream's schema is the snapshot's; the snapshot is what
    partition pruning and the offset window resolve against.  A single
    file is staged as a one-file directory, since the file-stream
    source needs a directory.  A directory of Spark-written tables
    needs a glob (dir/*.parquet): the file source does not recurse."""
    import os

    from kbrowse_spark.operators.streaming_queries import _stage_stream_dir

    src = path if "*" in path or os.path.isdir(path) else _stage_stream_dir(path)
    static = _read_parquet(spark, src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    return _to_envelope(stream), _to_envelope(static)


def envelope_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table of ``sf_dir`` as an envelope (see
    _to_envelope)."""
    from kbrowse_spark.sources.tables import load

    return _to_envelope(load(spark, sf_dir, "events"))


def golden_topic_a(spark: SparkSession) -> DataFrame:
    """The reference integration-test fixture (FIXTURES.md A2): topic-a,
    10 partitions, records (k0,v0) (k0,v1) (k2,v2) placed by the real
    DefaultPartitioner math — reproduces the golden fact k2 -> p3
    (`run-integration-tests:145-150`)."""
    import datetime

    n_partitions = 10
    rows = []
    offsets: dict[int, int] = {}
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    for i, (k, v) in enumerate([("k0", "v0"), ("k0", "v1"), ("k2", "v2")]):
        p = default_partition(k, n_partitions)
        o = offsets.get(p, 0)
        offsets[p] = o + 1
        rows.append(
            (
                k.encode(),
                v.encode(),
                "topic-a",
                p,
                o,
                base + datetime.timedelta(seconds=i),
                0,
            )
        )
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)
