"""Kafka-envelope-shaped sources for offline execution and tests.

The envelope schema mirrors Spark's Kafka source output exactly
(`key, value, topic, partition, offset, timestamp, timestampType`), so
every operator downstream of the source is source-agnostic: swap the
fixture for the real ``format("kafka")`` reader and nothing changes
(kbrowse's record envelope: `src/kbrowse/search.clj:34-42`).

A fixture path stands in for a broker, so the planner reads its
metadata from a ``SourceSnapshot``: the resolved envelope DataFrame (a
plan, never rows) and, on first use, the ``[earliest, latest)`` offsets
of every (topic, partition), a few ints each.  One snapshot is cached
per path, for the 64 most recently used paths.  It is reused while the
Spark application and the path's file listing (name, size and mtime of
every data file, listed the way Spark lists it) are unchanged, and
replaced as soon as either changes.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable

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


def envelope_stream_from_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Follow-mode read of ``path`` in envelope shape, with the schema of
    a static read.  A single file is staged as a one-file directory,
    since the file-stream source needs a directory.  A directory of
    Spark-written tables needs a glob (dir/*.parquet): the file source
    does not recurse."""
    from kbrowse_spark.operators.streaming_queries import _stage_stream_dir

    src = path if "*" in path or os.path.isdir(path) else _stage_stream_dir(path)
    schema = _read_parquet(spark, src).schema
    return _to_envelope(spark.readStream.schema(schema).parquet(src))


class SourceSnapshot:
    """What the planner needs to know about a fixture path, resolved at
    most once per file listing: the envelope DataFrame and the offset
    bounds per (topic, partition).  Both are computed on first use, so a
    plan that needs neither runs no Spark job for them.  The lock is this
    snapshot's own: concurrent cold plans of one path share one Spark
    job, and never wait on another path's."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        resolve: Callable[[SparkSession, str], DataFrame],
    ):
        self._spark, self._path, self._resolve = spark, path, resolve
        self._lock = threading.RLock()
        self._envelope: DataFrame | None = None
        self._bounds: dict[tuple[str, int], tuple[int, int]] | None = None

    @property
    def envelope(self) -> DataFrame:
        with self._lock:
            if self._envelope is None:
                self._envelope = self._resolve(self._spark, self._path)
            return self._envelope

    @property
    def bounds(self) -> dict[tuple[str, int], tuple[int, int]]:
        """{(topic, partition): (earliest, latest)}, latest exclusive, as
        a broker reports them; one aggregate over the envelope."""
        with self._lock:
            if self._bounds is None:
                rows = (
                    self.envelope.groupBy("topic", "partition")
                    .agg(F.min("offset"), F.max("offset") + 1)
                    .collect()
                )
                self._bounds = {(t, p): (e, l) for t, p, e, l in rows}
            return self._bounds


# The least recently used path is dropped past this constant, so a
# service that sees many path spellings, or outlives a Spark
# application, holds a bounded set of plans.
_MAX_SNAPSHOTS = 64
_SNAPSHOTS: OrderedDict[str, tuple[tuple, SourceSnapshot]] = OrderedDict()
_SNAPSHOTS_LOCK = threading.Lock()


def source_snapshot(
    spark: SparkSession,
    path: str,
    resolve: Callable[[SparkSession, str], DataFrame],
) -> SourceSnapshot:
    """The cached snapshot of ``path``, replaced when the Spark
    application or the path's file listing changes.  ``resolve`` builds
    the envelope on a miss.  The module lock guards only the dict: Spark
    jobs run on first use of the snapshot, under its own lock."""
    key = (spark.sparkContext.applicationId, _listing(spark, path))
    with _SNAPSHOTS_LOCK:
        hit = _SNAPSHOTS.get(path)
        if hit is None or hit[0] != key:
            hit = _SNAPSHOTS[path] = (key, SourceSnapshot(spark, path, resolve))
        _SNAPSHOTS.move_to_end(path)
        while len(_SNAPSHOTS) > _MAX_SNAPSHOTS:
            _SNAPSHOTS.popitem(last=False)
        return hit[1]


def _hidden(name: str) -> bool:
    """Spark's file index rule: skip ``_``/``.`` names (_SUCCESS,
    checksums) and files being copied, but keep ``_x=1`` partition
    directories and parquet summary files."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _listing(spark: SparkSession, path: str) -> tuple:
    """Sorted (path, size, mtime) of every data file Spark would read
    under ``path``, resolved as Spark resolves it: globbed and listed
    through the Hadoop FileSystem, so any scheme and any Hadoop glob
    works.  A missing path lists as empty, and its read raises as
    usual."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    todo = [st.getPath() for st in fs.globStatus(jpath) or []]
    files = []
    while todo:
        for st in fs.listStatus(todo.pop()):
            if _hidden(st.getPath().getName()):
                continue
            if st.isDirectory():
                todo.append(st.getPath())
            else:
                files.append(
                    (st.getPath().toString(), st.getLen(), st.getModificationTime())
                )
    return tuple(sorted(files))


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
