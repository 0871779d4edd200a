"""Kafka-envelope-shaped sources for offline execution and tests.

The envelope schema mirrors Spark's Kafka source output exactly
(`key, value, topic, partition, offset, timestamp, timestampType`), so
every operator downstream of the source is source-agnostic: swap the
fixture for the real ``format("kafka")`` reader and nothing changes
(kbrowse's record envelope: `src/kbrowse/search.clj:34-42`).

Every parquet read of the engine, fixture or table, goes through one
cache of ``SourceSnapshot``s, one per path, for the 64 most recently used
paths.  A snapshot holds metadata and plans, never rows: the path's
schema, read once, so later reads of the path run no schema-inference
job; and, for the search planner, which reads a fixture path as it
would a broker, the envelope DataFrame, the ``[earliest, latest)``
offsets of every (topic, partition), a few ints each, and the decoded
search projection.  Each is computed on first use.  A snapshot is
reused while the Spark application and the path's file listing (name,
size and mtime of every data file, listed the way Spark lists it) are
unchanged, and replaced as soon as either changes.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
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


def ts_micros() -> Column:
    """A TIMESTAMP(NANOS) ``ts``, which reads as a long under nanosAsLong,
    as a TIMESTAMP truncated to micros by integer floor division, as
    DuckDB and Arrow truncate it."""
    return F.timestamp_micros(F.expr("ts div 1000"))


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
        ts = ts_micros()
    return df.select(
        F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
        F.encode(F.col("props"), "UTF-8").alias("value"),
        F.lit("events").alias("topic"),
        (F.col("user_id") % 10).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        ts.alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def _infer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema of ``path`` as Spark infers it (one Spark job).  A
    directory with no files yet has the envelope schema, so follow mode
    can wait on it."""
    # TIMESTAMP(NANOS) handling, as in read_parquet.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        return spark.read.parquet(path).schema
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return ENVELOPE_SCHEMA


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A new batch relation over ``path``, read with the schema its
    snapshot holds: no Spark job once that schema is known."""
    return source_snapshot(spark, path).read()


def envelope_from_parquet(snapshot: SourceSnapshot) -> DataFrame:
    """Batch envelope read of a snapshot's parquet file, directory or
    glob, through the snapshot's own relation: the path is not listed
    again, and the envelope is the listing the snapshot is keyed on."""
    return _to_envelope(snapshot.read())


def stage_stream_dir(path: str, tag: str = "") -> str:
    """A one-file directory holding a symlink to the parquet file
    ``path`` (a copy where symlinks fail), since the file-stream source
    reads directories.  Idempotent and keyed on ``path``; a ``tag``
    gives the caller a private directory it may add files to."""
    d = os.path.join(
        "/tmp/kbrowse_stream_src", hashlib.md5(path.encode()).hexdigest()[:12]
    )
    if tag:
        d += "_" + tag
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.exists(link):
        try:
            os.symlink(path, link)
        except OSError:
            import shutil

            shutil.copyfile(path, link)
    return d


def stream_parquet(
    spark: SparkSession, path: str, tag: str = "", schema: T.StructType | None = None
) -> DataFrame:
    """readStream over a parquet file, directory or glob, with ``schema``
    or else the one its snapshot holds (so an empty directory streams as
    an envelope).  A single file streams from :func:`stage_stream_dir`.
    A directory of Spark-written tables needs a glob (dir/*.parquet):
    the file source does not recurse."""
    src = path if "*" in path or os.path.isdir(path) else stage_stream_dir(path, tag)
    schema = schema or source_snapshot(spark, src).schema
    return spark.readStream.schema(schema).parquet(src)


def envelope_stream_from_parquet(snapshot: SourceSnapshot) -> DataFrame:
    """Follow-mode read of a snapshot's path in envelope shape, with the
    snapshot's schema."""
    return _to_envelope(
        stream_parquet(snapshot.spark, snapshot.path, schema=snapshot.schema)
    )


class SourceSnapshot:
    """What the engine knows about a parquet path, resolved at most once
    per file listing: its schema and, for the search planner, the
    envelope DataFrame, the offset bounds per (topic, partition) and
    the decoded projection.  Each is computed on first use, so a plan
    that needs none of them runs no Spark job for them.  The lock is
    this snapshot's own: concurrent cold plans of one path share one
    Spark job, and never wait on another path's."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        resolve: Callable[[SourceSnapshot], DataFrame] | None = None,
    ):
        self.spark, self.path = spark, path
        self._resolve = resolve or envelope_from_parquet
        self._lock = threading.RLock()
        self._schema: T.StructType | None = None
        self._envelope: DataFrame | None = None
        self._bounds: dict[tuple[str, int], tuple[int, int]] | None = None
        self._projection: tuple[tuple, DataFrame] | None = None

    @property
    def schema(self) -> T.StructType:
        with self._lock:
            if self._schema is None:
                self._schema = _infer_schema(self.spark, self.path)
            return self._schema

    def read(self) -> DataFrame:
        """A new relation over the path with the cached schema.  Never a
        shared one: two reads of one table joined in one plan need
        distinct attributes."""
        schema = self.schema
        # TIMESTAMP(NANOS) columns read as long only under this flag.
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return self.spark.read.schema(schema).parquet(self.path)

    @property
    def envelope(self) -> DataFrame:
        with self._lock:
            if self._envelope is None:
                self._envelope = self._resolve(self)
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

    def projection(
        self, key: tuple, build: Callable[[DataFrame], DataFrame]
    ) -> DataFrame:
        """``build(envelope)``, kept under ``key`` (the planner's
        deserializer settings) until a plan asks with another key."""
        with self._lock:
            if self._projection is None or self._projection[0] != key:
                self._projection = (key, build(self.envelope))
            return self._projection[1]


# The least recently used path is dropped past this constant, so a
# service that sees many path spellings, or outlives a Spark
# application, holds a bounded set of plans.
_MAX_SNAPSHOTS = 64
_SNAPSHOTS: OrderedDict[str, tuple[tuple, SourceSnapshot]] = OrderedDict()
_SNAPSHOTS_LOCK = threading.Lock()


def source_snapshot(
    spark: SparkSession,
    path: str,
    resolve: Callable[[SourceSnapshot], DataFrame] | None = None,
) -> SourceSnapshot:
    """The cached snapshot of ``path``, replaced when the Spark
    application or the path's file listing changes.  ``resolve`` builds
    the envelope on first use (:func:`envelope_from_parquet` by
    default); it is the one given when the snapshot was made.  The
    module lock guards only the dict: Spark jobs run on first use of
    the snapshot, under its own lock."""
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
