"""Plan builder: QuerySpec -> DataFrame scan pipeline.

The Spark-native equivalent of kbrowse's `search` prologue + poll loop
(`src/kbrowse/search.clj:128-201`), re-expressed declaratively.  This
is the only module that knows the record pipeline; follow mode
(streaming/follow.py) runs the same plan as a stream:

* partition resolution -> source pruning (``assign`` option / fixture
  partition filter) — never a post-hoc filter over data we could have
  skipped reading
* offset-window snapshot -> ``startingOffsets``/``endingOffsets`` (Q4)
* source metadata: broker calls on the Kafka path; on the fixture path
  the cached ``SourceSnapshot`` (sources/fixture.py), so a repeated
  search over an unchanged path plans with no Spark job
* regex filter -> anchored ``rlike`` (Q2: Java `matches()` semantics
  via ``\\A(?:pat)\\z``) — Catalyst pushes it to the scan boundary
* progress tap (O16) -> a side branch unioned in (Q5: progress rows are
  emitted for every n-th offset regardless of match)

``spec.follow`` picks the reader: ``spark.read`` or ``spark.readStream``.
As in the reference, whose ``continue?`` short-circuits the stop test
on follow (search.clj:103-122), follow mode keeps the starting bounds
(relative offset, start timestamp) and drops the stop bounds (offset
snapshot, stop timestamp).

The output is the *discriminated-union row stream* (type:
offset|result).  A batch scan is ordered by ``EMIT_ORDER``, the
deterministic order SURVEY §7 mandates for stable output hashing; a
follow stream is unordered and follow mode sorts each micro-batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kbrowse_spark.functions.decoders import msgpack_str_udf, string_decode
from kbrowse_spark.plans.query_spec import QuerySpec, QuerySpecError
from kbrowse_spark.sources.fixture import (
    SourceSnapshot,
    envelope_from_parquet,
    envelope_stream_from_parquet,
    source_snapshot,
)
from kbrowse_spark.sources.kafka import (
    clamp_offset,
    kafka_options,
    resolve_partitions,
    starting_offsets_json,
)

# Emission order (SURVEY §7 hard-point 1): event-time first — preserves
# per-partition offset order on monotonic producers AND reproduces the
# reference's arrival-order interleave on its own integration fixtures
# — then (topic, partition, offset) as total tie-break; 'offset'
# (progress) rows sort before 'result' rows for the same record.
EMIT_ORDER = ("timestamp", "topic", "partition", "offset", "type")


def anchored(regex: str) -> str:
    r"""Full-match anchoring (Q2): Spark `rlike` is find(); the
    reference's `re-matches` is Java matches().  \A...\z (not ^...$)
    so embedded newlines can't fake a match."""
    return r"\A(?:" + regex + r")\z"


def _decoded(
    col: str,
    deserializer: str,
    avro_schema: str | None = None,
    registry_url: str | None = None,
) -> Column:
    if deserializer == "string":
        return string_decode(F.col(col))
    if deserializer == "msgpack":
        return msgpack_str_udf()(F.col(col))
    if deserializer == "avro":
        if avro_schema:
            # Pure-Python Avro decode (spark-avro jar unavailable
            # offline; on a cluster swap in from_avro + header strip —
            # see functions/avro.py).
            from kbrowse_spark.functions.avro import avro_str_udf

            return avro_str_udf(avro_schema)(F.col(col))
        if registry_url:
            # Writer schema per record from the registry by wire-header
            # id (reference KafkaAvroDeserializer behavior).
            from kbrowse_spark.functions.avro import avro_registry_udf

            return avro_registry_udf(registry_url)(F.col(col))
        # No schema known: surface the raw body after the wire header.
        from kbrowse_spark.functions.decoders import confluent_avro_payload

        return string_decode(confluent_avro_payload(col))
    raise QuerySpecError(f"unknown deserializer {deserializer!r}")


def _decoder_key(spec: QuerySpec) -> tuple:
    """Everything ``_project`` reads from ``spec``."""
    return (
        spec.key_deserializer, spec.avro_key_schema,
        spec.value_deserializer, spec.avro_value_schema,
        spec.schema_registry_url,
    )


def _project(env: DataFrame, spec: QuerySpec) -> DataFrame:
    """The scan's output columns over an envelope, as result rows."""
    return env.select(
        F.lit("result").alias("type"),
        "topic",
        "partition",
        "offset",
        "timestamp",
        _decoded(
            "key", spec.key_deserializer, spec.avro_key_schema,
            spec.schema_registry_url,
        ).alias("key_str"),
        _decoded(
            "value", spec.value_deserializer, spec.avro_value_schema,
            spec.schema_registry_url,
        ).alias("value_str"),
    )


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal, under the parser's default
    (backslash-escaped) string literals.  ``{`` is escaped too: the
    parser substitutes variables, ``${name}``, before it reads quotes."""
    return "'" + "".join("\\" + c if c in "\\'{" else c for c in s) + "'"


def _all(conds: list[str]) -> str:
    return " AND ".join(conds) if conds else "TRUE"


def _any(conds) -> str:
    return "(" + " OR ".join(conds) + ")" if conds else "FALSE"


def load_envelope(spark: SparkSession, spec: QuerySpec) -> DataFrame:
    """The follow-mode or Kafka source in Kafka-envelope shape, a stream
    when ``spec.follow``, with partition pruning and the starting offset
    window already applied at the source.  A fixture path is read here
    only as a stream: :func:`build_scan` plans a batch fixture scan from
    the snapshot's cached projection."""
    if spec.source_parquet:
        snapshot = _snapshot(spark, spec)
        return envelope_stream_from_parquet(snapshot).filter(
            _all(_fixture_condition(snapshot, spec))
        )
    if spec.bootstrap_servers:
        assignment = _assign(spec, _broker_partition_counts(spec))
        starting = (
            "earliest"
            if spec.relative_offset is None
            else _broker_starting_offsets(spec, assignment)
        )
        reader = spark.readStream if spec.follow else spark.read
        return (
            reader.format("kafka")
            .options(**kafka_options(spec, assignment, starting))
            .load()
        )
    raise QuerySpecError("no source: set source_parquet or bootstrap_servers")


def _snapshot(spark: SparkSession, spec: QuerySpec) -> SourceSnapshot:
    # Resolved through this module's global, so a wrapper installed on
    # planner.envelope_from_parquet sees every miss.
    return source_snapshot(spark, spec.source_parquet, envelope_from_parquet)


def _assign(spec: QuerySpec, counts: dict[str, int]) -> dict[str, list[int]]:
    """topic -> partitions to read, from per-topic partition counts."""
    topics = spec.topics or sorted(counts)
    return resolve_partitions(
        [t for t in topics if t in counts],
        counts,
        spec.partitions,
        spec.key_regex if spec.default_partition else None,
    )


def _fixture_condition(snapshot: SourceSnapshot, spec: QuerySpec) -> list[str]:
    """The fixture path's stand-in for the Kafka reader's ``assign`` and
    ``startingOffsets`` options: conjuncts (SQL) on topics, partitions
    and the starting offset, resolved against the snapshot's offset
    bounds the way the Kafka path resolves them against broker
    metadata.  One SQL string, however many partitions, is one call to
    the JVM."""
    conds = []
    if spec.topics:
        conds.append(f"`topic` IN ({', '.join(map(sql_string, spec.topics))})")
    if not (spec.default_partition or spec.partitions or spec.relative_offset is not None):
        return conds  # no metadata needed: no Spark job at plan time
    if spec.relative_offset is None and spec.num_partitions is not None and spec.topics:
        bounds = {}  # the hint gives every count: no Spark job either
    else:
        bounds = {
            tp: b for tp, b in snapshot.bounds.items()
            if not spec.topics or tp[0] in spec.topics
        }
    if spec.default_partition or spec.partitions:
        # Partition counts: prefer the explicit hint — data inference
        # (max+1) under-counts when high partitions are empty, which
        # would silently break murmur2 default-partition pruning.  The
        # Kafka path always has the true count from broker metadata
        # (kbrowse kafka.clj:51-57); the fixture path needs the hint.
        counts: dict[str, int] = {}
        for t, p in bounds:
            counts[t] = max(counts.get(t, 0), p + 1)
        if spec.num_partitions is not None:
            counts = {t: spec.num_partitions for t in spec.topics or counts}
        assignment = _assign(spec, counts)
        bounds = {
            (t, p): b for (t, p), b in bounds.items() if p in assignment.get(t, ())
        }
        conds.append(_any(
            f"(`topic` = {sql_string(t)} AND `partition` = {int(p)})"
            for t, ps in assignment.items()
            for p in ps
        ))
    if spec.relative_offset is not None:
        # Relative offset per partition of the snapshot's [earliest,
        # latest), with Q9 clamping.  Only the start is a filter: a
        # batch scan reads the snapshot itself, so offset < latest holds
        # by construction (Q4), and follow mode drops the stop bound.
        n = spec.relative_offset
        conds.append(_any(
            f"(`topic` = {sql_string(t)} AND `partition` = {int(p)}"
            f" AND `offset` >= {int(clamp_offset((e if n >= 0 else l) + n, e, l))})"
            for (t, p), (e, l) in sorted(bounds.items())
        ))
    return conds


def _broker_partition_counts(spec: QuerySpec) -> dict[str, int]:
    try:
        from kafka import KafkaConsumer  # type: ignore  # noqa: F401
    except ImportError as e:  # pragma: no cover - no client in this env
        raise QuerySpecError(
            "Kafka source requires the kafka-python client for metadata "
            "(not installed in this environment); use --source-parquet"
        ) from e
    consumer = KafkaConsumer(bootstrap_servers=spec.bootstrap_servers)
    try:
        return {t: len(consumer.partitions_for_topic(t) or ()) for t in spec.topics}
    finally:
        consumer.close()


def _broker_starting_offsets(spec: QuerySpec, assignment: dict) -> str:
    from kafka import KafkaConsumer, TopicPartition  # type: ignore

    consumer = KafkaConsumer(bootstrap_servers=spec.bootstrap_servers)
    try:
        tps = [TopicPartition(t, p) for t, ps in assignment.items() for p in ps]
        earliest = {
            (tp.topic, tp.partition): o
            for tp, o in consumer.beginning_offsets(tps).items()
        }
        latest = {
            (tp.topic, tp.partition): o for tp, o in consumer.end_offsets(tps).items()
        }
        return starting_offsets_json(
            assignment, earliest, latest, spec.relative_offset
        )
    finally:
        consumer.close()


def build_scan(spark: SparkSession, spec: QuerySpec) -> DataFrame:
    """Full pipeline: envelope -> timestamp bounds -> decode -> regex
    filter -> discriminated union (offset|result rows).

    Output columns: type, topic, partition, offset, timestamp,
    key_str, value_str.  A batch scan is totally ordered by
    ``EMIT_ORDER``; with ``spec.follow`` it is an unordered stream.

    A warm batch scan of a fixture path costs a fixed number of calls
    to the JVM, whatever its partition count: the decoded projection
    is the snapshot's, and the whole condition is one SQL string under
    one filter, which Catalyst pushes below the decode.
    """
    if spec.source_parquet and not spec.follow:
        snapshot = _snapshot(spark, spec)
        rows = snapshot.projection(_decoder_key(spec), lambda env: _project(env, spec))
        window = _fixture_condition(snapshot, spec)
    else:
        rows, window = _project(load_envelope(spark, spec), spec), []
    if spec.start_timestamp:
        # The reference validates --start-timestamp but never applies it
        # (SURVEY O9: consumed at cli.clj:65-66, unused in search.clj) —
        # implemented for real here, as a filter on both source paths.
        window.append(
            f"`timestamp` >= CAST({sql_string(spec.start_timestamp)} AS TIMESTAMP)"
        )
    if spec.stop_timestamp and not spec.follow:
        window.append(
            f"`timestamp` <= CAST({sql_string(spec.stop_timestamp)} AS TIMESTAMP)"
        )

    matched = list(window)
    if spec.key_regex is not None:
        matched.append(f"`key_str` RLIKE {sql_string(anchored(spec.key_regex))}")
    if spec.value_regex is not None:
        matched.append(f"`value_str` RLIKE {sql_string(anchored(spec.value_regex))}")
    out = rows.filter(_all(matched)) if matched else rows

    if spec.print_offset:
        # Q5: progress rows sample the *unfiltered* stream.
        progress = rows.filter(
            _all([*window, f"`offset` % {int(spec.print_offset)} = 0"])
        ).withColumn("type", F.lit("offset"))
        out = progress.unionByName(out)

    return out if spec.follow else out.orderBy(*EMIT_ORDER)
