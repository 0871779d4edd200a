"""Structured Streaming surface, exercised through the batch-comparable
subset so the DuckDB oracle applies.

* ``stream_tumbling_counts``  — readStream over the events parquet,
  tumbling event-time windows, availableNow trigger, memory sink.
  Bounded-stream semantics == batch aggregation, so the oracle is the
  equivalent GROUP BY date_trunc.
* ``stream_dedup_users``      — streaming stateful dropDuplicates.
* ``session_window_events``   — session windows (30 min gap) — Spark's
  native session_window against a gaps-and-islands SQL oracle.

kbrowse's follow mode (SURVEY O2) builds on the same machinery in
kbrowse_spark/streaming/follow.py; here the streaming operators are
verified for correctness.  Watermark-driven late-data handling needs a
multi-batch source to be observable; covered in streaming/follow.py
tests rather than an oracle query.
"""

from __future__ import annotations

import itertools
import threading
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from kbrowse_spark.catalog import register
from kbrowse_spark.functions.determinism import dsum, sql_dsum
from kbrowse_spark.sources.fixture import stage_stream_dir
from kbrowse_spark.sources.tables import load_stream, table_path

_counter = itertools.count()

# Shuffle, and so state, partitions of every bounded run here.  Stateful
# cost on these replays is dominated by per-partition state-store commit
# file I/O, not data volume (profiled: 32 partitions -> ~1.9 s/batch,
# 8 -> ~1.1 s for the same 100k rows), and the runs use throwaway
# checkpoints, so a small count fits.  A production stream must size its
# own: the count is frozen into the checkpoint for the life of the
# query, so size it to peak state (e.g. 2-3x cores).
#
# The bucketed stateful operators use one state-key bucket per state
# partition, the fewest that still use every state store; each extra
# bucket per partition only adds Python invocations per trigger
# (measured at sf0.1, min-of-3 same session: sessionizer 2.85 s at 64
# buckets -> 2.17 s at 8; transition counts 1.34 -> 1.08; user totals
# 1.35 -> 1.09).  Results are bucket-invariant by construction (the
# oracle pins them); per-bucket state rows grow with users per bucket.
STREAM_STATE_PARTITIONS = 8

# spark.sql.shuffle.partitions is SESSION-wide: without a lock, two
# concurrent bounded runs (the service serves queries concurrently)
# could interleave set/restore so a batch query runs with the stream's
# count or one run's restore clobbers the other's.  The lock serializes
# only _run_bounded's set -> run -> restore -> record window.
_SHUFFLE_CONF_LOCK = threading.Lock()


# Executed micro-batch physical plans, captured for the plan-smell
# audit (tools/audit_plan_smells.py runs each streaming builder, then
# drains this dict and applies the same smell checks as batch plans).
# Audit aid only: small strings, best-effort, never fails a query.
_EXECUTED_STREAM_PLANS: dict[str, str] = {}


def _record_stream_plan(q, label: str) -> None:
    """Save the last executed micro-batch's physical plan (available on
    the JVM StreamingQuery after an availableNow run terminates)."""
    try:
        _EXECUTED_STREAM_PLANS[label] = q._jsq.explainInternal(False)
    except Exception:  # noqa: BLE001
        pass


# Machinery-vs-operator split per bounded run, for the bench notes: a
# bounded availableNow replay pays a fixed micro-batch spin-up (query
# start/stop, offset log + WAL commits, source listing, state-store
# commit files) that has nothing to do with the operator under test.
# recentProgress exposes the split: ``addBatch`` durationMs is the
# actual plan execution (operator + sink); wall minus the addBatch total
# is scaffolding.  Audit aid only: small dicts, best-effort, never fails
# a query.
_STREAM_RUN_STATS: dict[str, dict] = {}


def _record_stream_stats(q, label: str, wall_s: float) -> str:
    """Record one run's split and return its key.  Keys are UNIQUE per
    run: a builder that runs two bounded queries (or one that's re-run)
    gets label, label#2, … — so the profiler's before/after diff sums
    real entries instead of one overwritten record."""
    key, i = label, 1
    while key in _STREAM_RUN_STATS:
        i += 1
        key = f"{label}#{i}"
    try:
        import json as _json

        progs = [
            p if isinstance(p, dict) else _json.loads(p.json)
            for p in (q.recentProgress or [])
        ]
        add_batch_ms = sum(
            int(p.get("durationMs", {}).get("addBatch", 0)) for p in progs
        )
        trigger_ms = sum(
            int(p.get("durationMs", {}).get("triggerExecution", 0))
            for p in progs
        )
        _STREAM_RUN_STATS[key] = {
            "wall_ms": round(wall_s * 1000, 1),
            "operator_ms": add_batch_ms,
            "machinery_ms": round(wall_s * 1000 - add_batch_ms, 1),
            "trigger_ms": trigger_ms,
            "n_triggers": len(progs),
        }
    except Exception:  # noqa: BLE001
        pass
    return key


def stream_run_stats() -> dict[str, dict]:
    """Snapshot of per-label bounded-run machinery/operator splits."""
    return dict(_STREAM_RUN_STATS)


def executed_stream_plans() -> dict[str, str]:
    """Snapshot of captured micro-batch plans (run key -> plan)."""
    return dict(_EXECUTED_STREAM_PLANS)


def _run_bounded(writer: DataStreamWriter, label: str) -> None:
    """Run a configured stream writer over all available input
    (availableNow) with STREAM_STATE_PARTITIONS shuffle partitions, wait
    until the query ends, and record its last micro-batch plan and its
    machinery/operator split under ``label``.  Raises what the query
    raised; the session's partition count is restored either way."""
    spark = writer._spark
    key = "spark.sql.shuffle.partitions"
    with _SHUFFLE_CONF_LOCK:
        saved = spark.conf.get(key)
        try:
            spark.conf.set(key, str(STREAM_STATE_PARTITIONS))
            t0 = time.perf_counter()
            q = writer.trigger(availableNow=True).start()
            try:
                q.awaitTermination()
            finally:
                q.stop()
            wall = time.perf_counter() - t0
        finally:
            spark.conf.set(key, saved)
        # Under the lock: a run's key is picked by check-then-set.
        _record_stream_plan(q, _record_stream_stats(q, label, wall))


def _run_to_memory(df: DataFrame, mode: str, label: str | None = None) -> DataFrame:
    """Run a bounded stream (:func:`_run_bounded`) into a memory sink and
    return the result as a batch DataFrame.  The sink's temp view is
    dropped on the way out: the returned DataFrame keeps the rows, and a
    view would pin them on the driver for the life of the session."""
    import sys as _sys

    # Stats label: explicit when given; else the builder function name.
    # A wrapper between a builder and this helper should pass ``label``
    # — the frame heuristic only sees the immediate caller.
    caller = label or _sys._getframe(1).f_code.co_name

    spark = df.sparkSession
    name = f"stream_result_{next(_counter)}"
    try:
        _run_bounded(
            df.writeStream.format("memory").queryName(name).outputMode(mode),
            caller,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def _private_scratch(root: str, sf_dir: str) -> str:
    """A new scratch directory under ``root`` private to this call
    (``<sf_dir hash>-<pid>-<uuid>``): a fixed fixture-keyed dir would let
    two concurrent runs (parallel pytest workers, two sessions on one
    box) rmtree each other's in-flight checkpoints.  Because a path is
    never reused, a killed run would leak its dir forever, so siblings
    whose recorded pid is no longer alive are pruned first, best-effort
    (a live pid means an in-flight concurrent run: left alone)."""
    import hashlib
    import os
    import shutil
    import uuid

    try:
        for entry in os.listdir(root):
            parts = entry.split("-")
            if len(parts) != 3 or not parts[1].isdigit():
                continue
            try:
                os.kill(int(parts[1]), 0)  # signal 0: existence check only
            except ProcessLookupError:
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
            except PermissionError:
                pass  # pid alive under another user: not ours to sweep
    except OSError:
        pass
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = f"{root}/{tag}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    return d


@register(
    "stream_tumbling_counts",
    f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
    "streaming",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows over a bounded stream
    (availableNow): identical results to the batch GROUP BY, which is
    the point — one definition of the aggregation serves both batch
    and follow mode."""
    ev = load_stream(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete").orderBy("window_start", "event_type")


@register(
    "stream_sliding_counts",
    f"""
    WITH ex AS (
      SELECT event_type, value,
             time_bucket(INTERVAL '15 minutes', ts)
               - k * INTERVAL '15 minutes' AS ws
      FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM ex
    GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """,
    "streaming",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1-hour size, 15-minute slide): each
    event lands in 4 overlapping windows.  Same bounded-stream
    (availableNow) formulation as the tumbling variant; the oracle
    expands each event into its 4 slide-aligned window starts
    (time_bucket - k*slide), which is exactly Spark's epoch-aligned
    window assignment."""
    ev = load_stream(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete").orderBy("window_start", "event_type")


@register(
    "stream_dedup_users",
    """
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
    "streaming",
)
def stream_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dropDuplicates on (user_id, event_type) —
    the streaming form of exact dedup. State size = number of distinct
    keys; in production bounded via dropDuplicatesWithinWatermark."""
    ev = load_stream(spark, sf_dir, "events")
    dedup = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_memory(dedup, "append").orderBy("user_id", "event_type")


@register(
    "stream_stateful_user_totals",
    f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    "streaming",
    "stateful",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming op: applyInPandasWithState keeps a
    per-user (count, fixed-point sum) accumulator across micro-batches
    and emits the running totals each batch.  On a bounded stream the
    final emission equals the batch GROUP BY — which is the oracle.

    State is two ints per key — the custom-operator pattern for
    accumulators that built-in aggregations can't express (the fixed
    point here stands in for arbitrary Python state logic).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Bucketed state key (r14): per-user keys paid one Python
    # invocation per user per trigger; the bucket form runs the same
    # per-user accumulator for every user of the bucket inside one
    # invocation, state as parallel arrays on the bucket row.  Output
    # stays user-grain running totals for exactly the users present in
    # the batch — identical rows to the per-user-key form.
    ev = (
        load_stream(spark, sf_dir, "events")
        .select("user_id", "value")
        .withColumn(
            "bkt",
            F.pmod(F.xxhash64(F.col("user_id")), F.lit(STREAM_STATE_PARTITIONS)),
        )
    )

    out = (
        ev.groupBy("bkt")
        .applyInPandasWithState(
            _make_user_totals_update(),
            outputStructType="user_id long, n_events long, total_cents long",
            stateStructType="users array<long>, ns array<long>, cents array<long>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    result = _run_to_memory(out, "update")
    # Bounded single-pass stream: the last emission per user is final.
    from pyspark.sql import Window as W

    latest = result.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.col("n_events").desc())
        ),
    ).filter(F.col("rn") == 1)
    return latest.select("user_id", "n_events", "total_cents").orderBy("user_id")


@register(
    "stream_static_enrich",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    "streaming",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (broadcast per micro-batch), then aggregated
    INSIDE the stream to (segment, user) grain in update mode — the
    memory sink receives one running count per key, not the row-level
    event grain.  The post-sink step only resolves each key's final
    count (max of the monotone running counts) and folds the exact
    distinct-user count — the one piece streaming state can't express
    without a second state layer."""
    from kbrowse_spark.sources.tables import load

    ev = load_stream(spark, sf_dir, "events")
    cust = F.broadcast(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    per_user = joined.groupBy("c_mktsegment", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    result = _run_to_memory(per_user, "update")
    final = result.groupBy("c_mktsegment", "user_id").agg(F.max("n").alias("n"))
    return (
        final.groupBy("c_mktsegment")
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "session_window_events",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    "streaming",
)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) via Spark's native
    session_window — verified against a gaps-and-islands formulation.
    session_window end = last event + gap, mirrored in the oracle."""
    from kbrowse_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_tws_user_profile",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           MAX(CAST(floor(value * 100) AS BIGINT)) AS max_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    "streaming",
    "stateful",
)
def stream_tws_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas (Spark 4 StatefulProcessor API): a
    per-user profile accumulator using BOTH a ValueState (count /
    max-cents scalars) and a MapState (distinct event types) — the
    state shapes `applyInPandasWithState`'s single-tuple state can't
    express.  On a bounded availableNow stream the final emission per
    key equals the batch GROUP BY, which is the oracle.

    Scale posture: state lives in the per-partition RocksDB state
    store (required by transformWithState), keyed by user — no
    driver-side state, incremental checkpoints, and the MapState holds
    one entry per (user, event_type), not a serialized set rewritten
    per row.

    Environment gate: transformWithState's Python state protocol
    requires the `protobuf` package, which this container does not
    ship (the TWS driver worker crashes importing
    `google.protobuf.descriptor`).  Where protobuf is absent we fall
    back to an `applyInPandasWithState` implementation with identical
    semantics (the distinct-type set rides in an array<string> state
    column) so the operator's contract stays verified; the TWS path
    is the one a real cluster runs.
    """
    import pandas as pd

    try:
        from google.protobuf import descriptor  # noqa: F401

        _has_protobuf = True
    except ImportError:
        _has_protobuf = False
    if not _has_protobuf:
        return _user_profile_apply_in_pandas(spark, sf_dir)

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n_events long, max_cents long"
            )
            self._types = handle.getMapState("types", "t string", "seen byte")

        def handleInputRows(self, key, rows, timerValues):
            n, max_cents = (
                self._totals.get() if self._totals.exists() else (0, -(1 << 62))
            )
            n_types = 0
            for pdf in rows:
                n += len(pdf)
                batch_max = int((pdf["value"] * 100).apply(int).max())
                max_cents = max(max_cents, batch_max)
                for t in pdf["event_type"].unique():
                    if not self._types.containsKey((t,)):
                        self._types.updateValue((t,), (1,))
            self._totals.update((n, max_cents))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_types": [n_types],
                    "max_cents": [max_cents],
                }
            )

    ev = load_stream(spark, sf_dir, "events").select("user_id", "event_type", "value")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserProfileProcessor(),
            outputStructType="user_id long, n_events long, n_types long, max_cents long",
            outputMode="Update",
            timeMode="None",
        )
        result = _run_to_memory(out, "update")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    from pyspark.sql import Window as W

    latest = result.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("user_id").orderBy(F.col("n_events").desc())),
    ).filter(F.col("rn") == 1)
    return latest.select("user_id", "n_events", "n_types", "max_cents").orderBy(
        "user_id"
    )


def _user_profile_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fallback body for :func:`stream_tws_user_profile` when protobuf
    is unavailable: the same per-user profile via applyInPandasWithState
    on a bucketed state key (r14), with each user's distinct event-type
    set carried flattened as parallel (type_user, type_val) state
    arrays (rewritten per update — exactly the state-shape limitation
    the MapState in the TWS path avoids)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Bucketed state key (r14, same amortization as
    # stream_stateful_user_totals): the per-user profile accumulator
    # runs for every user of the bucket in one Python invocation.  The
    # distinct-type set state is flattened to parallel (type_user,
    # type_val) arrays on the bucket row — one entry per (user, type)
    # pair, the applyInPandasWithState-expressible stand-in for the
    # MapState the TWS path uses.
    ev = (
        load_stream(spark, sf_dir, "events")
        .select("user_id", "event_type", "value")
        .withColumn(
            "bkt",
            F.pmod(F.xxhash64(F.col("user_id")), F.lit(STREAM_STATE_PARTITIONS)),
        )
    )

    out = ev.groupBy("bkt").applyInPandasWithState(
        _make_user_profile_update(),
        outputStructType="user_id long, n_events long, n_types long, max_cents long",
        stateStructType=(
            "users array<long>, ns array<long>, maxs array<long>,"
            " type_users array<long>, type_vals array<string>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = _run_to_memory(out, "update")
    from pyspark.sql import Window as W

    latest = result.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("user_id").orderBy(F.col("n_events").desc())),
    ).filter(F.col("rn") == 1)
    return latest.select("user_id", "n_events", "n_types", "max_cents").orderBy(
        "user_id"
    )


def _events_stream_with_flush(spark: SparkSession, sf_dir: str, tag: str) -> DataFrame:
    """Events stream over a PRIVATE staged dir that also contains one
    far-future sentinel row (event_type '__flush__', ts 2024-03-01).

    Append-mode windowed aggregations only emit once the watermark
    passes the window end; on a bounded stream the watermark stops at
    the max real event time, leaving the final window open.  The
    sentinel pushes the watermark past every real window so availableNow
    drains them all — the bounded-stream analogue of "the next day's
    first event closes yesterday's window" in production.  The sentinel
    never appears in append output: its own window stays open.
    """
    import os
    import shutil

    from pyspark.sql import Row

    path = table_path(sf_dir, "events")
    flush = os.path.join(stage_stream_dir(path, tag), "zz_flush.parquet")
    if not os.path.exists(flush):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        static = spark.read.parquet(path)
        ts_is_long = dict(static.dtypes).get("ts") == "bigint"
        flush_ts = 1709251200  # 2024-03-01 00:00:00 UTC
        row = Row(
            event_id=-1,
            ts=(flush_ts * 1_000_000_000) if ts_is_long else None,
            user_id=-1,
            event_type="__flush__",
            value=0.0,
            props=None,
        )
        fdf = spark.createDataFrame([row], schema=static.schema)
        if not ts_is_long:
            # Cast the sentinel ts to the EXACT storage type of the real
            # file (timestamp vs timestamp_ntz) so the staged dir stays
            # schema-homogeneous for the file-stream source.
            ts_type = dict(static.dtypes)["ts"]
            fdf = fdf.withColumn(
                "ts", F.lit("2024-03-01 00:00:00").cast(ts_type)
            )
        tmp = flush + ".tmp"
        fdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.endswith(".parquet")
        )
        os.replace(os.path.join(tmp, part), flush)
        shutil.rmtree(tmp, ignore_errors=True)
    return load_stream(spark, sf_dir, "events", tag)


@register(
    "stream_chained_windows",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT strftime(date_trunc('day', h), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_hours,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM hourly
    GROUP BY date_trunc('day', h), event_type
    ORDER BY day, event_type
    """,
    "streaming",
    "stateful",
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful time-window aggregations (Spark 3.4+): hourly
    counts re-aggregated to daily grain in ONE streaming query — two
    watermark-driven stateful operators back to back, no intermediate
    sink.  The production shape for multi-grain rollups: the hourly
    windows close as the watermark passes, and their emissions cascade
    into the daily windows inside the same micro-batch.

    Append mode end-to-end (required for chaining); the sentinel row
    from :func:`_events_stream_with_flush` drains every real window on
    the bounded stream, so the result equals the batch two-level GROUP
    BY, which is the oracle.
    """
    ev = _events_stream_with_flush(spark, sf_dir, "chained")
    hourly = (
        ev.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("window"), "1 day").alias("day_window"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_hours"), F.sum("n").alias("n_events"))
        .select(
            F.date_format(F.col("day_window.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_hours",
            "n_events",
        )
    )
    result = _run_to_memory(daily, "append")
    return result.filter(F.col("event_type") != "__flush__").orderBy(
        "day", "event_type"
    )


@register(
    "stream_stream_join",
    """
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id AS user_id,
           CAST(floor(p.value * 100) AS BIGINT) AS purchase_cents
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY view_id, purchase_id
    """,
    "streaming",
    "join",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: views joined to purchases by the
    same user within the following hour — the attribution-join shape.
    Both sides carry watermarks and the join condition bounds event
    time, so Spark evicts join state once the watermark passes
    view.ts + 1 hour: bounded state at unbounded input, the only way a
    stream-stream join survives 100 TB/day.

    Inner-join results emit as matches arrive (no window close
    needed); on a bounded availableNow stream the output equals the
    batch self-join, which is the oracle.
    """
    views = (
        load_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 second")
    )
    purchases = (
        load_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.floor(F.col("value") * 100).cast("long").alias("purchase_cents"),
        )
        .withWatermark("p_ts", "1 second")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        "purchase_cents",
    )
    result = _run_to_memory(joined, "append")
    return result.orderBy("view_id", "purchase_id")


@register(
    "stream_stream_left_join",
    """
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id AS user_id,
           CAST(floor(p.value * 100) AS BIGINT) AS purchase_cents
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY view_id, purchase_id ASC NULLS FIRST
    """,
    "streaming",
    "join",
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view emits, with
    purchase columns null when no same-user purchase followed within an
    hour — the attribution join that also reports the unconverted.

    Unlike the inner join, outer results can only emit when the
    watermark proves no future match can arrive; the flush sentinel
    (:func:`_events_stream_with_flush`) pushes both sides' watermarks
    past every real view's match window, and Spark's no-data
    micro-batch then evicts the join state, emitting the null-extended
    rows.  On the bounded stream the result equals the batch left
    join, which is the oracle.

    Scale posture: identical to the inner interval join — state for
    both sides is evicted as the watermark passes v_ts + 1 hour, so
    state size is bounded by the interval × arrival rate, not by
    history.
    """
    ev = _events_stream_with_flush(spark, sf_dir, "leftjoin")
    views = (
        ev.filter(F.col("event_type").isin("view", "__flush__"))
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 second")
    )
    ev2 = _events_stream_with_flush(spark, sf_dir, "leftjoin")
    purchases = (
        ev2.filter(F.col("event_type").isin("purchase", "__flush__"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.floor(F.col("value") * 100).cast("long").alias("purchase_cents"),
        )
        .withWatermark("p_ts", "1 second")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        "purchase_cents",
    )
    result = _run_to_memory(joined, "append")
    return result.filter(F.col("user_id") != -1).orderBy(
        "view_id", F.col("purchase_id").asc_nulls_first()
    )


@register(
    "stream_stream_full_join",
    """
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           COALESCE(v.user_id, p.user_id) AS user_id,
           CAST(floor(p.value * 100) AS BIGINT) AS purchase_cents
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY view_id ASC NULLS FIRST, purchase_id ASC NULLS FIRST
    """,
    "streaming",
    "join",
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the last cell of the
    streaming join matrix (inner and left outer are the two queries
    above): unconverted views AND orphaned purchases both emit with the
    other side null.

    Both outer directions can only emit on watermark proof that no
    match will arrive, so the flush sentinel pushes BOTH sides'
    watermarks past every real row's match window; Spark's no-data
    micro-batch then evicts remaining state from each side, emitting
    the null-extended rows in both directions.  On the bounded stream
    the result equals the batch FULL JOIN, which is the oracle.

    Scale posture: same bounded state as the inner interval join —
    view state evicts when the purchase watermark passes v_ts + 1 hour,
    purchase state when the view watermark passes p_ts — so state is
    interval x arrival rate on each side, never history.  The sentinel
    join pair (flush x flush matches itself) is filtered by user id.
    """
    ev = _events_stream_with_flush(spark, sf_dir, "fulljoin")
    views = (
        ev.filter(F.col("event_type").isin("view", "__flush__"))
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 second")
    )
    ev2 = _events_stream_with_flush(spark, sf_dir, "fulljoin")
    purchases = (
        ev2.filter(F.col("event_type").isin("purchase", "__flush__"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.floor(F.col("value") * 100).cast("long").alias("purchase_cents"),
        )
        .withWatermark("p_ts", "1 second")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select(
        "view_id",
        "purchase_id",
        F.coalesce(F.col("v_user"), F.col("p_user")).alias("user_id"),
        "purchase_cents",
    )
    result = _run_to_memory(joined, "append")
    return result.filter(F.col("user_id") != -1).orderBy(
        F.col("view_id").asc_nulls_first(),
        F.col("purchase_id").asc_nulls_first(),
    )


@register(
    "stream_foreachbatch_export",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "streaming",
    "sink",
)
def stream_foreachbatch_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch exactly-once export: the streaming write pattern
    for sinks without native transactional streaming support.  Each
    micro-batch lands as parquet under ``batch_id=<n>``; a replayed
    batch id OVERWRITES its own directory instead of appending — the
    idempotence that turns Structured Streaming's at-least-once batch
    delivery into exactly-once file output (the same contract Delta's
    ``txnVersion`` / Iceberg's commit-dedup implement transactionally).

    The returned DataFrame re-reads the exported files and aggregates;
    the oracle is the same aggregate over the source table — equality
    proves no batch was lost or double-counted.

    Scale posture: the export itself is a distributed parquet write
    per micro-batch (no driver materialization); partition layout is
    ``batch_id=`` Hive-style so downstream readers prune replays, and
    dynamic partition overwrite touches only the replayed batch's
    directory, never the whole sink.
    """
    import shutil

    ev = load_stream(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = _private_scratch("/tmp/kbrowse_febatch", sf_dir)
    out_dir, ckpt = f"{base}/data", f"{base}/ckpt"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent: a replay of batch_id rewrites batch_id=<n>/ only
        # (mode=overwrite on the per-batch path), so reprocessing after
        # failure cannot double-count.
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    _run_bounded(
        ev.writeStream.foreachBatch(write_batch).option("checkpointLocation", ckpt),
        "stream_foreachbatch_export",
    )
    exported = spark.read.parquet(out_dir)
    result = (
        exported.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("event_type")
    )
    # Materialized, so the caller's lazy collect reads no scratch file.
    result = result.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result


@register(
    "stream_pyds_follow",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "streaming",
    "source",
)
def stream_pyds_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Follow mode through the custom STREAMING Python data source
    (`sources/pyds_stream.py`): the reference's poll loop
    (kafka.clj:61-123) as a DataSourceStreamReader — driver tracks the
    append-only file-count offset, plans one InputPartition per new
    file, executors emit Arrow batches.  On this pre-staged bounded
    input the availableNow run consumes offset 0 -> latest in one
    micro-batch; mid-stream arrival is exercised in
    tests/test_sources.py.

    The aggregate on top proves correctness end-to-end: identical to
    DuckDB reading the same file (floor-cents sum, exact integers).
    """
    from kbrowse_spark.sources.pyds_stream import register_events_follow_source

    register_events_follow_source(spark)
    d = stage_stream_dir(table_path(sf_dir, "events"))
    ev = spark.readStream.format("events_follow").option("path", d).load()
    agg = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
    )
    return _run_to_memory(agg, "complete").orderBy("event_type")


_SESSION_GAP_MS = 30 * 60 * 1000
_SESSION_GAP_US = _SESSION_GAP_MS * 1000


def _make_transition_update():
    """Factory for the bucketed transition-count update function (see
    stream_transition_counts).  Local closure for the same
    ship-by-value reason as :func:`_make_session_update`; factory-shaped
    so the multi-batch test drives the identical function."""

    def update(key, batches, state):
        # Per-user last-event-type state for every user of the bucket,
        # held as parallel arrays on the bucket row; the per-user
        # transition logic is unchanged from the per-user-key form —
        # rows are sequenced (ts_us, event_id) within each user and the
        # stored tail stitches the cross-batch transition.
        import pandas as pd

        parts = [
            pdf[["user_id", "ts_us", "event_id", "event_type"]]
            for pdf in batches
        ]
        if not parts:
            return
        allev = (
            pd.concat(parts) if len(parts) > 1 else parts[0]
        ).sort_values(["user_id", "ts_us", "event_id"])
        last_map: dict[int, str] = {}
        if state.exists:
            users, lasts = state.get
            last_map = {int(u): t for u, t in zip(users, lasts)}
        counts: dict[tuple[str, str], int] = {}
        prev_u = None
        last = None
        for u, et in zip(
            allev["user_id"].to_numpy(), allev["event_type"].to_numpy()
        ):
            if u != prev_u:
                if prev_u is not None:
                    last_map[int(prev_u)] = last
                last = last_map.get(int(u))
                prev_u = u
            if last is not None:
                k = (last, et)
                counts[k] = counts.get(k, 0) + 1
            last = str(et)
        last_map[int(prev_u)] = last
        state.update((list(last_map.keys()), list(last_map.values())))
        if counts:
            yield pd.DataFrame(
                [
                    {"from_type": a, "to_type": b, "n": n}
                    for (a, b), n in counts.items()
                ]
            )

    return update


def _make_user_totals_update():
    """Factory for the bucketed running-totals update function (see
    stream_stateful_user_totals).  Ship-by-value local closure;
    factory-shaped so the multi-batch test drives the identical
    function."""

    def update(key, batches, state):
        import pandas as pd

        parts = [pdf[["user_id", "value"]] for pdf in batches]
        if not parts:
            return
        allev = pd.concat(parts) if len(parts) > 1 else parts[0]
        st: dict[int, list[int]] = {}
        if state.exists:
            users, ns, cents = state.get
            st = {
                int(u): [int(n), int(c)]
                for u, n, c in zip(users, ns, cents)
            }
        out_rows = []
        for u, grp in allev.groupby("user_id", sort=True):
            u = int(u)
            n, c = st.get(u, (0, 0))
            n += len(grp)
            c += int(grp["value"].map(lambda v: int(v * 100 // 1)).sum())
            st[u] = [n, c]
            out_rows.append((u, n, c))
        state.update(
            (
                list(st),
                [v[0] for v in st.values()],
                [v[1] for v in st.values()],
            )
        )
        yield pd.DataFrame(
            out_rows, columns=["user_id", "n_events", "total_cents"]
        )

    return update


def _make_user_profile_update():
    """Factory for the bucketed user-profile update function (see
    :func:`_user_profile_apply_in_pandas`, the TWS fallback).  The
    distinct-type set state is flattened to parallel (type_user,
    type_val) arrays on the bucket row."""

    def update(key, batches, state):
        import pandas as pd

        parts = [pdf[["user_id", "event_type", "value"]] for pdf in batches]
        if not parts:
            return
        allev = pd.concat(parts) if len(parts) > 1 else parts[0]
        st: dict[int, list[int]] = {}
        seen: dict[int, set] = {}
        if state.exists:
            users, ns, maxs, tu, tv = state.get
            st = {
                int(u): [int(n), int(m)]
                for u, n, m in zip(users, ns, maxs)
            }
            for u, t in zip(tu, tv):
                seen.setdefault(int(u), set()).add(t)
        out_rows = []
        for u, grp in allev.groupby("user_id", sort=True):
            u = int(u)
            n, mx = st.get(u, (0, -(1 << 62)))
            n += len(grp)
            batch_max = int((grp["value"] * 100).apply(int).max())
            mx = max(mx, batch_max)
            s = seen.setdefault(u, set())
            s.update(str(t) for t in grp["event_type"].unique())
            st[u] = [n, mx]
            out_rows.append((u, n, len(s), mx))
        users_l = list(st)
        tu_l: list[int] = []
        tv_l: list[str] = []
        for u in users_l:
            for t in sorted(seen.get(u, ())):
                tu_l.append(u)
                tv_l.append(t)
        state.update(
            (
                users_l,
                [st[u][0] for u in users_l],
                [st[u][1] for u in users_l],
                tu_l,
                tv_l,
            )
        )
        yield pd.DataFrame(
            out_rows,
            columns=["user_id", "n_events", "n_types", "max_cents"],
        )

    return update


def _make_session_update():
    """Factory for the bucketed timer-sessionization update function
    (see stream_session_timeout).  The returned function is a LOCAL
    closure so cloudpickle ships it BY VALUE to executors — a
    module-level function pickles by reference and the driver's bare
    session cannot import kbrowse_spark on its Python workers (the
    emulator-only failure mode the verify recipe exists to catch).
    Factory-shaped (rather than a closure in the operator) so the
    multi-batch test drives the identical function."""
    gap_ms = _SESSION_GAP_MS
    gap_us = _SESSION_GAP_US

    def close_expired(state) -> list[tuple[int, int, int, int]]:
        # Timer wake-up for a session bucket: emit every open session
        # whose timeout the watermark has passed (strict <, mirroring
        # Spark's per-group timer firing rule), keep the rest and
        # re-arm the wake-up.
        users, starts, lasts, ns = (list(x) for x in state.get)
        wm_ms = state.getCurrentWatermarkMs()
        out, keep = [], []
        for u, s, last, n in zip(users, starts, lasts, ns):
            if last // 1000 + gap_ms < wm_ms:
                out.append((u, s, last + gap_us, n))
            else:
                keep.append((u, s, last, n))
        if keep:
            state.update(tuple(list(col) for col in zip(*keep)))
            nxt = min(last // 1000 + gap_ms for _, _, last, _ in keep)
            state.setTimeoutTimestamp(max(nxt, wm_ms + 1))
        else:
            state.remove()
        return out

    def update(key, batches, state):
        # Vectorized gaps-and-islands for the WHOLE bucket (r15, guide
        # §4.2): the prior form looped per event in Python (every
        # corpus event row paid an interpreted iteration — the
        # operator's dominant term once the per-group invocation count
        # was fixed by bucketing).  numpy computes island boundaries,
        # per-island min/max/count and the carried-state merge as
        # array ops; the emitted sessions, the surviving open-session
        # state, and the timer value are identical by construction
        # (test_bucketed_session_timeout_multibatch pins the
        # cross-batch merge and wake-up paths).
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:
            out = close_expired(state)
            if out:
                yield pd.DataFrame(
                    out, columns=["user_id", "start_us", "end_us", "n_events"]
                )
            return
        if state.exists:
            users0, starts0, lasts0, ns0 = (
                np.asarray(x, dtype=np.int64) for x in state.get
            )
        else:
            users0 = starts0 = lasts0 = ns0 = np.empty(0, dtype=np.int64)
        ev_parts = [pdf[["user_id", "ts_us"]] for pdf in batches]
        allev = pd.concat(ev_parts) if len(ev_parts) > 1 else ev_parts[0]
        u = allev["user_id"].to_numpy(dtype=np.int64)
        t = allev["ts_us"].to_numpy(dtype=np.int64)
        order = np.lexsort((t, u))
        u, t = u[order], t[order]
        n_ev = len(u)

        # First-event positions per user + carried-state lookup.
        first = np.empty(n_ev, dtype=bool)
        if n_ev:
            first[0] = True
            first[1:] = u[1:] != u[:-1]
        fe_idx = np.flatnonzero(first)
        fu = u[fe_idx]
        s0_order = np.argsort(users0, kind="stable")
        su = users0[s0_order]
        pos = np.searchsorted(su, fu)
        if len(su):
            has0 = (pos < len(su)) & (su[np.minimum(pos, len(su) - 1)] == fu)
            c_idx = s0_order[np.minimum(pos, len(su) - 1)]
            carried_start = np.where(has0, starts0[c_idx], 0)
            carried_last = np.where(has0, lasts0[c_idx], 0)
            carried_n = np.where(has0, ns0[c_idx], 0)
        else:
            has0 = np.zeros(len(fu), dtype=bool)
            carried_start = np.zeros(len(fu), dtype=np.int64)
            carried_last = np.zeros(len(fu), dtype=np.int64)
            carried_n = np.zeros(len(fu), dtype=np.int64)

        # prev_last per event: max(previous event ts, carried last);
        # a no-state first event uses t-1 (n==0 there, so the gap test
        # can never close anything — 1 us is always <= gap).
        prev_last = np.empty(n_ev, dtype=np.int64)
        if n_ev:
            prev_last[1:] = t[:-1]
            user_cnt = np.diff(np.append(fe_idx, n_ev))
            cl_ev = np.repeat(
                np.where(has0, carried_last, np.int64(-(1 << 62))), user_cnt
            )
            prev_last = np.maximum(prev_last, cl_ev)
            prev_last[fe_idx] = np.where(has0, carried_last, t[fe_idx] - 1)
        close = (t - prev_last) > gap_us
        boundary = first | close
        b_idx = np.flatnonzero(boundary)
        isl_user = u[b_idx]
        isl_end = np.append(b_idx[1:], n_ev) - 1
        m_start = t[b_idx].copy()
        m_max = t[isl_end].copy()
        m_cnt = isl_end - b_idx + 1
        isl_last = np.empty(len(b_idx), dtype=bool)
        if len(b_idx):
            isl_last[:-1] = isl_user[:-1] != isl_user[1:]
            isl_last[-1] = True

        # Merge each user's FIRST island with its carried session when
        # the first event did not cross the gap.
        fi = np.flatnonzero(first[b_idx])  # islands that are user-first
        cont = has0 & ~close[fe_idx]
        sel = fi[cont]
        m_start[sel] = np.minimum(m_start[sel], carried_start[cont])
        m_max[sel] = np.maximum(m_max[sel], carried_last[cont])
        m_cnt[sel] = m_cnt[sel] + carried_n[cont]

        # Emissions: carried sessions the first event closed by gap,
        # then every in-batch island except each user's last (open).
        closed0 = has0 & close[fe_idx]
        emit = ~isl_last
        out_u = np.concatenate([fu[closed0], isl_user[emit]])
        out_s = np.concatenate([carried_start[closed0], m_start[emit]])
        out_e = (
            np.concatenate([carried_last[closed0], m_max[emit]]) + gap_us
        )
        out_n = np.concatenate([carried_n[closed0], m_cnt[emit]])

        # New state: each user's last island + untouched carried users.
        keep0 = (
            ~np.isin(users0, fu)
            if len(users0)
            else np.zeros(0, dtype=bool)
        )
        new_u = np.concatenate([isl_user[isl_last], users0[keep0]])
        new_s = np.concatenate([m_start[isl_last], starts0[keep0]])
        new_l = np.concatenate([m_max[isl_last], lasts0[keep0]])
        new_n = np.concatenate([m_cnt[isl_last], ns0[keep0]])
        state.update(
            (
                new_u.tolist(),
                new_s.tolist(),
                new_l.tolist(),
                new_n.tolist(),
            )
        )
        # Wake-up at the earliest open-session timeout; clamp above
        # the current watermark (an untouched user's timeout may
        # already lie behind it — its session closes at the wake-up's
        # per-session expiry check, exactly as its own timer would).
        nxt = int(new_l.min()) // 1000 + gap_ms
        state.setTimeoutTimestamp(
            max(nxt, state.getCurrentWatermarkMs() + 1)
        )
        if len(out_u):
            yield pd.DataFrame(
                {
                    "user_id": out_u,
                    "start_us": out_s,
                    "end_us": out_e,
                    "n_events": out_n,
                }
            )

    return update


@register(
    "stream_session_timeout",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    "streaming",
    "stateful",
)
def stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMERS: an
    applyInPandasWithState operator buffers one open session per user
    ((start, last, count) — three longs, bounded state) and registers a
    timeout at last_event + gap.  Sessions close two ways, exactly as
    in production: a later event past the gap closes the previous
    session in-stream, and the WATERMARK closes idle sessions by firing
    the timer — no new event for the user required.  This is the
    pattern `session_window` can't express once the per-session state
    or emission policy is custom (e.g. emit-on-close side effects,
    session caps, per-session payload accumulation).

    On the bounded availableNow run, the flush sentinel drags the
    watermark past every real session's timeout, so every session
    drains through the TIMER path (the no-data micro-batch after the
    watermark jump) and the result equals the batch gaps-and-islands
    oracle — the same oracle as `session_window_events`, pinning that
    the timer formulation and the native session-window agree.

    Late data: rows older than the watermark delay are dropped by the
    stateful operator's late-row filter before reaching the function,
    the standard streaming-sessionization contract.

    Scale posture: state is per-user scalars in the executor state
    store (no event buffering — merging is incremental), timers are
    state-store metadata, and emission is append-mode final rows only.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _events_stream_with_flush(spark, sf_dir, "session_timeout")
    # The state key is a bounded hash BUCKET of user_id, not the raw
    # user (r14, guide §4.3 — the cogroup_asof_attribution fix):
    # applyInPandasWithState pays a per-GROUP Python invocation (plus a
    # pandas frame per yield), and per-user groups made the fixture's
    # 1,500 users + 1,500 timer firings ~3,000 serial invocations —
    # 3.2 s of operator time that is pure Python-boundary machinery.
    # Bucketing caps invocations at STREAM_STATE_PARTITIONS per trigger; the
    # per-user session logic below is UNCHANGED, it just runs for every
    # user of the bucket inside one invocation.  State stays per-user
    # scalars ((start, last, n) per open session), held as parallel
    # arrays on the bucket row; a timer is a WAKE-UP for the bucket
    # (min over its open sessions), and expiry is decided per session
    # against the current watermark — so sessions close exactly where
    # the per-user-timer form closed them.  Deployment note: bucket
    # count trades Python-boundary amortization against state-row
    # size; size it so a bucket's open sessions stay a small row
    # (users/bucket ~ tens to thousands), which also keeps hot-user
    # skew irrelevant (state is per-session scalars either way).
    src = (
        ev.withWatermark("ts", "1 second")
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
        .withColumn(
            "bkt", F.pmod(F.xxhash64(F.col("user_id")), F.lit(STREAM_STATE_PARTITIONS))
        )
    )

    sessions = src.groupBy("bkt").applyInPandasWithState(
        _make_session_update(),
        outputStructType=(
            "user_id long, start_us long, end_us long, n_events long"
        ),
        stateStructType=(
            "users array<long>, starts array<long>,"
            " lasts array<long>, ns array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    result = _run_to_memory(sessions, "append")
    return (
        result.filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.date_format(
                F.timestamp_micros(F.col("start_us")), "yyyy-MM-dd HH:mm:ss"
            ).alias("session_start"),
            F.date_format(
                F.timestamp_micros(F.col("end_us")), "yyyy-MM-dd HH:mm:ss"
            ).alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_session_window_native",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    "streaming",
    "stateful",
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native STREAMING session windows: ``session_window`` inside a
    watermarked streaming aggregation — Spark's built-in merging
    session state (adjacent windows within the gap fuse as events
    arrive, sessions emit when the watermark passes their close).
    Together with the batch `session_window_events` and the
    timer-based `stream_session_timeout`, all three sessionization
    routes are pinned to the SAME gaps-and-islands oracle.

    Scale posture: state is per-(user, open-session) in the state
    store, merged incrementally; append mode emits each session
    exactly once.  The flush sentinel drains end-of-stream sessions on
    the bounded run (production: the watermark does this continually).
    """
    ev = _events_stream_with_flush(spark, sf_dir, "native_session")
    agg = (
        ev.withWatermark("ts", "1 second")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    result = _run_to_memory(agg, "append")
    return (
        result.filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.date_format(
                F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss"
            ).alias("session_start"),
            F.date_format(
                F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss"
            ).alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_transition_counts",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    counts AS (
      SELECT prev AS from_type, event_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL
      GROUP BY prev, event_type)
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type) AS p
    FROM counts
    ORDER BY from_type, to_type
    """,
    "streaming",
    "stateful",
)
def stream_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL feature extraction on a stream: the event-type
    transition counts of `event_transition_matrix`, maintained by an
    applyInPandasWithState operator whose per-user state is just the
    LAST seen event — each micro-batch emits only the transitions it
    completes (including the one spanning the batch boundary via the
    stored tail), so the downstream count table updates incrementally
    instead of recomputing the per-user LAG over history.

    This is the streaming twin of the batch operator and shares its
    oracle — pinning that incremental state accumulation converges to
    the batch recompute, the property every streaming feature store
    depends on.

    Ordering: events are sequenced within each batch by (ts, event_id)
    and across batches by arrival; rows later than the watermark delay
    are dropped by the stateful operator's late-row filter (the
    standard contract, as in `stream_session_timeout`).

    Scale posture: state is ONE tuple per user; emission is
    transition-grain aggregated per (user, batch) in the worker before
    it ever hits the sink; the final normalization runs over the
    |types|^2 matrix.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # The state key is a bounded hash BUCKET of user_id (r14, the
    # stream_session_timeout / cogroup_asof_attribution amortization):
    # per-user keys made the fixture's ~1,500 users ~1,500 serial
    # Python invocations per trigger — pure per-GROUP Arrow round-trip
    # machinery.  Bucketing caps invocations at STREAM_STATE_PARTITIONS; the
    # per-user transition logic is unchanged (rows sequenced per user
    # by (ts_us, event_id), stored tail stitches across batches), and
    # per-user last-type state rides as parallel arrays on the bucket
    # row.  Emission becomes bucket-grain partial counts; the unchanged
    # downstream GROUP BY sums them — bucket-invariant by construction.
    ev = load_stream(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", F.unix_micros("ts").alias("ts_us"),
        "event_id",
    ).withColumn(
        "bkt", F.pmod(F.xxhash64(F.col("user_id")), F.lit(STREAM_STATE_PARTITIONS))
    )

    trans = ev.groupBy("bkt").applyInPandasWithState(
        _make_transition_update(),
        outputStructType="from_type string, to_type string, n long",
        stateStructType="users array<long>, lasts array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = _run_to_memory(trans, "append")
    counts = result.groupBy("from_type", "to_type").agg(
        F.sum("n").alias("n")
    )
    from pyspark.sql import Window as W

    return counts.select(
        "from_type",
        "to_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("from_type"))
        ).alias("p"),
    ).orderBy("from_type", "to_type")


@register(
    "stream_foreachbatch_merge",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
    "streaming",
    "stateful",
)
def stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE (the foreachBatch-upsert pattern): each
    micro-batch's per-key aggregate is MERGED into a keyed state TABLE
    — counters add, last-seen takes the max — the sink-side twin of
    `stream_stateful_user_totals` (state in the table, not the stream
    operator), and the shape every foreachBatch + MERGE INTO
    deployment uses for streaming CDC into a warehouse table.

    Exactly-once without a transactional table format: the state
    table is VERSIONED BY BATCH ID — batch n deterministically
    rebuilds version n from version n-1 plus its own data, so a
    replayed batch overwrites its own version instead of
    double-applying (the same replay-safety contract as the
    ``batch_id=`` export, moved to read-modify-write).

    Scale posture: the per-batch merge is a keyed FULL OUTER join of
    the (key-grain) state table against the (key-grain) batch
    aggregate — both sides collapse to key cardinality before the
    join; nothing event-grain is rewritten.  A transactional format
    (Delta/Iceberg MERGE) replaces the version-directory dance, not
    the plan.
    """
    import os
    import shutil

    ev = load_stream(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = _private_scratch("/tmp/kbrowse_febmerge", sf_dir)

    schema = (
        "user_id long, n_events long, total_cents long, last_ts_us long"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        agg = (
            batch_df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100).cast("long")
                ).alias("total_cents"),
                F.max(F.unix_micros("ts")).alias("last_ts_us"),
            )
        )
        prev_path = f"{base}/v{batch_id - 1}"
        if os.path.isdir(prev_path):
            prev = s.read.schema(schema).parquet(prev_path)
        else:
            prev = s.createDataFrame([], schema)
        p, b = prev.alias("p"), agg.alias("b")
        merged = p.join(b, "user_id", "full_outer").select(
            "user_id",
            (
                F.coalesce(F.col("p.n_events"), F.lit(0))
                + F.coalesce(F.col("b.n_events"), F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(F.col("p.total_cents"), F.lit(0))
                + F.coalesce(F.col("b.total_cents"), F.lit(0))
            ).alias("total_cents"),
            F.greatest(
                F.coalesce(F.col("p.last_ts_us"), F.lit(0)),
                F.coalesce(F.col("b.last_ts_us"), F.lit(0)),
            ).alias("last_ts_us"),
        )
        merged.write.mode("overwrite").parquet(f"{base}/v{batch_id}")

    _run_bounded(
        ev.writeStream.foreachBatch(merge_batch).option(
            "checkpointLocation", f"{base}/ckpt"
        ),
        "stream_foreachbatch_merge",
    )
    versions = [
        int(d[1:])
        for d in os.listdir(base)
        if d.startswith("v") and d[1:].isdigit()
    ]
    final = spark.read.schema(schema).parquet(f"{base}/v{max(versions)}")
    result = final.select(
        "user_id",
        "n_events",
        "total_cents",
        F.date_format(
            F.timestamp_micros(F.col("last_ts_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("last_seen"),
    ).orderBy("user_id")
    # Materialized, so the caller's lazy collect reads no scratch file.
    result = result.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# Streaming near-dup alerts: incoming docs probe the standing LSH index
# ---------------------------------------------------------------------------


def _neardup_alert_oracle() -> str:
    from kbrowse_spark.operators.dedup import (
        _INC_NEW_SQL,
        _SQL_SHINGLES,
        _sql_band_buckets,
        _sql_minhash_cols,
        JACCARD_THRESHOLD,
    )

    return f"""
    WITH sh AS ({_SQL_SHINGLES}),
    minh AS (
      SELECT doc_id,
      {_sql_minhash_cols()}
      FROM sh GROUP BY doc_id),
    buckets AS (
      {_sql_band_buckets()}),
    newb AS (SELECT * FROM buckets WHERE {_INC_NEW_SQL}),
    oldb AS (SELECT * FROM buckets WHERE NOT ({_INC_NEW_SQL})),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM newb a JOIN oldb b
        ON a.band = b.band AND a.bucket = b.bucket),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c JOIN sh x ON x.doc_id = c.doc_a
                  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT v.doc_a, v.doc_b,
           CAST(v.n_common AS DOUBLE) / (sa.n + sb.n - v.n_common) AS jaccard
    FROM verified v JOIN sizes sa ON sa.doc_id = v.doc_a
                    JOIN sizes sb ON sb.doc_id = v.doc_b
    WHERE CAST(v.n_common AS DOUBLE) / (sa.n + sb.n - v.n_common)
          >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """


@register("stream_neardup_alerts", _neardup_alert_oracle(), "streaming", "dedup")
def stream_neardup_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate ALERTING: documents arriving on a
    stream probe the standing corpus's LSH bucket index inside
    foreachBatch — each micro-batch is shingled and signed as a small
    batch plan, its band buckets equi-join the (cached / materialized)
    index, and exact-Jaccard-verified hits land in a per-batch-id
    alert directory (idempotent overwrite => replay-safe, the same
    exactly-once contract as the foreachBatch export).

    This is `dedup_incremental_minhash`'s new-vs-base arm moved into
    follow mode — the ingest-time "this document already exists"
    signal a crawler pipeline wants BEFORE writing to the corpus.
    Within-stream (new x new) pairs are deliberately out of scope
    here: that's the batch operator's job at compaction time; alerting
    is about the standing corpus.

    Scale posture: per-batch cost tracks the BATCH (shingle + sign +
    one equi-join probe + candidate-only verify); the index side is
    the cached signature table (at 100 TB: the materialized parquet
    index of `materialize_minhash_index`, bucket-partitioned so each
    probe prunes to touched buckets).
    """
    import os
    import shutil

    from kbrowse_spark.operators.dedup import (
        _band_buckets_of,
        _minhash_buckets,
        _shingle_rows,
        _shingles_df,
        JACCARD_THRESHOLD,
    )

    is_new = (F.col("doc_id") % 10) == 0
    base_sh = _shingles_df(spark, sf_dir).filter(~is_new)
    base_buckets = _minhash_buckets(spark, sf_dir).filter(~is_new)
    base_sizes = base_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    stream = (
        load_stream(spark, sf_dir, "documents")
        .filter(is_new)
        .select("doc_id", "text")
    )
    out_base = _private_scratch("/tmp/kbrowse_neardup_alerts", sf_dir)

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch-sized; reused 3x below (signatures, sizes, verify)
        sh = _shingle_rows(batch_df).localCheckpoint(eager=True)
        newb = _band_buckets_of(sh)
        a, b = newb.alias("a"), base_buckets.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        x, y = sh.alias("x"), base_sh.alias("y")
        verified = (
            cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
            .join(
                y,
                (F.col("y.doc_id") == F.col("doc_b"))
                & (F.col("y.shingle") == F.col("x.shingle")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        new_sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        sa, sb = new_sizes.alias("sa"), base_sizes.alias("sb")
        jac = F.col("n_common").cast("double") / (
            F.col("sa.n") + F.col("sb.n") - F.col("n_common")
        )
        alerts = (
            verified.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
            .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        )
        alerts.write.mode("overwrite").parquet(f"{out_base}/b{batch_id}")

    # Per-invocation staging is removed in `finally`: the eager
    # localCheckpoint below materializes the result BEFORE the parquet
    # files disappear, so the returned plan never depends on /tmp and
    # repeated invocations (oracle runs, tests, long sessions) cannot
    # accumulate staging dirs.
    try:
        _run_bounded(
            stream.writeStream.foreachBatch(probe_batch).option(
                "checkpointLocation", f"{out_base}/_checkpoint"
            ),
            "stream_neardup_alerts",
        )
        dirs = [
            f"{out_base}/{d}"
            for d in sorted(os.listdir(out_base))
            if d.startswith("b")
        ]
        if not dirs:
            return spark.createDataFrame(
                [], "doc_a long, doc_b long, jaccard double"
            )
        return (
            spark.read.parquet(*dirs)
            .distinct()
            .orderBy("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out_base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming CUSUM drift monitor (shares the batch recursive-CTE oracle)
# ---------------------------------------------------------------------------

from kbrowse_spark.operators.linkage import _CUSUM_SQL, _cusum_readout  # noqa: E402


@register("stream_cusum_drift", _CUSUM_SQL, "streaming")
def stream_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming arm of cusum_event_drift: the per-(type, day) volume
    counts accumulate INSIDE the stream (stateful complete-mode
    aggregation over the bounded replay), and the CUSUM fold + readout
    then runs over the streamed aggregate — the shape of a production
    drift monitor where the stream maintains the daily grain and the
    detector re-evaluates per trigger.

    Correctness contract: shares the batch operator's recursive-CTE
    oracle verbatim (same module constant), so stream-accumulated
    counts feeding the same fold must reproduce the batch answer
    exactly — the same batch/stream-equivalence discipline as
    stream_transition_counts.

    Scale posture: streaming state is one count per (type, day) — the
    day dimension bounds state growth and a production deployment adds
    a watermark to age closed days out; the fold runs on the aggregated
    grain only.
    """
    ev = load_stream(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    accumulated = _run_to_memory(daily, "complete")
    return _cusum_readout(accumulated)


# ---------------------------------------------------------------------------
# Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------


@register(
    "stream_dedup_within_watermark",
    """
    WITH d AS (
      SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day
      FROM events)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_user_days
    FROM d GROUP BY event_type
    ORDER BY event_type
    """,
    "streaming",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` (Spark 3.5+) — the PRODUCTION
    streaming dedup: unlike plain `dropDuplicates`, its key state ages
    out once the watermark passes each key's event time, so state is
    bounded by the churn window instead of growing forever.
    `stream_dedup_users` pins the unbounded-state API; this pins the
    bounded one on a (user, type, day) grain.

    On a bounded availableNow replay every row lands inside the
    watermark horizon, so the result must equal the batch DISTINCT —
    which the oracle checks exactly.  The emitted (deduplicated) rows
    then aggregate in a follow-up batch step, avoiding the chained
    stateful-operator restriction.

    Scale posture: dedup state is one entry per live (user, type, day)
    within the 30-day horizon — the watermark is the state-size knob;
    the downstream count is a map-side-combinable aggregate.
    """
    ev = load_stream(spark, sf_dir, "events")
    keyed = ev.withColumn("day", F.date_trunc("day", "ts")).select(
        "ts", "user_id", "event_type", "day"
    )
    deduped = keyed.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "day"]
    )
    emitted = _run_to_memory(deduped, "append")
    return (
        emitted.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Streaming first-seen detection with a cross-batch bloom sketch
# ---------------------------------------------------------------------------

_SB_M = 65536  # bloom bits
_SB_WORDS = (_SB_M + 62) // 63  # 63-bit words (bit 63 overflows DuckDB)
_SB_BATCHES = 3
_SB_H1 = (
    "CAST(conv(substr(md5(concat(CAST(user_id AS STRING), ':', event_type)),"
    " 1, 12), 16, 10) AS BIGINT) % {m}"
)
_SB_H2 = (
    "CAST(conv(substr(md5(concat(CAST(user_id AS STRING), ':', event_type)),"
    " 13, 12), 16, 10) AS BIGINT) % {m}"
)


def _sb_oracle() -> str:
    h1 = (
        "('0x' || substr(md5(user_id::VARCHAR || ':' || event_type), 1, 12))"
        f"::BIGINT % {_SB_M}"
    )
    h2 = (
        "('0x' || substr(md5(user_id::VARCHAR || ':' || event_type), 13, 12))"
        f"::BIGINT % {_SB_M}"
    )
    return f"""
    WITH t AS (
      SELECT event_id, user_id, event_type,
             CAST(event_id % {_SB_BATCHES} AS INT) AS batch_id,
             {h1} AS p1, {h2} AS p2
      FROM events),
    bits AS (
      SELECT batch_id AS b, p1 AS p FROM t
      UNION ALL SELECT batch_id, p2 FROM t),
    firstb AS (
      SELECT user_id, event_type, MIN(batch_id) AS fb
      FROM t GROUP BY user_id, event_type)
    SELECT t.event_id, t.batch_id,
           CAST(CASE WHEN
                  EXISTS (SELECT 1 FROM bits WHERE bits.b < t.batch_id
                          AND bits.p = t.p1)
              AND EXISTS (SELECT 1 FROM bits WHERE bits.b < t.batch_id
                          AND bits.p = t.p2)
                THEN 1 ELSE 0 END AS INT) AS seen_approx,
           CAST(CASE WHEN f.fb < t.batch_id THEN 1 ELSE 0 END AS INT)
             AS seen_exact
    FROM t JOIN firstb f USING (user_id, event_type)
    ORDER BY t.event_id
    """


@register("stream_bloom_firstseen", _sb_oracle(), "streaming", "dedup")
def stream_bloom_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen detection with BOUNDED state: a
    cross-micro-batch bloom sketch answers "has this (user, action)
    pair appeared in any earlier batch?" — the approximate counterpart
    of `stream_dedup_users`' exact stateful dedup, and the only shape
    that survives unbounded key cardinality (the bloom is {m} bits
    FOREVER, vs exact state growing with distinct keys; the price is a
    deterministic false-positive rate, measured here against the exact
    first-seen flag emitted alongside).

    Mechanics: the events stream replays in {nb} deterministic
    micro-batches (one staged file each, mtime-ordered,
    maxFilesPerTrigger=1).  Inside foreachBatch the PRIOR batches'
    bloom enters the batch plan as an array-of-longs literal (bit
    probes are whole-stage-codegen expressions); the batch's own bits
    aggregate via ``bit_or`` into <= {w} words and only that
    sketch-sized row set reaches the driver (the kmeans/centroid
    driver-footprint rule) to be OR-merged for the next batch.
    Per-batch flagged rows land in an idempotent per-batch-id dir
    (replay-safe, the foreachBatch exactly-once contract).

    The md5-derived bit positions make even false positives
    deterministic, so the DuckDB oracle replays the ENTIRE stream
    bit-for-bit — seen_approx included.

    Scale posture: per-batch cost is batch-sized (probe expressions
    in-plan) plus a {w}-row combinable aggregate; the standing state
    is one {m}-bit sketch regardless of history length.
    """
    import os
    import shutil

    import pyarrow.parquet as pq

    path = table_path(sf_dir, "events")

    base = _private_scratch("/tmp/kbrowse_bloom_stream", sf_dir)
    src = f"{base}/src"
    out = f"{base}/out"
    os.makedirs(src, exist_ok=True)
    os.makedirs(out, exist_ok=True)

    # Stage the {nb} batch files (event_id % {nb}), projected to the
    # three columns the operator reads — harness machinery standing in
    # for a real source's arrival order, not part of the data path.
    table = pq.read_table(path, columns=["event_id", "user_id", "event_type"])
    ids = table["event_id"].to_numpy()
    for b in range(_SB_BATCHES):
        f = os.path.join(src, f"batch-{b}.parquet")
        pq.write_table(table.filter(ids % _SB_BATCHES == b), f)
        t0 = 1_600_000_000 + 100 * b
        os.utime(f, (t0, t0))

    schema = "event_id long, user_id long, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # source option: 1 file/batch
        .parquet(src)
    )

    bloom = [0] * _SB_WORDS

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # The prior batches' sketch enters the plan as ONE broadcast row
        # (createDataFrame + crossJoin — the 1-row broadcast-attach
        # idiom), not as an array literal: F.array(*[F.lit(w) ...]) over
        # the {_SB_WORDS} words cost ~1k py4j calls plus a ~1k-child
        # Catalyst node re-analyzed EVERY micro-batch — measured r14 as
        # the dominant per-batch term (~0.4 s/batch of driver-side plan
        # work for a sketch that is DATA, not plan).
        sess = batch_df.sparkSession
        blm_df = sess.createDataFrame(
            [(list(bloom),)], "blm array<bigint>"
        )
        probed = batch_df.selectExpr(
            "event_id",
            "user_id",
            "event_type",
            f"({_SB_H1.format(m=_SB_M)}) AS p1",
            f"({_SB_H2.format(m=_SB_M)}) AS p2",
        )
        hit = (
            "(element_at(blm, CAST(p{i} DIV 63 AS INT) + 1)"
            " & shiftleft(CAST(1 AS BIGINT), CAST(p{i} % 63 AS INT))) <> 0"
        )
        flagged = probed.crossJoin(F.broadcast(blm_df)).select(
            "event_id",
            F.lit(int(batch_id)).cast("int").alias("batch_id"),
            (F.expr(hit.format(i=1)) & F.expr(hit.format(i=2)))
            .cast("int")
            .alias("seen_approx"),
        )
        flagged.write.mode("overwrite").parquet(f"{out}/b{batch_id}")
        new_words = (
            probed.selectExpr("p1 AS p")
            .unionAll(probed.selectExpr("p2 AS p"))
            .groupBy(F.expr("p DIV 63").alias("w"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(CAST(1 AS BIGINT),"
                    " CAST(p % 63 AS INT)))"
                ).alias("bw")
            )
            .collect()
        )
        for r in new_words:
            bloom[int(r.w)] |= int(r.bw)

    try:
        _run_bounded(
            stream.writeStream.foreachBatch(process).option(
                "checkpointLocation", f"{base}/_checkpoint"
            ),
            "stream_bloom_firstseen",
        )
        dirs = [
            f"{out}/{d}" for d in sorted(os.listdir(out)) if d.startswith("b")
        ]
        flags = spark.read.parquet(*dirs)
        static = spark.read.parquet(path).selectExpr(
            "event_id",
            "user_id",
            "event_type",
            f"CAST(event_id % {_SB_BATCHES} AS INT) AS b",
        )
        # Exact first-seen as ONE window pass (r14): min(b) OVER the
        # (user, event_type) partition replaces the groupBy + self-join
        # — one exchange of the events table instead of two plus an SMJ.
        exact = static.select(
            "event_id",
            (
                F.col("b")
                > F.min("b").over(
                    Window.partitionBy("user_id", "event_type")
                )
            )
            .cast("int")
            .alias("seen_exact"),
        )
        return (
            flags.join(exact, "event_id")
            .select("event_id", "batch_id", "seen_approx", "seen_exact")
            .orderBy("event_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


stream_bloom_firstseen.__doc__ = stream_bloom_firstseen.__doc__.format(
    m=_SB_M, nb=_SB_BATCHES, w=_SB_WORDS
)


# ---------------------------------------------------------------------------
# Streaming spatial epsilon match (stream-static grid join)
# ---------------------------------------------------------------------------

from kbrowse_spark.operators.knn import _EPS, _grid_cell  # noqa: E402


@register(
    "stream_spatial_epsilon_match",
    f"""
    WITH p AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings)
    SELECT a.vec_id AS vec_a,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(SUM(b.vec_id) AS BIGINT) AS sum_vec_b
    FROM p a JOIN p b
      ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         < {_EPS} * {_EPS}
    GROUP BY a.vec_id
    ORDER BY vec_a
    """,
    "streaming",
    "spatial",
)
def stream_spatial_epsilon_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming arm of the spatial family: PROBE points arrive as a
    stream (odd vec_ids) and match against a STATIC grid-indexed
    build side (even vec_ids) within euclidean eps={eps} — the
    geofence/sensor-proximity shape (stream of positions vs a fixed
    site table).  Per micro-batch the probe row explodes into its 3x3
    cell neighborhood and equi-joins the static cell table — a
    stateless stream-static join (no watermark, no state store), so
    each batch's cost is bounded by batch size x local density,
    independent of stream history.  The memory sink receives pair
    grain; the post-sink step folds to per-probe match counts with an
    order-independent id checksum.  The oracle re-derives the same
    matches by scoring every odd x even point pair with NO grid, so a
    blocking bug on the Spark side (e.g. dropped boundary-straddling
    pairs) cannot also hide in the oracle.

    dist2 is the identical IEEE expression on identical doubles in
    both engines; the integer outputs (counts, id sums) are exact.

    Scale posture: the static build side is cell-keyed and broadcast
    per micro-batch (site tables are dimension-sized in the geofence
    shape); the probe explode is a bounded 9x fan-out.  At a larger
    build side the join flips to a shuffled equi-join on cell id —
    same plan family as the batch spatial_grid_epsilon_join.  A
    density-aware deployment shrinks eps via knn._eps_for_density.

    Reference has no spatial or streaming-join operators (SURVEY §2c
    extension; stream-static join family alongside
    stream_static_enrich).
    """
    path = table_path(sf_dir, "embeddings")
    static = spark.read.parquet(path)
    xy = [
        F.expr("CAST(embedding[0] AS DOUBLE)").alias("x"),
        F.expr("CAST(embedding[1] AS DOUBLE)").alias("y"),
    ]
    build = (
        static.filter(F.expr("vec_id % 2 = 0"))
        .select(F.col("vec_id").alias("vec_b"), *xy)
        .select(
            "vec_b",
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.expr(_grid_cell("x")).alias("cx"),
            F.expr(_grid_cell("y")).alias("cy"),
        )
    )
    stream = load_stream(spark, sf_dir, "embeddings")
    probe = (
        stream.filter(F.expr("vec_id % 2 = 1"))
        .select(F.col("vec_id").alias("vec_a"), *xy)
        .select(
            "vec_a",
            "x",
            "y",
            F.expr(_grid_cell("x")).alias("pcx"),
            F.expr(_grid_cell("y")).alias("pcy"),
            F.explode(F.expr("array(-1, 0, 1)")).alias("dx"),
        )
        .select(
            "vec_a",
            "x",
            "y",
            (F.col("pcx") + F.col("dx")).alias("px"),
            F.col("pcy").alias("pcy"),
            F.explode(F.expr("array(-1, 0, 1)")).alias("dy"),
        )
        .select(
            "vec_a", "x", "y", "px", (F.col("pcy") + F.col("dy")).alias("py")
        )
    )
    pairs = (
        probe.join(
            F.broadcast(build),
            (F.col("px") == F.col("cx")) & (F.col("py") == F.col("cy")),
        )
        .withColumn(
            "dist2",
            F.expr("(x - bx) * (x - bx) + (y - by) * (y - by)"),
        )
        .filter(F.col("dist2") < F.lit(_EPS * _EPS))
        .select("vec_a", "vec_b")
    )
    result = _run_to_memory(pairs, "append")
    return (
        result.groupBy("vec_a")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.sum("vec_b").cast("long").alias("sum_vec_b"),
        )
        .orderBy("vec_a")
    )


stream_spatial_epsilon_match.__doc__ = stream_spatial_epsilon_match.__doc__.format(
    eps=_EPS
)


# ---------------------------------------------------------------------------
# Streaming dedup against a static fingerprint store
# ---------------------------------------------------------------------------

from kbrowse_spark.operators.pipeline_ops import _SPLIT_SEG_W  # noqa: E402


@register(
    "stream_dedup_static_store",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
    segs AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(
               list_slice(ws, i * {_SPLIT_SEG_W} + 1,
                          i * {_SPLIT_SEG_W} + {_SPLIT_SEG_W}), ' ')) AS seg
      FROM (SELECT doc_id, ws,
                   unnest(generate_series(0,
                     CAST(ceil(len(ws) / {_SPLIT_SEG_W}.0) AS INT) - 1)) AS i
            FROM d)),
    store AS (SELECT DISTINCT seg FROM segs WHERE doc_id % 2 = 0),
    probe AS (
      SELECT s.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_segments,
             CAST(COUNT(st.seg) AS BIGINT) AS n_store_hits
      FROM segs s LEFT JOIN store st ON s.seg = st.seg
      WHERE s.doc_id % 2 = 1
      GROUP BY s.doc_id)
    SELECT doc_id, n_segments, n_store_hits,
           CAST(CASE WHEN n_store_hits > 0 THEN 1 ELSE 0 END AS INT)
             AS is_dup
    FROM probe
    ORDER BY doc_id
    """,
    "streaming",
    "dedup",
)
def stream_dedup_static_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-dedup streaming arm: documents ARRIVE as a stream
    (odd doc_ids) and probe a STATIC segment-fingerprint store (the
    {w}-word segment hashes of the even-doc_id corpus) — the
    ingest-time "have we already got this text?" gate every
    incremental crawl runs before admitting a document.  Stateless
    stream-static join per micro-batch (no state store, no
    watermark): segment hashes of each arriving doc equi-join the
    store; per-doc hit counts and the is_dup flag come out at
    pair-then-doc grain.  Complements stream_spatial_epsilon_match
    (geometric probe) and dedup_incremental_minhash (batch
    incremental): this is the exact-segment streaming gate.

    Scale posture: the store side is segment-hash-keyed; per batch
    the probe explodes arriving docs into bounded segment counts and
    the join is a plain equi-join on the hash — broadcastable while
    the store is dimension-sized, shuffled once it is not (same plan
    family either way).  The memory sink receives doc grain, not
    segment grain.

    Reference has no dedup operators (SURVEY §2c extension).
    """
    path = table_path(sf_dir, "documents")
    static = spark.read.parquet(path)
    # array_distinct INSIDE the row (a doc arrives as one row, so its
    # segment dedup needs no cross-row streaming state — the operator
    # stays genuinely stateless; a stream-level dropDuplicates would
    # grow unbounded state).
    seg_expr = (
        f"explode(array_distinct(transform(sequence(0, CAST(ceil(size(ws) /"
        f" {_SPLIT_SEG_W}.0) AS INT) - 1),"
        f" i -> md5(array_join(slice(ws, i * {_SPLIT_SEG_W} + 1,"
        f" {_SPLIT_SEG_W}), ' ')))))"
    )
    store = (
        static.filter(F.expr("doc_id % 2 = 0"))
        .select(F.split("text", " ").alias("ws"))
        .select(F.expr(seg_expr).alias("seg"))
        .distinct()
    )
    stream = load_stream(spark, sf_dir, "documents")
    probe_segs = (
        stream.filter(F.expr("doc_id % 2 = 1"))
        .select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", F.expr(seg_expr).alias("seg"))
    )
    hits = probe_segs.join(
        F.broadcast(store.withColumn("hit", F.lit(1))), "seg", "left"
    ).select("doc_id", F.coalesce("hit", F.lit(0)).alias("hit"))
    result = _run_to_memory(hits, "append")
    return (
        result.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("hit").cast("long").alias("n_store_hits"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_store_hits",
            F.expr(
                "CAST(CASE WHEN n_store_hits > 0 THEN 1 ELSE 0 END AS INT)"
            ).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


stream_dedup_static_store.__doc__ = stream_dedup_static_store.__doc__.format(
    w=_SPLIT_SEG_W
)


# ---------------------------------------------------------------------------
# Streaming conformal out-of-interval gate
# ---------------------------------------------------------------------------


def _conformal_gate_oracle() -> str:
    from kbrowse_spark.operators.analytics import _CP_MODEL_SQL

    return f"""
    WITH {_CP_MODEL_SQL}
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN abs(cents - p) > qhat_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(1000000 * SUM(CASE WHEN abs(cents - p) > qhat_cents
                              THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT)
             AS flagged_ppm
    FROM e JOIN pred USING (event_type) JOIN q USING (event_type)
    WHERE event_id % 2 = 1
    GROUP BY e.event_type
    ORDER BY e.event_type
    """


@register(
    "stream_conformal_gate",
    _conformal_gate_oracle(),
    "streaming",
)
def stream_conformal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conformal audit's streaming arm: events ARRIVE as a stream
    (the odd-event_id test half) and each is gated against the STATIC
    conformal model (per-type predictor + qhat from
    analytics._conformal_model — the ONE definition the batch audit
    scores); a row whose |value - prediction| exceeds its group's
    conformal quantile is flagged out-of-interval — the
    distribution-free anomaly gate a serving pipeline runs per
    micro-batch, with the coverage guarantee inherited from the
    calibration (expected flag rate ~= alpha).  Stateless
    stream-static broadcast join: the model is a 5-row dim, no state
    store, no watermark.

    The flag rate is the exact complement of the batch audit's
    coverage (flagged_ppm = 1e6 - coverage_ppm per group, pinned by
    test_stream_conformal_matches_batch_complement), so the
    streaming and batch paths cross-verify each other.

    Scale posture: per micro-batch, one in-row |cents - p| compare
    against broadcast literals; the only aggregate is the group-grain
    count — the cheapest possible gate plan, unchanged at any rate.

    Reference's follow mode streams rows but has no model gating
    (SURVEY §2c extension; completes the conformal family's
    batch + streaming pair like spatial eps-join's).
    """
    from kbrowse_spark.operators.analytics import _conformal_model

    _, pred, q = _conformal_model(spark, sf_dir)
    model = pred.join(q, "event_type").select(
        "event_type", "p", "qhat_cents"
    )
    stream = load_stream(spark, sf_dir, "events")
    scored = (
        stream.filter(F.expr("event_id % 2 = 1"))
        .select(
            "event_type",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        )
        .join(F.broadcast(model), "event_type")
        .select(
            "event_type",
            F.expr(
                "CAST(abs(cents - p) > qhat_cents AS INT)"
            ).alias("flagged"),
        )
    )
    result = _run_to_memory(scored, "append")
    return (
        result.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum("flagged").cast("long").alias("n_flagged"),
        )
        .select(
            "event_type",
            "n_scored",
            "n_flagged",
            F.expr(
                "CAST(1000000 * n_flagged DIV n_scored AS BIGINT)"
            ).alias("flagged_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Streaming IVF probe: ANN retrieval over arriving query vectors
# ---------------------------------------------------------------------------


def _stream_ivf_oracle() -> str:
    from kbrowse_spark.operators.clustering import _ivf_oracle_sql

    return _ivf_oracle_sql()


@register(
    "stream_ann_ivf_probe",
    _stream_ivf_oracle(),
    "streaming",
    "knn",
)
def stream_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF retrieval's streaming arm: query vectors ARRIVE as a
    stream (the vec_id < nq block of the embeddings parquet) and each
    micro-batch probes the STATIC trained index — the same Lloyd
    quantizer and cell-assigned corpus ann_ivf_kmeans retrieves from
    (one definition: clustering._lloyd_state / _assign /
    _sq_dist_cols) — so the batch and streaming paths cross-verify,
    completing the ANN family's batch + streaming pair the way
    stream_conformal_gate does for the conformal family and
    stream_spatial_gate for the spatial one.

    Per micro-batch, stateless: the arriving vector quantizes against
    the k x dim centroid literals folded into the plan (no join), its
    nprobe nearest cells explode, and a stream-static join against
    the cell-assigned corpus re-ranks exactly (integer fixed-point
    distances).  The candidate stream lands append-mode (cell-bounded
    per query by construction); the top-k cut is a batch window over
    the landed candidates — in production the per-query k-smallest
    runs IN the micro-batch (foreachBatch or a bounded
    min_by-aggregate) so only k rows per query leave the stream; here
    the landed-candidate table keeps the whole probe auditable.

    Scale posture: the static side is the IVF index (cell-partitioned
    corpus — at 100 TB, cell id is a partition column and each probe
    prunes to ~nprobe/k of it); the stream side ships only the query
    batch.  No state store, no watermark — pure stateless
    stream-static inner join, the serving plan an online ANN endpoint
    runs.

    Reference's follow mode streams rows but has no vector tooling
    (SURVEY §2c extension; oracle = the chained Lloyd+IVF CTE, shared
    with ann_ivf_kmeans by design — agreement pins the streaming path
    to the batch retrieval bit-for-bit).
    """
    from pyspark.sql import Window as W

    from kbrowse_spark.operators.clustering import (
        _NPROBE,
        _NQ,
        _SCALE,
        _TOPK,
        _assign,
        _lloyd_state,
        _sq_dist_cols,
    )

    pts, centroids = _lloyd_state(spark, sf_dir)
    asg = _assign(pts, centroids).select(
        "vec_id", F.col("q").alias("xq"), "cluster_id"
    )
    stream = load_stream(spark, sf_dir, "embeddings")
    qstream = stream.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("qid"),
        F.expr(
            f"transform(embedding, x ->"
            f" CAST(round(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT))"
        ).alias("qq"),
    )
    probe_structs = F.array(
        *[
            F.struct(d.alias("cdist"), F.lit(cid).alias("cid"))
            for d, (cid, _) in zip(
                _sq_dist_cols("qq", centroids), centroids
            )
        ]
    )
    probes = (
        qstream.withColumn(
            "pr", F.slice(F.array_sort(probe_structs), 1, _NPROBE)
        )
        .select("qid", "qq", F.explode("pr").alias("p"))
        .select("qid", "qq", F.col("p.cid").alias("cell"))
    )
    pair_dist = F.aggregate(
        F.zip_with(F.col("xq"), F.col("qq"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, y: acc + y,
    )
    cand = (
        probes.join(asg, probes["cell"] == asg["cluster_id"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "cluster_id", pair_dist.alias("sq_dist"))
    )
    landed = _run_to_memory(cand, "append")
    w = W.partitionBy("qid").orderBy("sq_dist", "vec_id")
    return (
        landed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select("qid", "rn", "vec_id", "cluster_id", "sq_dist")
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# Streaming hot-key monitor: live traffic vs the static skew diagnosis
# ---------------------------------------------------------------------------


def _hotkey_oracle() -> str:
    from kbrowse_spark.operators.data_quality import _SKEW_PARTS

    p = _SKEW_PARTS
    return f"""
    WITH occ AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents),
    f AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM f),
    hot AS (SELECT w, c FROM f CROSS JOIN tot
            WHERE c * {p} > t),
    arr AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS arrived
      FROM occ WHERE doc_id % 2 = 1 GROUP BY w),
    na AS (SELECT CAST(SUM(arrived) AS BIGINT) AS n_arr FROM arr)
    SELECT h.w AS key,
           h.c AS static_count,
           CAST(1000000 * h.c // (SELECT t FROM tot) AS BIGINT)
             AS static_share_ppm,
           COALESCE(a.arrived, 0) AS arrived_count,
           CAST(1000000 * COALESCE(a.arrived, 0)
                // (SELECT n_arr FROM na) AS BIGINT) AS arrived_share_ppm,
           CAST(ABS(1000000 * COALESCE(a.arrived, 0)
                    // (SELECT n_arr FROM na)
                    - 1000000 * h.c // (SELECT t FROM tot)) AS BIGINT)
             AS drift_ppm
    FROM hot h LEFT JOIN arr a USING (w)
    ORDER BY key
    """


@register(
    "stream_hotkey_gate",
    _hotkey_oracle(),
    "streaming",
    "ops",
)
def stream_hotkey_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew family's STREAMING arm, completing its
    diagnose -> treat -> MONITOR lifecycle (skew_key_diagnosis /
    skew_salt_apply are the batch halves): live traffic (the odd-doc
    half of the corpus, arriving as a stream) is gated against the
    STATIC hot-key dim — the keys whose historical count exceeds the
    1/{p} partition bound, i.e. exactly the keys the salt plan
    splits — and each hot key's arriving share is compared to its
    historical share.  drift_ppm is the staleness alarm: a key whose
    live share runs ahead of the share its salt factor was sized for
    means the static salt plan no longer bounds the hottest reducer,
    BEFORE the straggler shows up in stage metrics.

    Stateless stream-static broadcast join (the stream_conformal_gate
    posture: the hot-key dim is vocabulary-head-sized — keys above
    1/{p} of traffic, so at most {p} of them exist by pigeonhole);
    per-occurrence flags land append-mode and aggregate at hot-key
    grain after landing.  No state store, no watermark; at any rate
    the per-batch cost is one in-row broadcast-hash probe.

    Reference's follow mode streams rows but has no key-load tooling
    (SURVEY §2c extension).
    """
    from kbrowse_spark.operators.data_quality import _SKEW_PARTS
    from kbrowse_spark.sources.tables import load

    p = _SKEW_PARTS
    d = load(spark, sf_dir, "documents")
    occ_static = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    f = occ_static.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = F.broadcast(f.agg(F.sum("c").cast("long").alias("t")))
    # No blanket broadcast hint on `hot`: it sits as the LEFT side of
    # the final left-outer join, where a build-left hint is invalid and
    # Spark would drop it with a logged warning (VERDICT r12 #4).  The
    # hint is applied per-join below, on the side that can be built.
    hot = (
        f.crossJoin(tot)
        .filter(F.col("c") * p > F.col("t"))
        .select("w", "c", "t")
    )
    stream = load_stream(spark, sf_dir, "documents")
    arriving = (
        stream.filter(F.expr("doc_id % 2 = 1"))
        .select(F.explode(F.split("text", " ")).alias("w"))
        .join(
            F.broadcast(hot.select(F.col("w").alias("hw"))),
            F.col("w") == F.col("hw"),
            "left",
        )
        .select(
            "w",
            F.col("hw").isNotNull().cast("int").alias("is_hot"),
        )
    )
    landed = _run_to_memory(arriving, "append")
    n_arr = F.broadcast(
        landed.agg(F.count(F.lit(1)).cast("long").alias("n_arr"))
    )
    arr = landed.filter(F.col("is_hot") == 1).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("arrived")
    )
    return (
        hot.join(F.broadcast(arr), "w", "left")
        .crossJoin(n_arr)
        .select(
            F.col("w").alias("key"),
            F.col("c").alias("static_count"),
            F.expr("CAST(1000000 * c DIV t AS BIGINT)").alias(
                "static_share_ppm"
            ),
            F.coalesce("arrived", F.lit(0))
            .cast("long")
            .alias("arrived_count"),
            F.expr(
                "CAST(1000000 * COALESCE(arrived, 0) DIV n_arr AS BIGINT)"
            ).alias("arrived_share_ppm"),
            F.expr(
                "CAST(ABS(1000000 * COALESCE(arrived, 0) DIV n_arr"
                " - 1000000 * c DIV t) AS BIGINT)"
            ).alias("drift_ppm"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Streaming erasure gate: tombstoned subjects dropped at ingest
# ---------------------------------------------------------------------------


def _erasure_gate_oracle() -> str:
    from kbrowse_spark.operators.data_quality import _DEL_MOD

    return f"""
    WITH vic AS (SELECT c_custkey FROM customer
                 WHERE c_custkey % {_DEL_MOD} = 0)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_arrived,
           CAST(SUM(CASE WHEN user_id IN (SELECT c_custkey FROM vic)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned,
           CAST(SUM(CASE WHEN user_id IN (SELECT c_custkey FROM vic)
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted,
           CAST(1000000 * SUM(CASE WHEN user_id IN
                                        (SELECT c_custkey FROM vic)
                                   THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS tombstoned_ppm
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


@register(
    "stream_erasure_gate",
    _erasure_gate_oracle(),
    "streaming",
    "governance",
)
def stream_erasure_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deletion family's STREAMING arm — ingest-time enforcement
    of the right to erasure: deletion_propagation_audit verifies the
    BATCH cascade over data at rest, but an erased subject keeps
    GENERATING events; without an ingest gate their data re-enters
    downstream tables the moment the next micro-batch lands.  Here
    every arriving event checks the tombstone dim (the same erasure
    cohort the batch audit cascades, broadcast — subject-count-sized)
    and is dropped on match; the readout is the per-event-type
    admission ledger (arrived / tombstoned / admitted / tombstone
    ppm) a compliance dashboard tails.

    Stateless stream-static broadcast anti-probe (the
    stream_conformal_gate posture): per micro-batch the cost is one
    in-row hash-set lookup; no state store, no watermark.  At 100 TB
    the tombstone dim is the erased-subject list — small by nature,
    broadcast once per batch; a subject erased mid-stream shows up in
    the NEXT batch's dim refresh, which is exactly the compliance
    SLA boundary a deployment documents.

    Reference's follow mode streams rows but has no governance gating
    (SURVEY §2c extension; completes the erasure family's batch +
    streaming pair like conformal's / spatial's / ANN's / skew's).
    """
    from kbrowse_spark.operators.data_quality import _DEL_MOD
    from kbrowse_spark.sources.tables import load

    vic = F.broadcast(
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % _DEL_MOD == 0)
        .select(F.col("c_custkey").alias("vic_key"))
    )
    stream = load_stream(spark, sf_dir, "events")
    gated = (
        stream.select("event_type", "user_id")
        .join(vic, F.col("user_id") == F.col("vic_key"), "left")
        .select(
            "event_type",
            F.col("vic_key").isNotNull().cast("int").alias("tombstoned"),
        )
    )
    landed = _run_to_memory(gated, "append")
    return (
        landed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_arrived"),
            F.sum("tombstoned").cast("long").alias("n_tombstoned"),
        )
        .select(
            "event_type",
            "n_arrived",
            "n_tombstoned",
            (F.col("n_arrived") - F.col("n_tombstoned"))
            .cast("long")
            .alias("n_admitted"),
            F.expr(
                "CAST(1000000 * n_tombstoned DIV n_arrived AS BIGINT)"
            ).alias("tombstoned_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Streaming small-file / compaction-trigger monitor (the MONITOR arm of
# the compaction lifecycle: plan -> execute -> verify -> monitor)
# ---------------------------------------------------------------------------

# Ingest files land per (event-day, adaptive prefix-split shard): the
# shard id is the BIT LENGTH of a 16-bit key hash — the extendible-
# hashing layout where a shard holding half the key space sits next to
# ever-smaller prefix splits, so file sizes are GEOMETRIC (each shard
# ~half the previous) and the small-file tail is populated at every
# corpus size.  A file is "small" when its row count is under half the
# mean file volume (2 * n_rows * n_files < total_rows — exact integer
# rational, no float ratio), and the monitor raises the repack trigger
# when at least a quarter of the files are small (4*n_small >=
# n_files).

_SCT_SHARD_DUCK = (
    "length(bin((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))"
    "::BIGINT)))"
)
_SCT_SHARD_SPARK = (
    "length(conv(CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 4),"
    " 16, 10) AS BIGINT), 10, 2))"
)


@register(
    "stream_compaction_trigger",
    f"""
    WITH byf AS (
      SELECT strftime(ts, '%Y-%m-%d') AS ingest_day,
             CAST({_SCT_SHARD_DUCK} AS INT) AS shard,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY ingest_day, shard),
    tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
             CAST(COUNT(*) AS BIGINT) AS n_files
      FROM byf),
    flagged AS (
      SELECT b.ingest_day, b.shard, b.n_rows,
             CAST(CASE WHEN 2 * b.n_rows * t.n_files < t.total_rows
                       THEN 1 ELSE 0 END AS INT) AS is_small
      FROM byf b CROSS JOIN tot t)
    SELECT f.ingest_day, f.shard, f.n_rows, f.is_small,
           CAST(CASE WHEN 4 * s.n_small >= t.n_files THEN 1 ELSE 0 END
                AS INT) AS repack_trigger
    FROM flagged f
    CROSS JOIN (SELECT CAST(SUM(is_small) AS BIGINT) AS n_small
                FROM flagged) s
    CROSS JOIN tot t
    ORDER BY f.ingest_day, f.shard
    """,
    "streaming",
    "ops",
)
def stream_compaction_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming small-file MONITOR — the arm that closes the
    compaction lifecycle (compaction_plan_audit plans the repack,
    test_compaction_plan_matches_executed_repack executes + verifies
    it; this watches the ingest feed and decides WHEN to fire): a
    stateful streaming count per ingest file — (event-day, adaptive
    prefix-split shard), the extendible-hashing layout whose file
    sizes are GEOMETRIC, so the small-file tail this monitor exists
    for is populated at every corpus size — then a batch readout over
    the final state flags each file under HALF the mean file volume
    and raises the repack trigger when at least a quarter of the
    files are small.  Both thresholds are exact integer rationals
    (2*n*files < total, 4*small >= files): no float ratio ever
    materializes.

    On the bounded availableNow replay the final per-file counts
    equal the batch GROUP BY — the oracle.  The trigger/flag readout
    runs BATCH over the state snapshot (streaming forbids the second
    aggregation in-plan; a production monitor does exactly this: the
    state store is the ledger, the verdict query reads it per
    trigger-interval).

    Scale posture: state is two longs per (day, shard) — bounded by
    calendar x 16 prefix widths (bit_length of a 16-bit hash is 1..16;
    hash 0 folds into width 1), not by corpus; the readout is
    file-grain with two 1-row broadcast attaches (both CROSS JOINs
    bounded).  At 100 TB the same monitor keys on (table, partition,
    shard) and stays layout-bounded.

    Reference has no storage-layout tooling (SURVEY §2c extension;
    completes the compaction family's lifecycle).
    """
    ev = load_stream(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("ingest_day"),
        F.expr(f"CAST({_SCT_SHARD_SPARK} AS INT)").alias("shard"),
    )
    counts = ev.groupBy("ingest_day", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    snap = _run_to_memory(counts, "complete")
    tot = F.broadcast(
        snap.agg(
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
        )
    )
    flagged = snap.crossJoin(tot).select(
        "ingest_day",
        "shard",
        "n_rows",
        F.expr(
            "CAST(IF(2 * n_rows * n_files < total_rows, 1, 0) AS INT)"
        ).alias("is_small"),
        "n_files",
    )
    small = F.broadcast(
        flagged.agg(F.sum("is_small").cast("long").alias("n_small"))
    )
    return (
        flagged.crossJoin(small)
        .select(
            "ingest_day",
            "shard",
            "n_rows",
            "is_small",
            F.expr(
                "CAST(IF(4 * n_small >= n_files, 1, 0) AS INT)"
            ).alias("repack_trigger"),
        )
        .orderBy("ingest_day", "shard")
    )


# ---------------------------------------------------------------------------
# Streaming HLL register maintenance (the production form of the
# sketch_hll_rollup_merge rollup table — r13)
# ---------------------------------------------------------------------------

_SHR_USERKEY = "CAST(user_id AS STRING)"
_SHR_USERKEY_DUCK = "CAST(user_id AS VARCHAR)"


def _shr_oracle() -> str:
    from kbrowse_spark.functions.sketches import (
        HLL_M,
        hll_bucket_sql,
        hll_estimate_sql,
        hll_rho_sql,
        hll_sum_terms_sql,
    )

    return f"""
    WITH h AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             {hll_bucket_sql('duck', _SHR_USERKEY_DUCK)} AS bucket,
             {hll_rho_sql('duck', _SHR_USERKEY_DUCK)} AS rho
      FROM events),
    regs AS (
      SELECT event_type, day, bucket, MAX(rho) AS reg
      FROM h GROUP BY 1, 2, 3),
    grp AS (
      SELECT event_type, day,
             {hll_sum_terms_sql('duck', 'reg', 'COUNT(*)')} AS sum_int,
             CAST({HLL_M} - COUNT(*) AS INT) AS v0,
             CAST(COUNT(*) AS BIGINT) AS n_buckets
      FROM regs GROUP BY 1, 2)
    SELECT event_type, day,
           {hll_estimate_sql('duck', 'sum_int', 'v0')} AS approx_users_day,
           n_buckets
    FROM grp ORDER BY event_type, day
    """


@register(
    "stream_hll_register_rollup",
    _shr_oracle(),
    "streaming",
    "approx",
    "rollup",
    "sketch",
)
def stream_hll_register_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the HLL register rollup — the
    PRODUCTION form of sketch_hll_rollup_merge's per-day sketch table
    (that module's docstring promises "a streaming job maintains the
    rollup incrementally"; this is that job): each micro-batch folds
    arriving events into the (event_type, day, bucket) -> MAX(rho)
    state — HLL insert IS register max, so the streaming MAX aggregate
    is the sketch update — and the batch readout estimates distinct
    users per day from the final state snapshot.

    On the bounded availableNow replay the final registers equal the
    batch registers (merge-invariance, pinned by
    tests/test_sketch_exact.py::test_hll_merge_equals_direct), so the
    day-grain estimates hash-match the DuckDB oracle computing the
    identical integer recipe (functions/sketches.py).

    Scale posture: state is <= calendar x |event_type| x 256 integer
    registers — corpus-independent; the readout runs at register grain.
    At 100 TB this stream never re-scans history: any date-range
    distinct query MAX-merges the day rows it needs.
    """
    from kbrowse_spark.functions.sketches import (
        HLL_M,
        hll_bucket_sql,
        hll_estimate_sql,
        hll_rho_sql,
        hll_sum_terms_sql,
    )

    # NOTE (r14): a row-grain fan-out repartition before the md5
    # derivations was measured here and REJECTED (1.55 s before vs
    # 1.63 s with, same-session min-of-3): two md5s per narrow event
    # row do not dwarf the exchange of the row — the multimodal-family
    # asymmetry, unlike stream_cms's 4-md5s-per-token fan-out which won.
    ev = load_stream(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.expr(hll_bucket_sql("spark", _SHR_USERKEY)).alias("bucket"),
        F.expr(hll_rho_sql("spark", _SHR_USERKEY)).alias("rho"),
    )
    regs = ev.groupBy("event_type", "day", "bucket").agg(
        F.max("rho").alias("reg")
    )
    snap = _run_to_memory(regs, "complete")
    grp = snap.groupBy("event_type", "day").agg(
        F.expr(hll_sum_terms_sql("spark", "reg", "COUNT(*)")).alias(
            "sum_int"
        ),
        F.expr(f"CAST({HLL_M} - COUNT(*) AS INT)").alias("v0"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    return grp.select(
        "event_type",
        "day",
        F.expr(hll_estimate_sql("spark", "sum_int", "v0")).alias(
            "approx_users_day"
        ),
        "n_buckets",
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Streaming DDSketch quantile monitor (r13): the percentile family's
# production ingest arm, symmetric to stream_hll_register_rollup
# ---------------------------------------------------------------------------

_SDQ_QS = (50, 95, 99)
_SDQ_CENTS = "CAST(floor(value * 100) AS BIGINT)"


def _sdq_oracle() -> str:
    from kbrowse_spark.functions.sketches import ddq_duck_bucket

    return f"""
    WITH v AS (
      SELECT event_type, {_SDQ_CENTS} AS cents FROM events),
    sk AS (
      SELECT event_type,
             CAST({ddq_duck_bucket('cents')} AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1, 2),
    tot AS (
      SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM sk GROUP BY 1),
    cum AS (
      SELECT event_type, bucket,
             CAST(SUM(cnt) OVER (PARTITION BY event_type
                                 ORDER BY bucket) AS BIGINT) AS cum
      FROM sk),
    qs AS (SELECT CAST(unnest([{', '.join(map(str, _SDQ_QS))}]) AS INT) AS q),
    sel AS (
      SELECT c.event_type, q.q, MIN(c.bucket) AS bucket
      FROM cum c JOIN tot t USING (event_type) CROSS JOIN qs q
      WHERE c.cum >= (q.q * t.n + 99) // 100
      GROUP BY 1, 2)
    SELECT s.event_type, s.q,
           CAST(((16 + s.bucket % 16)
                 * (CAST(1 AS BIGINT) << (s.bucket // 16)))
                // 16 AS BIGINT) AS est_lo_cents,
           CAST(((17 + s.bucket % 16)
                 * (CAST(1 AS BIGINT) << (s.bucket // 16)))
                // 16 AS BIGINT) AS est_hi_cents,
           t.n
    FROM sel s JOIN tot t USING (event_type)
    ORDER BY event_type, q
    """


@register(
    "stream_ddq_latency_monitor",
    _sdq_oracle(),
    "streaming",
    "approx",
    "sketch",
)
def stream_ddq_latency_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming p50/p95/p99 monitor over event values through the
    DDSketch-style integer log-linear buckets — the percentile
    family's production ingest arm, symmetric to
    stream_hll_register_rollup: each micro-batch folds arriving
    values into (event_type, bucket) COUNT state (DDSketch insert IS
    a bucket increment, so the streaming COUNT aggregate is the
    sketch update), and the batch readout walks the cumulative bucket
    counts to quantile BRACKETS (est_lo <= q < est_hi, relative width
    <= 1/16 — the monitor's alert thresholds compare against est_hi).

    On the bounded availableNow replay the final bucket counts equal
    the batch GROUP BY, so the readout hash-matches the DuckDB oracle
    running the identical integer recipe (functions/sketches.py).

    Scale posture: state is <= |event_type| x ~500 integer buckets —
    corpus-independent (the standing property of log-linear sketches:
    a fixed relative-error guarantee costs O(log(max/min)) buckets no
    matter the volume); the readout runs at sketch grain.  At 100 TB
    this is the latency-SLO monitor pattern: no raw retention, any
    percentile over any window of retained day-sketches by bucket-sum
    merge.
    """
    from kbrowse_spark.functions.sketches import ddq_spark_bucket

    ev = load_stream(spark, sf_dir, "events").select(
        "event_type", F.expr(_SDQ_CENTS).alias("cents")
    )
    sk = ev.select(
        "event_type",
        F.expr(ddq_spark_bucket("cents")).cast("long").alias("bucket"),
    ).groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    snap = _run_to_memory(sk, "complete")
    # Total and cumulative count come from the SAME window projection
    # (unbounded vs running frame) — a separate per-type total would
    # self-join the memory-sink table against its own window child,
    # which Spark's relation dedup refuses to resolve.
    cum = snap.select(
        "event_type",
        "bucket",
        F.sum("cnt")
        .over(Window.partitionBy("event_type").orderBy("bucket"))
        .cast("long")
        .alias("cum"),
        F.sum("cnt")
        .over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    )
    qs = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(q) for q in _SDQ_QS])).alias("q"))
        .select(F.col("q").cast("int").alias("q"))
    )
    sel = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= F.expr("(q * n + 99) div 100"))
        .groupBy("event_type", "q")
        .agg(F.min("bucket").alias("bucket"), F.min("n").alias("n"))
    )
    return (
        sel.select(
            "event_type",
            "q",
            F.expr(
                "CAST((16 + bucket % 16) * shiftleft(CAST(1 AS BIGINT),"
                " CAST(bucket div 16 AS INT)) div 16 AS BIGINT)"
            ).alias("est_lo_cents"),
            F.expr(
                "CAST((17 + bucket % 16) * shiftleft(CAST(1 AS BIGINT),"
                " CAST(bucket div 16 AS INT)) div 16 AS BIGINT)"
            ).alias("est_hi_cents"),
            "n",
        )
        .orderBy("event_type", "q")
    )


# ---------------------------------------------------------------------------
# State-store introspection (r13): read a streaming checkpoint's state
# back as a batch DataFrame — the Spark 4 statestore / state-metadata
# batch sources
# ---------------------------------------------------------------------------


@register(
    "stream_state_introspection",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS state_count,
           'stateStoreSave' AS operator_name,
           CAST(8 AS BIGINT) AS n_state_partitions
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "streaming",
    "ops",
)
def stream_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE INTROSPECTION: a stateful stream (complete-mode
    per-type counts) runs against a PERSISTENT checkpoint, then the
    checkpoint's state store is read back as a BATCH DataFrame via
    Spark 4's `statestore` data source — the keyed state rows must
    equal the batch GROUP BY — and the `state-metadata` source
    supplies the operator name and frozen state partition count.

    This is the ops surface the compaction/monitor family's "the
    state store is the ledger" posture rests on: at 100 TB the
    statestore read is how an operator debugs a stuck stream,
    verifies state compatibility before a query upgrade, or audits
    state volume per key — WITHOUT touching the raw corpus (it reads
    only the checkpoint's state files, key-grain not event-grain).

    Determinism: the bounded availableNow replay leaves exactly the
    final aggregate as state; the state partition count is
    STREAM_STATE_PARTITIONS (8) for every bounded run, frozen into the
    checkpoint, so the metadata columns are literals the oracle can
    state.

    Reference has no state tooling (SURVEY §2c extension; joins
    stream_compaction_trigger / the checkpoint-resume evidence tests
    in the streaming-ops family).
    """
    import hashlib
    import shutil

    stream = load_stream(spark, sf_dir, "events")
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # Per-session token in the checkpoint path (ADVICE r13 #3, as
    # partition_pruning_audit): concurrent sessions on one fixture
    # must not rmtree each other's in-flight checkpoint.
    tag = hashlib.md5(
        (sf_dir + "|" + spark.sparkContext.applicationId).encode()
    ).hexdigest()[:12]
    ckpt = f"/tmp/kbrowse_state_introspect/{tag}"
    shutil.rmtree(ckpt, ignore_errors=True)
    _run_bounded(
        agg.writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", ckpt),
        "stream_state_introspection",
    )
    ss = spark.read.format("statestore").load(ckpt)
    md = spark.read.format("state-metadata").load(ckpt).select(
        F.col("operatorName").alias("operator_name"),
        F.col("numPartitions").cast("long").alias("n_state_partitions"),
    )
    return (
        # The state value struct carries the INTERNAL aggregation
        # buffer field name ("count"), not the output alias.
        ss.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("state_count"),
        )
        .crossJoin(F.broadcast(md))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Streaming count-min sketch maintenance (r13): completes the
# streaming-ingest trio for the mergeable-sketch family (HLL registers
# -> distinct, DDSketch buckets -> quantiles, CMS cells -> frequency)
# ---------------------------------------------------------------------------


def _scms_oracle() -> str:
    from kbrowse_spark.operators.text_analysis import (
        _CMS_PROBES,
        _CMS_ROWS,
        _CMS_WIDTH,
    )

    return f"""
    WITH words AS (
      SELECT lower(unnest(string_split(text, ' '))) AS word
      FROM documents),
    wfil AS (SELECT word FROM words WHERE word != ''),
    pairs AS (
      SELECT word, j,
             ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || word),
                             1, 8))::BIGINT % {_CMS_WIDTH} AS bucket
      FROM wfil
      CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_ROWS - 1})) AS j)),
    sketch AS (
      SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY j, bucket),
    probes AS (SELECT unnest({list(_CMS_PROBES)}) AS term),
    pb AS (
      SELECT term, j,
             ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || term),
                             1, 8))::BIGINT % {_CMS_WIDTH} AS bucket
      FROM probes
      CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_ROWS - 1})) AS j)),
    est AS (
      SELECT term, CAST(MIN(COALESCE(s.n, 0)) AS BIGINT) AS cms_estimate
      FROM pb LEFT JOIN sketch s USING (j, bucket) GROUP BY term),
    exact AS (
      SELECT word AS term, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM wfil WHERE word IN {_CMS_PROBES!r} GROUP BY word)
    SELECT e.term, CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count,
           e.cms_estimate
    FROM est e LEFT JOIN exact x USING (term)
    ORDER BY term
    """


@register(
    "stream_cms_heavy_hitters",
    _scms_oracle(),
    "streaming",
    "approx",
    "sketch",
    "text",
)
def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch maintenance — the frequency arm of
    the mergeable-sketch ingest trio (stream_hll_register_rollup =
    distinct, stream_ddq_latency_monitor = quantiles, THIS = term
    frequency): each micro-batch fans arriving documents' tokens x4
    hash rows and increments the (row, bucket) cell counts (CMS insert
    IS a cell increment, so the streaming COUNT aggregate is the
    sketch update); the batch readout point-estimates the probe terms
    (MIN over rows) next to their exact counts.

    Same md5-derived D=4 x W=256 sketch as cms_heavy_hitters, so the
    DuckDB oracle reproduces the estimates bit-for-bit, and the
    streaming state is EXACTLY 1024 integer cells — corpus-independent
    (the defining CMS property).  On the bounded availableNow replay
    the cells equal the batch GROUP BY.

    Scale posture: per-batch cost is the token fan-out (x4, map-side
    combined to <= 1024 rows before the shuffle); probe lookup is
    sketch-grain.  At 100 TB this is the trending-terms monitor: no
    raw retention, point frequency for any term from 8 KB of state.
    """
    from kbrowse_spark.operators.text_analysis import (
        _CMS_PROBES,
        _CMS_ROWS,
        _CMS_WIDTH,
    )

    bucket_of = (
        "CAST(conv(substring(md5(concat('cms', CAST(j AS STRING), ':', {t}))"
        ", 1, 8), 16, 10) AS BIGINT) % {w}"
    )
    stream = load_stream(spark, sf_dir, "documents")
    # Doc-grain repartition BEFORE the explode (r14 — the batch
    # cms_heavy_hitters fix, mirrored): the staged single-file micro-
    # batch scans as ONE task, so all 4 md5s per corpus token ran on
    # one core inside the trigger; the (doc_id, text) exchange is ~1%
    # of the post-explode hashing volume.
    par = spark.sparkContext.defaultParallelism
    cells = (
        stream.select("doc_id", "text")
        .repartition(par, F.col("doc_id"))
        .select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .withColumn("j", F.explode(F.expr(f"sequence(0, {_CMS_ROWS - 1})")))
        .withColumn("bucket", F.expr(bucket_of.format(t="word", w=_CMS_WIDTH)))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    sketch = _run_to_memory(cells, "complete")
    probes = (
        spark.createDataFrame([(t,) for t in _CMS_PROBES], "term string")
        .withColumn("j", F.explode(F.expr(f"sequence(0, {_CMS_ROWS - 1})")))
        .withColumn("bucket", F.expr(bucket_of.format(t="term", w=_CMS_WIDTH)))
    )
    est = (
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_estimate"))
    )
    exact = (
        spark.read.parquet(table_path(sf_dir, "documents"))
        .select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .filter(F.col("word").isin(*_CMS_PROBES))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        est.join(exact, est.term == exact.word, "left")
        .select(
            "term",
            F.coalesce(F.col("exact_count"), F.lit(0))
            .cast("long")
            .alias("exact_count"),
            "cms_estimate",
        )
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# Streaming quality gate (the Gopher-rule gate at ingest — batch/stream
# symmetry for the quality family)
# ---------------------------------------------------------------------------

_SGG_MIN_RULES = 6  # admit when >= 6 of the 7 Gopher rules pass


@register(
    "stream_gopher_gate",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'),
                         t -> t <> '') AS words,
             string_split(text, chr(10)) AS lines,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) // 3
               AS n_ell
      FROM documents),
    feat AS (
      SELECT doc_id, len(words) AS nw,
             CAST(list_sum(list_transform(words, w -> length(w)))
                  AS BIGINT) AS sumlen,
             n_hash + n_ell AS nsym, len(lines) AS nl,
             len(list_filter(lines,
                 l -> starts_with(l, '-') OR starts_with(l, '*')))
               AS n_bullet,
             len(list_filter(lines, l -> suffix(l, '...'))) AS n_ellend,
             len(list_filter(words,
                 w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
             (CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END)
               AS n_stops
      FROM toks),
    scored AS (
      SELECT (CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END
            + CASE WHEN nw > 0 AND 3 * nw <= sumlen
                    AND sumlen <= 10 * nw THEN 1 ELSE 0 END
            + CASE WHEN nw > 0 AND 10 * nsym <= nw THEN 1 ELSE 0 END
            + CASE WHEN 10 * n_bullet <= 9 * nl THEN 1 ELSE 0 END
            + CASE WHEN 10 * n_ellend <= 3 * nl THEN 1 ELSE 0 END
            + CASE WHEN nw > 0 AND 5 * n_alpha >= 4 * nw
                   THEN 1 ELSE 0 END
            + CASE WHEN n_stops >= 2 THEN 1 ELSE 0 END)
               AS n_rules_passed
      FROM feat)
    SELECT CAST(n_rules_passed AS INT) AS n_rules_passed,
           CAST(CASE WHEN n_rules_passed >= {_SGG_MIN_RULES}
                THEN 1 ELSE 0 END AS INT) AS admitted,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored
    GROUP BY n_rules_passed
    ORDER BY n_rules_passed
    """,
    "streaming",
    "quality",
)
def stream_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming QUALITY gate — the Gopher rule set applied at ingest,
    completing the gate trio's fourth arm (erasure = compliance,
    hotkey = skew, conformal = model, THIS = content rules): each
    arriving document is scored in-stream against all seven
    quality_gopher_rules heuristics (the identical integer-rational
    thresholds — the gate and the batch audit can never disagree on a
    doc), and admission requires >= {m} of 7 rules (set where this corpus actually splits: the stopword rule fails corpus-wide, so scores top out at 6 and the word-count rule is the discriminator).  The emitted
    ledger is the admission histogram per score — what an ingest
    operator watches to see quality drift at the gate (a score-mass
    shift toward the threshold predicts an admission-rate cliff).

    The scoring is a STATELESS in-stream projection (per-doc flags
    need no cross-row state); only the score histogram is stateful
    (complete-mode counts over <= 8 keys).  On the bounded
    availableNow replay the histogram equals the batch GROUP BY — the
    oracle.

    Scale posture: per-doc rule math is in-row array aggregation (no
    explode); state is bounded by the 8-value score domain, not the
    corpus.

    Reference has no corpus-quality tooling (SURVEY §2c extension).
    """
    stream = load_stream(spark, sf_dir, "documents")
    words = "filter(split(text, '\\\\s+'), t -> t != '')"
    lines = "split(text, '\\n')"
    stops = " + ".join(
        f"IF(array_contains(words, '{s}'), 1, 0)"
        for s in (
            "the", "be", "to", "of", "and", "that", "have", "with",
        )
    )
    feat = stream.select(
        F.expr(words).alias("words"),
        F.expr(lines).alias("lines"),
        (
            F.length("text") - F.length(F.expr("replace(text, '#', '')"))
        ).alias("n_hash"),
        F.expr(
            "CAST((length(text) - length(replace(text, '...', ''))) / 3"
            " AS BIGINT)"
        ).alias("n_ell"),
    ).select(
        F.expr("size(words)").cast("long").alias("nw"),
        F.expr(
            "aggregate(words, CAST(0 AS BIGINT),"
            " (acc, w) -> acc + length(w))"
        ).alias("sumlen"),
        (F.col("n_hash") + F.col("n_ell")).cast("long").alias("nsym"),
        F.expr("size(lines)").cast("long").alias("nl"),
        F.expr(
            "size(filter(lines, l -> startswith(l, '-')"
            " OR startswith(l, '*')))"
        )
        .cast("long")
        .alias("n_bullet"),
        F.expr("size(filter(lines, l -> endswith(l, '...')))")
        .cast("long")
        .alias("n_ellend"),
        F.expr("size(filter(words, w -> w rlike '[a-zA-Z]'))")
        .cast("long")
        .alias("n_alpha"),
        F.expr(stops).cast("long").alias("n_stops"),
    )
    score = feat.select(
        F.expr(
            "IF(nw >= 50 AND nw <= 100000, 1, 0)"
            " + IF(nw > 0 AND 3 * nw <= sumlen AND sumlen <= 10 * nw, 1, 0)"
            " + IF(nw > 0 AND 10 * nsym <= nw, 1, 0)"
            " + IF(10 * n_bullet <= 9 * nl, 1, 0)"
            " + IF(10 * n_ellend <= 3 * nl, 1, 0)"
            " + IF(nw > 0 AND 5 * n_alpha >= 4 * nw, 1, 0)"
            " + IF(n_stops >= 2, 1, 0)"
        )
        .cast("int")
        .alias("n_rules_passed")
    )
    counts = score.groupBy("n_rules_passed").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    snap = _run_to_memory(counts, "complete")
    return snap.select(
        "n_rules_passed",
        F.expr(
            f"CAST(IF(n_rules_passed >= {_SGG_MIN_RULES}, 1, 0) AS INT)"
        ).alias("admitted"),
        "n_docs",
    ).orderBy("n_rules_passed")


stream_gopher_gate.__doc__ = stream_gopher_gate.__doc__.format(
    m=_SGG_MIN_RULES
)


# ---------------------------------------------------------------------------
# IVF+PQ streaming probe (the serve path's streaming arm — the ANN
# capstone's batch/stream symmetry)
# ---------------------------------------------------------------------------

_SIP_NQ = 4  # query vectors arriving on the stream (vec_id < _SIP_NQ)
_SIP_NPROBE = 2
_SIP_K = 5


def _sip_oracle() -> str:
    from kbrowse_spark.operators.knn import (
        DIM,
        _PQ_SUBDIM,
        _pq_cb_values,
        _sql_dot,
    )

    return f"""
    WITH ce AS (
      SELECT label, pos,
             CAST(CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
                  / 1e6 / COUNT(*) AS DOUBLE) AS c
      FROM (SELECT label, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings)
      GROUP BY label, pos),
    centroids AS (SELECT label, list(c ORDER BY pos) AS cvec
                  FROM ce GROUP BY label),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
          WHERE vec_id < {_SIP_NQ}),
    cd AS (
      SELECT q.qid AS qid, c.label,
             {_sql_dot('c.cvec', 'q.qe')}
               / (sqrt({_sql_dot('c.cvec', 'c.cvec')})
                  * sqrt({_sql_dot('q.qe', 'q.qe')})) AS csim
      FROM centroids c CROSS JOIN q),
    probe AS (SELECT qid, label FROM (
                SELECT qid, label, ROW_NUMBER() OVER (
                  PARTITION BY qid ORDER BY csim DESC, label) AS r
                FROM cd) WHERE r <= {_SIP_NPROBE}),
    comp AS (
      SELECT vec_id, label, (j - 1) // {_PQ_SUBDIM} AS s,
             (j - 1) % {_PQ_SUBDIM} AS jj,
             CAST(round(CAST(embedding[j] AS DOUBLE) * 1024) AS BIGINT)
               AS v
      FROM embeddings, unnest(generate_series(1, {DIM})) AS t(j)),
    cbv(ver, s, k, jj, c) AS (VALUES {_pq_cb_values()}),
    dist AS (
      SELECT comp.vec_id, comp.label, comp.s, cbv.k,
             SUM((comp.v - cbv.c) * (comp.v - cbv.c)) AS dd
      FROM comp JOIN cbv ON cbv.ver = 1 AND cbv.s = comp.s
                        AND cbv.jj = comp.jj
      GROUP BY comp.vec_id, comp.label, comp.s, cbv.k),
    codes AS (
      SELECT vec_id, label, s, k FROM (
        SELECT vec_id, label, s, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dd, k) AS r
        FROM dist) WHERE r = 1),
    cand AS (
      SELECT p.qid AS qid, c.vec_id AS vec_id, c.label AS label,
             CAST(SUM(qd.dd) AS BIGINT) AS adc_dist
      FROM codes c
      JOIN probe p ON c.label = p.label
      JOIN dist qd ON qd.vec_id = p.qid AND qd.s = c.s AND qd.k = c.k
      WHERE c.vec_id <> p.qid
      GROUP BY p.qid, c.vec_id, c.label)
    SELECT qid, vec_id, label, adc_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY adc_dist, vec_id) AS r
      FROM cand) WHERE r <= {_SIP_K}
    ORDER BY qid, adc_dist, vec_id
    """


def _sip_probe_udf(cent_rows, nprobe: int):
    """embedding array<float> -> the nprobe nearest cell labels, by
    the SAME fixed-point cosine the batch coarse probe computes:
    products floored to 1e-15 units and summed as ints (exact and
    order-independent), int->double, then IEEE division/sqrt — so
    the Python replication is bit-identical to both engines' SQL."""
    import math

    import pandas as pd

    cents = sorted(
        (int(r.label), [float(x) for x in r.cvec]) for r in cent_rows
    )

    def fixdot(a, b):
        return float(
            sum(
                int(math.floor(x * y * 1e15))
                for x, y in zip(a, b)
            )
        ) / 1e15

    def probe(emb):
        out = []
        for e in emb:
            qe = [float(x) for x in e]
            qq = math.sqrt(fixdot(qe, qe))
            scored = sorted(
                (
                    -(fixdot(cv, qe) / (math.sqrt(fixdot(cv, cv)) * qq)),
                    label,
                )
                for label, cv in cents
            )
            out.append([label for _, label in scored[:nprobe]])
        return pd.Series(out)

    return F.pandas_udf(probe, "array<int>")


@register(
    "stream_ivfpq_probe",
    _sip_oracle(),
    "streaming",
    "ann",
)
def stream_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF+PQ serve path's STREAMING arm — the ANN capstone's
    batch/stream pair (ivfpq_retrieval is the batch side, the way
    stream_ann_ivf_probe pairs with ann_ivf_kmeans): query vectors
    ARRIVE as a stream and each micro-batch, STATELESSLY, (1) probes
    its {np} nearest cells in-stream — the fixed-point centroid
    cosine evaluated in an Arrow-batched kernel over the collected
    centroid table (a model-grain pull: the centroids ARE the coarse
    quantizer), bit-identical to the batch probe because the
    fixed-point dot is order-independent — (2) computes its own ADC
    distance table in-stream (the r12 numpy kernel), and (3)
    stream-static joins the cell-pruned STATIC code index (8 B/vector
    codes, the thing a serving tier actually holds in memory).  The
    landed candidates are cell-bounded per query by construction; the
    top-{k} cut runs as a batch window over the landed table (in
    production the per-query k-smallest runs in the micro-batch so
    only k rows leave the stream; landing keeps the probe auditable).

    Scale posture: no state store, no watermark — a pure stateless
    stream-static join against a partition-pruned index; the stream
    ships queries, the static side ships ~nprobe/k of the code
    payload.

    Reference's follow mode streams rows but has no vector tooling
    (SURVEY §2c extension; oracle = the composed coarse-probe + PQ
    relational CTE, the ivfpq_retrieval oracle generalized to the
    {nq}-query block).
    """
    from pyspark.sql import Window as W

    from kbrowse_spark.operators.knn import (
        _PQR_AD_SPARK,
        _pq_codebook,
        _pq_codes_udf,
        _pq_dt_udf,
    )

    path = table_path(sf_dir, "embeddings")
    static = spark.read.parquet(path)
    quant = (
        "transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT))"
    )
    enc = static.select(
        "vec_id",
        "label",
        F.expr(quant).alias("qv"),
    ).select(
        "vec_id",
        "label",
        _pq_codes_udf(_pq_codebook())(F.col("qv")).alias("codes"),
    )
    per_dim = (
        static.select("label", F.posexplode("embedding").alias("pos", "e"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(
                    F.expr("CAST(floor(CAST(e AS DOUBLE) * 1e6) AS BIGINT)")
                ).cast("double")
                / F.lit(1e6)
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("c")
        )
    )
    cent_rows = (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda x: x["c"],
            ).alias("cvec")
        )
        .collect()
    )
    stream = load_stream(spark, sf_dir, "embeddings")
    qstream = stream.filter(F.col("vec_id") < _SIP_NQ).select(
        F.col("vec_id").alias("qid"),
        F.expr(quant).alias("qqv"),
        "embedding",
    )
    probed = qstream.select(
        "qid",
        _pq_dt_udf(_pq_codebook())(F.col("qqv")).alias("qdt"),
        F.explode(
            _sip_probe_udf(cent_rows, _SIP_NPROBE)(F.col("embedding"))
        ).alias("cell"),
    )
    cand = (
        probed.join(enc, probed["cell"] == enc["label"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.expr(_PQR_AD_SPARK).alias("adc_dist"),
        )
    )
    landed = _run_to_memory(cand, "append")
    w = W.partitionBy("qid").orderBy("adc_dist", "vec_id")
    return (
        landed.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _SIP_K)
        .select("qid", "vec_id", "label", "adc_dist")
        .orderBy("qid", "adc_dist", "vec_id")
    )


stream_ivfpq_probe.__doc__ = stream_ivfpq_probe.__doc__.format(
    np=_SIP_NPROBE, k=_SIP_K, nq=_SIP_NQ
)
