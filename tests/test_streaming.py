"""Streaming semantics tests: watermark late-data dropping (multi-batch),
follow-mode protocol, topic-metadata cache."""

from __future__ import annotations

import dataclasses
import datetime
import io
import json
import os
import time

import pytest
from pyspark.sql import functions as F


def _ts(h: int, m: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, h, m)


def test_watermark_drops_late_data(spark, tmp_path):
    """Multi-batch stream (maxFilesPerTrigger=1): the watermark
    advances past the hour-0 window, then a late row for that window
    arrives and must be dropped.

    Note Spark >=3.4 filters late events with the *previous* batch's
    watermark (watermarkForLateEvents lags watermarkForEviction by one
    batch), so the late row arrives two batches after the window
    closed."""
    schema = "user_id long, ts timestamp, value double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: hours 0..2 (watermark after batch: 02:00 - 30min = 01:30)
    b1 = [(1, _ts(0, 10), 1.0), (1, _ts(1, 10), 1.0), (1, _ts(2, 0), 1.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/b1.parquet")
    time.sleep(1.1)  # distinct mtimes => deterministic file order
    # batch 2: advances the eviction watermark; late-filter watermark
    # becomes 01:30 for the next batch
    b2 = [(1, _ts(2, 30), 1.0)]
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/b2.parquet")
    time.sleep(1.1)
    # batch 3: one late row (00:20 — window closed) + one fresh (03:00)
    b3 = [(1, _ts(0, 20), 100.0), (1, _ts(3, 0), 1.0)]
    spark.createDataFrame(b3, schema).coalesce(1).write.parquet(f"{src}/b3.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.sum("value").alias("total"))
        .select(F.col("window.start").alias("start"), "total")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["start"].hour: r["total"] for r in spark.table("wm_test").collect()}
    # Hour-0 window was finalized by the batch-1 watermark: the late
    # 100.0 row must NOT appear in it.
    assert rows.get(0) == 1.0
    # Windows still open at end-of-stream are not emitted in append mode.
    assert 3 not in rows


def test_follow_mode_protocol(spark, tmp_path):
    from kbrowse_spark.plans.query_spec import QuerySpec
    from kbrowse_spark.sources.fixture import golden_topic_a
    from kbrowse_spark.streaming.follow import run_follow

    path = str(tmp_path / "topic_a.parquet")
    golden_topic_a(spark).write.parquet(path)
    spec = QuerySpec(
        source_parquet=path, topics=["topic-a"], key_regex="k.*", follow=True
    ).validate()
    buf = io.StringIO()
    run_follow(spark, spec, buf, bounded=True)
    rows = json.loads(buf.getvalue())
    assert rows[0] == {"type": "pioneer"}
    assert len(rows) == 4
    assert [r["value"] for r in rows[1:]] == ["v0", "v1", "v2"]


@pytest.fixture(scope="module")
def topic_a_path(spark, tmp_path_factory):
    from kbrowse_spark.sources.fixture import golden_topic_a

    path = str(tmp_path_factory.mktemp("follow") / "topic_a.parquet")
    golden_topic_a(spark).write.parquet(path)
    return path


# (options, result values on the golden topic-a fixture; None = events)
PARITY_CASES = {
    "key_regex": ({"key_regex": "k0"}, ["v0", "v1"]),
    "default_partition": (
        {"key_regex": "k2", "default_partition": True, "num_partitions": 10},
        ["v2"],
    ),
    "relative_offset": ({"relative_offset": -1}, ["v1", "v2"]),
    "start_timestamp": ({"start_timestamp": "2024-01-01T00:00:01"}, ["v1", "v2"]),
    "print_offset": ({"key_regex": "k2", "print_offset": 1}, ["v0", "v1", "v2", "v2"]),
    "events_shaped": ({"key_regex": "12"}, None),
}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_follow_matches_search(spark, sf_dir, topic_a_path, case):
    """Bounded follow emits exactly the rows of the batch /search scan:
    both run the one pipeline in plans/planner.py."""
    from kbrowse_spark.plans.planner import build_scan
    from kbrowse_spark.plans.query_spec import QuerySpec
    from kbrowse_spark.sinks.pioneer import collect_protocol
    from kbrowse_spark.streaming.follow import run_follow

    options, values = PARITY_CASES[case]
    if values is None:
        source = {"source_parquet": os.path.join(sf_dir, "events.parquet")}
    else:
        source = {"source_parquet": topic_a_path, "topics": ["topic-a"]}
    spec = QuerySpec(**source, **options).validate()
    batch = json.loads(collect_protocol(build_scan(spark, spec)))
    buf = io.StringIO()
    run_follow(spark, dataclasses.replace(spec, follow=True), buf, bounded=True)
    assert json.loads(buf.getvalue()) == batch
    assert batch[0] == {"type": "pioneer"} and len(batch) > 1
    if values is not None:
        assert [r["value"] for r in batch[1:]] == values


def test_follow_empty_directory(spark, tmp_path):
    """Following an envelope directory with no files yet emits the
    pioneer and closes on the kill switch."""
    from kbrowse_spark.plans.query_spec import QuerySpec
    from kbrowse_spark.streaming.follow import run_follow

    src = tmp_path / "empty"
    src.mkdir()
    spec = QuerySpec(
        source_parquet=str(src), follow=True, stop_after_seconds=3
    ).validate()
    buf = io.StringIO()
    run_follow(spark, spec, buf, bounded=False, processing_interval="500 milliseconds")
    assert json.loads(buf.getvalue()) == [{"type": "pioneer"}]


def test_topics_cache_refresh_and_resilience():
    from kbrowse_spark.service.topics_cache import TopicMetadataCache

    calls = {"n": 0}

    def lister(cluster: str) -> set[str]:
        calls["n"] += 1
        if calls["n"] == 2:
            raise ConnectionError("broker down")
        return {f"topic-{calls['n']}", "common"}

    c = TopicMetadataCache(["c1"], refresh_seconds=3600, lister=lister)
    c.refresh()
    assert c.topics("c1") == {"topic-1", "common"}
    c.refresh()  # lister raises -> stale snapshot kept
    assert c.topics("c1") == {"topic-1", "common"}
    c.refresh()
    assert c.topics("c1") == {"topic-3", "common"}
    assert c.topics("unknown") == set()


def test_follow_unbounded_kill_switch(spark, tmp_path):
    """Unbounded follow mode stops via the wall-clock watchdog (O10) —
    the query emits the initial snapshot then the timer stops it."""
    import time as _time

    from kbrowse_spark.plans.query_spec import QuerySpec
    from kbrowse_spark.sources.fixture import golden_topic_a
    from kbrowse_spark.streaming.follow import run_follow

    path = str(tmp_path / "topic_a.parquet")
    golden_topic_a(spark).write.parquet(path)
    spec = QuerySpec(
        source_parquet=path,
        topics=["topic-a"],
        key_regex="k.*",
        follow=True,
        stop_after_seconds=4,
    ).validate()
    buf = io.StringIO()
    t0 = _time.monotonic()
    run_follow(spark, spec, buf, bounded=False, processing_interval="500 milliseconds")
    elapsed = _time.monotonic() - t0
    rows = json.loads(buf.getvalue())
    assert [r["value"] for r in rows[1:]] == ["v0", "v1", "v2"]
    assert elapsed < 60  # watchdog fired; no immortal query


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: state-bounded streaming dedup —
    duplicates inside the watermark horizon collapse; state for expired
    keys is evicted (the unbounded-state fix for streaming dedup)."""
    schema = "k long, ts timestamp"
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [
        (1, _ts(0, 0)),
        (1, _ts(0, 5)),   # duplicate of k=1 within horizon
        (2, _ts(0, 10)),
        (2, _ts(0, 12)),  # duplicate
        (3, _ts(2, 0)),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/b1.parquet")
    stream = spark.readStream.schema(schema).parquet(f"{src}/*.parquet")
    dedup = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["k"]
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("ddww")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["k"] for r in spark.table("ddww").collect())
    assert got == [1, 2, 3]


def test_follow_emits_mid_stream_data(spark, tmp_path):
    """TRUE follow semantics: records produced AFTER the query starts
    are emitted (the reference's continue? keeps polling on follow)."""
    import datetime
    import threading
    import time as _time

    from kbrowse_spark.plans.query_spec import QuerySpec
    from kbrowse_spark.sources.fixture import ENVELOPE_SCHEMA, golden_topic_a
    from kbrowse_spark.streaming.follow import run_follow

    src = str(tmp_path / "live")
    os.makedirs(src)
    golden_topic_a(spark).coalesce(1).write.parquet(f"{src}/initial.parquet")
    spec = QuerySpec(
        source_parquet=f"{src}/*.parquet",
        topics=["topic-a"],
        key_regex="k.*",
        follow=True,
        stop_after_seconds=20,
    ).validate()
    buf = io.StringIO()
    t = threading.Thread(
        target=run_follow,
        args=(spark, spec, buf),
        kwargs={"bounded": False, "processing_interval": "1 second"},
    )
    t.start()
    _time.sleep(7)
    ts = datetime.datetime(2024, 1, 2)
    spark.createDataFrame(
        [(b"k9", b"v-late", "topic-a", 1, 0, ts, 0)], ENVELOPE_SCHEMA
    ).coalesce(1).write.parquet(f"{src}/late.parquet")
    t.join(timeout=60)
    vals = [r["value"] for r in json.loads(buf.getvalue())[1:]]
    assert "v-late" in vals
    assert {"v0", "v1", "v2"} <= set(vals)


def test_ntz_fixture_streams_with_watermark(spark, tmp_path):
    """Regression: fixtures that store ts as plain timestamp[us]
    surface as TIMESTAMP_NTZ, which withWatermark rejects —
    _normalize_stream_ts must cast to TIMESTAMP for both batch
    vintages (bigint-nanos and ntz) so every watermarked query runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kbrowse_spark.operators.streaming_queries import (
        _normalize_stream_ts,
        _run_to_memory,
    )

    src = str(tmp_path / "ntz")
    os.makedirs(src)
    # Write WITHOUT timezone metadata -> Spark reads TIMESTAMP_NTZ.
    tbl = pa.table(
        {
            "ts": pa.array(
                [_ts(0, 10), _ts(0, 20), _ts(1, 5)],
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array([1, 1, 2], type=pa.int64()),
        }
    )
    pq.write_table(tbl, f"{src}/part.parquet")
    static = spark.read.parquet(src)
    assert dict(static.dtypes)["ts"] == "timestamp_ntz"
    stream = spark.readStream.schema(static.schema).parquet(src)
    stream = _normalize_stream_ts(stream, static)
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("h"),
            "n",
        )
    )
    rows = {r["h"]: r["n"] for r in _run_to_memory(agg, "complete").collect()}
    assert rows == {"2024-01-01 00:00:00": 2, "2024-01-01 01:00:00": 1}


def test_checkpoint_recovery_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: an availableNow run commits its
    file-source offsets to the checkpoint; relaunching the SAME query
    with the SAME checkpoint must (a) be a no-op when no new input
    arrived and (b) process ONLY files added since the last run — the
    recovery contract a 100 TB incremental-ingest pipeline leans on
    (kbrowse's follow mode restarts are the reference analogue)."""
    schema = "user_id long, value double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(f"{src}/*.parquet")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema).coalesce(1).write.parquet(
        f"{src}/b1.parquet"
    )
    run_once()
    assert spark.read.parquet(out).count() == 2
    # restart with no new input: offsets say everything is processed
    run_once()
    assert spark.read.parquet(out).count() == 2
    # a new file arrives; restart picks up exactly that file
    time.sleep(1.1)
    spark.createDataFrame([(3, 3.0)], schema).coalesce(1).write.parquet(
        f"{src}/b2.parquet"
    )
    run_once()
    assert sorted(r.user_id for r in spark.read.parquet(out).collect()) == [1, 2, 3]


def test_watermark_drop_metrics_reported(spark, tmp_path):
    """Operational accounting: rows discarded as too-late must be
    COUNTED in the streaming progress (stateOperators'
    numRowsDroppedByWatermark) — the metric a production pipeline
    alerts on, distinct from the result-correctness assertion of
    test_watermark_drops_late_data."""
    schema = "user_id long, ts timestamp, value double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = [(1, _ts(0, 10), 1.0), (1, _ts(1, 10), 1.0), (1, _ts(2, 0), 1.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/b1.parquet")
    time.sleep(1.1)
    spark.createDataFrame([(1, _ts(2, 30), 1.0)], schema).coalesce(1).write.parquet(
        f"{src}/b2.parquet"
    )
    time.sleep(1.1)
    b3 = [(1, _ts(0, 20), 100.0), (1, _ts(3, 0), 1.0)]
    spark.createDataFrame(b3, schema).coalesce(1).write.parquet(f"{src}/b3.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.sum("value").alias("total"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_metrics_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = 0
    for p in q.recentProgress:
        for op in (p.get("stateOperators") or []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
    assert dropped >= 1, "late row was not accounted in progress metrics"


def test_streaming_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once across RESTARTS, not just within a run: a second
    availableNow query starting from the same checkpoint must process
    only files that arrived after the first run — the file-source
    offset log is the resume contract a production follow-mode
    deployment relies on (the reference's follow loop re-polls from its
    consumer position; this is the Spark analogue)."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.range(0, 100).select(F.col("id").alias("v")).write.mode(
        "append"
    ).parquet(src)

    def run_once():
        stream = spark.readStream.schema("v long").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        return rows

    assert run_once() == 100
    assert spark.read.parquet(out).count() == 100

    # New data lands between runs; the resumed query must see ONLY it.
    spark.range(100, 130).select(F.col("id").alias("v")).write.mode(
        "append"
    ).parquet(src)
    assert run_once() == 30
    got = spark.read.parquet(out)
    assert got.count() == 130
    assert got.agg(F.sum("v")).collect()[0][0] == sum(range(130))


def test_rocksdb_state_store_matches_default(spark, tmp_path):
    """The production state backend (RocksDBStateStoreProvider, in-box
    since Spark 3.2) must produce the same stateful-aggregation result
    as the default HDFS-backed provider — the conf swap a real
    deployment makes when state outgrows executor heap."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    spark.range(1000).select((F.col("id") % 13).alias("k")).write.mode(
        "append"
    ).parquet(src)

    def run(provider: str | None, name: str):
        key = "spark.sql.streaming.stateStore.providerClass"
        saved = spark.conf.get(key, None)
        try:
            if provider:
                spark.conf.set(key, provider)
            stream = spark.readStream.schema("k long").parquet(src)
            q = (
                stream.groupBy("k")
                .count()
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                (r.k, r["count"]) for r in spark.table(name).collect()
            }
        finally:
            if saved is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, saved)

    rocks = run(
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
        "rocks_counts",
    )
    default = run(None, "default_counts")
    assert rocks == default
    assert len(rocks) == 13


def test_bucketed_session_timeout_multibatch(spark, tmp_path):
    """The r14 bucketed timer sessionizer (stream_session_timeout):
    the bounded oracle replay only exercises ONE data batch, so this
    pins the multi-batch paths the rewrite introduced — (a) cross-batch
    merge of per-user sessions held as bucket-grain array state, and
    (b) an untouched user expiring via the bucket's clamped WAKE-UP
    (its own timeout is already behind the watermark when the bucket
    next sets a timer) rather than via a per-user timer."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kbrowse_spark.operators.streaming_queries import (
        _SESSION_GAP_US,
        _make_session_update,
    )

    us = 1_000_000
    hour = 3600 * us

    def write_batch(name, rows):
        spark.createDataFrame(
            [(u, datetime.datetime(2024, 1, 1) + datetime.timedelta(
                microseconds=t)) for u, t in rows],
            "user_id long, ts timestamp",
        ).coalesce(1).write.parquet(f"{src}/{name}.parquet")
        time.sleep(1.1)  # distinct mtimes => deterministic file order

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: user 1 (two events inside one session) + user 2 (one).
    write_batch("b1", [(1, 0), (1, 10 * us), (2, 5 * us)])
    # batch 2: user 1 returns past the gap (closes session in-stream,
    # exercising the state merge); user 2 untouched — its timeout is
    # now far behind the watermark, so it must close via the clamped
    # wake-up.  user 3 opens fresh.
    write_batch("b2", [(1, 3 * hour), (3, 3 * hour + 7 * us)])
    # batch 3: far-future flush row drags the watermark past everything.
    write_batch("b3", [(99, 10 * hour)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
        .withWatermark("ts", "1 second")
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
        # ONE bucket: every user shares the state row and the wake-up.
        .withColumn("bkt", F.lit(0))
    )
    out = stream.groupBy("bkt").applyInPandasWithState(
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
    q = (
        out.writeStream.format("memory")
        .queryName("bucketed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    base = int(
        datetime.datetime(
            2024, 1, 1, tzinfo=datetime.timezone.utc
        ).timestamp() * us
    )
    got = {
        (r.user_id, r.start_us - base, r.end_us - base, r.n_events)
        for r in spark.table("bucketed_sessions").collect()
    }
    expect = {
        (1, 0, 10 * us + _SESSION_GAP_US, 2),          # closed in-stream
        (1, 3 * hour, 3 * hour + _SESSION_GAP_US, 1),  # closed by timer
        (2, 5 * us, 5 * us + _SESSION_GAP_US, 1),      # clamped wake-up
        (3, 3 * hour + 7 * us,
         3 * hour + 7 * us + _SESSION_GAP_US, 1),      # closed by timer
    }
    assert got == expect


def test_bucketed_transition_counts_multibatch(spark, tmp_path):
    """The r14 bucketed transition counter (stream_transition_counts):
    the bounded oracle replay exercises ONE data batch, so this pins
    the multi-batch paths the bucketing introduced — (a) the stored
    per-user tail stitching the cross-batch transition, (b) state
    retention for a user untouched by the current batch, and (c)
    per-user sequencing by (ts_us, event_id) inside a bucket that
    holds several users."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kbrowse_spark.operators.streaming_queries import (
        _make_transition_update,
    )

    us = 1_000_000

    def write_batch(name, rows):
        spark.createDataFrame(
            [
                (u, datetime.datetime(2024, 1, 1)
                 + datetime.timedelta(microseconds=t), eid, et)
                for u, t, eid, et in rows
            ],
            "user_id long, ts timestamp, event_id long, event_type string",
        ).coalesce(1).write.parquet(f"{src}/{name}.parquet")
        time.sleep(1.1)  # distinct mtimes => deterministic file order

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: user 1 view->click (same ts: event_id orders them);
    # user 2 one purchase (no transition yet — tail stored).
    write_batch(
        "b1",
        [(1, 0, 2, "click"), (1, 0, 1, "view"), (2, 5 * us, 3, "purchase")],
    )
    # batch 2: user 1 returns (click->purchase stitched via the stored
    # tail); user 2 untouched (its tail must survive); user 3 opens.
    write_batch("b2", [(1, 9 * us, 4, "purchase"), (3, 9 * us, 5, "view")])
    # batch 3: user 2 returns two batches later (purchase->view).
    write_batch("b3", [(2, 20 * us, 6, "view")])

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
        .select(
            "user_id", "event_type", "ts",
            F.unix_micros("ts").alias("ts_us"), "event_id",
        )
        # ONE bucket: all three users share the state row.
        .withColumn("bkt", F.lit(0))
    )
    out = stream.groupBy("bkt").applyInPandasWithState(
        _make_transition_update(),
        outputStructType="from_type string, to_type string, n long",
        stateStructType="users array<long>, lasts array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("bucketed_transitions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.table("bucketed_transitions").collect():
        got[(r.from_type, r.to_type)] = (
            got.get((r.from_type, r.to_type), 0) + r.n
        )
    assert got == {
        ("view", "click"): 1,       # in-batch, event_id-ordered
        ("click", "purchase"): 1,   # cross-batch tail stitch (user 1)
        ("purchase", "view"): 1,    # tail survives an untouched batch
    }


def test_bucketed_user_state_multibatch(spark, tmp_path):
    """The r14 bucketed per-user accumulators
    (stream_stateful_user_totals and the tws-fallback profile): pins
    the cross-batch bucket-state merge — running totals accumulate per
    user, untouched users' state survives, and the profile's flattened
    (type_user, type_val) distinct-type state unions across batches."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kbrowse_spark.operators.streaming_queries import (
        _make_user_profile_update,
        _make_user_totals_update,
    )

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "user_id long, event_type string, value double"
        ).coalesce(1).write.parquet(f"{src}/{name}.parquet")
        time.sleep(1.1)

    src = str(tmp_path / "src")
    os.makedirs(src)
    write_batch("b1", [(1, "view", 1.50), (1, "click", 2.25), (2, "view", 10.0)])
    write_batch("b2", [(1, "view", 0.75), (3, "purchase", 5.0)])

    def run(update, out_schema, state_schema, name, cols):
        stream = (
            spark.readStream.schema(
                "user_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*.parquet")
            .select(*cols)
            .withColumn("bkt", F.lit(0))
        )
        out = stream.groupBy("bkt").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.table(name).collect()

    rows = run(
        _make_user_totals_update(),
        "user_id long, n_events long, total_cents long",
        "users array<long>, ns array<long>, cents array<long>",
        "bucketed_totals",
        ["user_id", "value"],
    )
    # Last emission per user = final running totals.
    final = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.total_cents)
    assert final == {1: (3, 450), 2: (1, 1000), 3: (1, 500)}

    rows = run(
        _make_user_profile_update(),
        "user_id long, n_events long, n_types long, max_cents long",
        "users array<long>, ns array<long>, maxs array<long>,"
        " type_users array<long>, type_vals array<string>",
        "bucketed_profiles",
        ["user_id", "event_type", "value"],
    )
    final = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.n_types, r.max_cents)
    assert final == {1: (3, 2, 225), 2: (1, 1, 1000), 3: (1, 1, 500)}
