"""The one ordered emitter (sinks/pioneer.sorted_rows) behind /search,
the CLI and follow mode: a result of at most ``HEAD_ROWS`` rows reaches
the driver in one Spark job; a larger one, from a bounded search or a
follow micro-batch, falls back to the sorted ``toLocalIterator`` and
still emits every row once, in ``EMIT_ORDER``."""

from __future__ import annotations

import dataclasses
import datetime
import json

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from kbrowse_spark.plans.planner import build_scan
from kbrowse_spark.plans.query_spec import QuerySpec
from kbrowse_spark.sinks import pioneer
from kbrowse_spark.sources.fixture import ENVELOPE_SCHEMA, golden_topic_a
from tests.test_source_snapshot import _jobs_in


def test_point_search_emits_in_one_job(spark, tmp_path):
    path = str(tmp_path / "topic_a")
    golden_topic_a(spark).write.parquet(path)
    spec = QuerySpec(
        source_parquet=path, topics=["topic-a"], key_regex="k0",
        default_partition=True, relative_offset=-5,
    ).validate()
    build_scan(spark, spec)  # the source snapshot is warm from here on
    scan = build_scan(spark, spec)
    text, jobs = _jobs_in(spark, lambda: pioneer.collect_protocol(scan))
    assert jobs == 1
    assert [r["value"] for r in json.loads(text)[1:]] == ["v0", "v1"]


@pytest.fixture
def fallbacks(monkeypatch):
    """Shrink ``HEAD_ROWS`` to 5 and count the sorted-stream fallbacks."""
    monkeypatch.setattr(pioneer, "HEAD_ROWS", 5)
    calls = []
    to_iter = DataFrame.toLocalIterator

    def counted(self, *args, **kwargs):
        calls.append(self)
        return to_iter(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "toLocalIterator", counted)
    return calls


@pytest.fixture(scope="module")
def many_rows(spark, tmp_path_factory):
    """30 records over 3 partitions of topic "t", two records to a
    timestamp, in one file: (path, the (partition, offset, type) of
    every row a ``print_offset=2`` search emits, in ``EMIT_ORDER``)."""
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    records = [
        (i % 3, i // 3, base + datetime.timedelta(seconds=i // 2)) for i in range(30)
    ]
    rows = [
        (f"k{i % 4}".encode(), f"v{i}".encode(), "t", p, o, ts, 0)
        for i, (p, o, ts) in enumerate(records)
    ]
    path = str(tmp_path_factory.mktemp("emitter") / "t")
    spark.createDataFrame(rows, ENVELOPE_SCHEMA).coalesce(1).write.parquet(path)
    emitted = [(ts, p, o, "result") for p, o, ts in records]
    emitted += [(ts, p, o, "offset") for p, o, ts in records if o % 2 == 0]
    return path, [(p, o, kind) for _, p, o, kind in sorted(emitted)]


def _spec(path: str) -> QuerySpec:
    return QuerySpec(
        source_parquet=path, topics=["t"], key_regex="k.*", print_offset=2
    ).validate()


def _order(text: str) -> list[tuple]:
    rows = json.loads(text)
    assert rows[0] == {"type": "pioneer"}
    return [(r["partition"], r["offset"], r["type"]) for r in rows[1:]]


def test_bounded_search_over_head_rows_falls_back(spark, many_rows, fallbacks):
    path, expected = many_rows
    assert len(expected) > pioneer.HEAD_ROWS
    text = pioneer.collect_protocol(build_scan(spark, _spec(path)))
    assert len(fallbacks) == 1
    assert _order(text) == expected


def test_follow_batch_over_head_rows_falls_back(
    spark, many_rows, fallbacks, follow_caught_up
):
    path, expected = many_rows
    text = follow_caught_up(dataclasses.replace(_spec(path), follow=True))
    assert fallbacks, "the micro-batch was not streamed"
    assert _order(text) == expected
