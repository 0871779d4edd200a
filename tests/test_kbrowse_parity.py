"""Golden parity tests reproducing the reference's integration suite
(`/root/reference/run-integration-tests`) on the fixture source,
plus the semantics quirks from SURVEY.md §2b.
"""

from __future__ import annotations

import json

import pytest

from kbrowse_spark.functions.decoders import (
    msgpack_decode_py,
    stringify,
    try_parse_json,
)
from kbrowse_spark.functions.partitioner import default_partition, murmur2
from kbrowse_spark.plans.planner import build_scan
from kbrowse_spark.plans.query_spec import QuerySpec, QuerySpecError
from kbrowse_spark.sinks.pioneer import collect_protocol
from kbrowse_spark.sources.fixture import golden_topic_a


@pytest.fixture(scope="module")
def topic_a_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fixture") / "topic_a.parquet")
    golden_topic_a(spark).write.parquet(path)
    return path


def run_query(spark, path, **kw) -> list[dict]:
    spec = QuerySpec(source_parquet=path, topics=["topic-a"], **kw).validate()
    return json.loads(collect_protocol(build_scan(spark, spec)))


# --- murmur2 / default-partition goldens (O5) ---------------------------

def test_murmur2_default_partition_golden():
    # run-integration-tests:145-150: k2 lands on partition 3 of 10
    assert default_partition("k2", 10) == 3


def test_murmur2_stability():
    # Same key, same hash — and k0's two records co-locate (A2).
    assert default_partition("k0", 10) == default_partition("k0", 10)
    assert 0 <= default_partition(b"\x00\x01\x02\x03\x04", 7) < 7
    assert murmur2(b"") == murmur2(b"")


# --- reference CLI integration asserts (run-integration-tests) ----------

def test_pioneer_first_row(spark, topic_a_path):
    rows = run_query(spark, topic_a_path, key_regex="k0")
    assert rows[0] == {"type": "pioneer"}


def test_key_exact(spark, topic_a_path):
    # :105-110 — --key-regex 'k0' -> [1].key == 'k0'
    rows = run_query(spark, topic_a_path, key_regex="k0")
    assert rows[1]["key"] == "k0"
    assert {r["value"] for r in rows[1:]} == {"v0", "v1"}


def test_key_fuzzy(spark, topic_a_path):
    # :113-118 — 'k.*' -> [1].value == 'v0'
    rows = run_query(spark, topic_a_path, key_regex="k.*")
    assert rows[1]["value"] == "v0"
    assert len(rows) == 4  # pioneer + 3 records


def test_value_exact_and_fuzzy(spark, topic_a_path):
    rows = run_query(spark, topic_a_path, value_regex="v0")
    assert [r["value"] for r in rows[1:]] == ["v0"]
    rows = run_query(spark, topic_a_path, value_regex="v.*")
    assert len(rows) == 4


def test_relative_offset_tail(spark, topic_a_path):
    # :137-142 — --relative-offset 1: k0's partition has offsets 0,1 ->
    # scan starts at 1, so the first emitted k0 row is v1.
    rows = run_query(spark, topic_a_path, key_regex="k0", relative_offset=1)
    assert [r["value"] for r in rows[1:]] == ["v1"]


def test_partition_pruning_explicit(spark, topic_a_path):
    # :145-150 — --partitions 3 sees only v2 (k2 -> partition 3)
    rows = run_query(spark, topic_a_path, partitions=[3])
    assert [r["value"] for r in rows[1:]] == ["v2"]


def test_default_partition_pruning(spark, topic_a_path):
    # O5: --default-partition --key-regex k2 scans only k2's partition.
    rows = run_query(spark, topic_a_path, key_regex="k2", default_partition=True)
    assert [r["value"] for r in rows[1:]] == ["v2"]


# --- regex semantics (Q2): full match, not find -------------------------

def test_regex_full_match_semantics(spark, topic_a_path):
    # 'k' must NOT match 'k0' (re-matches consumes the whole string).
    rows = run_query(spark, topic_a_path, key_regex="k")
    assert len(rows) == 1  # pioneer only
    # '.*0' matches 'k0' but not 'k2'.
    rows = run_query(spark, topic_a_path, key_regex=".*0")
    assert {r["key"] for r in rows[1:]} == {"k0"}


# --- msgpack decoding goldens (O11/Q3) ----------------------------------

def test_msgpack_single_byte_ints():
    # run-integration-tests:153-167: 'k' (0x6b) decodes to int 107,
    # 'v' (0x76) to 118; regex '107' matches the decimal rendering.
    assert msgpack_decode_py(b"k") == 107
    assert msgpack_decode_py(b"v") == 118
    assert stringify(msgpack_decode_py(b"k")) == "107"


def test_msgpack_containers_and_scalars():
    assert msgpack_decode_py(bytes([0x93, 1, 2, 3])) == [1, 2, 3]
    assert msgpack_decode_py(bytes([0x81, 0xA1, ord("a"), 5])) == {"a": 5}
    assert msgpack_decode_py(bytes([0xC0])) is None
    assert msgpack_decode_py(bytes([0xC3])) is True
    assert msgpack_decode_py(bytes([0xE0])) == -32
    assert msgpack_decode_py(bytes([0xCD, 0x01, 0x00])) == 256
    assert msgpack_decode_py(b"\xa5hello") == "hello"


def test_msgpack_udf_matches_regex(spark, topic_a_path):
    # The full pipeline with msgpack deserializers: regex '107' against
    # the stringified decoded key finds all k* records (first byte k).
    rows = run_query(
        spark,
        topic_a_path,
        key_regex="107",
        key_deserializer="msgpack",
        value_deserializer="msgpack",
    )
    # Reference expects 3 hits: every key's first byte is 'k' (0x6b),
    # and msgpack decodes just the first value -> all keys become 107
    # (run-integration-tests:161-167 — the serializer-confusion probe).
    assert len(rows) == 4  # pioneer + all 3 records
    assert all(r["key"] == 107 for r in rows[1:])


# --- null semantics (Q6) ------------------------------------------------

def test_null_key_value_semantics(spark, tmp_path):
    import datetime

    from kbrowse_spark.sources.fixture import ENVELOPE_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (None, b"v-nullkey", "t", 0, 0, ts, 0),
            (b"k-nullval", None, "t", 0, 1, ts, 0),
            (b"jk", b'{"user": "u1", "n": 3}', "t", 0, 2, ts, 0),
            (b"jv", b"not-json{", "t", 0, 3, ts, 0),
            (b"jn", b"null", "t", 0, 4, ts, 0),
        ],
        ENVELOPE_SCHEMA,
    )
    path = str(tmp_path / "nulls.parquet")
    df.write.parquet(path)

    def q(**kw):
        spec = QuerySpec(source_parquet=path, topics=["t"], **kw).validate()
        return json.loads(collect_protocol(build_scan(spark, spec)))

    # (str nil) = "" -> null key matches only empty-accepting regexes
    rows = q(key_regex=".*")
    assert len(rows) == 6
    rows = q(key_regex="")
    assert [r["offset"] for r in rows[1:]] == [0]
    # JSON value parses to object; non-JSON stays raw; "null" -> None
    rows = q(key_regex="jk")
    assert rows[1]["value"] == {"user": "u1", "n": 3}
    rows = q(key_regex="jv")
    assert rows[1]["value"] == "not-json{"
    rows = q(key_regex="jn")
    assert rows[1]["value"] is None


def test_try_parse_json_edges():
    assert try_parse_json("") == ""  # parse failure keeps input (Q6)
    assert try_parse_json("null") is None
    assert try_parse_json("[1, 2]") == [1, 2]
    assert try_parse_json("nope{") == "nope{"


# --- progress tap (O16/Q5) ----------------------------------------------

def test_progress_rows_regardless_of_match(spark, topic_a_path):
    rows = run_query(spark, topic_a_path, key_regex="nomatch.*x", print_offset=1)
    # No results, but every record emits a progress row at offset%1==0.
    assert rows[0] == {"type": "pioneer"}
    assert all(r["type"] == "offset" for r in rows[1:])
    assert len(rows) == 4
    # Q5: progress timestamps are date-rendered strings, not millis.
    assert isinstance(rows[1]["timestamp"], str)


# --- validation parity (cli.clj:58-66) ----------------------------------

def test_validation_rules():
    with pytest.raises(QuerySpecError):
        QuerySpec(source_parquet="x", topics=["t"], default_partition=True).validate()
    with pytest.raises(QuerySpecError):
        QuerySpec(
            source_parquet="x",
            topics=["t"],
            default_partition=True,
            key_regex="k",
            partitions=[1],
        ).validate()
    with pytest.raises(QuerySpecError):
        QuerySpec(
            source_parquet="x",
            topics=["t"],
            start_timestamp="2024-01-01",
            relative_offset=5,
        ).validate()
    # and the happy path
    QuerySpec(source_parquet="x", topics=["t"], key_regex="k").validate()


# --- offset snapshot / Q9 clamping --------------------------------------

def test_relative_offset_clamping(spark, topic_a_path):
    # n far beyond latest: clamped to latest -> empty scan, no error
    rows = run_query(spark, topic_a_path, key_regex=".*", relative_offset=99)
    assert len(rows) == 1
    # negative n beyond earliest: clamped to earliest -> full scan
    rows = run_query(spark, topic_a_path, key_regex=".*", relative_offset=-99)
    assert len(rows) == 4


def test_option_math_pure():
    from kbrowse_spark.sources.kafka import (
        assign_json,
        ending_offsets_json,
        kafka_batch_options,
        resolve_partitions,
        starting_offsets_json,
    )

    counts = {"a": 3, "b": 2}
    asg = resolve_partitions(["a", "b"], counts, None, None)
    assert asg == {"a": [0, 1, 2], "b": [0, 1]}
    asg2 = resolve_partitions(["a", "b"], counts, [0, 2], None)
    assert asg2 == {"a": [0, 2], "b": [0]}  # per-topic pruning in range
    # a partition valid on NO topic is an error, not an empty scan
    with pytest.raises(QuerySpecError, match=r"out of range.*\[9\]"):
        resolve_partitions(["a"], counts, [0, 2, 9], None)
    earliest = {("a", 0): 5, ("a", 1): 0, ("a", 2): 0}
    latest = {("a", 0): 100, ("a", 1): 50, ("a", 2): 7}
    s = json.loads(
        starting_offsets_json({"a": [0, 1, 2]}, earliest, latest, -10)
    )
    assert s == {"a": {"0": 90, "1": 40, "2": 0}}  # tail-10, clamped at earliest
    s2 = json.loads(starting_offsets_json({"a": [0]}, earliest, latest, 200))
    assert s2 == {"a": {"0": 100}}  # clamped at latest (Q9)
    assert ending_offsets_json({"a": [0]}) == "latest"
    opts = kafka_batch_options("h:9092", asg, "earliest")
    assert json.loads(opts["assign"]) == {"a": [0, 1, 2], "b": [0, 1]}


def test_hot_topic_scale_knobs():
    """minPartitions (batch + stream) and maxOffsetsPerTrigger (stream)
    — the two knobs a hot 100 TB topic needs — flow from QuerySpec into
    the source options."""
    from kbrowse_spark.sources.kafka import (
        kafka_batch_options,
        kafka_stream_options,
    )

    asg = {"a": [0, 1]}
    opts = kafka_batch_options("h:9092", asg, "earliest", min_partitions=64)
    assert opts["minPartitions"] == "64"
    assert "maxOffsetsPerTrigger" not in opts  # batch has no trigger
    sopts = kafka_stream_options(
        "h:9092", asg, "earliest", max_offsets_per_trigger=100000, min_partitions=64
    )
    assert sopts["maxOffsetsPerTrigger"] == "100000"
    assert sopts["minPartitions"] == "64"
    # unset -> absent (Spark defaults apply)
    sopts2 = kafka_stream_options("h:9092", asg, "earliest")
    assert "maxOffsetsPerTrigger" not in sopts2 and "minPartitions" not in sopts2
    # QuerySpec parsing + validation
    spec = QuerySpec.from_options(
        {
            "source-parquet": "x",
            "topics": "t",
            "min-partitions": "64",
            "max-offsets-per-trigger": "100000",
        }
    )
    assert spec.min_partitions == 64
    assert spec.max_offsets_per_trigger == 100000
    with pytest.raises(QuerySpecError):
        QuerySpec.from_options(
            {"source-parquet": "x", "topics": "t", "min-partitions": "0"}
        )


# --- avro decoding (O11, Confluent wire format A6) -----------------------

def _zigzag(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_ev(id_val: int, tag: str) -> bytes:
    # record Ev {id: long, tag: string} in Confluent wire format, id=1
    body = _zigzag(id_val) + _zigzag(len(tag)) + tag.encode()
    return b"\x00" + (1).to_bytes(4, "big") + body


AVRO_SCHEMA = (
    '{"type":"record","name":"Ev","fields":'
    '[{"name":"id","type":"long"},{"name":"tag","type":"string"}]}'
)


def test_avro_decode_pure():
    from kbrowse_spark.functions.avro import avro_decode, strip_confluent_header

    sid, body = strip_confluent_header(_avro_ev(42, "hello"))
    assert sid == 1
    assert avro_decode(AVRO_SCHEMA, body) == {"id": 42, "tag": "hello"}
    # negative long zigzag + union + array round-trip
    assert avro_decode('"long"', _zigzag(-7)) == -7
    assert avro_decode('["null", "long"]', _zigzag(1) + _zigzag(9)) == 9
    arr_schema = '{"type":"array","items":"long"}'
    payload = _zigzag(2) + _zigzag(3) + _zigzag(4) + _zigzag(0)
    assert avro_decode(arr_schema, payload) == [3, 4]


def test_avro_pipeline_regex(spark, tmp_path):
    import datetime

    from kbrowse_spark.sources.fixture import ENVELOPE_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (b"a1", _avro_ev(1, "alpha"), "av", 0, 0, ts, 0),
            (b"a2", _avro_ev(2, "beta"), "av", 0, 1, ts, 0),
        ],
        ENVELOPE_SCHEMA,
    )
    path = str(tmp_path / "avro.parquet")
    df.write.parquet(path)
    spec = QuerySpec(
        source_parquet=path,
        topics=["av"],
        value_deserializer="avro",
        avro_value_schema=AVRO_SCHEMA,
        value_regex='.*"tag": "alpha".*',
    ).validate()
    rows = json.loads(collect_protocol(build_scan(spark, spec)))
    assert len(rows) == 2
    assert rows[1]["value"] == {"id": 1, "tag": "alpha"}


# --- stop-timestamp bound (O9) ------------------------------------------

def test_stop_timestamp_bound(spark, topic_a_path):
    # Records at seconds 0,1,2 of 2024-01-01; bound at :01 keeps 2.
    rows = run_query(
        spark, topic_a_path, key_regex=".*", stop_timestamp="2024-01-01 00:00:01"
    )
    assert len(rows) == 3
    assert {r["value"] for r in rows[1:]} == {"v0", "v1"}


def test_start_timestamp_bound(spark, topic_a_path):
    # Records at seconds 0,1,2; start at :01 drops the first — the
    # reference validates --start-timestamp but never applies it
    # (SURVEY O9); this engine implements it for real.
    rows = run_query(
        spark, topic_a_path, key_regex=".*", start_timestamp="2024-01-01 00:00:01"
    )
    assert len(rows) == 3
    assert {r["value"] for r in rows[1:]} == {"v1", "v2"}


# --- multi-topic scan with per-topic partition discovery (Q1) ------------

def test_multi_topic_per_topic_partitions(spark, tmp_path):
    import datetime

    from kbrowse_spark.sources.fixture import ENVELOPE_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    # topic-x has partitions 0..2, topic-y only partition 0 —
    # heterogeneous partition counts (the case the reference gets
    # wrong by deriving every topic's list from the first topic).
    df = spark.createDataFrame(
        [
            (b"a", b"x0", "topic-x", 0, 0, ts, 0),
            (b"a", b"x2", "topic-x", 2, 0, ts, 0),
            (b"a", b"y0", "topic-y", 0, 0, ts, 0),
        ],
        ENVELOPE_SCHEMA,
    )
    path = str(tmp_path / "multi.parquet")
    df.write.parquet(path)
    spec = QuerySpec(
        source_parquet=path, topics=["topic-x", "topic-y"], key_regex=".*"
    ).validate()
    rows = json.loads(collect_protocol(build_scan(spark, spec)))
    assert {r["value"] for r in rows[1:]} == {"x0", "x2", "y0"}
    # explicit partition list prunes per topic, in range per topic
    spec2 = QuerySpec(
        source_parquet=path,
        topics=["topic-x", "topic-y"],
        key_regex=".*",
        partitions=[2],
    ).validate()
    rows2 = json.loads(collect_protocol(build_scan(spark, spec2)))
    assert {r["value"] for r in rows2[1:]} == {"x2"}


def test_offsets_by_timestamp_json():
    from kbrowse_spark.sources.kafka import offsets_by_timestamp_json

    s = json.loads(offsets_by_timestamp_json({"a": [0, 1], "b": [0]}, 1700000000000))
    assert s == {"a": {"0": 1700000000000, "1": 1700000000000},
                 "b": {"0": 1700000000000}}


def test_num_partitions_hint_fixes_inference(spark, tmp_path):
    """Data-only inference of the partition count (max+1) breaks
    default-partition pruning when high partitions are empty; the
    --num-partitions hint supplies the true count."""
    import datetime

    from kbrowse_spark.sources.fixture import ENVELOPE_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    # Find a key whose target partition differs between N=10 and the
    # inferred count, to prove the hint changes the plan.
    key = next(
        k
        for k in (f"key-{i}" for i in range(1000))
        if default_partition(k, 10) != default_partition(k, 3)
        and default_partition(k, 10) <= 2
    )
    p10 = default_partition(key, 10)
    # Records only on partitions 0..2 of a 10-partition topic.
    df = spark.createDataFrame(
        [(key.encode(), b"hit", "t", p10, 0, ts, 0),
         (b"other", b"miss", "t", (p10 + 1) % 3, 0, ts, 0)],
        ENVELOPE_SCHEMA,
    )
    path = str(tmp_path / "hint.parquet")
    df.write.parquet(path)
    spec = QuerySpec(
        source_parquet=path,
        topics=["t"],
        key_regex=key,
        default_partition=True,
        num_partitions=10,
    ).validate()
    rows = json.loads(collect_protocol(build_scan(spark, spec)))
    assert [r["value"] for r in rows[1:]] == ["hit"]


def test_scan_order_modes(spark, topic_a_path):
    """A batch scan is totally ordered: one global sort."""
    spec = QuerySpec(
        source_parquet=topic_a_path, topics=["topic-a"], key_regex=".*"
    ).validate()
    det = build_scan(spark, spec)
    def sort_flags(df) -> list[bool]:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # logical Sort prints "Sort [cols...], <global>" per line
        return [
            "true" in line.rsplit("]", 1)[-1]
            for line in plan.splitlines()
            if line.lstrip("+- ").startswith("Sort [")
        ]

    assert sort_flags(det) == [True]  # one global sort
