"""The fixture path's source snapshot (sources/fixture.py): a warm plan
over an unchanged path runs no Spark job, a changed listing replaces the
snapshot, and plan-time failures still close the pioneer array."""

from __future__ import annotations

import dataclasses
import datetime
import glob
import itertools
import json
import os
import shutil
import threading
from collections import OrderedDict

import pytest

from kbrowse_spark.functions.partitioner import default_partition
from kbrowse_spark.plans.planner import build_scan
from kbrowse_spark.plans.query_spec import QuerySpec
from kbrowse_spark.sinks.pioneer import collect_protocol
from kbrowse_spark.sources import fixture
from kbrowse_spark.sources.fixture import (
    ENVELOPE_SCHEMA,
    envelope_from_parquet,
    golden_topic_a,
    source_snapshot,
)

CORRUPT = b"not a parquet file" * 8
_groups = itertools.count()


def _land(spark, directory: str, name: str, offsets, topic: str = "t") -> None:
    """Write envelope rows (partition 0, value f"v{offset}") as one
    parquet file ``directory/name``."""
    ts = datetime.datetime(2024, 1, 1)
    rows = [(b"k", f"v{o}".encode(), topic, 0, o, ts, 0) for o in offsets]
    tmp = os.path.join(os.path.dirname(directory), f".stage-{name}")
    spark.createDataFrame(rows, ENVELOPE_SCHEMA).coalesce(1).write.parquet(tmp)
    os.makedirs(directory, exist_ok=True)
    os.replace(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], os.path.join(directory, name))
    shutil.rmtree(tmp)


def _values(spark, spec: QuerySpec) -> list[str]:
    return [r["value"] for r in json.loads(collect_protocol(build_scan(spark, spec)))[1:]]


def _jobs_in(spark, fn):
    """(result of fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"snapshot-test-{next(_groups)}"
    sc.setJobGroup(group, "source snapshot test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by it
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_build_scan_runs_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "topic_a")
    golden_topic_a(spark).write.parquet(path)
    spec = QuerySpec(
        source_parquet=path, topics=["topic-a"], key_regex="k0",
        default_partition=True, relative_offset=-5,
    ).validate()
    cold, cold_jobs = _jobs_in(spark, lambda: build_scan(spark, spec))
    warm, warm_jobs = _jobs_in(spark, lambda: build_scan(spark, spec))
    assert cold_jobs <= 3  # schema inference + one bounds aggregate
    assert warm_jobs == 0
    expected = json.loads(collect_protocol(cold))
    assert [r["value"] for r in expected[1:]] == ["v0", "v1"]
    assert json.loads(collect_protocol(warm)) == expected


def test_miss_resolves_through_planner_global(spark, tmp_path, monkeypatch):
    """The planner resolves the envelope through its module global
    ``envelope_from_parquet``, once per listing."""
    from kbrowse_spark.plans import planner

    calls = []
    resolve = planner.envelope_from_parquet
    monkeypatch.setattr(
        planner, "envelope_from_parquet",
        lambda snapshot: calls.append(snapshot.path) or resolve(snapshot),
    )
    d = str(tmp_path / "d")
    _land(spark, d, "a.parquet", range(3))
    spec = QuerySpec(source_parquet=d, key_regex="k").validate()
    assert _values(spark, spec) == ["v0", "v1", "v2"]
    assert _values(spark, spec) == ["v0", "v1", "v2"]
    assert calls == [d]


@pytest.mark.parametrize("follow", [False, True])
def test_cold_plan_lists_its_path_once(spark, tmp_path, monkeypatch, follow):
    """The envelope, batch or stream, is read through the snapshot that
    keyed the plan, so a cold plan lists the path once."""
    listed = []
    listing = fixture._listing
    monkeypatch.setattr(
        fixture, "_listing",
        lambda spark, path: listed.append(path) or listing(spark, path),
    )
    d = str(tmp_path / "d")
    _land(spark, d, "a.parquet", range(3))
    spec = QuerySpec(
        source_parquet=d, topics=["t"], relative_offset=-1, follow=follow
    ).validate()
    build_scan(spark, spec)
    assert listed == [d]


def test_appending_file_moves_relative_offset_window(spark, tmp_path):
    d = str(tmp_path / "d")
    _land(spark, d, "a.parquet", range(3))
    spec = QuerySpec(source_parquet=d, topics=["t"], relative_offset=-1).validate()
    assert _values(spark, spec) == ["v2"]
    _land(spark, d, "b.parquet", range(3, 5))
    assert _values(spark, spec) == ["v4"]


@pytest.mark.parametrize("form", ["{d}", "file://{d}", "{d}/{{a,b}}.parquet"])
def test_rewriting_file_in_place_invalidates(spark, tmp_path, form):
    """Same file name, new content: the listing (size, mtime) changes,
    so the snapshot is replaced, for a plain path, a URI and a Hadoop
    brace glob alike."""
    d = str(tmp_path / "d")
    _land(spark, d, "a.parquet", range(3))
    path = form.format(d=d)
    spec = QuerySpec(source_parquet=path, topics=["t"], relative_offset=-2).validate()
    assert _values(spark, spec) == ["v1", "v2"]
    before = source_snapshot(spark, path, envelope_from_parquet)
    assert [os.path.basename(f[0]) for f in fixture._listing(spark, path)] == ["a.parquet"]
    assert source_snapshot(spark, path, envelope_from_parquet) is before
    _land(spark, d, "a.parquet", range(10, 14))
    assert source_snapshot(spark, path, envelope_from_parquet) is not before
    assert _values(spark, spec) == ["v12", "v13"]


def test_concurrent_lookups_share_one_snapshot(spark, tmp_path):
    """Threads looking up a path at the same moment all get the same
    snapshot: the check-then-insert on the cache is atomic.  Nothing is
    read, since a snapshot resolves on first use."""
    import sys

    paths = []
    for r in range(40):
        (tmp_path / f"d{r}").mkdir()
        (tmp_path / f"d{r}" / "a.parquet").write_bytes(b"x")
        paths.append(str(tmp_path / f"d{r}"))
    n_threads = 16
    seen = [[] for _ in paths]
    barrier = threading.Barrier(n_threads)

    def lookup():
        for r, path in enumerate(paths):
            barrier.wait(timeout=60)
            seen[r].append(id(source_snapshot(spark, path, envelope_from_parquet)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lookup) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert all(len(ids) == n_threads and len(set(ids)) == 1 for ids in seen)


def test_listing_skips_files_spark_skips(spark, tmp_path):
    path = str(tmp_path / "w")
    golden_topic_a(spark).write.parquet(path)  # writes _SUCCESS and .crc files
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    (tmp_path / "w" / "_p=1").mkdir()  # a partition directory, read by Spark
    (tmp_path / "w" / "_p=1" / "q.parquet").write_bytes(b"x")
    (tmp_path / "w" / "r.parquet._COPYING_").write_bytes(b"x")
    listed = [os.path.relpath(f[0].removeprefix("file:"), path)
              for f in fixture._listing(spark, path)]
    assert listed == sorted(parts + [os.path.join("_p=1", "q.parquet")])


def test_followed_directory_keeps_one_snapshot(spark, tmp_path, monkeypatch, follow_caught_up):
    """Files landing in a followed directory replace its snapshot; the
    cache never holds more than the one entry for that path."""
    monkeypatch.setattr(fixture, "_SNAPSHOTS", OrderedDict())
    d = str(tmp_path / "followed")
    _land(spark, d, "f0.parquet", range(2))
    spec = QuerySpec(source_parquet=d, topics=["t"], relative_offset=-1).validate()
    for i in range(1, 4):
        _land(spark, d, f"f{i}.parquet", range(2 * i, 2 * i + 2))
        followed = follow_caught_up(dataclasses.replace(spec, follow=True))
        # follow keeps the start bound: from the latest offset on.
        assert [r["value"] for r in json.loads(followed)[1:]] == [f"v{2 * i + 1}"]
        assert _values(spark, spec) == [f"v{2 * i + 1}"]
    assert list(fixture._SNAPSHOTS) == [d]
    key, _snap = fixture._SNAPSHOTS[d]
    assert key[1] == fixture._listing(spark, d)


def test_cache_keeps_most_recently_used_paths(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(fixture, "_SNAPSHOTS", OrderedDict())
    paths = [str(tmp_path / f"p{i}") for i in range(fixture._MAX_SNAPSHOTS + 1)]
    first = source_snapshot(spark, paths[0], envelope_from_parquet)
    for path in paths[1:-1]:
        source_snapshot(spark, path, envelope_from_parquet)
    assert source_snapshot(spark, paths[0], envelope_from_parquet) is first
    source_snapshot(spark, paths[-1], envelope_from_parquet)
    assert len(fixture._SNAPSHOTS) == fixture._MAX_SNAPSHOTS
    assert paths[1] not in fixture._SNAPSHOTS
    assert source_snapshot(spark, paths[0], envelope_from_parquet) is first


def test_cold_path_does_not_wait_on_another_paths_job(spark, tmp_path):
    """While one path's envelope is still resolving, a cold plan of
    another path runs to the end."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _land(spark, a, "a.parquet", range(2))
    _land(spark, b, "b.parquet", range(3))
    entered, release = threading.Event(), threading.Event()

    def slow_resolve(snapshot):
        entered.set()
        release.wait(timeout=120)
        return envelope_from_parquet(snapshot)

    slow = source_snapshot(spark, a, slow_resolve)
    blocked = threading.Thread(target=lambda: slow.bounds)
    blocked.start()
    try:
        assert entered.wait(timeout=60)
        spec = QuerySpec(source_parquet=b, topics=["t"], relative_offset=-1).validate()
        other = []
        t = threading.Thread(target=lambda: other.append(_values(spark, spec)))
        t.start()
        t.join(timeout=120)
        assert other == [["v2"]]
        assert blocked.is_alive()
    finally:
        release.set()
        blocked.join(timeout=120)
    assert slow.bounds == {("t", 0): (0, 2)}


def test_partition_count_hint_skips_bounds(spark, tmp_path):
    """Explicit topics and a ``num_partitions`` hint give every count,
    so without a relative offset the plan reads no offset bounds."""
    path = str(tmp_path / "topic_a")
    golden_topic_a(spark).write.parquet(path)
    spec = QuerySpec(
        source_parquet=path, topics=["topic-a"], key_regex="k0",
        default_partition=True, num_partitions=10,
    ).validate()
    scan, jobs = _jobs_in(spark, lambda: build_scan(spark, spec))
    assert jobs <= 1  # schema inference only
    assert source_snapshot(spark, path, envelope_from_parquet)._bounds is None
    assert [r["value"] for r in json.loads(collect_protocol(scan))[1:]] == ["v0", "v1"]


def test_concurrent_cold_searches_agree(spark, tmp_path):
    from kbrowse_spark.service.app import create_app

    path = str(tmp_path / "topic_a")
    golden_topic_a(spark).write.parquet(path)
    app = create_app(spark=spark)
    qs = (f"source-parquet={path}&topics=topic-a&key-regex=k0"
          "&default-partition=true&relative-offset=-1")
    barrier, bodies = threading.Barrier(2), [None, None]

    def search(i):
        c = app.test_client()
        barrier.wait()
        bodies[i] = c.get(f"/search?{qs}").get_data(as_text=True)

    threads = [threading.Thread(target=search, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert bodies[0] == bodies[1]
    # Oracle: golden_topic_a's records placed by murmur2; keep k0's
    # partition, then its last offset (relative offset -1).
    placed: dict[int, list] = {}
    for k, v in [("k0", "v0"), ("k0", "v1"), ("k2", "v2")]:
        placed.setdefault(default_partition(k, 10), []).append((k, v))
    expected = [v for k, v in placed[default_partition("k0", 10)][-1:] if k == "k0"]
    rows = json.loads(bodies[0])
    assert rows[0] == {"type": "pioneer"}
    assert [r["value"] for r in rows[1:]] == expected == ["v1"]


# --- plan-time failures keep the array closed ---------------------------

@pytest.fixture
def corrupt_dir(tmp_path):
    d = tmp_path / "corrupt"
    d.mkdir()
    (d / "x.parquet").write_bytes(CORRUPT)
    return str(d)


def _closed_with_error(text: str) -> None:
    rows = json.loads(text)
    assert rows[0] == {"type": "pioneer"}
    assert list(rows[-1]) == ["error"] and rows[-1]["error"]


def test_follow_plan_failure_closes_array(spark, corrupt_dir):
    from kbrowse_spark.service.app import create_app

    c = create_app(spark=spark).test_client()
    r = c.get(f"/search?source-parquet={corrupt_dir}&follow=true&stop-after-seconds=5")
    assert r.status_code == 200
    _closed_with_error(r.get_data(as_text=True))


def test_cli_follow_plan_failure_closes_array(spark, corrupt_dir, monkeypatch, capsys):
    from kbrowse_spark import cli, session

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    code = cli.main(
        ["--source-parquet", corrupt_dir, "--follow", "--stop-after-seconds", "5"]
    )
    assert code != 0
    _closed_with_error(capsys.readouterr().out)


def test_bounded_search_plan_failure_closes_array(spark, tmp_path):
    """A good file plus a corrupt one: the cold bounds aggregate fails
    inside build_scan; the response is a closed array, not a 500, and
    is not cached.  Bad arguments stay 400 (Q8)."""
    from kbrowse_spark.service.app import create_app

    d = str(tmp_path / "mixed")
    _land(spark, d, "a.parquet", range(3))
    with open(os.path.join(d, "x.parquet"), "wb") as f:
        f.write(CORRUPT)
    c = create_app(spark=spark).test_client()
    qs = f"source-parquet={d}&topics=t&relative-offset=-1"
    r = c.get(f"/search?{qs}")
    assert r.status_code == 200
    _closed_with_error(r.get_data(as_text=True))
    assert c.get(f"/cached?{qs}").status_code == 404
    bad = c.get(f"/search?source-parquet={d}&default-partition=true")
    assert bad.status_code == 400 and "error" in bad.get_json()


# --- table reads (sources/tables.py) share the cache ------------------------

def test_warm_table_load_runs_no_spark_job(spark, sf_dir):
    from kbrowse_spark.sources import tables

    tables.load(spark, sf_dir, "lineitem")
    df, jobs = _jobs_in(spark, lambda: tables.load(spark, sf_dir, "lineitem"))
    assert jobs == 0
    # A new relation on every call, never a shared one.
    assert df is not tables.load(spark, sf_dir, "lineitem")


def test_rewritten_table_file_is_read_afresh(spark, sf_dir, tmp_path):
    """Same table file name, new content with an extra column: the next
    load sees the column, since the listing keys the cached schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kbrowse_spark.sources import tables

    d = str(tmp_path / "sf")
    os.makedirs(d)
    nation = pq.read_table(tables.table_path(sf_dir, "nation"))
    pq.write_table(nation, tables.table_path(d, "nation"))
    assert tables.load(spark, d, "nation").columns == nation.column_names
    assert tables.load(spark, d, "nation").count() == nation.num_rows
    grown = nation.append_column("n_extra", pa.array(range(nation.num_rows)))
    pq.write_table(grown, tables.table_path(d, "nation"))
    df = tables.load(spark, d, "nation")
    assert df.columns == nation.column_names + ["n_extra"]
    assert sorted(r.n_extra for r in df.collect()) == list(range(nation.num_rows))


def test_two_loads_of_one_table_join_in_one_plan(spark, sf_dir):
    """Each load is its own relation, so a self-join of two loads (as
    q7_nation_volume's two nation sides) gives DuckDB's answer."""
    import duckdb
    from pyspark.sql import functions as F

    from kbrowse_spark.sources import tables

    a = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("a"), F.col("n_regionkey").alias("r"))
    b = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("b"), F.col("n_regionkey").alias("r"))
    got = sorted(tuple(row) for row in
                 a.join(b, "r").filter("a < b").groupBy("r").count().collect())
    path = tables.table_path(sf_dir, "nation")
    want = sorted(duckdb.sql(
        f"SELECT x.n_regionkey, count(*) FROM '{path}' x JOIN '{path}' y"
        " ON x.n_regionkey = y.n_regionkey AND x.n_nationkey < y.n_nationkey"
        " GROUP BY 1"
    ).fetchall())
    assert got == want and got
