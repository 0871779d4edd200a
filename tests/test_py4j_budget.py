"""Planning without Python-to-JVM chatter: the engine's sessions run
without PySpark's per-call call-site capture, a warm point search is
planned in a fixed number of py4j calls whatever the partition count,
and the SQL string literals that make that possible round-trip."""

from __future__ import annotations

import datetime
import os
import subprocess
import sys
import threading

import pytest

from kbrowse_spark.plans.planner import build_scan
from kbrowse_spark.plans.query_spec import QuerySpec
from tests.test_source_snapshot import _land, _values

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A warm search over a one-file topic measured 54 calls: ~28 for the
# snapshot's key (the file listing and the application id) and ~26 for
# one filter and one sort.  Before the condition became one SQL string
# it was 713 at 4 partitions and 3,653 at 32.
WARM_BUILD_SCAN_CALLS = 64


def test_call_site_capture_is_off_after_get_spark():
    """In a fresh process, as the CLI, bench and batch workers start:
    after ``get_spark`` a Column built on the main thread captures no
    call site, and PySpark never imports IPython."""
    probe = (
        "import sys\n"
        "from pyspark.errors.utils import is_debugging_enabled\n"
        "from pyspark.sql import functions as F\n"
        "from kbrowse_spark.session import get_spark\n"
        "get_spark('capture_probe', master='local[1]')\n"
        "(F.col('topic') == 'x') & (F.col('partition') == 3)\n"
        "print('RESULT', is_debugging_enabled(), 'IPython' in sys.modules)\n"
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="512m", PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-3:] == ["RESULT", "False", "False"]


def _calls_in(fn) -> int:
    """py4j commands this thread sends while running ``fn()``."""
    import py4j.clientserver as cs

    me, n = threading.get_ident(), [0]
    send = cs.ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        if threading.get_ident() == me:
            n[0] += 1
        return send(self, *args, **kwargs)

    cs.ClientServerConnection.send_command = counted
    try:
        fn()
    finally:
        cs.ClientServerConnection.send_command = send
    return n[0]


def _one_file_topic(spark, directory: str, partitions: int) -> str:
    from kbrowse_spark.sources.fixture import ENVELOPE_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    rows = [(f"k{i}".encode(), b"v", "t", i % partitions, i // partitions, ts, 0)
            for i in range(8 * partitions)]
    tmp = directory + ".stage"
    spark.createDataFrame(rows, ENVELOPE_SCHEMA).coalesce(1).write.parquet(tmp)
    os.makedirs(directory)
    part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
    os.replace(os.path.join(tmp, part), os.path.join(directory, "a.parquet"))
    return directory


def test_warm_build_scan_py4j_calls_do_not_grow_with_partitions(spark, tmp_path):
    calls = {}
    for n in (4, 32):
        path = _one_file_topic(spark, str(tmp_path / f"p{n}"), n)
        spec = QuerySpec(
            source_parquet=path, topics=["t"], key_regex="k1.*", relative_offset=-3,
        ).validate()
        build_scan(spark, spec)  # cold: schema, bounds, projection
        calls[n] = _calls_in(lambda: build_scan(spark, spec))
    assert calls[4] == calls[32] <= WARM_BUILD_SCAN_CALLS, calls


@pytest.mark.parametrize("s", [
    "plain", "it's", "back\\slash", "\\A(?:k0)\\z", "\\'", "\\\\'", "''",
    "${env:HOME}", "$${spark.app.name}", "\\${x}", "100%_x\\%\\_", "new\nline",
    "tab\there", "ünïcødé ✓", "\\u0041\\101", "-- not a comment", "/* nor this */",
])
def test_sql_string_round_trips(spark, s):
    from kbrowse_spark.plans.planner import sql_string

    assert spark.range(1).selectExpr(f"{sql_string(s)} AS s").first()["s"] == s


def test_regex_and_topic_with_quotes_and_backslashes(spark, tmp_path):
    """A key regex and a topic name that need escaping select the same
    records as the regex does in Python."""
    d = str(tmp_path / "d")
    _land(spark, d, "a.parquet", range(3), topic="it's\\$x")
    spec = QuerySpec(
        source_parquet=d, topics=["it's\\$x"], key_regex="[k'\\\\]\\w*",
        relative_offset=-2,
    ).validate()
    assert _values(spark, spec) == ["v1", "v2"]
