"""The one search runner (kbrowse_spark/search.py) behind /search and
the CLI: a consumer that goes away stops its search, and every failure,
a corrupt source or a passed deadline, ends with a closed array (or,
for ``--output-parquet``, an error on stderr)."""

from __future__ import annotations

import json
import time

import pytest

from kbrowse_spark.service.app import create_app
from kbrowse_spark.sources.fixture import golden_topic_a


@pytest.fixture(scope="module")
def topic_a_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("runner") / "topic_a.parquet")
    golden_topic_a(spark).write.parquet(path)
    return path


@pytest.fixture
def cli(spark, monkeypatch, capsys):
    """Run the CLI on the test session: (exit code, stdout, stderr)."""
    from kbrowse_spark import cli as cli_module
    from kbrowse_spark import session

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)

    def run(*argv: str) -> tuple[int, str, str]:
        code = cli_module.main(list(argv))
        captured = capsys.readouterr()
        return code, captured.out, captured.err

    return run


def _closed_with_error(text: str) -> None:
    rows = json.loads(text)
    assert rows[0] == {"type": "pioneer"}
    assert list(rows[-1]) == ["error"] and rows[-1]["error"]


def test_follow_client_close_stops_stream(spark, topic_a_path):
    """A follow /search whose client closes the response stops its
    streaming query, long before the kill switch."""
    before = {q.id for q in spark.streams.active}
    c = create_app(spark=spark).test_client()
    r = c.get(
        f"/search?source-parquet={topic_a_path}&topics=topic-a&follow=true"
        "&stop-after-seconds=600",
        buffered=False,
    )
    assert r.status_code == 200
    assert next(iter(r.response)).startswith(b'[{"type": "pioneer"}')

    def ours():
        return [q for q in spark.streams.active if q.id not in before]

    assert ours(), "the follow query should be running"
    r.close()
    deadline = time.monotonic() + 10
    while ours() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not ours()


def test_follow_idle_disconnect_stops_stream(spark, topic_a_path):
    """Under werkzeug's server, a follow /search whose client closes its
    socket while no row is coming stops its streaming query: the handler
    finds the closed socket without writing to it."""
    import socket
    import threading
    import urllib.parse

    from werkzeug.serving import make_server

    before = {q.id for q in spark.streams.active}

    def ours():
        return [q for q in spark.streams.active if q.id not in before]

    server = make_server("127.0.0.1", 0, create_app(spark=spark), threaded=True)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        qs = urllib.parse.urlencode({
            "source-parquet": topic_a_path, "topics": "topic-a",
            "follow": "true", "stop-after-seconds": "600",
        })
        sock = socket.create_connection(("127.0.0.1", server.port))
        sock.sendall(f"GET /search?{qs} HTTP/1.1\r\nHost: localhost\r\n\r\n".encode())
        sock.settimeout(60)
        body = b""
        while body.count(b'"type": "result"') < 3:  # caught up: now idle
            data = sock.recv(65536)
            assert data, f"the server closed the follow stream: {body!r}"
            body += data
        assert ours(), "the follow query should be running"
        sock.close()
        deadline = time.monotonic() + 10
        while ours() and time.monotonic() < deadline:
            time.sleep(0.1)
        assert not ours()
    finally:
        for q in ours():
            q.stop()
        server.shutdown()


def _error_only(err: str) -> None:
    """stderr is one {"error": ...} line, with no Python traceback."""
    assert "Traceback" not in err
    (line,) = err.strip().splitlines()
    assert list(json.loads(line)) == ["error"]


def test_cli_bounded_failure_closes_array(tmp_path, cli):
    """A bounded CLI search over a corrupt file prints the closed
    [pioneer, {"error": ...}] array on stdout and exits 1, as /search
    and CLI follow do; with --output-parquet it exits 1 with only the
    error, on stderr."""
    d = tmp_path / "corrupt"
    d.mkdir()
    (d / "x.parquet").write_bytes(b"not a parquet file" * 8)
    code, out, _ = cli("--source-parquet", str(d))
    assert code == 1
    _closed_with_error(out)

    code, out, err = cli(
        "--source-parquet", str(d), "--output-parquet", str(tmp_path / "out")
    )
    assert code == 1
    assert "written" not in out
    _error_only(err)


def test_bounded_deadline_closes_array(
    spark, topic_a_path, tmp_path, monkeypatch, cli
):
    """A bounded search whose deadline passes mid-scan (a slow decode
    stands in for a huge topic) is cancelled and ends with a closed
    array carrying the error, over /search and from the CLI, and an
    --output-parquet write is cancelled the same way."""
    from pyspark.sql import functions as F

    from kbrowse_spark.plans import planner

    @F.udf("string")
    def slow_decode(b):
        import time as _time

        _time.sleep(5)
        return bytes(b).decode() if b is not None else ""

    monkeypatch.setattr(planner, "string_decode", slow_decode)
    qs = f"source-parquet={topic_a_path}&topics=topic-a&stop-after-seconds=1"

    # Unhindered, a search takes at least 10 s: each row decodes its key
    # and its value at 5 s each.
    c = create_app(spark=spark).test_client()
    t0 = time.monotonic()
    r = c.get(f"/search?{qs}")
    assert r.status_code == 200
    _closed_with_error(r.get_data(as_text=True))
    assert time.monotonic() - t0 < 8
    assert c.get(f"/cached?{qs}").status_code == 404

    t0 = time.monotonic()
    code, out, _ = cli(
        "--source-parquet", topic_a_path, "--topics", "topic-a",
        "--stop-after-seconds", "1",
    )
    assert code == 1
    _closed_with_error(out)
    assert time.monotonic() - t0 < 8

    t0 = time.monotonic()
    code, out, err = cli(
        "--source-parquet", topic_a_path, "--topics", "topic-a",
        "--stop-after-seconds", "1", "--output-parquet", str(tmp_path / "out"),
    )
    assert code == 1
    assert "written" not in out
    _error_only(err)
    assert time.monotonic() - t0 < 8


def test_cli_parquet_with_follow_is_invalid(cli):
    """--output-parquet cannot follow: exit 2 before any search runs."""
    code, out, err = cli(
        "--source-parquet", "unused", "--follow", "--output-parquet", "unused",
        "--stop-after-seconds", "5",
    )
    assert code == 2
    assert out == ""
    _error_only(err)
