"""Pioneer-protocol sink: the reference's streaming JSON-array wire
format (SURVEY O17), preserved byte-for-byte so any kbrowse client can
consume this engine's output.

Protocol (`src/kbrowse/search.clj:25-32,159-160,201`):
``[`` then ``{"type": "pioneer"}`` then ``, <row>`` per row then ``]``;
a failed scan ends ``, {"error": msg}]``.  /search, the CLI and follow
mode all take that framing from this module.
Result rows carry epoch-millis timestamps and best-effort JSON-parsed
key/value (O14/O15); progress rows carry a rendered date string (Q5).

Rows reach the driver through ``sorted_rows``: a result of at most
``HEAD_ROWS`` rows, every point search and follow micro-batch in
practice, comes back in one Spark job (the sorted plan's head, which
Catalyst runs as a single ``TakeOrderedAndProject``); a larger one is
streamed through ``toLocalIterator``, one partition in memory at a time.
Either way driver memory stays bounded.  The HTTP layer flushes per
chunk exactly like the reference's piped output stream.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row

from kbrowse_spark.functions.decoders import try_parse_json

PIONEER = {"type": "pioneer"}
# Rows a result may hold and still reach the driver in one Spark job;
# the hottest benchmark key returns ~3k.
HEAD_ROWS = 10_000


def render_row(row) -> dict:
    """Envelope row -> wire dict (type-discriminated rendering)."""
    import datetime

    ts = row["timestamp"]
    # Spark returns naive datetimes in SESSION timezone (our sessions
    # pin UTC); naive .timestamp() would apply the OS timezone — pin
    # UTC explicitly so the epoch is right on any host.
    if ts is not None and ts.tzinfo is None:
        ts = ts.replace(tzinfo=datetime.timezone.utc)
    if row["type"] == "result":
        # epoch millis (search.clj:37)
        ts_out = int(ts.timestamp() * 1000) if ts is not None else None
        return {
            "type": "result",
            "timestamp": ts_out,
            "partition": row["partition"],
            "offset": row["offset"],
            "topic": row["topic"],
            "key": try_parse_json(row["key_str"]),
            "value": try_parse_json(row["value_str"]),
        }
    # progress rows: Date-rendered timestamp, raw strings (Q5,
    # search.clj:83-93).  ISO-8601 with T/Z — cheshire serializes
    # java.util.Date as yyyy-MM-dd'T'HH:mm:ss'Z', so existing kbrowse
    # clients parse the same format off this wire.
    return {
        "type": "offset",
        "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ") if ts is not None else None,
        "partition": row["partition"],
        "offset": row["offset"],
        "topic": row["topic"],
        "key": row["key_str"],
        "value": row["value_str"],
    }


def _dump(obj, pretty: bool) -> str:
    return json.dumps(obj, indent=2 if pretty else None, ensure_ascii=False)


def open_array(pretty: bool = True) -> str:
    """Everything before the first row: '[' and the pioneer element."""
    return "[" + _dump(PIONEER, pretty)


def element(obj: dict, pretty: bool = True) -> str:
    """One array element after the pioneer: ', ' + JSON."""
    return ", " + _dump(obj, pretty)


def close_array(error: BaseException | None = None) -> str:
    """']', after an error element when the scan failed mid-stream, so
    the client still holds a parseable array."""
    return "]" if error is None else element({"error": str(error)}, False) + "]"


def sorted_rows(df: DataFrame) -> Iterator[Row]:
    """The rows of ``df``, a plan sorted by ``EMIT_ORDER``, in order.
    The first ``HEAD_ROWS + 1`` come back in one job; if there are that
    many, the result is streamed again through the range-sorted
    ``toLocalIterator`` instead."""
    head = df.limit(HEAD_ROWS + 1).collect()
    return iter(head) if len(head) <= HEAD_ROWS else df.toLocalIterator()


def emit_json_array(df: DataFrame, pretty: bool = True) -> Iterator[str]:
    """Yield protocol chunks: '[' + pioneer, ', '+row ..., ']'."""
    yield open_array(pretty)
    for row in sorted_rows(df):
        yield element(render_row(row), pretty)
    yield close_array()


def collect_protocol(df: DataFrame, pretty: bool = False) -> str:
    return "".join(emit_json_array(df, pretty=pretty))
