"""The one search runner (kbrowse `search.clj:159-201`): every search,
bounded or follow, from HTTP or the CLI, runs through ``run_search``.

``run_search`` plans through ``planner.build_scan`` and yields the
pioneer-protocol array (`sinks/pioneer.py`) chunk by chunk: the rows of
``pioneer.emit_json_array`` for a batch scan, or those of follow mode's
``foreachBatch`` emitter (`streaming/follow.py`) for a stream.  The
caller only writes the chunks out: the HTTP handler streams them as the
response body, the CLI prints them.  With ``output_parquet`` a bounded
search writes its rows to that path instead and yields only
``{"written": path}``.

The wall-clock kill switch (O10, `search.clj:117-121`) covers every
search: after ``stop_after_seconds`` (86400 s when unset) a batch scan's
job group is cancelled and a stream is stopped.  A consumer that goes
away (the generator is closed: an HTTP disconnect, a broken pipe) ends
the search through the same cancel.  A follow search that has no row to
send yields ``""`` every 0.5 s, so its consumer also gets control while
the stream is idle; writing it out sends nothing.

Error contract (Q8): ``QuerySpecError`` is raised before the first
chunk, so callers can still answer 400 / exit 2.  Any other failure,
while planning or mid-scan, ends the array with ``{"error": msg}`` and
``]`` (a parquet write has no array: it yields nothing more), and is
then re-raised.
"""

from __future__ import annotations

import json
import queue
import threading
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

# Module attributes are looked up at call time, so wrappers installed on
# them (the benchmark's tracer) see every search.
from kbrowse_spark.plans import planner
from kbrowse_spark.plans.query_spec import QuerySpec, QuerySpecError
from kbrowse_spark.sinks import pioneer
from kbrowse_spark.streaming import follow

# The reference's default when a search sets no stop time.
DEFAULT_STOP_AFTER_SECONDS = 86400
# Follow rows waiting for a slow consumer before the emitter blocks.
_FOLLOW_BACKLOG = 1000


def run_search(
    spark: SparkSession,
    spec: QuerySpec,
    pretty: bool = False,
    output_parquet: str | None = None,
) -> Iterator[str]:
    """Run ``spec`` and yield the pioneer-protocol array, ``[`` and the
    pioneer first and ``]`` last, or, for a bounded search with
    ``output_parquet``, write the rows there.  Closing the generator
    cancels the search."""
    framed = output_parquet is None
    try:
        scan = planner.build_scan(spark, spec)
        if spec.follow:
            chunks, cancel = _follow(scan, pretty)
        else:
            cancel = _job_group(spark)
            chunks = (
                pioneer.emit_json_array(scan, pretty)
                if framed
                else _write_parquet(scan, output_parquet)
            )
    except QuerySpecError:
        raise
    except Exception as e:
        if framed:
            yield pioneer.open_array(pretty) + pioneer.close_array(e)
        raise
    deadline = spec.stop_after_seconds
    timer = threading.Timer(
        DEFAULT_STOP_AFTER_SECONDS if deadline is None else deadline, cancel
    )
    timer.daemon = True
    timer.start()
    try:
        # An array's chunk sources yield the opening '[' + pioneer first.
        for chunk in chunks:
            yield chunk
    except GeneratorExit:  # the consumer went away
        cancel()
        raise
    except Exception as e:
        if framed:
            yield pioneer.close_array(e)
        raise
    finally:
        timer.cancel()
        chunks.close()


def _job_group(spark: SparkSession) -> Callable[[], None]:
    """Put the calling thread's jobs in a new job group and return its
    cancel.  A batch scan's jobs run on the consuming thread."""
    sc = spark.sparkContext
    group = f"kbrowse-search-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "kbrowse search", True)
    return lambda: sc.cancelJobGroup(group)


def _write_parquet(df: DataFrame, path: str) -> Iterator[str]:
    """Write the scan's rows to ``path``: a distributed write, no rows
    on the driver."""
    df.write.mode("overwrite").parquet(path)
    yield json.dumps({"written": path})


def _follow(
    stream: DataFrame, pretty: bool
) -> tuple[Iterator[str], Callable[[], None]]:
    """A follow stream's chunks, and its stop.  The micro-batches run on
    Spark's stream thread, so their rows reach the consumer through a
    bounded queue."""
    rows: queue.Queue[str] = queue.Queue(maxsize=_FOLLOW_BACKLOG)
    stopped = threading.Event()

    def write(chunk: str) -> None:
        # Waits while the consumer is behind.  Once the search is
        # cancelled, a row that finds the queue full is dropped, so the
        # micro-batch can end without a consumer.
        while True:
            try:
                rows.put(chunk, block=not stopped.is_set(), timeout=1)
                return
            except queue.Full:
                if stopped.is_set():
                    return

    query = follow.start(stream, write, pretty)

    def cancel() -> None:
        stopped.set()
        query.stop()

    def chunks() -> Iterator[str]:
        yield pioneer.open_array(pretty)
        while True:
            try:
                yield rows.get(timeout=0.5)
            except queue.Empty:
                if not query.isActive:
                    break
                yield ""  # idle: the consumer may check its client is there
        while not rows.empty():  # queued before the query ended
            yield rows.get_nowait()
        error = query.exception()
        if error is not None:
            raise error
        yield pioneer.close_array()

    return chunks(), cancel
