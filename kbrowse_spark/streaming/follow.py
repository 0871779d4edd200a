"""Follow mode (kbrowse O2): the scan of plans/planner.build_scan with
``spec.follow`` set, run as a Structured Streaming query.

This module holds only what is specific to streaming: the trigger, a
``foreachBatch`` that renders each micro-batch through the pioneer
protocol in ``EMIT_ORDER``, and the kill switch.  Bounded runs use the
``availableNow`` trigger: scan what exists at start, then stop.

The wall-clock kill switch (O10, `search.clj:118-122`) is a driver-side
watchdog: ``query.stop()`` after ``stop_after_seconds``.
"""

from __future__ import annotations

import threading
from typing import IO

from pyspark.sql import DataFrame, SparkSession

from kbrowse_spark.plans.planner import EMIT_ORDER, build_scan
from kbrowse_spark.plans.query_spec import QuerySpec
from kbrowse_spark.sinks.pioneer import close_array, element, open_array, render_row


def run_follow(
    spark: SparkSession,
    spec: QuerySpec,
    out: IO[str],
    bounded: bool = True,
    processing_interval: str = "1 second",
) -> None:
    """Run follow mode (``spec.follow`` set), writing the pioneer
    protocol incrementally.

    ``bounded=True`` uses availableNow (scan-to-snapshot then stop);
    ``bounded=False`` polls until the kill switch fires.

    The whole array is written here: ``[`` and the pioneer before the
    plan is built, and the closing ``]`` always, after an error element
    when planning or the stream failed.  The failure is then re-raised.
    """
    out.write(open_array(pretty=False))
    out.flush()

    def emit_batch(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.orderBy(*EMIT_ORDER).toLocalIterator():
            out.write(element(render_row(row), pretty=False))
        out.flush()

    error = None
    try:
        stream = build_scan(spark, spec)
        writer = stream.writeStream.foreachBatch(emit_batch).outputMode("append")
        if bounded:
            query = writer.trigger(availableNow=True).start()
        else:
            query = writer.trigger(processingTime=processing_interval).start()
            # O10 kill switch: protect the cluster from immortal follows
            # (reference default 86400 s when the query didn't set one).
            deadline = (
                spec.stop_after_seconds
                if spec.stop_after_seconds is not None
                else 86400
            )
            timer = threading.Timer(deadline, query.stop)
            timer.daemon = True
            timer.start()
        query.awaitTermination()
    except Exception as e:
        error = e
        raise
    finally:
        out.write(close_array(error))
        out.flush()
