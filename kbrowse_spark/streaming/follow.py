"""Follow mode (kbrowse O2): the scan of plans/planner.build_scan with
``spec.follow`` set, run as a Structured Streaming query.

This module holds only what is specific to streaming: the trigger and a
``foreachBatch`` that renders each micro-batch through the pioneer
protocol in ``EMIT_ORDER``.  The search runner (kbrowse_spark/search.py)
writes the array around these rows and stops the query on the kill
switch (O10) or when its consumer goes away.

A micro-batch reaches the driver through ``pioneer.sorted_rows``, in
one Spark job unless it holds more than ``pioneer.HEAD_ROWS`` rows.
The trigger is 250 ms: a record waits ~125 ms on average for its batch
to start; a batch that overruns the interval starts the next one at
once, so under load batches run back to back; and an idle query lists
its source only 4 times a second (a 0 s trigger kept half a core busy
per idle follow request).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from kbrowse_spark.plans.planner import EMIT_ORDER
from kbrowse_spark.sinks.pioneer import element, render_row, sorted_rows

TRIGGER = "250 milliseconds"


def start(
    stream: DataFrame, write: Callable[[str], None], pretty: bool = False
) -> StreamingQuery:
    """Start the follow query: every micro-batch, sorted by
    ``EMIT_ORDER``, is passed to ``write`` one array element per row."""

    def emit_batch(batch_df: DataFrame, batch_id: int) -> None:
        for row in sorted_rows(batch_df.orderBy(*EMIT_ORDER)):
            write(element(render_row(row), pretty))

    return (
        stream.writeStream.foreachBatch(emit_batch)
        .outputMode("append")
        .trigger(processingTime=TRIGGER)
        .start()
    )
