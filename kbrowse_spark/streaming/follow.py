"""Follow mode (kbrowse O2): the scan of plans/planner.build_scan with
``spec.follow`` set, run as a Structured Streaming query.

This module holds only what is specific to streaming: the trigger and a
``foreachBatch`` that renders each micro-batch through the pioneer
protocol in ``EMIT_ORDER``.  The search runner (kbrowse_spark/search.py)
writes the array around these rows and stops the query on the kill
switch (O10) or when its consumer goes away.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from kbrowse_spark.plans.planner import EMIT_ORDER
from kbrowse_spark.sinks.pioneer import element, render_row

TRIGGER = "1 second"


def start(
    stream: DataFrame, write: Callable[[str], None], pretty: bool = False
) -> StreamingQuery:
    """Start the follow query: every micro-batch, sorted by
    ``EMIT_ORDER``, is passed to ``write`` one array element per row."""

    def emit_batch(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.orderBy(*EMIT_ORDER).toLocalIterator():
            write(element(render_row(row), pretty))

    return (
        stream.writeStream.foreachBatch(emit_batch)
        .outputMode("append")
        .trigger(processingTime=TRIGGER)
        .start()
    )
