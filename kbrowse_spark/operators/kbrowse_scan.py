"""kbrowse scan-pipeline operators as oracle-checked catalog queries.

The engine's own integration tests (tests/test_kbrowse_parity.py) pin
the reference's golden behaviors; these queries additionally put the
scan pipeline's *semantics* under the DuckDB oracle at sf0.01.  Each
runs the /search pipeline itself (plans/planner.build_scan) over the
``events`` table, which sources/fixture reads as an envelope
(topic='events', partition=user_id%10, offset=event_id, key=user_id,
value=props).

Spark `rlike` is find(); kbrowse `re-matches` is full-match (SURVEY
Q2) — the planner anchors with \\A(?:..)\\z, DuckDB side uses
``regexp_full_match``, which has exactly the reference's semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kbrowse_spark.catalog import register
from kbrowse_spark.plans.planner import build_scan
from kbrowse_spark.plans.query_spec import QuerySpec
from kbrowse_spark.sources.tables import table_path

_SQL_ENVELOPE = """
  SELECT CAST(user_id AS VARCHAR) AS key_str,
         props AS value_str,
         'events' AS topic,
         CAST(user_id % 10 AS INT) AS "partition",
         event_id AS "offset",
         ts AS "timestamp"
  FROM events
"""


def _scan(spark: SparkSession, sf_dir: str, **options) -> DataFrame:
    """The /search scan of the events table with these QuerySpec options."""
    spec = QuerySpec(source_parquet=table_path(sf_dir, "events"), **options)
    return build_scan(spark, spec.validate())


@register(
    "kbrowse_regex_scan",
    f"""
    WITH env AS ({_SQL_ENVELOPE})
    SELECT type, topic, "partition", "offset",
           strftime("timestamp", '%Y-%m-%d %H:%M:%S') AS ts, key_str, value_str
    FROM (SELECT 'result' AS type, * FROM env
          WHERE regexp_full_match(key_str, '1[0-9]')
            AND regexp_full_match(value_str, '.*"k": 4[0-9].*'))
    ORDER BY "offset"
    """,
    "kbrowse",
)
def kbrowse_regex_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive full-match regex filter (O13/Q2): keys 10-19 AND
    props containing k in 40-49.  The filter is pushed into the parquet
    scan by Catalyst (no full materialization of the envelope)."""
    return (
        _scan(spark, sf_dir, key_regex="1[0-9]", value_regex='.*"k": 4[0-9].*')
        .select(
            "type",
            "topic",
            "partition",
            "offset",
            F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "key_str",
            "value_str",
        )
        .orderBy("offset")
    )


@register(
    "kbrowse_scan_window",
    f"""
    WITH env AS ({_SQL_ENVELOPE}),
    snap AS (
      SELECT "partition", MIN("offset") AS earliest, MAX("offset") + 1 AS latest
      FROM env GROUP BY "partition")
    SELECT e.partition,
           COUNT(*) AS n_scanned,
           MIN(e.offset) AS first_offset,
           MAX(e.offset) AS last_offset
    FROM env e JOIN snap s ON e.partition = s.partition
    WHERE e.offset >= LEAST(s.earliest + 700, s.latest)
      AND e.offset < s.latest
    GROUP BY e.partition
    ORDER BY e.partition
    """,
    "kbrowse",
)
def kbrowse_scan_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-offset scan window (O6/O8/Q9): per-partition snapshot
    [earliest, latest), start = clamp(earliest+700).  On a Kafka source
    this compiles to startingOffsets JSON; here the planner resolves it
    against the source snapshot's offset bounds, as /search does."""
    return (
        _scan(spark, sf_dir, relative_offset=700)
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_scanned"),
            F.min("offset").alias("first_offset"),
            F.max("offset").alias("last_offset"),
        )
        .orderBy("partition")
    )


@register(
    "kbrowse_progress_tap",
    f"""
    WITH env AS ({_SQL_ENVELOPE})
    SELECT * FROM (
      SELECT 'offset' AS type, topic, "partition", "offset",
             strftime("timestamp", '%Y-%m-%d %H:%M:%S') AS ts_render,
             key_str, value_str
      FROM env WHERE "offset" % 500 = 0
      UNION ALL
      SELECT 'result' AS type, topic, "partition", "offset",
             CAST(epoch_ms("timestamp") AS VARCHAR) AS ts_render,
             key_str, value_str
      FROM env WHERE regexp_full_match(value_str, '.*"k": 99.*'))
    ORDER BY "offset", type
    """,
    "kbrowse",
)
def kbrowse_progress_tap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progress sampling (O16/Q5): every 500th offset emits a progress
    row regardless of match (date-rendered timestamp); result rows keep
    epoch millis — the discriminated-union output stream."""
    ts = F.col("timestamp")
    return (
        _scan(spark, sf_dir, value_regex='.*"k": 99.*', print_offset=500)
        .select(
            "type",
            "topic",
            "partition",
            "offset",
            F.when(F.col("type") == "offset", F.date_format(ts, "yyyy-MM-dd HH:mm:ss"))
            # cast: unix_millis needs TIMESTAMP; fixture may surface ntz
            .otherwise(F.unix_millis(ts.cast("timestamp")).cast("string"))
            .alias("ts_render"),
            "key_str",
            "value_str",
        )
        .orderBy("offset", "type")
    )
