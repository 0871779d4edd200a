"""Kafka source option planning (pure math — unit-testable offline).

The reference's scan-window logic (SURVEY O3-O9) lives in consumer
seeks; in Spark it compiles to *source options* fixed at plan time:

* ``assign``            — explicit topic->partitions JSON (O3/O4/O5)
* ``startingOffsets``   — per-partition start JSON (O7/O8, Q9 clamping)
* ``endingOffsets``     — snapshot bound (O6/Q4): "latest" is
  snapshotted exactly once at planning by the Kafka source, which is
  precisely kbrowse's seekToEnd-then-stop behavior.

The actual broker round-trips (partition counts, earliest/latest
offsets) arrive as plain dicts so this module needs no Kafka client;
the service layer supplies them via an AdminClient when one is
installed (import-gated — the client library is absent here).

Citations: assignment kbrowse `src/kbrowse/kafka.clj:72-82`; offsets
snapshot `kafka.clj:99-109`; relative seek `kafka.clj:111-123`; Q9
out-of-range behavior `kafka.clj:121-123` + consumer auto.offset.reset.
"""

from __future__ import annotations

import json

from kbrowse_spark.functions.partitioner import default_partition


def resolve_partitions(
    topics: list[str],
    partition_counts: dict[str, int],
    explicit: list[int] | None,
    default_partition_key: str | None,
) -> dict[str, list[int]]:
    """topic -> partition list.  Per-topic discovery (documented
    divergence from the reference, which derives every topic's list
    from the first topic — SURVEY Q1; per-topic is strictly better and
    identical on homogeneous topics)."""
    out: dict[str, list[int]] = {}
    for t in topics:
        n = partition_counts[t]
        if default_partition_key is not None:
            out[t] = [default_partition(default_partition_key, n)]
        elif explicit:
            out[t] = [p for p in explicit if 0 <= p < n]
        else:
            out[t] = list(range(n))
    if explicit and default_partition_key is None:
        # Per-topic pruning is intended for heterogeneous topics, but a
        # partition valid on NO topic is a typo — error, not a silently
        # empty scan returning a valid-looking empty JSON result.
        dead = [p for p in explicit if all(p not in ps for ps in out.values())]
        if dead:
            from kbrowse_spark.plans.query_spec import QuerySpecError

            detail = ", ".join(
                f"{t}: {partition_counts[t]} partitions" for t in topics
            )
            raise QuerySpecError(
                f"partitions out of range for every topic ({detail}): "
                f"{sorted(set(dead))}"
            )
    return out


def assign_json(assignment: dict[str, list[int]]) -> str:
    return json.dumps({t: sorted(ps) for t, ps in sorted(assignment.items())})


def clamp_offset(target: int, earliest: int, latest: int) -> int:
    """Q9: the consumer silently resets out-of-range seeks; the Spark
    source *errors* instead — so clamp to the valid window."""
    return max(earliest, min(target, latest))


def starting_offsets_json(
    assignment: dict[str, list[int]],
    earliest: dict[tuple[str, int], int],
    latest: dict[tuple[str, int], int],
    relative_offset: int | None,
) -> str:
    """Explicit per-partition start offsets.

    relative_offset n >= 0: earliest+n per partition; n < 0: latest+n
    (tail-n) — kbrowse `kafka.clj:111-123` — clamped per Q9.
    None: earliest.
    """
    out: dict[str, dict[str, int]] = {}
    for topic, parts in assignment.items():
        out[topic] = {}
        for p in parts:
            e, l = earliest[(topic, p)], latest[(topic, p)]
            if relative_offset is None:
                start = e
            elif relative_offset >= 0:
                start = clamp_offset(e + relative_offset, e, l)
            else:
                start = clamp_offset(l + relative_offset, e, l)
            out[topic][str(p)] = start
    return json.dumps(out)


def ending_offsets_json(
    assignment: dict[str, list[int]],
    latest: dict[tuple[str, int], int] | None = None,
) -> str:
    """Snapshot stop bound (Q4): records at offset >= latest-at-plan
    are excluded.  With ``latest=None`` the literal "latest" is used —
    the batch Kafka source snapshots it exactly once at planning."""
    if latest is None:
        return "latest"
    return json.dumps(
        {
            t: {str(p): latest[(t, p)] for p in ps}
            for t, ps in assignment.items()
        }
    )


def offsets_by_timestamp_json(
    assignment: dict[str, list[int]], timestamp_ms: int
) -> str:
    """`startingOffsetsByTimestamp` / `endingOffsetsByTimestamp` JSON:
    every assigned partition bound at one epoch-millis instant.  The
    planner does not pass these options; it applies the start- and
    stop-timestamp bounds as filters on both source paths."""
    return json.dumps(
        {t: {str(p): timestamp_ms for p in ps} for t, ps in sorted(assignment.items())}
    )


def kafka_batch_options(
    bootstrap_servers: str,
    assignment: dict[str, list[int]],
    starting_offsets: str,
    ending_offsets: str = "latest",
    min_partitions: int | None = None,
) -> dict[str, str]:
    """Options for ``spark.read.format("kafka")``.  One Spark task per
    topic-partition by default; ``minPartitions`` splits hot partitions
    into offset sub-ranges for extra parallelism at scale."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "assign": assign_json(assignment),
        "startingOffsets": starting_offsets,
        "endingOffsets": ending_offsets,
        # kbrowse parity: no consumer group semantics, autocommit off
        # (kafka.clj:40-49) — the Spark source already never commits.
        "failOnDataLoss": "false",
    }
    if min_partitions:
        opts["minPartitions"] = str(min_partitions)
    return opts


def kafka_stream_options(
    bootstrap_servers: str,
    assignment: dict[str, list[int]],
    starting_offsets: str,
    max_offsets_per_trigger: int | None = None,
    min_partitions: int | None = None,
) -> dict[str, str]:
    """Options for follow mode (``readStream``) — no ending bound.

    ``maxOffsetsPerTrigger`` bounds each micro-batch's total record
    count (back-pressure on a hot topic: without it the first batch
    after a restart tries to swallow the whole backlog);
    ``minPartitions`` splits hot topic-partitions into offset
    sub-ranges so one 100 TB partition doesn't pin one task."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "assign": assign_json(assignment),
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if min_partitions:
        opts["minPartitions"] = str(min_partitions)
    return opts
