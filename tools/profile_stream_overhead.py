"""Machinery-vs-operator split for the streaming catalog (VERDICT r11
directive #1).

Every bounded streaming query pays a fixed availableNow spin-up per
measurement — query start/stop, offset log + WAL commits, source
listing, state-store commit files — that has nothing to do with the
operator under test.  At 27 streaming queries that scaffolding, not
the operators, dominates the family's bench cost; this tool makes the
split explicit so a future reader can't mistake fixed overhead for an
operator regression.

Method: each streaming builder is executed (after an untimed warm
pass) ``SPARK_GRAFT_BENCH_RUNS`` times; the in-engine instrumentation
(`streaming_queries._record_stream_stats`) reads the terminated
query's recentProgress — ``operator_ms`` is the summed ``addBatch``
durations (actual micro-batch plan execution, operator + sink),
``machinery_ms`` is wall minus that.  A stateless passthrough stream
(one projected column, memory sink, same staging + conf path) is
measured the same way as the absolute machinery FLOOR.

Output: a markdown table on stdout + one JSON line (last) with the
splits, and the full per-query split written to ``--out`` (default
``.localdata/stream_overhead_split.json``, untracked).  The tracked
``stream_overhead_split.json`` that ``bench.py`` reads changes only
when it is named as ``--out``.

Usage::

    SPARK_GRAFT_SF_DIR=/path/to/sf0.1 python tools/profile_stream_overhead.py \
        [--out stream_overhead_split.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

from kbrowse_spark.catalog import all_queries  # noqa: E402
from kbrowse_spark.session import get_spark, tune_for_input  # noqa: E402

BENCH_HEADLINERS = {
    "stream_tumbling_counts",
    "stream_session_timeout",
    "stream_ann_ivf_probe",
}


def measure_floor(spark, sf_dir: str, n_runs: int) -> dict:
    """Stateless passthrough through the identical scaffolding."""
    from kbrowse_spark.operators import streaming_queries as sq
    from kbrowse_spark.sources.tables import load_stream

    best: dict = {}
    for _ in range(n_runs):
        stream = load_stream(spark, sf_dir, "events").select("event_id")
        before = sq.stream_run_stats()
        sq._run_to_memory(stream, "append", label="measure_floor")
        # Stats keys are unique per run (label, label#2, …): pick this
        # run's entry out of the diff instead of a fixed key.
        delta = [
            v
            for k, v in sq.stream_run_stats().items()
            if before.get(k) != v
        ]
        stats = delta[0] if delta else {}
        if not best or stats.get("wall_ms", 1e12) < best.get("wall_ms", 1e12):
            best = stats
    return best


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--out",
        default=os.path.join(ROOT, ".localdata", "stream_overhead_split.json"),
        help="where to write the per-query split (JSON)",
    )
    out = ap.parse_args(argv).out
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("kbrowse_stream_profile")
    tune_for_input(spark, sf_dir)
    from kbrowse_spark.operators import streaming_queries as sq

    qs = {
        name: q
        for name, q in all_queries().items()
        if q.builder.__module__.endswith("streaming_queries")
    }
    print(f"profiling {len(qs)} streaming queries at {sf_dir}", file=sys.stderr)

    # Warm pass: shared cached subtrees + codegen out of the timings.
    for name, q in sorted(qs.items()):
        try:
            q.builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001
            print(f"warm failed {name}: {e}", file=sys.stderr)

    rows: dict[str, dict] = {}
    for name, q in sorted(qs.items()):
        best_wall = None
        best_stats: dict = {}
        for _ in range(n_runs):
            before = sq.stream_run_stats()
            t0 = time.perf_counter()
            q.builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = time.perf_counter() - t0
            after = sq.stream_run_stats()
            # The run's own stats entries: labels whose record changed.
            delta = {
                k: v
                for k, v in after.items()
                if before.get(k) != v
            }
            if best_wall is None or wall < best_wall:
                best_wall = wall
                # A builder may run >1 bounded query (rare); sum them.
                best_stats = {
                    "stream_wall_ms": round(
                        sum(d["wall_ms"] for d in delta.values()), 1
                    ),
                    "operator_ms": sum(
                        d["operator_ms"] for d in delta.values()
                    ),
                    "machinery_ms": round(
                        sum(d["machinery_ms"] for d in delta.values()), 1
                    ),
                    "n_triggers": sum(
                        d["n_triggers"] for d in delta.values()
                    ),
                    "n_streams": len(delta),
                }
        rows[name] = dict(best_stats, total_s=round(best_wall or 0.0, 3))

    floor = measure_floor(spark, sf_dir, n_runs)

    hdr = (
        "| query | total_s | stream_wall_ms | operator_ms (addBatch) |"
        " machinery_ms | triggers |"
    )
    print(hdr)
    print("|---|---|---|---|---|---|")
    for name, r in sorted(rows.items()):
        mark = " **(bench headliner)**" if name in BENCH_HEADLINERS else ""
        print(
            f"| {name}{mark} | {r.get('total_s')} |"
            f" {r.get('stream_wall_ms', '-')} | {r.get('operator_ms', '-')} |"
            f" {r.get('machinery_ms', '-')} | {r.get('n_triggers', '-')} |"
        )
    print(
        f"| _machinery floor (stateless passthrough)_ | - |"
        f" {floor.get('wall_ms', '-')} | {floor.get('operator_ms', '-')} |"
        f" {floor.get('machinery_ms', '-')} | {floor.get('n_triggers', '-')} |"
    )
    tot_op = sum(r.get("operator_ms", 0) for r in rows.values())
    tot_mach = sum(r.get("machinery_ms", 0) for r in rows.values())
    summary = {
        "metric": "stream_overhead_split",
        "sf_dir": sf_dir,
        "n_queries": len(rows),
        "total_operator_ms": round(tot_op, 1),
        "total_machinery_ms": round(tot_mach, 1),
        "floor": floor,
        "queries": rows,
    }
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "queries"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
