"""catalog_batch worker: in-process passes over three catalog queries,
each materialized through the noop sink (``bench.py``'s execution
discipline: full execution, no rows shipped to the driver).

Run by ``perfbench/run.py``; prints one JSON object on its last stdout
line.  Usage::

    python3 perfbench/batch.py --sf-dir DIR --seconds S --trace 0|1
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import WORK, now, peak_rss_mb, reset_peak_rss, spark_conf  # noqa: E402
from perfbench.trace import Tracer, catalyst_ms, plan_metrics, self_times, summarize_plan  # noqa: E402

QUERIES = (
    "q5_nation_revenue",
    "bfs_multisource_hops",
    "dedup_substring_spans",
)
# Pass times fall through a session's first half minute (on a 4-CPU
# box: 6.9, 5.1, 4.8, 4.5, 4.3 s, ...), so every run measures the same
# passes: at least MIN_PASSES after the oracle check (two fit in a 10 s
# window).  Runs that measured one pass or two, as the window allowed,
# reported medians 10-30% apart.  One more untimed pass after the check
# did not flatten the two timed ones (5.6 then 4.6 s) and cost ~6 s of
# set-up per run.
MIN_PASSES = 2


class _QueryListener:
    """QueryExecutionListener (py4j callback): catalyst time and final
    plan metrics of every action, attributed to the current query."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.current: str | None = None
        self.executed: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        if self.current is not None and self.tracer.enabled:
            self.executed.append((self.current, qe))

    def collect(self) -> None:
        """Read catalyst time and plan metrics of the recorded actions
        (after the timed passes: py4j plan walks are slow)."""
        for q, qe in self.executed:
            self.tracer.count(f"operators.{q}.catalyst_ms", catalyst_ms(qe))
            summary = summarize_plan(plan_metrics(self.spark, qe.executedPlan()))
            self.tracer.count(f"operators.{q}.shuffle_bytes", summary["shuffle_bytes"])
        self.executed.clear()

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def install_tracing(spark, tracer: Tracer) -> _QueryListener:
    """Wrap table resolution wherever the operator modules bound it."""
    from pyspark.java_gateway import ensure_callback_server_started

    from kbrowse_spark.sources import tables

    load = tables.load
    tracer.wrap(tables, "load", "sources.resolve")
    wrapped = tables.load
    for name, mod in list(sys.modules.items()):
        if name.startswith("kbrowse_spark.") and getattr(mod, "load", None) is load:
            mod.load = wrapped
    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = _QueryListener(spark, tracer)
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def run_pass(spark, qs, sf_dir: str, tracer: Tracer, listener, pass_no: int) -> float:
    """One pass; returns its wall time in ms."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    for q in QUERIES:
        tracer.set_op(f"pass{pass_no}")
        if listener is not None:
            listener.current = q
        group = f"perfbench-{q}-{pass_no}"
        sc.setJobGroup(group, q)
        with tracer.span(f"operators.{q}"):
            with tracer.span(f"operators.{q}.build"):
                df = qs[q].builder(spark, sf_dir)
            with tracer.span(f"operators.{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
        if tracer.enabled:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracer.count(f"operators.{q}.jobs",
                         len(sc.statusTracker().getJobIdsForGroup(group)))
    return (time.perf_counter() - t0) * 1000


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)

    from kbrowse_spark.catalog import all_queries
    from kbrowse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench_batch", extra_conf=spark_conf(WORK))
    session_ms = (time.perf_counter() - t0) * 1000
    qs = all_queries()

    tracer = Tracer()
    listener = install_tracing(spark, tracer) if args.trace else None

    # Output check against each query's DuckDB oracle, once per run and
    # outside every timed span; it is also the cold warm-up.
    from tests.oracle_check import compare

    checks = {q: compare(spark, qs[q], args.sf_dir) for q in QUERIES}
    for q, r in checks.items():
        if not r.get("ok"):
            print(f"perfbench: {q} oracle mismatch: {r.get('why')}", file=sys.stderr)
    ready = now()

    def measure(seconds: float, first_no: int, min_passes: int):
        """Passes while the next one, predicted from the last, would end
        within ``seconds``; at least ``min_passes``."""
        lat = []
        end = time.perf_counter() + seconds
        n = first_no
        while len(lat) < min_passes or time.perf_counter() + lat[-1] / 1000 <= end:
            lat.append(run_pass(spark, qs, args.sf_dir, tracer, listener, n))
            n += 1
        return lat

    reset_peak_rss()
    if args.trace:
        # First half untraced, second half traced: the difference is the
        # tracing overhead.
        base_lat = measure(args.seconds / 2, 1, 1)
        tracer.enabled = True
        lat = measure(args.seconds / 2, 1000, 1)
        listener.collect()
        tracer.enabled = False
    else:
        base_lat = None
        lat = measure(args.seconds, 1, MIN_PASSES)
    rss = peak_rss_mb()
    trace = tracer.drain() if args.trace else None
    out = {
        "ready": ready,
        "session_ms": session_ms,
        "checks_ok": all(r.get("ok") for r in checks.values()),
        "checks": {q: {k: v for k, v in r.items() if k in ("ok", "why", "spark_rows")}
                   for q, r in checks.items()},
        "latency_ms": lat,
        "base_latency_ms": base_lat,
        "rss_peak_mb": rss,
        "trace": None if trace is None else {
            "counts": trace["counts"],
            "layers": self_times(trace["spans"]),
            "spans": trace["spans"],
        },
    }
    print(json.dumps(out), flush=True)
    # No graceful spark.stop(): it costs seconds per run, and run.py
    # kills this process group (the JVM included) once we exit.
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
