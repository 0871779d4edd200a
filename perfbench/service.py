"""Service process for the HTTP workloads: the engine's Flask app
(``kbrowse_spark.service.app.create_app``) on a loopback port, plus a
few ``/_perfbench/*`` routes the load generator uses to switch tracing
on and to collect spans.  Tracing wrappers are installed here, around
public functions of the engine's layers, and do nothing until switched
on.

Usage::

    python3 perfbench/service.py --port-file PATH

The chosen port is written to PATH once the server is listening.
``run.py`` ends the process group (this process, its JVM and Python
workers) with SIGKILL.
"""

from __future__ import annotations

import argparse
import itertools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import WORK, spark_conf  # noqa: E402
from perfbench.trace import Tracer, catalyst_ms, plan_metrics, self_times, summarize_plan  # noqa: E402


def install_tracing(spark, tracer: Tracer, progress: list, executed: list) -> None:
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.streaming import StreamingQueryListener

    from kbrowse_spark.plans import planner
    from kbrowse_spark.service import app as service_app
    from kbrowse_spark.sinks import pioneer
    from kbrowse_spark.sources import kafka
    from kbrowse_spark.streaming import follow

    groups = itertools.count()

    # plans: build_scan, with the Spark jobs it starts eagerly.
    build_scan = planner.build_scan

    def traced_build_scan(spark, spec, **kwargs):
        if not tracer.enabled:
            return build_scan(spark, spec, **kwargs)
        sc = spark.sparkContext
        group = f"perfbench-plan-{next(groups)}"
        sc.setJobGroup(group, "perfbench build_scan")
        with tracer.span("plans.build_scan"):
            df = build_scan(spark, spec, **kwargs)
        tracer.count("plans.eager_jobs",
                     len(sc.statusTracker().getJobIdsForGroup(group)))
        return df

    planner.build_scan = traced_build_scan

    # sources: envelope resolution, as bound inside the planner.
    tracer.wrap(planner, "envelope_from_parquet", "sources.resolve")

    # functions: the murmur2 partitioner behind default-partition
    # pruning, and the value decoder's column builder, as bound where
    # they are called.
    tracer.wrap(kafka, "default_partition", "functions.partition")
    tracer.wrap(planner, "string_decode", "functions.decode")

    # sinks: both emitters (the pioneer array and follow mode's
    # foreachBatch) pull rows through DataFrame.toLocalIterator.  Time
    # the wait for each row, then read the executed plan's SQL metrics.
    to_iter = DataFrame.toLocalIterator

    def traced_to_iter(self, *args, **kwargs):
        it = to_iter(self, *args, **kwargs)
        return _drain_plan(self, it) if tracer.enabled else it

    def _drain_plan(df, it):
        yield from tracer.timed_iter(it, "sinks.fetch_wait")
        tracer.count("sinks.fetches")
        # SQL metrics are read at drain time, outside every timed span.
        # Inside foreachBatch the batch is an RDD over the micro-batch's
        # own execution, which holds the source scan and decode UDFs.
        executed.append(df._jdf.queryExecution())
        for q in spark.streams.active:
            executed.append(q._jsq.streamingQuery().lastExecution())

    DataFrame.toLocalIterator = traced_to_iter

    emit = pioneer.emit_json_array

    def traced_emit(df, pretty=True):
        gen = emit(df, pretty=pretty)
        return _traced_emit(gen) if tracer.enabled else gen

    def _traced_emit(gen):
        n_bytes = 0
        for chunk in tracer.timed_iter(gen, "sinks.emit"):
            n_bytes += len(chunk.encode())
            yield chunk
        tracer.count("service.response_bytes", n_bytes)

    pioneer.emit_json_array = traced_emit

    # Row rendering is counted, not spanned: a span per row would cost
    # more than the render.
    def timed_render(render):
        def render_row(row):
            if not tracer.enabled:
                return render(row)
            t0 = time.perf_counter_ns()
            out = render(row)
            tracer.count("sinks.render_ms", (time.perf_counter_ns() - t0) / 1e6)
            tracer.count("sinks.rows")
            return out
        return render_row

    pioneer.render_row = timed_render(pioneer.render_row)
    follow.render_row = timed_render(follow.render_row)

    # functions: the JSON parse of each rendered key and value, counted
    # like the render that calls it.
    parse = pioneer.try_parse_json

    def timed_parse(s):
        if not tracer.enabled:
            return parse(s)
        t0 = time.perf_counter_ns()
        out = parse(s)
        tracer.count("functions.json_parse_ms", (time.perf_counter_ns() - t0) / 1e6)
        return out

    pioneer.try_parse_json = timed_parse

    # service: the response cache.
    cache_get, cache_put = service_app.ResponseCache.get, service_app.ResponseCache.put

    def get(self, key):
        hit = cache_get(self, key)
        tracer.count("service.cache_lookups")
        tracer.count("service.cache_hits", hit is not None)
        return hit

    def put(self, key, text):
        tracer.count("service.uncacheable", len(text) > self.size_limit)
        return cache_put(self, key, text)

    service_app.ResponseCache.get, service_app.ResponseCache.put = get, put

    # streaming: trigger phases from the query listener.
    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            progress.append({"t": time.time(), "batch": p.batchId,
                             "rows": p.numInputRows, "ms": dict(d),
                             "traced": tracer.enabled})
            tracer.count("streaming.batches")
            for key, name in (("triggerExecution", "trigger_ms"),
                              ("latestOffset", "latest_offset_ms"),
                              ("queryPlanning", "query_planning_ms"),
                              ("addBatch", "add_batch_ms"),
                              ("walCommit", "wal_commit_ms")):
                tracer.count(f"streaming.{name}", d.get(key, 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Progress())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port-file", required=True)
    args = ap.parse_args(argv)

    from flask import request
    from werkzeug.serving import make_server

    from kbrowse_spark.config import EngineConfig
    from kbrowse_spark.service.app import create_app
    from kbrowse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench_service", extra_conf=spark_conf(WORK))
    session_ms = (time.perf_counter() - t0) * 1000

    tracer, progress, executed = Tracer(), [], []
    install_tracing(spark, tracer, progress, executed)
    app = create_app(spark, EngineConfig())

    @app.before_request
    def tag_op():
        tracer.set_op(request.headers.get("X-Perfbench-Op"))

    @app.get("/_perfbench/info")
    def info():
        return {"session_ms": session_ms, "pid": os.getpid()}

    @app.get("/_perfbench/trace")
    def trace_switch():
        tracer.enabled = request.args.get("on") == "1"
        return {"enabled": tracer.enabled}

    @app.get("/_perfbench/drain")
    def drain():
        was, tracer.enabled = tracer.enabled, True
        for jqe in executed:
            tracer.count("plans.catalyst_ms", catalyst_ms(jqe))
            summary = summarize_plan(plan_metrics(spark, jqe.executedPlan()))
            tracer.count("sources.records_scanned", summary["records_scanned"])
            tracer.count("functions.python_rows", summary["python_rows"])
            tracer.count("functions.python_bytes", summary["python_bytes"])
        executed.clear()
        tracer.enabled = was
        out = tracer.drain()
        out["layers"] = self_times(out["spans"])
        out["progress"] = list(progress)
        progress.clear()
        return out

    server = make_server("127.0.0.1", 0, app, threaded=True)
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.server_port))
    os.replace(tmp, args.port_file)
    server.serve_forever()  # until run.py kills the process group
    return 0

if __name__ == "__main__":
    raise SystemExit(main())
