"""In-memory span recorder for the traced runs.

Spans are recorded by wrappers the benchmark installs around public
functions of the engine's layers; nothing inside ``kbrowse_spark`` is
edited.  A span is ``[name, start_ns, end_ns, parent_index, op_id]``;
the op id groups the spans of one benchmark operation.  Spans stay in
memory until :meth:`Tracer.drain` hands them to the artifact writer.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- operation context ------------------------------------------------

    def set_op(self, op: str | None) -> None:
        self._local.op = op

    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    # -- recording --------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = [name, time.perf_counter_ns(), None,
               stack[-1] if stack else None, self.op()]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec[2] = time.perf_counter_ns()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def timed_iter(self, it, name: str):
        """Iterator whose ``next`` calls are each recorded as ``name``."""
        it = iter(it)
        while True:
            with self.span(name):
                try:
                    item = next(it)
                except StopIteration:
                    return
            yield item

    def drain(self) -> dict:
        with self._lock:
            out = {"spans": self.spans, "counts": dict(self.counts)}
            self.spans = []
            self.counts = defaultdict(float)
        return out


def self_times(spans: list[list]) -> dict[str, dict]:
    """Per span name: count, total and self milliseconds.  Self time is
    the span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for s in spans:
        if s[3] is not None and s[2] is not None:
            children[s[3]].append((s[1], s[2]))
    out: dict[str, dict] = {}
    for i, (name, start, end, _parent, _op) in enumerate(spans):
        if end is None:
            continue
        covered, cur_s, cur_e = 0, None, None
        for cs, ce in sorted(children.get(i, [])):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        agg = out.setdefault(name, {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["n"] += 1
        agg["total_ms"] += (end - start) / 1e6
        agg["self_ms"] += (end - start - covered) / 1e6
    return out


# -- Spark plan introspection (py4j) ------------------------------------------


def _java_list(jvm, seq):
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def plan_metrics(spark, jplan) -> list[tuple[str, dict[str, int]]]:
    """(node name, {metric: value}) for every node of an executed
    physical plan, descending through adaptive and query-stage
    wrappers into the final plan."""
    jvm = spark.sparkContext._jvm
    out = []
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.metrics())
        out.append(
            (node.nodeName(), {k: int(metrics[k].value()) for k in metrics.keySet()})
        )
        stack.extend(_java_list(jvm, node.children()))
    return out


def catalyst_ms(jqe) -> float:
    """Analysis + optimization + planning time of a QueryExecution."""
    phases = jqe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph is not None and not ph.isEmpty():
            p = ph.get()
            total += p.endTimeMs() - p.startTimeMs()
    return total


def summarize_plan(nodes) -> dict[str, int]:
    """Counters a perf change is most likely to move, summed over nodes."""
    scanned = python_rows = python_bytes = shuffle_bytes = 0
    for name, m in nodes:
        if name.startswith("Scan") and "ExistingRDD" not in name:
            scanned += m.get("numOutputRows", 0)
        if "pythonNumRowsReceived" in m:
            python_rows += m["pythonNumRowsReceived"]
            python_bytes += m.get("pythonDataSent", 0) + m.get(
                "pythonDataReceived", 0)
        shuffle_bytes += m.get("shuffleBytesWritten", 0)
    return {"records_scanned": scanned, "python_rows": python_rows,
            "python_bytes": python_bytes, "shuffle_bytes": shuffle_bytes}
