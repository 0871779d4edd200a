"""kbrowse-spark benchmark runner.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each was chosen):

* ``search_point``  closed loop, 2 clients, point ``/search`` requests
  (key regex + default-partition pruning + relative-offset window);
  about 20% repeat an earlier request and are served by the response
  cache.
* ``follow_tail``   open loop: envelope files land in a followed
  directory on a seeded Poisson schedule, at half the rate
  ``perfbench/capacity.py`` measured this workload's service to
  sustain, while one ``follow=true`` request streams the matching
  records.
* ``catalog_batch`` passes over three catalog queries through the noop
  sink, in a separate worker process.

The service and the batch worker run in their own processes (Spark
sessions on ``local[nproc]``); this process generates the inputs, drives
the load, checks every response against a reference computed from the
generated data, and prints one JSON object as its last stdout line:
end-to-end metrics with ``--trace 0``; with ``--trace 1`` per-layer
metrics from a traced second half of the run, whose spans go to
``.perfbench_out/trace-<workload>-seed<N>.json``.
"""

from __future__ import annotations

import argparse
import bisect
import http.client
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import ROOT, WORK, child_env, cpus, now, peak_rss_mb, reset_peak_rss  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench_out")


# ---------------------------------------------------------------- statistics


def pct(values: list[float], q: int) -> float:
    """q-th percentile (q in 1..99), ``statistics.quantiles`` inclusive;
    0 for no samples (the run then reports its operations failed)."""
    if len(values) <= 1:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def describe(name: str, values: list[float], q: int) -> str:
    beyond = sum(1 for v in values if v > pct(values, q))
    return f"{name}: p{q}={pct(values, q):.2f} n={len(values)} beyond={beyond}"


# ---------------------------------------------------------------- processes


def log(msg: str) -> None:
    print(f"perfbench: {time.monotonic() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


T0 = time.monotonic()


class Child:
    """A worker process in its own process group; ``stop`` ends the
    whole group (the JVM and Python workers Spark starts included) and
    waits for it."""

    def __init__(self, argv: list[str], log_name: str) -> None:
        self.log = open(os.path.join(WORK, log_name), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, *argv], cwd=ROOT, env=child_env(WORK),
            stdout=subprocess.PIPE, stderr=self.log, start_new_session=True,
        )

    def stop(self, timeout: float = 30.0) -> None:
        """SIGKILL the group (a graceful Spark stop costs seconds per run
        and nothing here needs it), then wait until every member is gone."""
        log("stopping worker")
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        self.log.close()
        log("worker stopped")


class Service(Child):
    def __init__(self) -> None:
        self.port_file = os.path.join(WORK, "service.port")
        super().__init__([os.path.join(ROOT, "perfbench", "service.py"),
                          "--port-file", self.port_file], "service.log")
        self.port = None

    def wait_ready(self, timeout: float = 120.0) -> None:
        deadline = time.monotonic() + timeout
        while not os.path.exists(self.port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("service did not start; see service.log")
            time.sleep(0.05)
        with open(self.port_file) as f:
            self.port = int(f.read())
        self.info = self.get_json("/_perfbench/info")
        log("service ready")

    def conn(self) -> http.client.HTTPConnection:
        return http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)

    def get_json(self, path: str):
        c = self.conn()
        try:
            c.request("GET", path)
            r = c.getresponse()
            return json.loads(r.read())
        finally:
            c.close()


# ---------------------------------------------------------------- HTTP search


def search_once(conn, path: str, op: str):
    """One streamed /search.  Returns (latency_s, body): latency is
    until the closing ``]``."""
    t0 = time.perf_counter()
    conn.request("GET", path, headers={"X-Perfbench-Op": op})
    resp = conn.getresponse()
    body = resp.read()
    if resp.status != 200:
        raise RuntimeError(f"HTTP {resp.status}: {body[:200]!r}")
    return time.perf_counter() - t0, body


def search_path(params: dict) -> str:
    return "/search?" + urllib.parse.urlencode(params)


# ---------------------------------------------------------------- search_point

# 1,500 keys, as in the sf0.1 ``events`` envelope, Zipf(1.1)-skewed so
# the point lookups have hot keys.  16,000 records rather than that
# envelope's 100,000: planning dominates a point search either way, and
# the smaller topic gives more requests per run.
POINT_RECORDS = 16_000
POINT_KEYS = 1_500
POINT_FILES = 4
REPEAT_EVERY = 5  # 20% of requests repeat an earlier one
POINT_CLIENTS = 2
# Point searches keep getting faster through a session's first ~30
# requests (on a 4-CPU box, two clients: ~1.4 s each after 4, ~1.0 s
# after 20, ~0.8 s after 30, ~0.7 s after 100).  Measured after 4
# warm-up requests, the p50's interquartile range over ten runs was
# 18-26% of its median; after 20, over five runs, 17%; after 30, over
# ten, 9-14%.  45 gave 14% over five (each run flat, but at its own
# level) for ~8 s more set-up.
POINT_WARMUP = 30


def point_ops(rng, records, n_ops: int):
    """Seeded op sequence: (key, relative offset, is_repeat).  Every
    REPEAT_EVERY-th op repeats one of the 4th to 40th most recent
    distinct ops, so it has been answered (and cached) by the time it
    is sent, and not yet evicted; a fixed pattern keeps the share of
    cache hits the same in every window."""
    ops, distinct, seen = [], [], set()
    while len(ops) < n_ops:
        if len(ops) % REPEAT_EVERY == REPEAT_EVERY - 1 and len(distinct) >= 4:
            key, rel = distinct[-int(rng.integers(4, min(len(distinct), 40) + 1))]
            ops.append((key, rel, True))
            continue
        key = records[int(rng.integers(0, len(records)))].key
        rel = -int(rng.integers(100, 3000))
        if (key, rel) in seen:
            continue
        seen.add((key, rel))
        distinct.append((key, rel))
        ops.append((key, rel, False))
    return ops


def read_topic(topic_dir: str) -> dict[int, list[dict]]:
    """The topic as written, read back with pyarrow: partition -> rows
    in offset order, with the value JSON-parsed as a pioneer row
    carries it."""
    import pyarrow.parquet as pq

    by_partition: dict[int, list[dict]] = {}
    for row in pq.read_table(topic_dir).to_pylist():
        row["key"] = row["key"].decode()
        row["value"] = json.loads(row["value"])
        by_partition.setdefault(row["partition"], []).append(row)
    for rows in by_partition.values():
        rows.sort(key=lambda r: r["offset"])
    return by_partition


def point_reference(by_partition, key: str, rel: int):
    """Expected result rows of a point search: the key's murmur2
    partition, the window of the last -rel offsets of that partition,
    ``re.fullmatch`` on the key, in (timestamp, partition, offset)
    order."""
    from perfbench.gen import kafka_partition

    part = by_partition[kafka_partition(key)]
    latest = part[-1]["offset"] + 1
    start = min(max(latest + rel, part[0]["offset"]), latest)
    rows = [r for r in part if r["offset"] >= start and re.fullmatch(key, r["key"])]
    rows.sort(key=lambda r: (r["timestamp"], r["topic"], r["partition"], r["offset"]))
    return [{"type": "result", "timestamp": int(r["timestamp"].timestamp() * 1000),
             "partition": r["partition"], "offset": r["offset"], "topic": r["topic"],
             "key": r["key"], "value": r["value"]} for r in rows]


def run_search_point(args, t_start: float) -> dict:
    import numpy as np

    from perfbench import gen

    service = Service()  # starts its JVM while the inputs are generated
    try:
        rng = np.random.default_rng(args.seed)
        records = gen.clicks_topic(rng, POINT_RECORDS, POINT_KEYS)
        topic_dir = os.path.join(WORK, "data", "clicks")
        gen.write_topic(records, topic_dir, max(POINT_FILES, cpus()))
        ops = point_ops(rng, records, 20_000)
        by_partition = read_topic(topic_dir)

        def path(key, rel):
            return search_path({
                "source-parquet": topic_dir, "topics": "clicks",
                "key-regex": key, "default-partition": "true",
                "relative-offset": str(rel)})

        service.wait_ready()
        # Warm-up: distinct relative offsets no measured op uses.
        warm = [path(ops[i][0], -5000 - i) for i in range(POINT_WARMUP)]
        conn = service.conn()
        search_once(conn, warm[0], "warm")
        conn.close()
        log("first request done")
        _closed_loop(service, warm[1:], POINT_CLIENTS, None)
        ready = now()
        log("warm-up done")

        def measure(seconds: float, start: int, trace: bool):
            if trace:
                service.get_json("/_perfbench/trace?on=1")
            reset_peak_rss(service.info["pid"])
            paths = [path(k, rel) for k, rel, _ in ops[start:]]
            t0 = time.perf_counter()
            done = _closed_loop(service, paths, POINT_CLIENTS, seconds)
            rss = peak_rss_mb(service.info["pid"])
            tr = service.get_json("/_perfbench/drain") if trace else None
            if trace:
                service.get_json("/_perfbench/trace?on=0")
            return [(start + i, *d) for i, d in done], t0, rss, tr

        base = None
        if args.trace:
            base, base_t0, _, _ = measure(args.seconds / 2, 0, False)
            done, t0, rss, tr = measure(args.seconds / 2, len(base), True)
        else:
            done, t0, rss, tr = measure(args.seconds, 0, False)
    finally:
        service.stop()

    # Output checks, outside every timed span.
    failed = 0
    for op_no, ok, _lat, body, _t_end, _c in done + (base or []):
        key, rel, _ = ops[op_no]
        if not ok or not _body_matches(body, point_reference(by_partition, key, rel)):
            failed += 1
    out = _closed_loop_metrics(done, t0)
    out.update(setup_s=ready - t_start, rss=rss, failed=failed, correct=failed == 0,
               attempted=len(done) + len(base or []))
    if args.trace:
        out["base"] = _closed_loop_metrics(base, base_t0)
        out["trace"] = tr
        out["layers"] = point_layers(tr, done, service.info["session_ms"])
    return out


def _closed_loop(service: Service, paths: list[str], clients: int, seconds):
    """Send ``paths`` in order from ``clients`` threads, each waiting for
    its reply before taking the next; stop taking new ones after
    ``seconds`` (None: send them all).  Returns [(index, (ok, latency,
    body, t_end, client))] in completion order."""
    lock = threading.Lock()
    nxt = iter(range(len(paths)))
    done: list = []
    deadline = None if seconds is None else time.perf_counter() + seconds

    def client(c: int):
        conn = service.conn()
        try:
            while deadline is None or time.perf_counter() < deadline:
                with lock:
                    i = next(nxt, None)
                if i is None:
                    return
                try:
                    lat, body = search_once(conn, paths[i], str(i))
                    res = (True, lat, body, time.perf_counter(), c)
                except (OSError, http.client.HTTPException, RuntimeError) as e:
                    print(f"perfbench: op {i} failed: {e}", file=sys.stderr)
                    conn.close()
                    conn = service.conn()
                    res = (False, None, b"", time.perf_counter(), c)
                with lock:
                    done.append((i, res))
        finally:
            conn.close()

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(min(clients, cpus()))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done


def _closed_loop_metrics(done, t0: float) -> dict:
    """Latency samples, and throughput as the sum over clients of the
    ops each completed divided by the time it took them (exact for a
    closed loop, without the run-end rounding of ops / seconds)."""
    ok = [d for d in done if d[1]]
    per_client: dict[int, list[float]] = {}
    for d in ok:
        per_client.setdefault(d[5], []).append(d[4])
    return {"lat_ms": [d[2] * 1000 for d in ok],
            "throughput": sum(len(ends) / (max(ends) - t0)
                              for ends in per_client.values())}


def _body_matches(body: bytes, expected_rows: list[dict]) -> bool:
    try:
        arr = json.loads(body)
    except ValueError:
        return False
    return arr[:1] == [{"type": "pioneer"}] and arr[1:] == expected_rows


def point_layers(tr: dict, done, session_ms: float) -> dict:
    c, layers = tr["counts"], tr["layers"]
    n_ops = max(1, len(done))
    calls = max(1, layers.get("plans.build_scan", {}).get("n", 0))  # cache misses

    def total(name):
        return layers.get(name, {}).get("total_ms", 0.0)

    wall = sum(d[2] for d in done if d[1]) * 1000
    return {
        "session.start_ms": session_ms,
        "service.self_ms": (wall - total("plans.build_scan") - total("sinks.emit")) / n_ops,
        "service.cache_hit_ratio": c.get("service.cache_hits", 0)
        / max(1.0, c.get("service.cache_lookups", 0)),
        "service.uncacheable": c.get("service.uncacheable", 0) / n_ops,
        "service.response_bytes": c.get("service.response_bytes", 0) / calls,
        "plans.build_scan_ms": total("plans.build_scan") / calls,
        "plans.eager_jobs": c.get("plans.eager_jobs", 0) / calls,
        "plans.catalyst_ms": c.get("plans.catalyst_ms", 0) / calls,
        "sources.resolve_ms": total("sources.resolve") / calls,
        "sources.resolve_calls": layers.get("sources.resolve", {}).get("n", 0) / calls,
        "sources.records_scanned": c.get("sources.records_scanned", 0) / calls,
        "sources.rows_per_scanned": c.get("sinks.rows", 0)
        / max(1.0, c.get("sources.records_scanned", 0)),
        "functions.partition_ms": total("functions.partition") / calls,
        "functions.partition_calls": layers.get("functions.partition", {}).get("n", 0)
        / calls,
        "functions.decode_ms": total("functions.decode") / calls,
        "functions.json_parse_ms": c.get("functions.json_parse_ms", 0) / calls,
        "functions.python_rows": c.get("functions.python_rows", 0) / calls,
        "functions.python_bytes": c.get("functions.python_bytes", 0) / calls,
        "sinks.fetch_wait_ms": total("sinks.fetch_wait") / calls,
        "sinks.render_ms": c.get("sinks.render_ms", 0) / calls,
        "sinks.rows": c.get("sinks.rows", 0) / calls,
        "sinks.emit_ms": total("sinks.emit") / calls,
    }


# ---------------------------------------------------------------- follow_tail

# Arrival files per second (10 records, 1 matching, each): half of the
# median of three ``perfbench/capacity.py`` sweeps on a 4-CPU box (32,
# 32 and 23 files/s sustained; median lag ~1.0-1.4 s up to 23 files/s,
# 1.6-2.2 s at 32, 2.6-3.2 s at 45).
FOLLOW_RATE = 16.0
FOLLOW_BACKLOG = 8  # files in the followed directory before the request
FOLLOW_WARM_SECONDS = 12  # warm-up kill switch, beyond its cold batches
FOLLOW_DRAIN = 4
FOLLOW_REGEX = '.*"kind": "alert".*'


class FollowReader(threading.Thread):
    """Reads one follow-mode response, stamping each row on arrival."""

    def __init__(self, service: Service, src_dir: str, stop_after: int, op: str) -> None:
        super().__init__(daemon=True)
        self.service, self.op = service, op
        self.path = search_path({
            "source-parquet": src_dir,
            "topics": "logs",
            "value-regex": FOLLOW_REGEX, "follow": "true",
            "stop-after-seconds": str(stop_after)})
        self.rows: list[tuple[float, dict]] = []
        self.pioneer = False
        self.closed = False
        self.error = None

    def run(self) -> None:
        dec = json.JSONDecoder()
        conn = self.service.conn()
        conn.timeout = None
        try:
            conn.request("GET", self.path, headers={"X-Perfbench-Op": self.op})
            resp = conn.getresponse()
            text, pos = "", None
            while True:
                chunk = resp.read1(1 << 16)
                if not chunk:
                    break
                t = time.time()
                text += chunk.decode()
                if pos is None:
                    if not text.startswith("["):
                        break
                    pos = 1
                while True:
                    while pos < len(text) and text[pos] in " ,\n":
                        pos += 1
                    if pos >= len(text):
                        break
                    if text[pos] == "]":
                        self.closed = True
                        pos += 1
                        continue
                    try:
                        obj, pos = dec.raw_decode(text, pos)
                    except ValueError:
                        break
                    if not self.pioneer:
                        self.pioneer = True
                    else:
                        self.rows.append((t, obj))
        except (OSError, http.client.HTTPException, UnicodeDecodeError) as e:
            self.error = e
        finally:
            conn.close()


def run_follow_tail(args, t_start: float, rate: float = FOLLOW_RATE) -> dict:
    import numpy as np

    from perfbench import gen

    service = Service()
    try:
        rng = np.random.default_rng(args.seed)
        offsets = [0] * gen.N_PARTITIONS
        # (partition, offset) -> (scheduled CreateTime, file number, record)
        created: dict[tuple[int, int], tuple[float, int, object]] = {}
        warm_created: dict[tuple[int, int], tuple[float, int, object]] = {}
        per_file = gen.FOLLOW_MATCHES_PER_FILE

        def land(topic_dir: str, file_no: int, t_sched: float, into: dict):
            recs = gen.follow_batch(rng, file_no, int(t_sched * 1e6), offsets)
            gen.write_envelope(recs, os.path.join(topic_dir, f"f{file_no:06d}.parquet"))
            for r in recs:
                into[(r.partition, r.offset)] = (t_sched, file_no, r)

        # Warm-up: a follow request over its own directory (the first
        # micro-batches of a session are the slow ones).  One more file
        # lands once the first rows are in; the warm-up is done when its
        # row arrives.  The warm request then idles (one directory
        # listing a second, no new files) until its kill switch closes
        # it, which is checked at the end.
        warm_dir = os.path.join(WORK, "data", "logs-warm")
        logs_dir = os.path.join(WORK, "data", "logs")
        os.makedirs(warm_dir)
        os.makedirs(logs_dir)
        for i in range(4):
            land(warm_dir, i, time.time(), warm_created)
        service.wait_ready()
        warm = FollowReader(service, warm_dir, FOLLOW_WARM_SECONDS, "warm")
        warm.start()
        warm_ok = _await_rows(warm, 4 * per_file)
        land(warm_dir, 4, time.time(), warm_created)
        warm_ok = _await_rows(warm, 5 * per_file) and warm_ok
        ready = now()
        log("warm-up done")

        # Measured follow over a directory holding FOLLOW_BACKLOG files,
        # read before the timed phase.  Then files land on a Poisson schedule (a fixed count at uniform
        # times) for ``seconds``, and FOLLOW_DRAIN seconds pass before
        # the kill switch.
        for i in range(FOLLOW_BACKLOG):
            land(logs_dir, i, time.time(), created)
        n_timed = int(round(rate * args.seconds))
        offs = np.sort(rng.uniform(0, args.seconds, n_timed))
        reader = FollowReader(service, logs_dir, int(args.seconds + FOLLOW_DRAIN), "follow")
        reset_peak_rss(service.info["pid"])
        reader.start()
        _await_rows(reader, FOLLOW_BACKLOG * per_file)
        t0 = time.time()
        split = t0 + args.seconds / 2 if args.trace else float("inf")
        late_ms, traced = [], False
        for k, off in enumerate(offs):
            t_sched = t0 + off
            if t_sched >= split and not traced:
                service.get_json("/_perfbench/trace?on=1")
                traced = True
            delay = t_sched - time.time()
            if delay > 0:
                time.sleep(delay)
            land(logs_dir, FOLLOW_BACKLOG + k, t_sched, created)
            late_ms.append((time.time() - t_sched) * 1000)
        reader.join(FOLLOW_DRAIN + 60)
        warm.join(FOLLOW_WARM_SECONDS + 60)
        warm_ok = warm_ok and warm.closed and warm.error is None and _follow_complete(
            warm.rows, warm_created)
        rss = peak_rss_mb(service.info["pid"])
        tr = service.get_json("/_perfbench/drain") if args.trace else None
    finally:
        service.stop()

    ok = (warm_ok and reader.closed and reader.error is None
          and _follow_complete(reader.rows, created))
    n_expected = sum(1 for _t, _f, r in created.values()
                     if re.fullmatch(FOLLOW_REGEX, r.value_str))

    def metrics(rows, t_from):
        lat = [(t - created[(r["partition"], r["offset"])][0]) * 1000 for t, r in rows]
        span = max(t for t, _ in rows) - t_from if rows else 1.0
        return {"lat_ms": lat, "throughput": len(rows) / span}

    def timed(row, lo, hi):
        t_sched, f, _ = created[(row["partition"], row["offset"])]
        return f >= FOLLOW_BACKLOG and lo <= t_sched < hi

    rows = reader.rows
    lo = split if args.trace else t0
    out = metrics([x for x in rows if timed(x[1], lo, float("inf"))], lo)
    # A matching record not delivered before the kill switch counts as
    # failed (late); a wrong, repeated or out-of-order row fails the run.
    out.update(setup_s=ready - t_start, rss=rss, attempted=n_expected, correct=ok,
               failed=n_expected - len(rows) if ok else n_expected)
    if args.trace:
        out["base"] = metrics([x for x in rows if timed(x[1], t0, split)], t0)
        out["trace"] = tr
        out["layers"] = follow_layers(tr, created, rows, late_ms, split,
                                      service.info["session_ms"])
    return out


def _await_rows(reader: FollowReader, n: int, timeout: float = 120) -> bool:
    """Wait until ``reader`` has ``n`` rows; False if it ended first."""
    deadline = time.monotonic() + timeout
    while len(reader.rows) < n:
        if not reader.is_alive() or time.monotonic() > deadline:
            return _fail(f"follow: {len(reader.rows)} rows, {n} expected")
        time.sleep(0.01)
    return True


def _follow_complete(rows, created) -> bool:
    """Each delivered row is a matching record of ``created``, delivered
    once, in offset order within its partition, equal to its record."""
    seen, last = set(), {}
    for _t, row in rows:
        k = (row.get("partition"), row.get("offset"))
        if k in seen or k not in created:
            return _fail(f"follow: unexpected or repeated row {row}")
        seen.add(k)
        if last.get(k[0], -1) >= k[1]:
            return _fail(f"follow: offset order broken at {k}")
        last[k[0]] = k[1]
        r = created[k][2]
        if (row["type"], row["key"], row["value"], row["topic"]) != (
                "result", r.key, r.value_obj, r.topic):
            return _fail(f"follow: row {row} differs from its record")
    # Files are taken in arrival order, so every matching record that
    # landed no later than the newest delivered one must be delivered.
    newest = max((created[k][0] for k in seen), default=float("-inf"))
    expected = {k for k, (t, _f, r) in created.items()
                if t <= newest and re.fullmatch(FOLLOW_REGEX, r.value_str)}
    if seen != expected:
        return _fail(f"follow: {len(expected - seen)} matching records missing")
    return True


def _fail(why: str) -> bool:
    print(f"perfbench: check failed: {why}", file=sys.stderr)
    return False


def follow_layers(tr: dict, created, rows, late_ms, t_split: float,
                  session_ms: float) -> dict:
    c = tr["counts"]
    n = max(1.0, c.get("streaming.batches", 0))
    fetches = max(1.0, c.get("sinks.fetches", 0))
    # Backlog at each traced trigger: matching records landed before the
    # trigger reported, minus matching rows the client had received.
    made = sorted(t for t, _f, r in created.values()
                  if re.fullmatch(FOLLOW_REGEX, r.value_str))
    got = sorted(t for t, _row in rows)
    backlog = [bisect.bisect_right(made, p["t"]) - bisect.bisect_right(got, p["t"])
               for p in tr["progress"] if p["t"] >= t_split]
    return {
        "session.start_ms": session_ms,
        "sources.records_scanned": c.get("sources.records_scanned", 0) / n,
        "functions.python_rows": c.get("functions.python_rows", 0) / n,
        "functions.python_bytes": c.get("functions.python_bytes", 0) / n,
        "functions.json_parse_ms": c.get("functions.json_parse_ms", 0) / fetches,
        "plans.catalyst_ms": c.get("plans.catalyst_ms", 0) / fetches,
        "sinks.fetch_wait_ms": tr["layers"].get("sinks.fetch_wait", {}).get("total_ms", 0)
        / fetches,
        "sinks.render_ms": c.get("sinks.render_ms", 0) / fetches,
        "sinks.rows": c.get("sinks.rows", 0) / fetches,
        "sinks.emit_ms": c.get("streaming.add_batch_ms", 0) / n,
        "streaming.trigger_ms": c.get("streaming.trigger_ms", 0) / n,
        "streaming.latest_offset_ms": c.get("streaming.latest_offset_ms", 0) / n,
        "streaming.query_planning_ms": c.get("streaming.query_planning_ms", 0) / n,
        "streaming.add_batch_ms": c.get("streaming.add_batch_ms", 0) / n,
        "streaming.wal_commit_ms": c.get("streaming.wal_commit_ms", 0) / n,
        "streaming.batches": c.get("streaming.batches", 0),
        "streaming.backlog_rows": statistics.mean(backlog) if backlog else 0.0,
        "streaming.generator_late_ms": statistics.median(late_ms) if late_ms else 0.0,
    }


# ---------------------------------------------------------------- catalog_batch

CATALOG_SCALE = 2


def run_catalog_batch(args, t_start: float) -> dict:
    import numpy as np

    from perfbench import gen
    from perfbench.batch import QUERIES

    sf_dir = os.path.join(WORK, "data", "catalog")
    gen.write_catalog_tables(np.random.default_rng(args.seed), sf_dir, CATALOG_SCALE)
    worker = Child([os.path.join(ROOT, "perfbench", "batch.py"), "--sf-dir", sf_dir,
                    "--seconds", str(args.seconds), "--trace", str(args.trace)],
                   "batch.log")
    try:
        stdout, _ = worker.proc.communicate(timeout=170)
    finally:
        worker.stop()
    res = json.loads(stdout.decode().strip().splitlines()[-1])
    n = len(res["latency_ms"])
    span_s = sum(res["latency_ms"]) / 1000
    out = {"lat_ms": res["latency_ms"],
           "throughput": len(QUERIES) * n / span_s, "setup_s": res["ready"] - t_start,
           "rss": res["rss_peak_mb"], "attempted": n, "correct": res["checks_ok"],
           "failed": 0 if res["checks_ok"] else n}
    if args.trace:
        b = res["base_latency_ms"]
        out["base"] = {"lat_ms": b,
                       "throughput": len(QUERIES) * len(b) / (sum(b) / 1000)}
        out["trace"] = res["trace"]
        out["layers"] = catalog_layers(res["trace"], n, res["session_ms"], QUERIES)
    return out


def catalog_layers(tr: dict, n_passes: int, session_ms: float, queries) -> dict:
    c, layers = tr["counts"], tr["layers"]
    out = {"session.start_ms": session_ms,
           "sources.resolve_ms": layers.get("sources.resolve", {}).get("total_ms", 0)
           / n_passes,
           "sources.resolve_calls": layers.get("sources.resolve", {}).get("n", 0)
           / n_passes}
    for q in queries:
        out[f"operators.{q}.build_ms"] = layers.get(f"operators.{q}.build", {}).get(
            "total_ms", 0) / n_passes
        out[f"operators.{q}.exec_ms"] = layers.get(f"operators.{q}.exec", {}).get(
            "total_ms", 0) / n_passes
        for m in ("catalyst_ms", "jobs", "shuffle_bytes"):
            out[f"operators.{q}.{m}"] = c.get(f"operators.{q}.{m}", 0) / n_passes
    return out


# ---------------------------------------------------------------- main

WORKLOADS = {
    "search_point": run_search_point,
    "follow_tail": run_follow_tail,
    "catalog_batch": run_catalog_batch,
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    t_start = now()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kbrowse_spark")):
        print("perfbench: kbrowse_spark/ not found next to perfbench/; "
              "run from the root of a kbrowse-spark checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)

    res = WORKLOADS[args.workload](args, t_start)

    log(f"latency_ms in completion order: {[round(v) for v in res['lat_ms']]}")
    if res["lat_ms"]:
        print(f"# {args.workload} {describe('latency_ms', res['lat_ms'], 50)}")
    if args.trace:
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        overhead = {
            "latency_p50_ms": pct(res["lat_ms"], 50) - pct(res["base"]["lat_ms"], 50),
            "throughput_per_s": res["throughput"] - res["base"]["throughput"],
        }
        metrics["trace.overhead_latency_p50_ms"]["value"] = overhead["latency_p50_ms"]
        os.makedirs(OUT_DIR, exist_ok=True)
        artifact = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(artifact, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "per_layer": res["layers"],
                       "tracing_overhead": overhead,
                       "layer_self_ms": res["trace"].get("layers"),
                       "counts": res["trace"].get("counts"),
                       "spans": res["trace"].get("spans"),
                       "progress": res["trace"].get("progress")}, f)
        print(f"# trace artifact: {os.path.relpath(artifact, ROOT)}")
    else:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "latency_p50_ms": (pct(res["lat_ms"], 50), "ms"),
            "throughput_per_s": (res["throughput"], "1/s"),
            "rss_peak_mb": (res["rss"], "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
