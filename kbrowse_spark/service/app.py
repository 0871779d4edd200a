"""HTTP API (kbrowse `src/kbrowse/core.clj:145-162` parity).

Routes:
* ``GET /search``            — streaming pioneer-protocol JSON array
  (chunked transfer; the scan runs while the client reads — the Spark
  analogue of the reference's piped-input-stream at core.clj:98-105)
* ``GET /cached``            — read-through response cache
* ``GET /default-partition`` — murmur2 partition for a key
* ``GET /server-configs``    — configured cluster aliases
* ``GET /health``            — liveness

Error contract (Q8): bad args -> 400 with ``{"error": msg}``.  A Spark
failure, whether while planning or mid-stream, still returns a closed
array: the pioneer, then ``{"error": msg}``.

The response cache reproduces the reference semantics
(core.clj:41-54,80-84): TTL + max-items, entries above the size cap
are marked uncacheable while streaming (the char-0 skip marker becomes
an explicit flag here).
"""

from __future__ import annotations

import threading
import time

from kbrowse_spark.config import EngineConfig
from kbrowse_spark.plans.query_spec import QuerySpec, QuerySpecError


class ResponseCache:
    """TTL + max-items + per-item size cap (reference core.clj:41-54)."""

    def __init__(self, max_items: int = 100, ttl_seconds: int = 3600,
                 item_size_limit: int = 4 * 1024 * 1024):
        self.max_items = max_items
        self.ttl = ttl_seconds
        self.size_limit = item_size_limit
        self._store: dict[str, tuple[float, str]] = {}
        self._lock = threading.Lock()

    def get(self, key: str) -> str | None:
        with self._lock:
            hit = self._store.get(key)
            if hit is None:
                return None
            ts, text = hit
            if time.monotonic() - ts > self.ttl:
                del self._store[key]
                return None
            return text

    def put(self, key: str, text: str) -> None:
        if len(text) > self.size_limit:
            return  # size-cap skip (the reference's char-0 marker)
        with self._lock:
            if len(self._store) >= self.max_items:
                oldest = min(self._store, key=lambda k: self._store[k][0])
                del self._store[oldest]
            self._store[key] = (time.monotonic(), text)


def create_app(spark=None, config: EngineConfig | None = None):
    import os

    from flask import Flask, Response, request

    app = Flask(
        "kbrowse_spark",
        static_folder=os.path.join(os.path.dirname(os.path.abspath(__file__)), "static"),
    )
    cfg = config or EngineConfig.load()
    cache = ResponseCache(
        max_items=cfg.cache_max_items,
        ttl_seconds=cfg.cache_ttl_minutes * 60,
        item_size_limit=cfg.cache_item_size_limit,
    )

    session_lock = threading.Lock()

    def get_session():
        nonlocal spark
        with session_lock:
            if spark is None:
                from kbrowse_spark.session import get_spark

                spark = get_spark("kbrowse_service")
            return spark

    @app.get("/")
    def console():
        return app.send_static_file("index.html")

    @app.get("/health")
    def health():
        return {"status": "ok"}

    @app.get("/server-configs")
    def server_configs():
        return {
            "clusters": cfg.clusters,
            "default-bootstrap-servers": cfg.default_bootstrap_servers,
        }

    # Topic-metadata cache (O19): background-refreshed per configured
    # cluster so the console dropdown never blocks on a broker.
    from kbrowse_spark.service.topics_cache import TopicMetadataCache

    topics_cache = TopicMetadataCache(
        # The default cluster is always refreshable, not only when no
        # named clusters exist.
        clusters=sorted(
            set(cfg.clusters.values()) | {cfg.default_bootstrap_servers}
        ),
        refresh_seconds=cfg.kafka_topics_cache_sleep_seconds,
    )
    app.extensions["kbrowse_topics_cache"] = topics_cache
    # Background refresh from service start (O19).  The initial refresh
    # is best-effort: with no broker client installed the lister raises
    # and the cache simply stays empty.
    topics_cache.start()

    @app.get("/topics")
    def topics():
        cluster = request.args.get(
            "bootstrap-servers", cfg.default_bootstrap_servers
        )
        return {"cluster": cluster, "topics": sorted(topics_cache.topics(cluster))}

    @app.get("/default-partition")
    def default_partition_route():
        from kbrowse_spark.functions.partitioner import default_partition

        key = request.args.get("key")
        n = request.args.get("num-partitions", request.args.get("num_partitions"))
        if not key or not n:
            return {"error": "key and num-partitions required"}, 400
        try:
            return Response(
                str(default_partition(key, int(n))), mimetype="text/plain"
            )
        except (ValueError, TypeError) as e:
            return {"error": str(e)}, 400

    @app.get("/cached")
    def cached():
        key = request.query_string.decode()
        hit = cache.get(key)
        if hit is None:
            return {"error": "not cached"}, 404
        return Response(hit, mimetype="application/json")

    @app.get("/search")
    def search():
        args = {k: v for k, v in request.args.items()}
        cache_key = request.query_string.decode()
        hit = cache.get(cache_key)
        if hit is not None:
            return Response(hit, mimetype="application/json")
        try:
            spec = QuerySpec.from_options(args)
        except QuerySpecError as e:
            return {"error": str(e)}, 400  # Q8
        if spec.stop_after_seconds is None:
            # Not set per-query: apply the service-level kill switch.
            spec.stop_after_seconds = cfg.stop_consumers_after_n_seconds
        if spec.schema_registry_url is None and "avro" in (
            spec.key_deserializer,
            spec.value_deserializer,
        ):
            # Per-cluster registry from config (reference search.clj:
            # 132-133 injects the cluster's registry at search time).
            spec.schema_registry_url = cfg.schema_registry_urls.get(
                spec.bootstrap_servers or cfg.default_bootstrap_servers
            )

        if spec.follow:
            # Follow mode over HTTP: an unbounded streaming query writes
            # protocol chunks into a queue drained by the chunked
            # response (the Spark analogue of the reference's
            # piped-input-stream).  If the client stops reading, the
            # writer times out and the watchdog stops the query — no
            # immortal thread.
            import queue

            from kbrowse_spark.streaming.follow import run_follow

            chunks: queue.Queue = queue.Queue(maxsize=1000)

            class _QueueWriter:
                def write(self, s: str) -> None:
                    chunks.put(s, timeout=300)

                def flush(self) -> None:
                    pass

            def _put_final(item) -> None:
                # Blocking with a generous timeout: a slow-but-alive
                # client must still receive the terminator; only a
                # fully-stuck consumer drops it.
                try:
                    chunks.put(item, timeout=600)
                except queue.Full:
                    pass

            def run() -> None:
                try:
                    run_follow(get_session(), spec, _QueueWriter(), bounded=False)
                except Exception:  # already on the wire: run_follow
                    # closed the array with the error element.
                    app.logger.exception("follow /search failed")
                finally:
                    _put_final(None)

            threading.Thread(target=run, daemon=True).start()

            def generate_follow():
                while True:
                    chunk = chunks.get()
                    if chunk is None:
                        return
                    yield chunk

            return Response(generate_follow(), mimetype="application/json")

        from kbrowse_spark.plans.planner import build_scan
        from kbrowse_spark.sinks.pioneer import close_array, emit_json_array, open_array

        try:
            df = build_scan(get_session(), spec)
        except QuerySpecError as e:
            return {"error": str(e)}, 400  # Q8: plan-time errors too
        except Exception as e:  # a Spark job at plan time failed: the
            # same closed array as a mid-stream failure, never cached.
            app.logger.exception("/search planning failed")
            return Response(
                open_array(pretty=False) + close_array(e), mimetype="application/json"
            )

        def generate():
            # Wall-clock kill switch for bounded scans too (the
            # reference applies stop-running-date to every search,
            # search.clj:117-121): cancel this query's job group after
            # the deadline so a huge /search can't pin the cluster.
            sc = df.sparkSession.sparkContext
            group = f"search-{time.monotonic_ns()}"
            sc.setJobGroup(group, "bounded /search", True)
            timer = threading.Timer(
                spec.stop_after_seconds, sc.cancelJobGroup, args=(group,)
            )
            timer.daemon = True
            timer.start()
            # The response is kept for the cache only while it fits
            # the cache's size cap: a bigger one is never buffered.
            buf: list[str] | None = []
            size = 0
            try:
                for chunk in emit_json_array(df, pretty=False):
                    size += len(chunk)
                    if size > cache.size_limit:
                        buf = None
                    elif buf is not None:
                        buf.append(chunk)
                    yield chunk  # chunked transfer: client reads while we scan
            except Exception as e:  # cancelled (or failed) mid-stream:
                # close the array on the wire, never cache the partial.
                yield close_array(e)
                return
            finally:
                timer.cancel()
            if buf is not None:
                cache.put(cache_key, "".join(buf))

        return Response(generate(), mimetype="application/json")

    return app


def main() -> None:  # pragma: no cover - manual entry
    create_app().run(host="127.0.0.1", port=4000, threaded=True)


if __name__ == "__main__":
    main()
