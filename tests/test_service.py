"""HTTP service tests via the Flask test client (kbrowse O22/Q8)."""

from __future__ import annotations

import json

import pytest

from kbrowse_spark.service.app import ResponseCache, create_app
from kbrowse_spark.sources.fixture import golden_topic_a


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("svc") / "topic_a.parquet")
    golden_topic_a(spark).write.parquet(path)
    app = create_app(spark=spark)
    app.config["TESTING"] = True
    c = app.test_client()
    c.fixture_path = path
    return c


def test_health(client):
    r = client.get("/health")
    assert r.status_code == 200 and r.get_json() == {"status": "ok"}


def test_default_partition_golden(client):
    r = client.get("/default-partition?key=k2&num-partitions=10")
    assert r.status_code == 200
    assert r.get_data(as_text=True) == "3"


def test_default_partition_missing_args(client):
    r = client.get("/default-partition")
    assert r.status_code == 400
    assert "error" in r.get_json()


def test_search_streaming_protocol(client):
    r = client.get(
        f"/search?source-parquet={client.fixture_path}&topics=topic-a&key-regex=k0"
    )
    assert r.status_code == 200
    rows = json.loads(r.get_data(as_text=True))
    assert rows[0] == {"type": "pioneer"}
    assert [x["value"] for x in rows[1:]] == ["v0", "v1"]


def test_search_bad_args_400(client):
    # Q8: error contract — 400 + {"error": ...}
    r = client.get(
        f"/search?source-parquet={client.fixture_path}&topics=topic-a"
        "&default-partition=true"
    )
    assert r.status_code == 400
    assert "error" in r.get_json()


def test_search_cached_roundtrip(client):
    qs = f"source-parquet={client.fixture_path}&topics=topic-a&key-regex=k2"
    missed = client.get(f"/cached?{qs}")
    assert missed.status_code in (200, 404)
    first = client.get(f"/search?{qs}").get_data(as_text=True)
    hit = client.get(f"/cached?{qs}")
    assert hit.status_code == 200
    assert hit.get_data(as_text=True) == first


def test_search_over_cache_cap_streams_uncached(spark, client, monkeypatch):
    """A response larger than the cache's size cap still streams whole,
    but is neither buffered to the end nor offered to the cache."""
    from kbrowse_spark.config import EngineConfig

    puts = []
    put = ResponseCache.put
    monkeypatch.setattr(
        ResponseCache, "put", lambda self, k, text: puts.append(k) or put(self, k, text)
    )
    app = create_app(spark=spark, config=EngineConfig(cache_item_size_limit=100))
    c = app.test_client()
    qs = f"source-parquet={client.fixture_path}&topics=topic-a&key-regex=k.*"
    text = c.get(f"/search?{qs}").get_data(as_text=True)
    assert len(text) > 100
    rows = json.loads(text)
    assert rows[0] == {"type": "pioneer"}
    assert [x["value"] for x in rows[1:]] == ["v0", "v1", "v2"]
    assert puts == []
    assert c.get(f"/cached?{qs}").status_code == 404


def test_cache_semantics():
    c = ResponseCache(max_items=2, ttl_seconds=1000, item_size_limit=10)
    c.put("a", "x" * 5)
    assert c.get("a") == "xxxxx"
    c.put("big", "x" * 11)  # over the size cap -> skipped
    assert c.get("big") is None
    c.put("b", "1")
    c.put("c", "2")  # evicts oldest (a)
    assert c.get("a") is None and c.get("c") == "2"


def test_server_configs(client):
    r = client.get("/server-configs")
    assert r.status_code == 200
    assert "clusters" in r.get_json()


def test_topics_endpoint_with_fake_lister(spark):
    app = create_app(spark=spark)
    cache = app.extensions["kbrowse_topics_cache"]
    cache.lister = lambda cluster: {"topic-a", "topic-b"}
    cache.refresh()
    c = app.test_client()
    r = c.get("/topics?bootstrap-servers=localhost:9092")
    assert r.status_code == 200
    assert r.get_json()["topics"] == ["topic-a", "topic-b"]


def test_console_feature_parity(client):
    """The console ships the reference features (SURVEY O24 /
    main.js:116-144, 224-251): cluster selector, per-cluster topics
    dropdown, default-partition Lookup button — wired to the tested
    endpoints."""
    html = client.get("/").get_data(as_text=True)
    for element_id in (
        "cluster-select",
        "topics-list",
        "lookup-button",
        "num-partitions",
        "bootstrap-servers",
    ):
        assert f'id="{element_id}"' in html, element_id
    # wiring points at the real endpoints
    for endpoint in ("/server-configs", "/topics", "/default-partition"):
        assert endpoint in html, endpoint


def test_console_dropdown_roundtrip(spark):
    """Dropdown data path end-to-end: seed the topics cache, fetch the
    console, fetch /topics for two clusters — per-cluster topic sets
    (the reference's on-cluster-change refresh, test-console.js:116-144)."""
    app = create_app(spark=spark)
    cache = app.extensions["kbrowse_topics_cache"]
    by_cluster = {
        "c1:9092": {"alpha", "beta"},
        "c2:9092": {"gamma"},
    }
    cache.clusters = sorted(by_cluster)
    cache.lister = lambda cluster: by_cluster[cluster]
    cache.refresh()
    c = app.test_client()
    assert c.get("/topics?bootstrap-servers=c1:9092").get_json()["topics"] == [
        "alpha",
        "beta",
    ]
    assert c.get("/topics?bootstrap-servers=c2:9092").get_json()["topics"] == [
        "gamma"
    ]
