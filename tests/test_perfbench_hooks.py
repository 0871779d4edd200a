"""The benchmark's tracer (perfbench/service.py ``install_tracing``) wraps
engine functions by name.  This guard fails tier-1 when an engine
refactor removes or renames one of them, instead of the benchmark
service crashing at start."""

from __future__ import annotations

import ast
import importlib
import os

SERVICE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "service.py"
)

# Names the tracer is known to bind; the parse below must find them all.
KNOWN = {
    "planner.build_scan",
    "planner.envelope_from_parquet",
    "planner.string_decode",
    "kafka.default_partition",
    "pioneer.emit_json_array",
    "pioneer.render_row",
    "pioneer.try_parse_json",
    "follow.render_row",
    "service_app.ResponseCache.get",
    "service_app.ResponseCache.put",
    "DataFrame.toLocalIterator",
}


def _dotted(node: ast.AST) -> list[str] | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    return [node.id, *reversed(parts)] if isinstance(node, ast.Name) else None


def _tracer_bindings() -> tuple[dict[str, object], set[str]]:
    """(imported alias -> object, dotted names bound on those aliases)."""
    with open(SERVICE) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in ast.walk(tree)
              if isinstance(n, ast.FunctionDef) and n.name == "install_tracing")
    aliases: dict[str, object] = {}
    for node in ast.walk(fn):
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                try:
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                except ImportError:
                    obj = getattr(importlib.import_module(node.module), a.name)
                aliases[a.asname or a.name] = obj
    names = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Attribute):
            dotted = _dotted(node)
            if dotted and dotted[0] in aliases:
                names.add(".".join(dotted))
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
              and node.func.attr == "wrap" and len(node.args) >= 2
              and isinstance(node.args[0], ast.Name) and node.args[0].id in aliases
              and isinstance(node.args[1], ast.Constant)):
            names.add(f"{node.args[0].id}.{node.args[1].value}")
    return aliases, names


def test_tracer_bound_names_exist():
    aliases, names = _tracer_bindings()
    assert KNOWN <= names, f"tracer parse missed {sorted(KNOWN - names)}"
    missing = []
    for name in sorted(names):
        root, *attrs = name.split(".")
        obj = aliases[root]
        for attr in attrs:
            if not hasattr(obj, attr):
                missing.append(name)
                break
            obj = getattr(obj, attr)
    assert not missing, f"perfbench/service.py binds names the engine lost: {missing}"


def test_search_paths_call_traced_layers(spark, tmp_path, monkeypatch):
    """The tracer's wrappers only measure what the search path calls
    through these module attributes: a bounded /search must reach
    planner.build_scan, pioneer.emit_json_array and pioneer.render_row,
    a follow /search follow.render_row."""
    import collections
    import json

    from kbrowse_spark.plans import planner
    from kbrowse_spark.service.app import create_app
    from kbrowse_spark.sinks import pioneer
    from kbrowse_spark.sources.fixture import golden_topic_a
    from kbrowse_spark.streaming import follow

    calls: collections.Counter = collections.Counter()
    for module, alias, name in (
        (planner, "planner", "build_scan"),
        (pioneer, "pioneer", "emit_json_array"),
        (pioneer, "pioneer", "render_row"),
        (follow, "follow", "render_row"),
    ):
        def counted(*args, _fn=getattr(module, name), _key=f"{alias}.{name}", **kwargs):
            calls[_key] += 1
            return _fn(*args, **kwargs)

        monkeypatch.setattr(module, name, counted)

    path = str(tmp_path / "topic_a.parquet")
    golden_topic_a(spark).write.parquet(path)
    c = create_app(spark=spark).test_client()
    qs = f"source-parquet={path}&topics=topic-a"
    rows = json.loads(c.get(f"/search?{qs}").get_data(as_text=True))
    assert len(rows) == 4
    assert calls == {"planner.build_scan": 1, "pioneer.emit_json_array": 1,
                     "pioneer.render_row": 3}

    calls.clear()
    r = c.get(f"/search?{qs}&follow=true&stop-after-seconds=120", buffered=False)
    chunks = iter(r.response)
    assert next(chunks).startswith(b"[")
    for _ in range(3):  # the three records, one element each
        assert next(chunks).startswith(b", {")
    r.close()
    assert calls == {"planner.build_scan": 1, "follow.render_row": 3}
