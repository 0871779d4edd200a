"""Bench harness contract: a query failing in the untimed warm pass is
NAMED on stderr (otherwise it would run cold in the timed loop and
surface only as a mystery spread outlier — VERDICT r7 #3)."""

from __future__ import annotations

import pytest

import bench


class _Boom:
    @property
    def builder(self):
        def _b(spark, sf_dir):
            raise RuntimeError("deliberately broken for the warm-pass test")

        return _b


def test_warm_pass_names_failing_query(capsys):
    qs = {"deliberately_broken_query": _Boom()}
    bench.warm_pass(
        spark=None, qs=qs, names=["deliberately_broken_query"],
        sf_dir="/nonexistent", label="warm pass",
    )
    err = capsys.readouterr().err
    assert "deliberately_broken_query" in err
    assert "RuntimeError" in err
    assert "warm pass failed" in err


def test_contended_flag_sees_between_run_load():
    """VERDICT r8 #3: within-run spread provably cannot see BETWEEN-run
    neighbor load, so an elevated 1-minute loadavg alone must flip the
    flag (the r8 driver run: loadavg 2.35 -> borderline but spreads
    clean recorded phantom 2.6x regressions; threshold cpus/8 = 4)."""
    # idle box, clean spreads -> not contended
    assert not bench.is_contended(0, 43, 0.3, 32)
    # loaded box, clean spreads -> contended (the r8 failure mode)
    assert bench.is_contended(0, 43, 4.5, 32)
    # idle loadavg but >25% of queries spread>2 -> contended
    assert bench.is_contended(12, 43, 0.3, 32)
    assert not bench.is_contended(10, 43, 0.3, 32)
    # boundary: exactly cpus/8 does not fire (strict >)
    assert not bench.is_contended(0, 43, 4.0, 32)


def test_stdout_summary_line_fits_driver_tail_capture():
    """The driver records a 2000-byte stdout tail and parses the LAST
    line; r1-r8 every BENCH_r*.json had parsed:null because the line
    outgrew it, and at 66 headline queries the full per-query dict
    did again (r12: 2003 bytes).  stdout_queries() keeps the slowest
    queries individually inside a byte budget and folds the rest into
    one __others__ rollup, so the line fits at ANY catalog size —
    asserted with worst-case 9.999 s values."""
    import json

    times = {n: 9.999 for n in bench.HEADLINE}
    q = bench.stdout_queries(times)
    summary = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": q,
        "n_queries": len(times),
        "contended": False,
        "n_spread_gt2": 0,
        "loadavg_1m": 0.25,
        "runs_per_query": 3,
        "sf": 0.1,
    }
    # Same compact separators bench.py prints with.
    assert len(json.dumps(summary, separators=(",", ":"))) < 1900
    # The rollup conserves the total and keeps the slow tail
    # per-query: every individually-listed time >= every folded one.
    folded = q.get("__others__", {"n": 0, "total": 0.0})
    listed = {k: v for k, v in q.items() if k != "__others__"}
    assert len(listed) + folded["n"] == len(times)
    assert abs(
        sum(listed.values()) + folded["total"] - sum(times.values())
    ) < 0.05 * len(times)
    # With 500 single-char-named queries the budget still holds.
    wide = {f"q{i}": 9.999 for i in range(500)}
    line = json.dumps(
        dict(summary, queries=bench.stdout_queries(wide)),
        separators=(",", ":"),
    )
    assert len(line) < 1900
    # r12 ADVICE: the budget accounting must hold BY CONSTRUCTION —
    # the serialized queries dict (including the __others__ rollup and
    # the braces) must fit the budget itself, not rely on headroom.
    for t in (times, wide):
        rendered = json.dumps(
            bench.stdout_queries(t), separators=(",", ":")
        )
        assert len(rendered) <= bench._STDOUT_QUERIES_BUDGET, len(rendered)


def test_stdout_queries_keeps_slowest_per_query():
    times = {f"query_name_number_{i:03d}": i / 10 for i in range(100)}
    q = bench.stdout_queries(times)
    listed = {k for k in q if k != "__others__"}
    assert "query_name_number_099" in listed  # slowest present
    if "__others__" in q:
        slowest_folded = max(
            v for k, v in times.items() if k not in listed
        )
        assert min(q[k] for k in listed) >= round(slowest_folded, 2)


def test_input_size_aware_shuffle_partitions():
    """session.py deployment rule (VERDICT r8 #3): partitions floor at
    the cpu count, grow linearly with input bytes (8 MiB/partition),
    cap at 4096 for AQE to coalesce."""
    from kbrowse_spark.session import shuffle_partitions_for

    mib = 1024 * 1024
    assert shuffle_partitions_for(17 * mib, cpus=32) == 32  # sf0.1
    assert shuffle_partitions_for(118 * mib, cpus=32) == 32  # sf1: floor
    assert shuffle_partitions_for(1132 * mib, cpus=32) == 142  # sf10
    assert shuffle_partitions_for(10**14, cpus=32) == 4096  # 100 TB: cap
    assert shuffle_partitions_for(0, cpus=32) == 32


def test_headline_queries_all_registered():
    from kbrowse_spark.catalog import all_queries

    qs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench names not in catalog: {missing}"
    assert isinstance(bench.HEADLINE, list) and len(set(bench.HEADLINE)) == len(
        bench.HEADLINE
    )


def test_contended_vs_reference_red_green(tmp_path):
    """VERDICT r13 #2: min-of-N + spread is blind to UNIFORM background
    load (driver r13: 93.5 s vs 79.0 s idle, n_spread_gt2=0).  The
    reference detector must flip when a majority of carried queries
    exceed 1.3x their idle-record min, and must NOT flip on an idle
    re-run or when only a minority drift."""
    ref = {f"q{i}": 1.0 for i in range(20)}
    # green: identical to reference
    flag, n_slow, n_common = bench.contended_vs_reference(dict(ref), ref)
    assert (flag, n_slow, n_common) == (False, 0, 20)
    # red: uniformly 1.5x slow (the r13 driver-run shape) -> flips
    slow = {k: 1.5 for k in ref}
    flag, n_slow, _ = bench.contended_vs_reference(slow, ref)
    assert flag and n_slow == 20
    # minority drift (regressions, not contention) -> does not flip
    part = dict(ref)
    for k in list(ref)[:6]:
        part[k] = 2.0
    flag, n_slow, _ = bench.contended_vs_reference(part, ref)
    assert not flag and n_slow == 6
    # sub-0.3s queries excluded: jitter there must not flip the flag
    tiny_ref = {f"t{i}": 0.05 for i in range(40)}
    tiny_now = {k: 0.2 for k in tiny_ref}  # 4x "slower", all tiny
    flag, _, n_common = bench.contended_vs_reference(tiny_now, tiny_ref)
    assert not flag and n_common == 0
    # fewer than min_common comparable queries -> never flips
    small_ref = {f"s{i}": 1.0 for i in range(5)}
    flag, _, _ = bench.contended_vs_reference(
        {k: 9.9 for k in small_ref}, small_ref
    )
    assert not flag


def test_reference_cpus_gates_the_comparison(tmp_path):
    """The idle reference is recorded at a specific core count; the
    driver ALSO runs the bench at a lower core count to measure
    scaling, where every query is uniformly slower for the honest
    reason.  load_reference_cpus must surface the recorded count so
    the runner can skip the comparison on mismatch (and the shipped
    reference must carry the field)."""
    import json
    import os

    ref = tmp_path / "ref.json"
    ref.write_text(json.dumps({"cpus": 32, "queries": {"a": 1.0}}))
    assert bench.load_reference_cpus(str(ref)) == 32
    # absent field / absent file -> None (comparison proceeds as before)
    ref2 = tmp_path / "ref2.json"
    ref2.write_text(json.dumps({"queries": {"a": 1.0}}))
    assert bench.load_reference_cpus(str(ref2)) is None
    assert bench.load_reference_cpus(str(tmp_path / "nope.json")) is None
    # the repo-shipped reference must be tagged with its core count
    shipped = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_idle_reference.json",
    )
    assert bench.load_reference_cpus(shipped) == 32


def test_load_reference_times_missing_or_corrupt(tmp_path):
    assert bench.load_reference_times(str(tmp_path / "nope.json")) == {}
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    assert bench.load_reference_times(str(bad)) == {}
    import json

    good = tmp_path / "good.json"
    good.write_text(json.dumps({"queries": {"a": 1.5, "b": "x"}}))
    assert bench.load_reference_times(str(good)) == {"a": 1.5}


def test_others_reserve_derived_from_actual_counts():
    """ADVICE r13 #4: the __others__ reserve must be derived from the
    dict actually serialized — a worst case beyond the old hardcoded
    n<=999 / total<100000 assumptions must still fit the budget."""
    import json

    times = {f"query_name_number_{i:05d}": 123456.789 for i in range(2000)}
    out = bench.stdout_queries(times)
    assert "__others__" in out
    assert (
        len(json.dumps(out, separators=(",", ":")))
        <= bench._STDOUT_QUERIES_BUDGET + 2
    )
    n = out["__others__"]["n"]
    assert n > 999  # beyond the old hardcoded assumption


def test_bench_only_unknown_names_exit_before_spark(tmp_path, monkeypatch, capsys):
    """A SPARK_GRAFT_BENCH_ONLY name outside HEADLINE must stop the run
    (exit 2, naming it) instead of timing nothing and printing a 0.0
    total; no Spark session is needed to say so."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", "q1_pricing_summary,no_such_query")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(tmp_path / "detail.json"))
    monkeypatch.setattr(
        bench, "get_spark", lambda *a, **k: pytest.fail("started Spark")
    )
    assert bench.main() == 2
    out = capsys.readouterr()
    assert "no_such_query" in out.err
    assert "q1_pricing_summary" not in out.err
    assert out.out == ""


class _NoopSink:
    """Stands in for ``builder(...)``: ``.write.format().mode().save()``
    calls the given function."""

    def __init__(self, on_save):
        self.on_save = on_save
        self.write = self

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        self.on_save()


def test_time_query_warms_once_then_takes_min_and_spread(monkeypatch):
    import itertools

    clock = itertools.count()
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(clock))
    durations = iter([99, 4, 2, 3])  # warm run, then three timed runs
    calls = []

    def builder(spark, sf_dir):
        def save():
            calls.append(sf_dir)
            for _ in range(next(durations)):
                next(clock)

        return _NoopSink(save)

    best, spread = bench.time_query(None, builder, "/data", 3)
    assert calls == ["/data"] * 4
    # each timed sample is its run's ticks plus the one tick of reading
    # the clock at the start
    assert best == 3
    assert spread == 5 / 3
