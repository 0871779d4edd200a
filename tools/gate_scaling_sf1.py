"""Standing sf1 scaling gate, run by tools/run_all_checks.sh.

A scale defect (an interpreted higher-order-function PQ encode that
stepped 40x over the sf0.1 -> sf1 decade) was once caught only because
someone happened to run the sf1 probe.  This gate re-measures the
slowest recorded operators at sf0.1 and sf1 on every sweep and flags

* **super-linear / fixed-cost-bound alarms**: sf1/sf0.1 wall ratio
  above 3.0x (sf1 is 10x the data; overhead-dominated ops step ~1-2x,
  data-bound linear ops up to ~10x — but every op in the slow set has a
  recorded ratio well under 3, so exceeding 3 means the op CHANGED
  shape).  Ops with a documented super-3x ratio carry an explicit
  per-op cap in ALLOW (stated reason next to it, same pattern as
  audit_plan_smells).
* **absolute regressions**: measured sf1 time over 1.5x the recorded
  `## sf1 step` row (+0.5 s absolute slack for timer noise on short
  ops) — the backstop that catches a regression that scales "cleanly"
  but got uniformly slower.

Selection: the slowest-N operators by recorded sf1 time (default 6,
``SPARK_GRAFT_GATE_SLOWEST``), plus any names passed as argv (use this
for new operators before their rows exist).  Ratio flags require
sf1 >= 1.0 s so sub-second timer noise can't trip the gate.  Each point
is ``bench.time_query`` (``SPARK_GRAFT_BENCH_RUNS`` runs) with shuffle
partitions sized for the directory read (``tune_for_input``).

Prereq: ``.localdata/sf1`` from tools/make_bigsf.py.  Missing data is a
loud SKIP, not a silent pass — the step prints the regeneration command
and exits 0 so a fresh clone isn't red, but the sweep log shows the
gate did not run.  A doc without ``## sf1 step`` rows is a failure: the
gate would select nothing and report CLEAN.

The decision logic is the pure function :func:`evaluate` so the
red-green fixture test (tests/test_gate_scaling.py) can drive it with
synthetic measurements.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scaling_probe import section_times  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".localdata", "sf1")
DOC = os.path.join(REPO, "docs", "SCALING_MEASUREMENTS.md")

RATIO_MAX = 3.0       # default sf1/sf0.1 ceiling (10x data)
REGRESS_MAX = 1.5     # vs the recorded sf1 row
REGRESS_SLACK_S = 0.5  # absolute timer-noise slack on the regression arm
RATIO_MIN_T1_S = 1.0   # ratio flags need a non-trivial sf1 time

# Per-op ratio caps for documented super-3x rows (reason stated here;
# the generic 3.0x applies to everything else).
ALLOW: dict[str, tuple[float, str]] = {
    "semdedup_prune": (
        4.5,
        "cell-size-capped pair join; recorded 3.4x is cap-bounded "
        "growth, not corpus^2 (docs/SCALING_MEASUREMENTS.md notes)",
    ),
    "dedup_prefix_filter_join": (
        5.5,
        "candidate pairs track true near-dup pairs (~10x pairs for "
        "10x data; counts pinned by tests/test_lsh_invariant.py) + "
        "the sf1 broadcast->shuffle strategy flip; measured ratio "
        "oscillates 3.5-4.8x across idle runs (r13 committed 4.76x, "
        "r13-judge idle 4.13x, recorded 3.5x) because both sf0.1 and "
        "sf1 arms sit near the strategy flip, so the old 4.5x cap "
        "cried wolf on runs that differ only by timer noise (VERDICT "
        "r13 #3).  5.5x still catches a real shape change (quadratic "
        "candidates would step >=10x)",
    ),
    "encoding_advisor_stats": (
        4.5,
        "data-bound windowed run-counter whose sf0.1 arm is partly "
        "session floor: five idle r14 runs measured ratio 2.0-2.9x "
        "with +/-1.5s sf1 variance (spread up to 1.8x), straddling "
        "the generic 3.0 cap on timer noise alone.  4.5x still "
        "catches a shape change (losing the bucketed stitch would "
        "step to a global-sort >=10x)",
    ),
    "spatial_grid_epsilon_join": (
        8.0,
        "output-volume-driven: fixed eps in a fixed domain gives "
        "density^2 pairs (measured 100.6x pairs for 10x points, "
        "6.0x wall — strongly sub-output-linear)",
    ),
}


def parse_recorded(doc_text: str) -> dict[str, tuple[float, float, float]]:
    """{op: (t_sf01, t_sf1, ratio)} from the '## sf1 step' table."""
    return section_times(doc_text, "sf1")


def evaluate(
    measured: dict[str, tuple[float, float]],
    recorded: dict[str, tuple[float, float, float]],
    ratio_max: float = RATIO_MAX,
    regress_max: float = REGRESS_MAX,
    allow: dict[str, tuple[float, str]] | None = None,
) -> list[dict]:
    """Pure gate logic: measured {op: (t01, t1)} -> list of flags."""
    allow = ALLOW if allow is None else allow
    flags = []
    for name, (t01, t1) in sorted(measured.items()):
        ratio = t1 / max(t01, 1e-9)
        cap, why = allow.get(name, (ratio_max, "generic ceiling"))
        if t1 >= RATIO_MIN_T1_S and ratio > cap:
            flags.append(
                {
                    "op": name,
                    "kind": "superlinear",
                    "detail": (
                        f"sf1/sf0.1 = {ratio:.1f}x > cap {cap}x ({why});"
                        f" t01={t01:.2f}s t1={t1:.2f}s"
                    ),
                }
            )
        rec = recorded.get(name)
        if rec and t1 > regress_max * rec[1] + REGRESS_SLACK_S:
            flags.append(
                {
                    "op": name,
                    "kind": "regression",
                    "detail": (
                        f"sf1 {t1:.2f}s > {regress_max}x recorded"
                        f" {rec[1]:.2f}s (+{REGRESS_SLACK_S}s slack)"
                    ),
                }
            )
    return flags


def main() -> int:
    if not os.path.isdir(SF1):
        print(
            "SKIP gate_scaling_sf1: no .localdata/sf1 — run"
            " `python tools/make_bigsf.py` to enable the standing gate"
        )
        return 0
    with open(DOC) as f:
        recorded = parse_recorded(f.read())
    if not recorded:
        print(
            f"FAILED gate_scaling_sf1: no rows under `## sf1 step` in {DOC};"
            " restore it from git, or record rows with"
            f" `python tools/scaling_probe.py {SF01} {SF1} NAME ...`"
        )
        return 1

    from bench import bench_runs, time_query
    from kbrowse_spark.catalog import all_queries
    from kbrowse_spark.functions.cache_registry import invalidate
    from kbrowse_spark.session import get_spark, tune_for_input

    n_slowest = int(os.environ.get("SPARK_GRAFT_GATE_SLOWEST", "6"))
    n_runs = bench_runs()
    qs = all_queries()
    picked = [
        name
        for name, _ in sorted(
            recorded.items(), key=lambda kv: -kv[1][1]
        )
        if name in qs
    ][:n_slowest]
    extra = [a for a in sys.argv[1:] if not a.startswith("-")]
    ops = picked + [o for o in extra if o not in picked]
    print(f"gate_scaling_sf1: probing {ops} (runs={n_runs})")

    spark = get_spark("gate_scaling_sf1")
    measured: dict[str, tuple[float, float]] = {}
    for name in ops:
        tune_for_input(spark, SF01)
        t01, _ = time_query(spark, qs[name].builder, SF01, n_runs)
        tune_for_input(spark, SF1)
        t1, _ = time_query(spark, qs[name].builder, SF1, n_runs)
        measured[name] = (t01, t1)
        rec = recorded.get(name)
        rec_s = f" (recorded sf1 {rec[1]:.2f}s)" if rec else " (no row)"
        print(
            f"  {name}: sf0.1 {t01:.2f}s  sf1 {t1:.2f}s "
            f" ratio {t1 / max(t01, 1e-9):.1f}x{rec_s}"
        )
    invalidate()

    flags = evaluate(measured, recorded)
    # The gate's evidence trail, one JSON per run (overwritten — the
    # git history of this file is the trend).
    record = {
        "metric": "gate_scaling_sf1",
        "runs_per_point": n_runs,
        "ops": {
            name: {
                "sf0.1_s": round(t01, 3),
                "sf1_s": round(t1, 3),
                "ratio": round(t1 / max(t01, 1e-9), 2),
                "recorded_sf1_s": (
                    recorded[name][1] if name in recorded else None
                ),
            }
            for name, (t01, t1) in sorted(measured.items())
        },
        "flags": flags,
    }
    with open(os.path.join(REPO, "gate_scaling_sf1_last.json"), "w") as f:
        json.dump(record, f, indent=1)
    if flags:
        for fl in flags:
            print(f"FLAGGED [{fl['kind']}] {fl['op']}: {fl['detail']}")
        return 1
    print(f"gate_scaling_sf1: CLEAN ({len(measured)} ops)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
