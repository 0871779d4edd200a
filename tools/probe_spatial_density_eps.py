#!/usr/bin/env python
"""Measure spatial_grid_epsilon_join's sf1 -> sf10 step with
DENSITY-SCALED eps: eps(n) = _EPS * sqrt(n0/n) holds
expected cell occupancy flat, so candidate volume and expected output
pairs grow LINEARLY in n — the deployment posture the operator's
docstring promises ("a density-aware deployment shrinks eps the way
the LSH ladder adds bits"), here proven with numbers.

Contrast row: the fixed-eps arm (the registered query) measured a 6.0x
sf1 step driven by 100.6x pair growth; the scaled-eps arm should hold
pairs/row roughly flat across the decade.

Usage: python tools/probe_spatial_density_eps.py
Prints one line per (sf, eps, n_pairs, seconds) and a summary step.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_runs  # noqa: E402
from kbrowse_spark.operators.knn import (  # noqa: E402
    _eps_for_density,
    _spatial_pairs,
)
from kbrowse_spark.session import get_spark, tune_for_input  # noqa: E402
from kbrowse_spark.sources.tables import load  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARMS = [
    (os.path.join(REPO, ".localdata", "sf1"), "sf1"),
    (os.path.join(REPO, ".localdata", "sf10"), "sf10"),
]


def main() -> None:
    for d, _ in ARMS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing {d}: run tools/make_bigsf.py first")
    spark = get_spark("probe_spatial_density_eps")
    tune_for_input(spark, ARMS[-1][0])
    n_runs = bench_runs()

    rows = []
    for d, label in ARMS:
        n = load(spark, d, "embeddings").count()
        eps = _eps_for_density(n)
        df = _spatial_pairs(spark, d, eps)
        # pre-warm (page cache + codegen), then best-of-n timed runs
        n_pairs = df.count()
        best = min(
            _timed(lambda: _spatial_pairs(spark, d, eps).count())
            for _ in range(n_runs)
        )
        rows.append((label, n, round(eps, 5), n_pairs, round(best, 2)))
        print(
            f"{label}: n={n} eps={eps:.5f} pairs={n_pairs} "
            f"pairs/row={n_pairs / n:.2f} best={best:.2f}s"
        )
    (l1, n1, _, p1, t1), (l10, n10, _, p10, t10) = rows
    print(
        f"step {l1}->{l10}: wall {t10 / t1:.1f}x, pairs {p10 / p1:.1f}x, "
        f"pairs/row {p1 / n1:.2f} -> {p10 / n10:.2f} "
        f"(fixed-eps arm measured 100.6x pairs for the same decade)"
    )


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


if __name__ == "__main__":
    main()
