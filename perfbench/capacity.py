"""Follow-mode capacity probe: the arrival rate the ``follow_tail``
workload's service sustains on this machine.  ``run.py``'s
``FOLLOW_RATE`` is half of what this reports.

Usage (from the root of a checkout)::

    python3 perfbench/capacity.py [--seed N] [--seconds S]

At each rate, in increasing steps of about 1.4x, this runs the
``follow_tail`` workload as ``run.py`` does (fresh service, the same
warm-up, one follow request, Poisson arrivals for S seconds, S from
BENCHMARK.json by default), with the offered rate changed.  A rate is
sustained when every matching record arrives before the kill switch,
the median lag is at most twice that at the lowest rate (queueing adds
no more than the unloaded lag: one trigger wait and one micro-batch),
and the median lag of the step's last third is at most 1.5 times that
of its first third plus one trigger interval (the backlog does not
grow).  The sweep stops at the first rate that is not sustained; the
last line of stdout is a JSON object with every step and the highest
sustained rate.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import WORK, now  # noqa: E402
from perfbench.run import load_spec, log, run_follow_tail  # noqa: E402

RATES = (8, 11, 16, 23, 32, 45, 64, 90, 128)
TRIGGER_MS = 1000  # the service's follow-mode processingTime interval


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: BENCHMARK.json's run_seconds")
    args = ap.parse_args(argv)
    if args.seconds is None:
        args.seconds = float(load_spec()["run_seconds"])
    args.trace = 0

    steps, sustained, unloaded = [], 0, None
    for rate in RATES:
        shutil.rmtree(WORK, ignore_errors=True)
        os.makedirs(WORK)
        res = run_follow_tail(args, now(), rate=rate)
        lat = res["lat_ms"]  # in delivery order
        third = max(1, len(lat) // 3)
        first = statistics.median(lat[:third]) if lat else float("inf")
        last = statistics.median(lat[-third:]) if lat else float("inf")
        p50 = statistics.median(lat) if lat else float("inf")
        unloaded = p50 if unloaded is None else unloaded
        steps.append({"rate": rate, "matching": res["attempted"], "failed": res["failed"],
                      "correct": res["correct"], "lag_p50_ms": p50,
                      "lag_p50_first_third_ms": first, "lag_p50_last_third_ms": last,
                      "sustained": bool(res["correct"] and res["failed"] == 0
                                        and p50 <= 2 * unloaded
                                        and last <= 1.5 * first + TRIGGER_MS)})
        log(f"rate {rate}/s: {steps[-1]}")
        if not steps[-1]["sustained"]:
            break
        sustained = rate
    print(json.dumps({"seed": args.seed, "seconds": args.seconds,
                      "cpus": len(os.sched_getaffinity(0)), "steps": steps,
                      "sustained_files_per_s": sustained}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
