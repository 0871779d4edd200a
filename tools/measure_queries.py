"""Per-query measurement harness for optimization rounds.

Usage:
    python tools/measure_queries.py [--plans-dir DIR --tag before]
        [--sf-dir /root/testdata/sf0.1] name [name ...]

For each named catalog query: optional .explain("formatted") capture to
<plans-dir>/<name>_<tag>.txt, then ``bench.time_query`` (one adjacent
untimed noop run, then the min of ``SPARK_GRAFT_BENCH_RUNS`` timed noop
runs and their spread), printed as a JSON line per query and a summary
dict at the end.  It is the bench's own timer, so numbers are
comparable with bench.py's.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_runs, time_query  # noqa: E402
from kbrowse_spark.catalog import all_queries  # noqa: E402
from kbrowse_spark.session import get_spark, tune_for_input  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    spark = get_spark("kbrowse_measure")
    tune_for_input(spark, args.sf_dir)
    qs = all_queries()
    runs = bench_runs()
    times: dict[str, float] = {}
    for name in args.names:
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        spark.sparkContext.setJobDescription(f"measure: {name}")
        if args.plans_dir:
            df = qs[name].builder(spark, args.sf_dir)
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w"
            ) as f:
                f.write(plan)
        t, spread = time_query(spark, qs[name].builder, args.sf_dir, runs)
        times[name] = round(t, 3)
        print(
            json.dumps(
                {"query": name, "min": round(t, 3), "spread": round(spread, 2)}
            ),
            flush=True,
        )
    print(json.dumps({"summary": times, "total": round(sum(times.values()), 3)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
