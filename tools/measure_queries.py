"""Per-query measurement harness for optimization rounds.

Usage:
    python tools/measure_queries.py [--plans-dir DIR --tag before]
        [--runs 3] [--sf-dir /root/testdata/sf0.1] name [name ...]

For each named catalog query: optional .explain("formatted") capture to
<plans-dir>/<name>_<tag>.txt, then warm (one untimed noop run) +
min-of-N timed noop runs, printed as a JSON line per query and a
summary dict at the end.  Mirrors bench.py methodology (noop sink,
adjacent warm run, min-of-N) so numbers are comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kbrowse_spark.catalog import all_queries  # noqa: E402
from kbrowse_spark.session import get_spark, tune_for_input  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    spark = get_spark("kbrowse_measure")
    tune_for_input(spark, args.sf_dir)
    qs = all_queries()
    times: dict[str, float] = {}
    for name in args.names:
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        spark.sparkContext.setJobDescription(f"measure: {name}")
        df = qs[name].builder(spark, args.sf_dir)
        if args.plans_dir:
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
        # warm run (untimed), then min-of-N
        df.write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            qs[name].builder(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(time.perf_counter() - t0)
        times[name] = round(min(samples), 3)
        print(
            json.dumps(
                {
                    "query": name,
                    "min": round(min(samples), 3),
                    "samples": [round(s, 3) for s in samples],
                }
            ),
            flush=True,
        )
    print(json.dumps({"summary": times, "total": round(sum(times.values()), 3)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
