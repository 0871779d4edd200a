"""CLI entry (kbrowse `lein run cli` parity — SURVEY O23).

``python -m kbrowse_spark.cli --source-parquet <envelope.parquet>
--key-regex 'k0' ...`` prints the pioneer-protocol JSON array to
stdout, one chunk per line group, exactly like the reference CLI's
println sink (`src/kbrowse/core.clj:164-175`).  Every search, bounded,
``--follow`` or written with ``--output-parquet``, runs through
kbrowse_spark/search.run_search, with the HTTP service's option parser
and validator.

Exit codes: 0; 1 when the search failed (``{"error": msg}`` on stderr;
stdout still holds the closed array, ending with the error element,
unless the rows went to ``--output-parquet``); 2 for invalid options,
``--output-parquet`` with ``--follow`` among them.
"""

from __future__ import annotations

import argparse
import json
import sys

from kbrowse_spark.plans.query_spec import QuerySpec, QuerySpecError


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kbrowse-spark",
        description="Grep-like search over Kafka-envelope record streams on Spark",
    )
    p.add_argument("--bootstrap-servers")
    p.add_argument("--source-parquet", help="offline envelope parquet source")
    p.add_argument("--topics", default="")
    p.add_argument("--partitions")
    p.add_argument("--default-partition", action="store_true")
    p.add_argument("--key-regex")
    p.add_argument("--value-regex")
    p.add_argument("--key-deserializer", default="string",
                   help="string | msgpack | avro")
    p.add_argument("--value-deserializer", default="string",
                   help="string | msgpack | avro")
    p.add_argument(
        "--num-partitions",
        help="topic partition count for offline sources (default-partition math)",
    )
    p.add_argument("--relative-offset")
    p.add_argument("--start-timestamp")
    p.add_argument("--stop-timestamp")
    p.add_argument("--follow", action="store_true")
    p.add_argument("--print-offset")
    p.add_argument("--pretty", action="store_true")
    p.add_argument(
        "--output-parquet",
        help="write result rows to this parquet path instead of stdout "
        "(bounded searches only)",
    )
    p.add_argument(
        "--stop-after-seconds",
        help="wall-clock kill switch for the search, bounded or --follow "
        "(default 86400)",
    )
    p.add_argument("--avro-key-schema", help="writer schema JSON for avro keys")
    p.add_argument("--avro-value-schema", help="writer schema JSON for avro values")
    p.add_argument(
        "--schema-registry-url",
        help="Confluent schema registry: resolve avro writer schemas "
        "per wire-header id (explicit --avro-*-schema wins)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    def fail(e: Exception, code: int) -> int:
        print(json.dumps({"error": str(e)}), file=sys.stderr)
        return code

    args = build_arg_parser().parse_args(argv)
    try:
        # The HTTP parser and validator, over the options given.
        spec = QuerySpec.from_options(
            {k: v for k, v in vars(args).items() if v is not None}
        )
        if args.output_parquet and spec.follow:
            raise QuerySpecError("--output-parquet cannot be used with --follow")
    except QuerySpecError as e:
        return fail(e, 2)
    for side, deser, schema in (
        ("key", spec.key_deserializer, spec.avro_key_schema),
        ("value", spec.value_deserializer, spec.avro_value_schema),
    ):
        if deser == "avro" and not schema and not spec.schema_registry_url:
            print(
                f"warning: --{side}-deserializer avro without "
                f"--avro-{side}-schema: only the raw post-header bytes are "
                "matched/emitted",
                file=sys.stderr,
            )

    from kbrowse_spark.search import run_search
    from kbrowse_spark.session import get_spark

    spark = get_spark("kbrowse_cli")
    code = 0
    try:
        for chunk in run_search(spark, spec, args.pretty, args.output_parquet):
            sys.stdout.write(chunk)
            sys.stdout.flush()  # incremental emission, reference parity
    except QuerySpecError as e:
        return fail(e, 2)
    except Exception as e:  # any array on stdout is closed with the error
        code = fail(e, 1)
    sys.stdout.write("\n")
    return code


if __name__ == "__main__":
    raise SystemExit(main())
