"""CLI entry (kbrowse `lein run cli` parity — SURVEY O23).

``python -m kbrowse_spark.cli --source-parquet <envelope.parquet>
--key-regex 'k0' ...`` prints the pioneer-protocol JSON array to
stdout, one chunk per line group, exactly like the reference CLI's
println sink (`src/kbrowse/core.clj:164-175`).
"""

from __future__ import annotations

import argparse
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
                   choices=["string", "msgpack", "avro"])
    p.add_argument("--value-deserializer", default="string",
                   choices=["string", "msgpack", "avro"])
    p.add_argument(
        "--num-partitions",
        type=int,
        help="topic partition count for offline sources (default-partition math)",
    )
    p.add_argument("--relative-offset", type=int)
    p.add_argument("--start-timestamp")
    p.add_argument("--stop-timestamp")
    p.add_argument("--follow", action="store_true")
    p.add_argument("--print-offset", type=int)
    p.add_argument("--pretty", action="store_true")
    p.add_argument(
        "--output-parquet",
        help="write result rows to this parquet path instead of stdout",
    )
    p.add_argument(
        "--stop-after-seconds",
        type=int,
        help="follow-mode wall-clock kill switch (default 86400)",
    )
    p.add_argument("--avro-key-schema", help="writer schema JSON for avro keys")
    p.add_argument("--avro-value-schema", help="writer schema JSON for avro values")
    p.add_argument(
        "--schema-registry-url",
        help="Confluent schema registry: resolve avro writer schemas "
        "per wire-header id (explicit --avro-*-schema wins)",
    )
    return p


def spec_from_args(args: argparse.Namespace) -> QuerySpec:
    spec = QuerySpec(
        bootstrap_servers=args.bootstrap_servers,
        source_parquet=args.source_parquet,
        topics=[t for t in (args.topics or "").split(",") if t],
        partitions=[int(x) for x in args.partitions.split(",")]
        if args.partitions
        else None,
        default_partition=args.default_partition,
        key_regex=args.key_regex,
        value_regex=args.value_regex,
        key_deserializer=args.key_deserializer,
        value_deserializer=args.value_deserializer,
        num_partitions=args.num_partitions,
        relative_offset=args.relative_offset,
        start_timestamp=args.start_timestamp,
        stop_timestamp=args.stop_timestamp,
        follow=args.follow,
        print_offset=args.print_offset,
        stop_after_seconds=args.stop_after_seconds,
        avro_key_schema=args.avro_key_schema,
        avro_value_schema=args.avro_value_schema,
        schema_registry_url=args.schema_registry_url,
    )
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
    return spec.validate()


def main(argv: list[str] | None = None) -> int:
    import json as _json

    args = build_arg_parser().parse_args(argv)
    try:
        spec = spec_from_args(args)
    except QuerySpecError as e:
        print(_json.dumps({"error": str(e)}), file=sys.stderr)
        return 2

    from kbrowse_spark.session import get_spark

    spark = get_spark("kbrowse_cli")
    if spec.follow:
        from kbrowse_spark.streaming.follow import run_follow

        # True follow: unbounded polling until the kill switch fires
        # (reference semantics — follow ignores the snapshot bound).
        # run_follow closes the array on stdout whether or not it fails.
        try:
            run_follow(spark, spec, sys.stdout, bounded=False)
        except Exception as e:
            print(_json.dumps({"error": str(e)}), file=sys.stderr)
            return 1
        return 0

    from kbrowse_spark.plans.planner import build_scan
    from kbrowse_spark.sinks.pioneer import emit_json_array

    df = build_scan(spark, spec)
    if args.output_parquet:
        # Parquet sink: distributed write, no driver materialization.
        df.write.mode("overwrite").parquet(args.output_parquet)
        print(f'{{"written": "{args.output_parquet}"}}')
        return 0
    for chunk in emit_json_array(df, pretty=args.pretty):
        sys.stdout.write(chunk)
        sys.stdout.flush()  # incremental emission, reference parity
    sys.stdout.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
