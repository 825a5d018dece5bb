"""Ingestion job CLI — the reference's A8 driver surface
(SURVEY.md §2A: `hadoop jar kafka-hadoop-consumer.jar -t topic -z zk
[-o earliest|last] [-l limit] <hdfs-out>`) re-expressed for Spark.

One bounded run per invocation (availableNow), resuming from the
checkpoint — exactly the reference's cron pattern, with the ZK offset
commit upgraded to the checkpoint WAL (exactly-once). Prints the run's
metrics (rows, micro-batches, summed per-phase ``duration_ms``) as one
JSON line.

    python -m kafka_hadoop_consumer_spark.streaming.cli \
        --kind file --format json --path /data/incoming \
        --schema "event_id long, ts timestamp, v double" \
        --out /data/lake/events --checkpoint /data/ck/events

    python -m kafka_hadoop_consumer_spark.streaming.cli \
        --kind kafka --topic events --brokers broker:9092 \
        --starting-offsets earliest --limit 100000 \
        --out /data/lake/events --checkpoint /data/ck/events
"""

from __future__ import annotations

import argparse
import json

from kafka_hadoop_consumer_spark.streaming.ingest import SourceSpec, run_ingest


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kafka_hadoop_consumer_spark.streaming.cli",
        description="Bounded streaming ingest run (reference A8 parity)",
    )
    p.add_argument(
        "--kind", choices=("kafka", "file", "rate", "kafka_sim"), required=True
    )
    # kafka (reference: -t topic, -z zookeeper → brokers)
    p.add_argument("--topic", help="Kafka topic (reference -t)")
    p.add_argument("--brokers", help="bootstrap servers (reference -z zk quorum)")
    p.add_argument(
        "--starting-offsets",
        default="earliest",
        help="earliest | latest | per-partition JSON (reference -o)",
    )
    p.add_argument(
        "--limit", type=int, default=None,
        help="per-trigger cap (reference -l): RECORDS per partition for "
             "kafka/kafka_sim, FILES per micro-batch for --kind file "
             "(the file source's only admission unit)",
    )
    # file
    p.add_argument("--path", help="input directory (file kind)")
    p.add_argument("--format", default="json", help="file format (json/csv/parquet)")
    p.add_argument("--schema", help="DDL schema string (file kind requires one)")
    # decode + sink (reference: mapper decode + <hdfs-out>)
    p.add_argument("--json-payload-schema", default=None,
                   help="if set, parse the payload as JSON with this DDL")
    p.add_argument("--out", required=True, help="output path (reference <hdfs-out>)")
    p.add_argument("--checkpoint", required=True,
                   help="checkpoint dir (reference: ZK offset znodes)")
    p.add_argument("--partition-by", default=None,
                   help="comma-separated sink partition columns")
    p.add_argument("--continuous", action="store_true",
                   help="run continuously instead of one bounded drain")
    p.add_argument("--max-runtime-sec", type=float, default=None,
                   help="bound a --continuous run: stop cleanly after the "
                        "first processed batch or this many seconds")
    p.add_argument("--sink-format", choices=("parquet", "text"),
                   default="parquet",
                   help="text = reference A6 literal parity (payload "
                        "lines); parquet = the at-scale default")
    # kafka_sim (the offline Kafka stand-in — same envelope/offset model)
    p.add_argument("--n-partitions", type=int, default=4,
                   help="kafka_sim: simulated topic-partition count")
    p.add_argument("--n-messages", type=int, default=250,
                   help="kafka_sim: messages per partition")
    p.add_argument("--payload", choices=("text", "json"), default="text",
                   help="kafka_sim: payload mode")
    return p


def spec_from_args(args: argparse.Namespace) -> SourceSpec:
    """Translate parsed CLI args to a SourceSpec (pure, unit-testable)."""
    if args.kind == "kafka":
        if not args.topic or not args.brokers:
            raise SystemExit("--kind kafka requires --topic and --brokers")
        return SourceSpec(
            kind="kafka",
            topic=args.topic,
            brokers=args.brokers,
            starting_offsets=args.starting_offsets,
            max_per_trigger=args.limit,
        )
    if args.kind == "file":
        if not args.path or not args.schema:
            raise SystemExit("--kind file requires --path and --schema")
        return SourceSpec(
            kind="file", path=args.path, format=args.format, schema=args.schema,
            # the reference `limit` flag: files per micro-batch
            max_files_per_trigger=args.limit,
        )
    if args.kind == "kafka_sim":
        return SourceSpec(
            kind="kafka_sim",
            topic=args.topic or "sim",
            max_per_trigger=args.limit,
            extra_options={
                "n_partitions": str(args.n_partitions),
                "n_messages": str(args.n_messages),
                "payload": args.payload,
            },
        )
    return SourceSpec(kind="rate")


def main(argv: list[str] | None = None) -> None:
    parser = build_parser()
    args = parser.parse_args(argv)
    # normalize "a, b" / trailing-comma spellings instead of passing
    # whitespace-prefixed or empty column names to partitionBy
    partition_by = (
        [c.strip() for c in args.partition_by.split(",") if c.strip()]
        if args.partition_by
        else None
    )
    # reject flag combinations that could only fail later with a
    # confusing AnalysisException (or be silently ignored):
    if args.sink_format == "text" and partition_by:
        parser.error(
            "--sink-format text writes a single 'value' column and "
            "cannot be partitioned by payload columns; use parquet"
        )
    if args.kind == "rate" and args.limit is not None:
        parser.error(
            "--limit is not supported for --kind rate (the rate source "
            "has no offset to cap); use a file or kafka_sim source for "
            "capped runs"
        )
    if args.max_runtime_sec is not None and not args.continuous:
        parser.error(
            "--max-runtime-sec only bounds a --continuous run; a bounded "
            "drain (the default) already stops when the source is empty"
        )
    from kafka_hadoop_consumer_spark import get_spark

    spark = get_spark(app_name="ingest-cli")
    res = run_ingest(
        spark,
        spec_from_args(args),
        out_path=args.out,
        checkpoint=args.checkpoint,
        json_schema=args.json_payload_schema,
        available_now=not args.continuous,
        partition_by=partition_by,
        max_runtime_sec=args.max_runtime_sec,
        sink_format=args.sink_format,
    )
    print(json.dumps(res, sort_keys=True))


if __name__ == "__main__":
    main()
