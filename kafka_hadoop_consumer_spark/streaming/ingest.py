"""Ingestion pipeline: the reference's end-to-end job (SURVEY.md §2A
A1–A8) as Structured Streaming.

Reference semantics → Spark mapping (SURVEY.md §1.2):

- one map task per Kafka partition  → source partitions (narrow, no shuffle)
- ZK offset commit after job success → checkpoint offsets WAL + commit log
  (upgraded: at-least-once → exactly-once with file sinks)
- cron-driven "consume to latest, then exit" → trigger(availableNow=True)
- CLI `limit` flag → maxOffsetsPerTrigger / maxFilesPerTrigger
- start-offset flag (earliest/last) → startingOffsets / checkpoint resume

The literal Kafka source cannot run here (no spark-sql-kafka jar, no
network — SURVEY.md §7 R1): ``kafka`` specs build the exact reader plan
(unit-tested as an options contract); ``file`` specs exercise the entire
downstream pipeline end-to-end with identical checkpoint/commit logic.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader


@dataclass(frozen=True)
class SourceSpec:
    """Declarative source config — the analogue of the reference CLI args
    (`-t topic -z zk -o offset -l limit`)."""

    kind: str                       # "kafka" | "file" | "rate" | "kafka_sim"
    # kafka
    topic: str | None = None
    brokers: str | None = None
    starting_offsets: str = "earliest"   # earliest | latest | per-partition JSON
    max_per_trigger: int | None = None   # reference `limit` flag
    # file
    path: str | None = None
    format: str = "json"
    schema: str | None = None            # DDL string; file sources require one
    max_files_per_trigger: int | None = None
    # rate
    rows_per_second: int = 100
    extra_options: dict[str, str] = field(default_factory=dict)


def kafka_source_options(spec: SourceSpec) -> dict[str, str]:
    """The exact option set for spark.readStream.format('kafka').

    Testable contract for the un-runnable-offline source (R1); mirrors the
    reference's ZK/broker/topic/offset/limit argument handling.
    """
    if spec.kind != "kafka":
        raise ValueError(f"not a kafka spec: {spec.kind}")
    if not spec.topic or not spec.brokers:
        raise ValueError("kafka spec requires topic and brokers")
    opts = {
        "kafka.bootstrap.servers": spec.brokers,
        "subscribe": spec.topic,
        "startingOffsets": spec.starting_offsets,
        # at-least-once → exactly-once is handled by the checkpoint, not
        # the consumer group; don't fail a whole run on retention expiry
        "failOnDataLoss": "false",
    }
    if spec.max_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(spec.max_per_trigger)
    opts.update(spec.extra_options)
    return opts


def build_reader(spark: SparkSession, spec: SourceSpec) -> DataStreamReader:
    """Configured streaming reader for any source kind (not yet loaded)."""
    if spec.kind == "kafka":
        reader = spark.readStream.format("kafka")
        for k, v in kafka_source_options(spec).items():
            reader = reader.option(k, v)
        return reader
    if spec.kind == "file":
        if spec.schema is None:
            raise ValueError("file streams require an explicit schema (no inference)")
        reader = spark.readStream.format(spec.format).schema(spec.schema)
        if spec.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(spec.max_files_per_trigger))
        for k, v in spec.extra_options.items():
            reader = reader.option(k, v)
        return reader
    if spec.kind == "rate":
        reader = spark.readStream.format("rate").option(
            "rowsPerSecond", str(spec.rows_per_second)
        )
        for k, v in spec.extra_options.items():
            reader = reader.option(k, v)
        return reader
    if spec.kind == "kafka_sim":
        # the offline Kafka stand-in: same envelope, same offset
        # semantics, implemented as a custom Python DataSource; pass
        # n_partitions / n_messages via extra_options
        from kafka_hadoop_consumer_spark.sources import kafka_sim

        kafka_sim.register(spark)
        reader = spark.readStream.format("kafka_sim")
        if spec.topic:
            reader = reader.option("topic", spec.topic)
        if spec.max_per_trigger is not None:
            # the reference `limit` flag — admission control in the
            # simulated broker (maxOffsetsPerTrigger analogue)
            reader = reader.option("max_per_trigger", str(spec.max_per_trigger))
        for k, v in spec.extra_options.items():
            reader = reader.option(k, v)
        return reader
    raise ValueError(f"unknown source kind: {spec.kind}")


def load_stream(spark: SparkSession, spec: SourceSpec) -> DataFrame:
    reader = build_reader(spark, spec)
    if spec.kind == "file":
        return reader.load(spec.path)
    return reader.load()


def decode_payload(
    df: DataFrame,
    json_schema: str | None = None,
    corrupt_col: str | None = "_corrupt_payload",
) -> DataFrame:
    """§2A A5: drop the Kafka envelope, decode bytes → text (or parse JSON
    payloads into typed columns when a schema is given).

    ``from_json`` turns a malformed payload into an all-null row; with
    the raw bytes projected away that is silent, unrecoverable loss.
    ``corrupt_col`` (default on) appends PERMISSIVE's
    columnNameOfCorruptRecord to the parse schema, so rows that failed
    to parse carry their raw payload there (NULL for clean rows) —
    route it to a quarantine sink, or pass ``corrupt_col=None`` to
    accept the loss explicitly. Requires ``json_schema`` as a plain
    DDL field list (which is also what file sources take)."""
    # A Kafka envelope is identified by its full signature, not just a
    # "value" column — payload schemas may legitimately have one (the
    # fixture events table does).
    kafka_envelope = {"value", "topic", "partition", "offset"}
    if kafka_envelope <= set(df.columns):
        if "timestamp" in df.columns:
            event_time = [F.col("timestamp")]
        elif "ts_us" in df.columns:
            # kafka_sim's envelope carries event time as epoch micros
            # (sources/kafka_sim.py); surface it under the real Kafka
            # source's column name so downstream event-time use (window
            # aggs, time-based partition_by) is source-agnostic —
            # dropping it silently broke the "same envelope" stand-in
            # contract (r9 review)
            event_time = [F.timestamp_micros("ts_us").alias("timestamp")]
        else:
            event_time = []
        decoded = df.select(
            F.col("value").cast("string").alias("payload"),
            "topic",
            "partition",
            "offset",
            *event_time,
        )
    else:
        decoded = df
    if json_schema is not None:
        if "payload" in decoded.columns:
            payload_col = "payload"
        elif len(decoded.columns) == 1:
            payload_col = decoded.columns[0]
        else:
            # guessing columns[0] on a multi-column non-envelope frame
            # would silently parse the wrong column (r9 review: a csv
            # with the JSON in column 2 lands every row in quarantine)
            raise ValueError(
                "decode_payload: json_schema given but no 'payload' "
                f"column to parse among {decoded.columns}; select or "
                "alias the JSON column to 'payload' first"
            )
        if corrupt_col:
            from kafka_hadoop_consumer_spark.sources.batch import (
                corrupt_record_schema,
            )

            schema_arg = corrupt_record_schema(json_schema, corrupt_col)
            opts = {"columnNameOfCorruptRecord": corrupt_col}
        else:
            schema_arg, opts = json_schema, {}
        decoded = decoded.withColumn(
            "parsed", F.from_json(F.col(payload_col), schema_arg, opts)
        ).select("parsed.*")
    return decoded


def run_ingest(
    spark: SparkSession,
    spec: SourceSpec,
    out_path: str,
    checkpoint: str,
    json_schema: str | None = None,
    available_now: bool = True,
    partition_by: list[str] | None = None,
    max_runtime_sec: float | None = None,
    sink_format: str = "parquet",
) -> dict:
    """The whole reference job A1→A7: source → decode → checkpointed
    parquet sink, bounded by availableNow (the cron pattern: drain what's
    available, commit offsets transactionally, exit).

    Rerunning with the same checkpoint consumes ONLY new input — the
    reference's ZK-committed-offset resume, but exactly-once instead of
    at-least-once (offsets WAL + sink commit log are atomic per batch).

    ``sink_format="text"`` reproduces the reference's literal sink
    behavior (§2A A6: text part-files of the decoded payload, one line
    per record — kafka-hadoop-consumer wrote TextOutputFormat parts);
    the payload column is projected to the single ``value`` column the
    text writer requires. Parquet remains the at-scale default.

    With ``available_now=False`` the query runs continuously (the
    always-on deployment mode); ``max_runtime_sec`` bounds such a run —
    it stops cleanly once at least one non-empty micro-batch has been
    processed, or at the deadline — so continuous mode is drivable from
    tests and ops smoke checks. An unbounded continuous run
    (``max_runtime_sec=None``) blocks until externally stopped.

    Returns run metrics from the streaming progress API — the
    operational telemetry the reference's job counters provided:
    ``{"rows": input rows this run, "batches": micro-batches run,
    "duration_ms": {phase: ms summed over the run's micro-batches}}``,
    the phases being the progress entries' ``durationMs`` keys
    (``addBatch``, ``queryPlanning``, ``walCommit``, ...).
    """
    if sink_format not in ("parquet", "text"):
        raise ValueError(f"unsupported sink_format: {sink_format!r}")
    df = decode_payload(load_stream(spark, spec), json_schema=json_schema)
    if sink_format == "text":
        if "payload" in df.columns:
            line = F.col("payload").cast("string")
        elif len(df.columns) == 1:
            line = F.col(df.columns[0]).cast("string")
        else:
            # json_schema already exploded the payload into typed
            # columns: re-serialize the WHOLE row per line — picking
            # columns[0] here would silently drop every other field.
            line = F.to_json(F.struct(*df.columns))
        df = df.select(line.alias("value"))
    writer = (
        df.writeStream.format(sink_format)
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    # recentProgress retains only the last numRecentProgressUpdates
    # entries (default 100); a run with more micro-batches (easy with
    # maxFilesPerTrigger over a large directory) would silently
    # under-report. Raise the cap for the run so the sum below is
    # authoritative up to 100k batches, then restore.
    _PROGRESS_CAP_KEY = "spark.sql.streaming.numRecentProgressUpdates"
    prev_cap = spark.conf.get(_PROGRESS_CAP_KEY, None)
    spark.conf.set(_PROGRESS_CAP_KEY, "100000")
    try:
        q = writer.start()
        if available_now or max_runtime_sec is None:
            q.awaitTermination()
        else:
            deadline = time.monotonic() + max_runtime_sec
            while time.monotonic() < deadline:
                if not q.isActive:
                    break  # failed/finished: surface the error NOW, not
                    # after spinning out the whole max_runtime_sec budget
                if any(
                    p is not None and p["numInputRows"] > 0
                    for p in q.recentProgress
                ):
                    break
                time.sleep(0.2)
            q.stop()
            q.awaitTermination()
        progresses = [p for p in q.recentProgress if p is not None]
    finally:
        if prev_cap is None:
            spark.conf.unset(_PROGRESS_CAP_KEY)
        else:
            spark.conf.set(_PROGRESS_CAP_KEY, prev_cap)
    duration_ms: dict[str, int] = {}
    for p in progresses:
        for phase, ms in p["durationMs"].items():
            duration_ms[phase] = duration_ms.get(phase, 0) + int(ms)
    return {
        "rows": int(sum(p["numInputRows"] for p in progresses)),
        "batches": len(progresses),
        "duration_ms": duration_ms,
    }
