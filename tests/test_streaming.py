"""Streaming layer tests (SURVEY.md §5.2.3): file sources replayed into
memory/parquet sinks with availableNow triggers — deterministic, no
wall-clock dependence. The centerpiece is the reference-parity ingest
e2e: checkpointed incremental reruns must be exactly-once."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kafka_hadoop_consumer_spark.catalog import load_table
from kafka_hadoop_consumer_spark.queries import QUERIES
from kafka_hadoop_consumer_spark.streaming import (
    SourceSpec,
    build_reader,
    kafka_source_options,
    run_ingest,
)
from kafka_hadoop_consumer_spark.streaming.ingest import load_stream
from kafka_hadoop_consumer_spark.streaming import ops
from tests.conftest import SF_DIR, SF_SMALL

# Watermarks require TIMESTAMP (not NTZ); the session is pinned to UTC so
# the cast from the fixture's timestamp_ntz is value-preserving.
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _events_batch(spark):
    return load_table(spark, SF_SMALL, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Fixture events re-materialized as a 4-file parquet directory so the
    file source has several input files to discover incrementally."""
    path = str(tmp_path / "events_in")
    _events_batch(spark).repartition(4).write.parquet(path)
    return path


def _stream_events(spark, events_dir):
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", "2")
        .parquet(events_dir)
        .drop("props")
    )


def _run_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------- ingest e2e


def test_ingest_e2e_exactly_once(spark, tmp_path):
    """s_ingest_e2e — the reference's whole pipeline A1→A7: bounded run,
    offset commit, rerun consumes only new data, no dupes, no loss."""
    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    events = _events_batch(spark).limit(200).toPandas()
    first, second = events.iloc[:120], events.iloc[120:]
    first.to_json(src / "batch1.json", orient="records", lines=True,
                  date_format="iso", date_unit="us")

    spec = SourceSpec(kind="file", format="json", path=str(src),
                      schema=EVENTS_DDL)
    run_ingest(spark, spec, out, ckpt)
    got1 = spark.read.parquet(out)
    assert got1.count() == 120

    # "cron" rerun with no new data: consumes nothing (committed offsets)
    run_ingest(spark, spec, out, ckpt)
    assert spark.read.parquet(out).count() == 120

    # new file arrives → rerun picks up ONLY the delta
    second.to_json(src / "batch2.json", orient="records", lines=True,
                   date_format="iso", date_unit="us")
    run_ingest(spark, spec, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert got.select("event_id").distinct().count() == 200  # no dupes


def test_ingest_partitioned_sink(spark, tmp_path):
    """§2A A6: per-key output layout (the reference wrote per topic/
    partition files; we partition by a payload column)."""
    src = tmp_path / "in"
    src.mkdir()
    _events_batch(spark).limit(100).toPandas().to_json(
        src / "b.json", orient="records", lines=True, date_format="iso",
        date_unit="us")
    out = str(tmp_path / "out")
    spec = SourceSpec(kind="file", format="json", path=str(src), schema=EVENTS_DDL)
    run_ingest(spark, spec, out, str(tmp_path / "ck"), partition_by=["event_type"])
    parts = {os.path.basename(p) for p in glob.glob(f"{out}/event_type=*")}
    assert parts == {f"event_type={t}" for t in
                     ("click", "error", "purchase", "signup", "view")}


def test_kafka_reader_plan_contract(spark):
    """R1: the Kafka source can't run offline — its reader CONFIG is the
    testable contract (the reference's topic/zk/offset/limit args)."""
    spec = SourceSpec(kind="kafka", topic="events", brokers="broker1:9092",
                      starting_offsets="latest", max_per_trigger=5000)
    opts = kafka_source_options(spec)
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092",
        "subscribe": "events",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "5000",
    }
    build_reader(spark, spec)  # constructs without error (no .load offline)
    with pytest.raises(ValueError):
        kafka_source_options(SourceSpec(kind="kafka", topic=None, brokers="b:9092"))


# ------------------------------------------------------------- windowed aggs


def test_stream_sliding_windows_overlap(spark, events_dir):
    stream = ops.window_counts(
        _stream_events(spark, events_dir), window="1 hour", slide="30 minutes"
    )
    _run_to_memory(stream, "t_sliding", mode="complete")
    rows = spark.sql("SELECT * FROM t_sliding").collect()
    n_events = load_table(spark, SF_SMALL, "events").count()
    # 1h window sliding 30min → every event is in exactly 2 windows
    assert sum(r["n_events"] for r in rows) == 2 * n_events


def test_stream_session_windows(spark, events_dir):
    stream = ops.session_counts(_stream_events(spark, events_dir))
    _run_to_memory(stream, "t_session", mode="complete")
    rows = spark.sql("SELECT * FROM t_session").collect()
    n_events = load_table(spark, SF_SMALL, "events").count()
    assert sum(r["n_events"] for r in rows) == n_events  # partition of events
    for r in rows:  # session bounds are [start, end) with gap padding
        assert r["session_end"] >= r["session_start"]


def test_watermark_drops_late_data(spark, tmp_path):
    """s_stream_watermark: an event older than (max_ts - watermark) arriving
    in a LATER micro-batch is excluded from the aggregate."""
    src = tmp_path / "wm"
    src.mkdir()
    import pandas as pd

    def mk(eid, ts_str):
        return pd.DataFrame({
            "event_id": [eid], "ts": pd.to_datetime([ts_str]),
            "user_id": [1], "event_type": ["click"], "value": [1.0],
            "props": ["{}"],
        })

    # two on-time files so the watermark ADVANCES between micro-batches
    mk(1, "2024-01-01 10:00:00").to_json(src / "a1.json", orient="records",
                                         lines=True, date_format="iso", date_unit="us")
    mk(2, "2024-01-01 12:00:00").to_json(src / "a2.json", orient="records",
                                         lines=True, date_format="iso", date_unit="us")
    stream = (
        spark.readStream.schema(EVENTS_DDL).option("maxFilesPerTrigger", "1")
        .json(str(src)).drop("props")
    )
    agg = ops.window_counts(stream, window="1 hour", watermark="10 minutes")
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")

    def run():
        q = (
            agg.writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run()
    # late event (10:30 < watermark 11:50) arrives in a later run → dropped
    mk(3, "2024-01-01 10:30:00").to_json(src / "a3.json", orient="records",
                                         lines=True, date_format="iso", date_unit="us")
    run()
    rows = {(str(r["bucket"]), r["n_events"])
            for r in spark.read.parquet(out_dir).collect()}
    # The 10:00 window closed when the watermark passed 11:50; the late
    # event must NOT re-open it — its count stays 1.
    assert ("2024-01-01 10:00:00", 1) in rows, rows
    assert ("2024-01-01 10:00:00", 2) not in rows, rows


# ------------------------------------------------ dedup / foreachBatch sinks


def test_stream_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "dup"
    src.mkdir()
    events = _events_batch(spark).limit(50).toPandas()
    dup = events.iloc[:20]  # re-deliver 20 of the 50
    events.to_json(src / "a.json", orient="records", lines=True,
                   date_format="iso", date_unit="us")
    dup.to_json(src / "b.json", orient="records", lines=True,
                date_format="iso", date_unit="us")
    stream = (
        spark.readStream.schema(EVENTS_DDL).option("maxFilesPerTrigger", "1")
        .json(str(src)).drop("props")
    )
    deduped = ops.dedup_within_watermark(stream)
    _run_to_memory(deduped, "t_dedup")
    assert spark.sql("SELECT count(DISTINCT event_id) c FROM t_dedup").collect()[0]["c"] == 50
    assert spark.sql("SELECT count(*) c FROM t_dedup").collect()[0]["c"] == 50


def test_foreach_batch_upsert_keeps_latest(spark, tmp_path):
    """foreachBatch merge sink: the output is always the latest-per-user
    snapshot, across multiple micro-batches."""
    src = tmp_path / "in"
    src.mkdir()
    events = _events_batch(spark).limit(300).toPandas().sort_values("ts")
    events.iloc[:150].to_json(src / "a.json", orient="records", lines=True,
                              date_format="iso", date_unit="us")
    events.iloc[150:].to_json(src / "b.json", orient="records", lines=True,
                              date_format="iso", date_unit="us")
    stream = (
        spark.readStream.schema(EVENTS_DDL).option("maxFilesPerTrigger", "1")
        .json(str(src)).drop("props")
    )
    out = str(tmp_path / "snapshot")
    ops.run_foreach_batch_upsert(
        stream, out, str(tmp_path / "ck"), key="user_id", order_col="ts"
    )
    import pandas as pd

    got = spark.read.parquet(out).toPandas().set_index("user_id")["event_id"]
    expected = (
        events.sort_values(["ts", "event_id"]).groupby("user_id").last()["event_id"]
    )
    pd.testing.assert_series_equal(
        got.sort_index(), expected.sort_index(), check_names=False, check_dtype=False
    )


def test_snapshot_swap_survives_every_crash_point(spark, tmp_path):
    """The foreachBatch snapshot sinks must never lose accumulated state
    to a crash mid-rewrite (r9 review: overwrite-in-place truncated the
    only copy before the write committed, so a replayed batch read an
    empty path and fell into its first-batch branch). Each simulated
    crash state must recover the COMPLETE snapshot."""
    import os as _os
    import shutil

    out = str(tmp_path / "snap")
    old, staged = out + ".old", out + ".staging"

    def write(path, vals):
        spark.createDataFrame([(v,) for v in vals], "v long").coalesce(
            1
        ).write.mode("overwrite").parquet(path)

    def vals(df):
        return sorted(r.v for r in df.collect())

    # normal swap: replaces contents, cleans up siblings
    write(out, [1, 2])
    ops._swap_snapshot(spark.createDataFrame([(3,)], "v long"), out)
    assert vals(ops._read_snapshot(spark, out)) == [3]
    assert not _os.path.exists(old) and not _os.path.exists(staged)

    # crash between the two renames: out missing, staged complete
    # (_SUCCESS present), old holds the superseded snapshot -> the
    # staged write committed, so it wins
    write(old, [1, 2])
    write(staged, [1, 2, 3])
    assert _os.path.exists(_os.path.join(staged, "_SUCCESS"))
    shutil.rmtree(out)
    assert vals(ops._read_snapshot(spark, out)) == [1, 2, 3]

    # crash mid-stage: staged incomplete (no _SUCCESS), old current
    shutil.rmtree(out)
    write(old, [1, 2])
    write(staged, [9])
    _os.remove(_os.path.join(staged, "_SUCCESS"))
    assert vals(ops._read_snapshot(spark, out)) == [1, 2]
    assert not _os.path.exists(staged)

    # crash after swap, before old cleanup: out current, old leftover
    write(old, [1, 2])
    assert vals(ops._read_snapshot(spark, out)) == [1, 2]
    assert not _os.path.exists(old)

    # true first batch: everything missing -> AnalysisException
    from pyspark.errors import AnalysisException

    shutil.rmtree(out)
    with pytest.raises(AnalysisException):
        ops._read_snapshot(spark, out)


def test_rate_source_smoke(spark):
    """The rate source (SourceSpec kind='rate') produces rows while running
    — the wall-clock synthetic-load source for soak tests."""
    import time

    from kafka_hadoop_consumer_spark.streaming.ingest import load_stream

    df = load_stream(spark, SourceSpec(kind="rate", rows_per_second=500))
    q = df.writeStream.format("memory").queryName("t_rate").start()
    try:
        time.sleep(2)
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.sql("SELECT count(*) c FROM t_rate").collect()[0]["c"] > 0


def test_stateful_user_counters(spark, events_dir):
    stream = ops.stateful_user_counters(_stream_events(spark, events_dir))
    _run_to_memory(stream, "t_state", mode="update")
    import pandas as pd

    got = spark.sql("SELECT * FROM t_state").toPandas()
    # multiple micro-batches emit successive updates; the final (max) count
    # per user must equal the batch ground truth
    final = got.groupby("user_id")["n_events"].max()
    expected = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .toPandas().set_index("user_id")["n"]
    )
    pd.testing.assert_series_equal(
        final.sort_index(), expected.sort_index(),
        check_names=False, check_dtype=False,
    )


def test_ingest_kafka_sim_stream_exactly_once(spark, tmp_path):
    """The reference pipeline against a Kafka-SHAPED stream source (the
    custom kafka_sim DataSourceStreamReader): bounded run drains the
    topic, envelope is decoded, and a rerun after the topic grows
    consumes exactly the delta — offset resume from the checkpoint."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    spec1 = SourceSpec(kind="kafka_sim", topic="t1",
                       extra_options={"n_partitions": "2", "n_messages": "100"})
    run_ingest(spark, spec1, out, ck)
    got1 = spark.read.parquet(out)
    assert got1.count() == 200
    # envelope decoded: payload + provenance columns survive
    assert {"payload", "topic", "partition", "offset"} <= set(got1.columns)
    assert got1.where(F.col("payload") == "msg-1-99").count() == 1

    # no growth → rerun is a no-op (committed offsets)
    run_ingest(spark, spec1, out, ck)
    assert spark.read.parquet(out).count() == 200

    # topic grows to 150/partition → rerun ingests exactly the delta
    spec2 = SourceSpec(kind="kafka_sim", topic="t1",
                       extra_options={"n_partitions": "2", "n_messages": "150"})
    run_ingest(spark, spec2, out, ck)
    got = spark.read.parquet(out)
    assert got.count() == 300
    assert got.select("partition", "offset").distinct().count() == 300  # no dupes


def test_kafka_sim_stream_windowed_agg(spark, tmp_path):
    """Streaming analytics compose over the Kafka-shaped source: envelope
    decode → event-time window agg → memory sink, matching the batch
    computation of the same log."""
    from kafka_hadoop_consumer_spark.sources import kafka_sim

    kafka_sim.register(spark)
    stream = (
        spark.readStream.format("kafka_sim")
        .option("n_partitions", "2").option("n_messages", "120").load()
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .groupBy(F.window("ts", "1 minute").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "key", "n")
    )
    # complete mode: the whole log lands in ONE micro-batch (latestOffset
    # jumps straight to the high watermark), so append mode would close
    # no windows; complete emits every window state
    q = (stream.writeStream.format("memory").queryName("ksim_win")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.start, r.key): r.n for r in spark.sql("SELECT * FROM ksim_win").collect()}
    batch = (
        spark.read.format("kafka_sim")
        .option("n_partitions", "2").option("n_messages", "120").load()
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .groupBy(F.window("ts", "1 minute").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "key", "n")
    )
    expected = {(r.start, r.key): r.n for r in batch.collect()}
    assert got == expected


def test_run_ingest_returns_metrics(spark, tmp_path):
    """run_ingest surfaces per-run telemetry (rows, batches) from the
    streaming progress API — the reference's job-counter parity."""
    spec = SourceSpec(kind="kafka_sim", topic="m",
                      extra_options={"n_partitions": "2", "n_messages": "50"})
    m = run_ingest(spark, spec, str(tmp_path / "o"), str(tmp_path / "c"))
    assert m["rows"] == 100 and m["batches"] >= 1
    # idle rerun: zero new rows
    m2 = run_ingest(spark, spec, str(tmp_path / "o"), str(tmp_path / "c"))
    assert m2["rows"] == 0


def test_kafka_sim_json_payload_decode(spark, tmp_path):
    """A5 with structured payloads over the Kafka offset model: envelope
    stripped, JSON value parsed into typed columns, sunk exactly-once."""
    spec = SourceSpec(
        kind="kafka_sim", topic="j",
        extra_options={"n_partitions": "2", "n_messages": "40",
                       "payload": "json"},
    )
    out, ck = str(tmp_path / "o"), str(tmp_path / "c")
    m = run_ingest(spark, spec, out, ck,
                   json_schema="k string, seq long, part int")
    assert m["rows"] == 80
    got = spark.read.parquet(out)
    assert set(got.columns) == {"k", "seq", "part", "_corrupt_payload"}
    # clean payloads: the quarantine column is all-NULL
    assert got.where(F.col("_corrupt_payload").isNotNull()).count() == 0
    assert got.where(F.col("seq").isNull()).count() == 0
    assert got.where((F.col("part") == 1) & (F.col("seq") == 39)).count() == 1
    assert got.where(F.col("k") == "k3").count() == 8  # 4 seqs × 2 partitions


def test_continuous_rollup_matches_batch_and_restarts_incrementally(
    spark, tmp_path
):
    """run_continuous_rollup maintains a per-(hour, event_type) rollup
    snapshot that (a) equals the batch groundtruth after the first drain,
    and (b) stays equal — no double counting — after new files arrive and
    the stream restarts from the checkpoint."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    ev = _events_batch(spark).drop("props")
    # time-ordered arrival (the continuous-aggregate contract: watermarked
    # state is evicted for buckets older than the watermark, so history
    # replays in order — days 1-20 first, days 21+ in the second drain)
    split = F.lit("2024-01-21").cast("timestamp")
    first = ev.where(F.col("ts") < split)
    rest = ev.where(F.col("ts") >= split)
    first.repartition(1).write.parquet(src)

    def snapshot():
        return {
            (r["bucket"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.read.parquet(out).collect()
        }

    def groundtruth(df):
        agg = (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("s"),
            )
            .select(F.col("w.start").alias("b"), "event_type", "n", "s")
        )
        return {(r["b"], r["event_type"]): (r["n"], r["s"]) for r in agg.collect()}

    stream = lambda: (  # noqa: E731
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ops.run_continuous_rollup(stream(), out, ckpt)
    assert snapshot() == groundtruth(first)

    # new data lands; an incremental availableNow rerun picks up ONLY the
    # new files (checkpoint) and the snapshot must equal the full rollup
    rest.repartition(1).write.mode("append").parquet(src)
    ops.run_continuous_rollup(stream(), out, ckpt)
    assert snapshot() == groundtruth(ev)


def test_stream_corrupt_record_quarantine(spark, tmp_path):
    """Streaming dead-letter queue: PERMISSIVE JSON parsing with a
    corrupt-record column; one foreachBatch routes parsed rows to the
    main sink and malformed lines VERBATIM to a quarantine sink — a
    bad producer never crashes the 100 TB ingest and never silently
    disappears either (the batch `read_json` policies, proven on the
    streaming path)."""
    import json as _json

    src = tmp_path / "dlq_src"
    src.mkdir()
    good = [
        {"event_id": i, "user_id": i % 5, "value": float(i)} for i in range(20)
    ]
    bad = ["{this is not json", '{"event_id": 999, "user_id":']
    (src / "part-0.json").write_text(
        "\n".join([_json.dumps(g) for g in good[:10]] + bad[:1]) + "\n"
    )
    (src / "part-1.json").write_text(
        "\n".join([_json.dumps(g) for g in good[10:]] + bad[1:]) + "\n"
    )

    spec = SourceSpec(
        kind="file",
        format="json",
        path=str(src),
        schema="event_id long, user_id long, value double, _bad string",
        extra_options={
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": "_bad",
        },
    )
    stream = load_stream(spark, spec)
    out = str(tmp_path / "dlq_out")
    quarantine = str(tmp_path / "dlq_quarantine")

    def route(batch, _bid):
        batch.persist()
        batch.where(F.col("_bad").isNull()).drop("_bad").write.mode(
            "append"
        ).parquet(out)
        batch.where(F.col("_bad").isNotNull()).select("_bad").write.mode(
            "append"
        ).parquet(quarantine)
        batch.unpersist()

    q = (
        stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", str(tmp_path / "dlq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    good_back = spark.read.parquet(out)
    assert good_back.count() == 20
    assert good_back.where(F.col("event_id").isNull()).count() == 0
    bad_back = [r["_bad"] for r in spark.read.parquet(quarantine).collect()]
    assert sorted(bad_back) == sorted(bad), bad_back


def test_stream_asof_enrich_foreachbatch(spark, events_dir, tmp_path):
    """Stream-side as-of enrichment: each micro-batch of purchases is
    enriched with the latest at-or-before view via the generic
    operators.temporal.asof_join inside foreachBatch — the streaming
    serving shape for slowly-changing reference data — and the streamed
    union must equal the one-shot batch as-of join (exactly-once per
    batch, no cross-batch duplication of winners).

    (Winner-per-left-row is batch-local state-free here because the
    static right side is complete; a TRUE stream-stream as-of needs
    watermarked state, which s_stream_join covers.)"""
    from kafka_hadoop_consumer_spark.operators.temporal import asof_join

    views = (
        _events_batch(spark)
        .where(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), "user_id",
                F.col("ts").alias("v_ts"))
    )
    out_dir = str(tmp_path / "asof_out")
    ck = str(tmp_path / "asof_ck")

    def enrich(batch_df, _epoch):
        p = batch_df.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id",
            F.col("ts").alias("p_ts"),
        )
        asof_join(
            p, views, by="user_id", left_ts="p_ts", right_ts="v_ts",
            left_key="purchase_id", direction="backward", tie_break="view_id",
        ).select("purchase_id", "view_id", "user_id").write.mode(
            "append"
        ).parquet(out_dir)

    (
        _stream_events(spark, events_dir)
        .writeStream.foreachBatch(enrich)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    got = spark.read.parquet(out_dir)
    p = _events_batch(spark).where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    want = asof_join(
        p, views, by="user_id", left_ts="p_ts", right_ts="v_ts",
        left_key="purchase_id", direction="backward", tie_break="view_id",
    ).select("purchase_id", "view_id", "user_id")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stateful_path_selection_and_ttl_counters(spark, events_dir):
    """r12 verdict item 6: record WHICH stateful API this Spark build
    actually runs (transformWithStateInPandas vs applyInPandasWithState
    — ops.transform_with_state_available picks silently), then exercise
    the TTL counter variant (ttl_minutes) on that active path.

    A generous TTL means no key times out inside the bounded replay, so
    the ProcessingTimeTimeout machinery (state.setTimeoutDuration per
    batch, hasTimedOut guard) runs on every micro-batch while the final
    counters must still equal the batch ground truth."""
    from kafka_hadoop_consumer_spark.streaming.ops import (
        transform_with_state_available,
    )

    tws = transform_with_state_available()
    active = (
        "transformWithStateInPandas" if tws else "applyInPandasWithState"
    )
    # On this build (PySpark 4.1.2, no usable google.protobuf) the
    # engine must select applyInPandasWithState; if the probe ever
    # flips, this assertion names the path that took over.
    assert active == "applyInPandasWithState", (
        f"active stateful-streaming path changed to {active}; "
        "revisit stateful_user_counters fast-path wiring"
    )

    stream = ops.stateful_user_counters(
        _stream_events(spark, events_dir), ttl_minutes=60
    )
    # NOT _run_to_memory: with a processing-time timeout configured,
    # neither availableNow nor processAllAvailable ever returns — the
    # engine keeps scheduling micro-batches (~1/sec, measured) so
    # pending timeouts can fire, and the perpetual batches keep the
    # stream "busy". TTL mode is the always-on deployment shape; a
    # bounded harness polls the sink until the counters converge to
    # ground truth, then stops the query.
    import time

    import pandas as pd

    expected = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .toPandas().set_index("user_id")["n"].sort_index()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_state_ttl")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 120
        final = None
        while time.time() < deadline:
            got = spark.sql("SELECT * FROM t_state_ttl").toPandas()
            if len(got):
                final = (
                    got.groupby("user_id")["n_events"].max().sort_index()
                )
                if len(final) == len(expected) and (
                    final.to_numpy() == expected.to_numpy()
                ).all():
                    break
            time.sleep(1)
    finally:
        q.stop()
    assert final is not None
    pd.testing.assert_series_equal(
        final, expected, check_names=False, check_dtype=False,
    )


def test_stateful_counters_on_rocksdb_state_store(spark, events_dir):
    """VERDICT r2 stretch: pin the at-scale state backend. The HDFS-backed
    default state store holds every key in executor heap; RocksDB spills
    to local disk and is the provider you run with 100 TB keyspaces. The
    provider ships inside spark-sql — this asserts the stateful op
    produces identical results under it (same feature-probe spirit as
    transform_with_state_available)."""
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    saved = spark.conf.get(provider_conf, None)
    try:
        spark.conf.set(provider_conf, rocksdb)
        stream = ops.stateful_user_counters(_stream_events(spark, events_dir))
        _run_to_memory(stream, "t_state_rocksdb", mode="update")
        got = spark.sql("SELECT * FROM t_state_rocksdb").toPandas()
        final = got.groupby("user_id")["n_events"].max()
        expected = (
            load_table(spark, SF_SMALL, "events")
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
            .toPandas().set_index("user_id")["n"]
        )
        import pandas as pd

        pd.testing.assert_series_equal(
            final.sort_index(), expected.sort_index(),
            check_names=False, check_dtype=False,
        )
    finally:
        if saved is not None:
            spark.conf.set(provider_conf, saved)
        else:
            spark.conf.unset(provider_conf)


def test_incremental_near_dedup_stream(spark, tmp_path):
    """Streaming near-dedup gate: batch 2's exact copy and near-copy
    (one token edited in a 200-token doc — LSH collision probability
    ~1 - 3e-7, and deterministic for fixed content) of batch-1 docs are
    rejected with the right verdicts, while the novel doc is accepted
    and joins the corpus state."""
    import json

    from kafka_hadoop_consumer_spark.streaming.ops import (
        run_incremental_near_dedup,
    )

    def doc(prefix, n=200):
        return " ".join(f"{prefix}{i}" for i in range(n))

    base_a, base_b = doc("alpha"), doc("beta")
    near_a = " ".join(
        ["EDITED" if i == 100 else f"alpha{i}" for i in range(200)]
    )
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "batch1.json", "w") as f:
        for i, t in [(1, base_a), (2, base_b)]:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    with open(src / "batch2.json", "w") as f:
        for i, t in [(3, base_a), (4, near_a), (5, doc("gamma"))]:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    corpus, log = str(tmp_path / "corpus"), str(tmp_path / "log")
    run_incremental_near_dedup(stream, corpus, log, str(tmp_path / "ck"))

    verdicts = {
        r.doc_id: r.verdict for r in spark.read.parquet(log).collect()
    }
    assert verdicts[1] == "new" and verdicts[2] == "new"
    assert verdicts[3] == "exact_dup"
    assert verdicts[4] == "near_dup"
    assert verdicts[5] == "new"
    accepted = {
        r.doc_id for r in spark.read.parquet(corpus).select("doc_id").distinct().collect()
    }
    assert accepted == {1, 2, 5}

    # Replay idempotence: a crash AFTER the batch-2 sink writes but BEFORE
    # the checkpoint commit replays batch 2 on restart. The batch_id
    # partition-overwrite sink + the batch_id < N corpus filter must make
    # the replay byte-for-byte equivalent: same verdicts (batch 2's docs
    # must NOT re-classify as dups of their own first-attempt signatures),
    # no duplicate log rows, same accepted set.
    import os

    commits = sorted(
        f for f in os.listdir(tmp_path / "ck" / "commits") if not f.startswith(".")
    )
    os.remove(tmp_path / "ck" / "commits" / commits[-1])
    crc = tmp_path / "ck" / "commits" / f".{commits[-1]}.crc"
    if crc.exists():  # local-FS checksum sidecar blocks the replay's rename
        os.remove(crc)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    run_incremental_near_dedup(stream2, corpus, log, str(tmp_path / "ck"))

    rows = spark.read.parquet(log).collect()
    assert len(rows) == 5, "replay appended duplicate verdict rows"
    verdicts2 = {r.doc_id: r.verdict for r in rows}
    assert verdicts2 == verdicts, "replay changed verdicts (self-dup bug)"
    accepted2 = {
        r.doc_id
        for r in spark.read.parquet(corpus).select("doc_id").distinct().collect()
    }
    assert accepted2 == {1, 2, 5}


def test_decode_payload_quarantines_malformed_json(spark):
    """A malformed JSON payload must surface in the quarantine column
    with its raw bytes intact — not become an unrecoverable all-null
    row (the batch PERMISSIVE corrupt-record contract, streamed)."""
    from kafka_hadoop_consumer_spark.streaming.ingest import decode_payload

    df = spark.createDataFrame(
        [
            (b'{"k": "a", "seq": 1}', "t", 0, 0),
            (b"{not json", "t", 0, 1),
        ],
        "value binary, topic string, partition int, offset long",
    )
    out = decode_payload(df, json_schema="k string, seq long").collect()
    clean = [r for r in out if r["_corrupt_payload"] is None]
    bad = [r for r in out if r["_corrupt_payload"] is not None]
    assert len(clean) == 1 and clean[0]["k"] == "a" and clean[0]["seq"] == 1
    assert len(bad) == 1 and bad[0]["_corrupt_payload"] == "{not json"
    # opt-out keeps the narrow schema
    cols = decode_payload(df, json_schema="k string", corrupt_col=None).columns
    assert cols == ["k"]


def test_decode_payload_event_time_and_payload_ambiguity(spark):
    """kafka_sim's ts_us epoch-micros must surface under the real Kafka
    source's 'timestamp' name (the 'same envelope' stand-in contract —
    r9 review: it was silently projected away), and a multi-column
    non-envelope frame with json_schema must refuse to guess which
    column holds the JSON."""
    import pytest

    from kafka_hadoop_consumer_spark.streaming.ingest import decode_payload

    sim = spark.createDataFrame(
        [("m-0-0", "t", 0, 0, "k0", 1700000000000000)],
        "value string, topic string, partition int, offset long, "
        "key string, ts_us long",
    )
    out = decode_payload(sim)
    assert "timestamp" in out.columns
    row = out.collect()[0]
    assert row["payload"] == "m-0-0"
    assert row["timestamp"].year == 2023  # 2023-11-14T22:13:20 UTC

    multi = spark.createDataFrame(
        [(1, '{"k": "a"}')], "id long, body string"
    )
    with pytest.raises(ValueError, match="payload"):
        decode_payload(multi, json_schema="k string")
    # a single non-envelope column is unambiguous: parse it
    single = multi.select("body")
    assert decode_payload(
        single, json_schema="k string", corrupt_col=None
    ).collect()[0]["k"] == "a"


def test_kafka_sim_max_per_trigger_caps_batches(spark, tmp_path):
    """A4/limit parity for the simulated broker: max_per_trigger bounds
    offsets admitted per partition per bounded run — the reference's
    literal cron semantics (`-l limit` per invocation; Python sources
    run availableNow as a single batch). Repeated cron runs over the
    same checkpoint drain everything exactly once, capped each time."""
    from kafka_hadoop_consumer_spark.streaming.ingest import (
        SourceSpec,
        run_ingest,
    )

    spec = SourceSpec(
        kind="kafka_sim", topic="lim", max_per_trigger=10,
        extra_options={"n_partitions": "2", "n_messages": "35"},
    )
    out, ck = str(tmp_path / "o"), str(tmp_path / "c")
    per_run = []
    for _ in range(8):  # cron loop: each run admits <= 10/partition
        m = run_ingest(spark, spec, out, ck)
        per_run.append(m["rows"])
        if m["rows"] == 0:
            break
    assert max(per_run) <= 20  # 10 offsets x 2 partitions per run
    assert per_run[:4] == [20, 20, 20, 10]  # capped drains, then dry
    got = spark.read.parquet(out)
    assert got.count() == 70  # nothing lost
    assert got.select("partition", "offset").distinct().count() == 70


def test_text_sink_with_json_schema_keeps_all_fields(spark, tmp_path):
    """sink_format='text' after a json_schema explode must serialize the
    WHOLE row per line, not silently emit only the first parsed field."""
    from kafka_hadoop_consumer_spark.streaming.ingest import (
        SourceSpec,
        run_ingest,
    )

    spec = SourceSpec(
        kind="kafka_sim", topic="t",
        extra_options={"n_partitions": "1", "n_messages": "5",
                       "payload": "json"},
    )
    run_ingest(
        spark, spec, str(tmp_path / "o"), str(tmp_path / "c"),
        json_schema="k string, seq long, part int", sink_format="text",
    )
    lines = [r["value"] for r in spark.read.text(str(tmp_path / "o")).collect()]
    assert len(lines) == 5
    assert all('"seq"' in ln and '"k"' in ln and '"part"' in ln for ln in lines)


def test_incremental_near_dedup_catches_intra_batch_duplicates(spark, tmp_path):
    """Two byte-identical docs landing in the SAME micro-batch: the
    lower doc_id is accepted, the copy classifies as exact_dup (the
    bulk-backfill blind spot — classifying only against prior batches
    would accept both)."""
    import os

    from kafka_hadoop_consumer_spark.streaming.ops import (
        run_incremental_near_dedup,
    )

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    log = str(tmp_path / "log")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words here entirely")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_incremental_near_dedup(stream, corpus, log, str(tmp_path / "ck"))
    verdicts = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(log).collect()
    }
    assert verdicts[1] == "new"
    assert verdicts[2] == "exact_dup"
    assert verdicts[3] == "new"
    # only accepted docs' signatures joined the corpus
    accepted = {
        r["doc_id"] for r in spark.read.parquet(corpus).select("doc_id").distinct().collect()
    }
    assert accepted == {1, 3}


# ------------------------------------------- registry streaming keys


def test_continuous_agg_spans_multiple_microbatches(spark):
    """The streaming run must actually be incremental: several
    micro-batches (maxFilesPerTrigger=1 over the multi-file landing),
    each contributing rows, with the windowed state carried between
    them — one big batch would make the equivalence claim vacuous."""
    from kafka_hadoop_consumer_spark.queries import continuous

    out = QUERIES["q_stream_continuous_agg"](spark, SF_DIR)
    # result equals the batch recompute over the SAME landing files
    landing = continuous.LAST_LANDING["q_stream_continuous_agg"]
    batch = (
        spark.read.parquet(landing)
        .groupBy(
            F.date_trunc("hour", "ts").alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0
    n_batches = continuous.LAST_BATCHES.get("q_stream_continuous_agg")
    assert n_batches is not None and n_batches >= 2, (
        f"expected multiple data micro-batches, got {n_batches}"
    )


def test_cdc_upsert_streams_multiple_batches_and_matches_batch_lww(spark):
    from kafka_hadoop_consumer_spark.catalog import load_table
    from kafka_hadoop_consumer_spark.queries import continuous

    out = QUERIES["q_stream_cdc_upsert"](spark, SF_DIR).cache()
    try:
        assert continuous.LAST_BATCHES["q_stream_cdc_upsert"] >= 2
        e = load_table(spark, SF_DIR, "events")
        # one state row per entity; change counts conserve the stream
        assert out.count() == e.select("user_id").distinct().count()
        n = out.agg(F.sum("n_changes")).collect()[0][0]
        assert n == e.count()
        # the winner really is each user's max-(ts, event_id) event
        w = e.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id")).alias("m")
        )
        bad = out.join(w, "user_id").where(F.col("last_ts") != F.col("m.ts"))
        assert bad.count() == 0
    finally:
        out.unpersist()


def test_sessionize_streams_multiple_batches_and_partitions_events(spark):
    from kafka_hadoop_consumer_spark.catalog import load_table
    from kafka_hadoop_consumer_spark.queries import continuous

    out = QUERIES["q_stream_sessionize"](spark, SF_DIR).cache()
    try:
        assert continuous.LAST_BATCHES["q_stream_sessionize"] >= 2
        e = load_table(spark, SF_DIR, "events")
        # sessions partition the event stream (merges lose nothing)
        assert out.agg(F.sum("n_events")).collect()[0][0] == e.count()
        # streamed session merging == batch native session_window
        batch = QUERIES["q_win_session_native"](spark, SF_DIR).select(
            "user_id", "session_start", "n_events"
        )
        got = out.select("user_id", "session_start", "n_events")
        assert got.exceptAll(batch).count() == 0
        assert batch.exceptAll(got).count() == 0
    finally:
        out.unpersist()


def test_stream_dedup_lands_each_event_twice_and_emits_once(spark):
    from kafka_hadoop_consumer_spark.catalog import load_table
    from kafka_hadoop_consumer_spark.queries import continuous

    out = QUERIES["q_stream_dedup_exact"](spark, SF_DIR).cache()
    try:
        n = load_table(spark, SF_DIR, "events").count()
        # the landing really contains every event twice...
        landing = continuous.LAST_LANDING["q_stream_dedup_exact"]
        landed = spark.read.parquet(landing)
        assert landed.count() == 2 * n
        # ...across multiple micro-batches, and exactly once survives
        assert continuous.LAST_BATCHES["q_stream_dedup_exact"] >= 2
        assert out.count() == n
        assert out.select("event_id").distinct().count() == n
    finally:
        out.unpersist()


def test_stream_join_interval_crosses_batches_and_bounds(spark):
    """The stream-stream join must span several micro-batches (state
    genuinely buffered on both sides) and every emitted pair must sit
    inside the 1-hour interval (0 <= mins_before <= 60)."""
    from kafka_hadoop_consumer_spark.queries import continuous

    out = QUERIES["q_stream_join_interval"](spark, SF_DIR).cache()
    try:
        assert continuous.LAST_BATCHES["q_stream_join_interval"] >= 2
        n = out.count()
        assert n > 0
        bad = out.where(
            (F.col("mins_before") < 0) | (F.col("mins_before") > 60)
        )
        assert bad.count() == 0
        # no duplicate emissions: (purchase, click) pairs are unique
        assert out.select("purchase_id", "click_id").distinct().count() == n
    finally:
        out.unpersist()


def test_late_r6_streaming_keys_span_multiple_microbatches(spark):
    """q_stream_static_join / q_stream_sliding_agg / q_stream_late_drop
    must actually run >= 2 data micro-batches (one big batch would make
    the cross-batch-state claim vacuous); for late_drop, the late path
    must genuinely fire: the emitted table misses rows the full batch
    recompute over the same landing would count."""
    from kafka_hadoop_consumer_spark.queries import continuous

    for key in ("q_stream_static_join", "q_stream_sliding_agg"):
        QUERIES[key](spark, SF_DIR).count()
        assert continuous.LAST_BATCHES[key] >= 2, key

    out = QUERIES["q_stream_late_drop"](spark, SF_DIR).cache()
    try:
        assert continuous.LAST_BATCHES["q_stream_late_drop"] >= 2
        landing = continuous.LAST_LANDING["q_stream_late_drop"]
        landed = spark.read.parquet(landing)
        emitted = out.agg(F.sum("n_events")).collect()[0][0]
        assert emitted < landed.count(), (
            "no rows were late-dropped or window-elided; the key is not "
            "exercising the watermark contract"
        )
    finally:
        out.unpersist()


def test_stateful_counters_probe_downgrades_here(spark):
    """In this container transformWithStateInPandas is unavailable
    (runner needs google.protobuf), so the key MUST take the
    applyInPandasWithState path — and still carry state across >= 2
    data micro-batches, or the cross-batch-state claim is vacuous."""
    from kafka_hadoop_consumer_spark.queries import continuous
    from kafka_hadoop_consumer_spark.streaming.ops import (
        transform_with_state_available,
    )

    assert transform_with_state_available() is False
    out = QUERIES["q_stream_stateful_counters"](spark, SF_DIR)
    got = {r.user_id: (r.n_events, r.sum_cents) for r in out.collect()}
    assert continuous.LAST_BATCHES["q_stream_stateful_counters"] >= 2

    from kafka_hadoop_consumer_spark.catalog import load_table

    exact = {
        r.user_id: (r.n, r.cents)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("cents"),
        )
        .collect()
    }
    assert got == exact


def test_landing_reaper_keeps_one_dir_per_key(spark):
    """Re-running a streaming key must reap its previous landing dir
    (r6 advice: repeated driver/pytest runs were accumulating full
    events-table copies under /tmp)."""
    from kafka_hadoop_consumer_spark.queries import continuous

    QUERIES["q_stream_continuous_agg"](spark, SF_DIR).count()
    first = continuous.LAST_LANDING["q_stream_continuous_agg"]
    assert os.path.isdir(first)
    QUERIES["q_stream_continuous_agg"](spark, SF_DIR).count()
    second = continuous.LAST_LANDING["q_stream_continuous_agg"]
    assert second != first
    assert os.path.isdir(second)
    assert not os.path.exists(first)
