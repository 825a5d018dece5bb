"""Continuous-maintenance bridge keys (SURVEY.md §2A→§2B): registry
entries that run ACTUAL Structured Streaming jobs — micro-batched file
source, state carried ACROSS micro-batches — and hash-check their final
result against the plain batch SQL over the same rows.

This is the "continuous aggregate / materialized view" contract every
streaming warehouse (Timescale caggs, Materialize, Flink dynamic tables)
makes: maintaining state incrementally over arriving chunks must be
indistinguishable from recomputing over the full table. The gated keys
cover every fundamentally different state-store path, and each key
whose shape has a streaming/ops.py builder calls that builder — so the
operator under the oracle gate is the production one:

- q_stream_continuous_agg, q_stream_sliding_agg, q_stream_static_join,
  q_stream_late_drop — windowed aggregates (keyed state; tumbling,
  overlapping, after a stream-static join, and with late rows dropped)
  via window_counts;
- q_stream_sessionize — session windows (DYNAMIC state: sessions widen
  and MERGE as out-of-order chunks arrive) via session_counts;
- q_stream_cdc_upsert — keyed last-write-wins upsert (the CDC
  materialized-view shape: one state row per entity, overwritten);
- q_stream_dedup_exact — seen-key state (exactly-once ingest: duplicates
  landed in different micro-batches are emitted once) via
  dedup_within_watermark;
- q_stream_join_interval — stream-stream join (state is buffered ROWS on
  BOTH unbounded sides, matched across micro-batches, evicted by the
  other side's watermark);
- q_stream_stateful_counters — ARBITRARY user-defined value state
  (transformWithState where the runtime supports it, auto-downgraded to
  applyInPandasWithState here) via stateful_user_counters.

The batch keys q_win_tumbling_batch and q_win_session_native run the
same window_counts and session_counts builders over the plain table.
tests/test_streaming.py drives what a memory-sink harness cannot show
(restart exactly-once, watermark eviction, the foreachBatch sinks).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from itertools import count as _count

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_hadoop_consumer_spark.catalog import load_table
from kafka_hadoop_consumer_spark.queries.registry import query
from kafka_hadoop_consumer_spark.streaming.ops import (
    dedup_within_watermark,
    session_counts,
    stateful_user_counters,
    window_counts,
)

N_LANDING_FILES = 4  # micro-batches per run (maxFilesPerTrigger=1)

_RUN_IDS = _count()

# Observability for tests: number of data micro-batches the most recent
# run of each key executed (must be > 1, or the "state carries across
# micro-batches" claim is vacuous), and the landing directory that run
# consumed (tests re-read it for batch-recompute comparisons).
LAST_BATCHES: dict[str, int] = {}
LAST_LANDING: dict[str, str] = {}


def _reap_landings() -> None:
    while LAST_LANDING:
        shutil.rmtree(LAST_LANDING.popitem()[1], ignore_errors=True)


atexit.register(_reap_landings)


def _new_landing(key: str) -> str:
    """Fresh per-invocation landing dir (a shared fixed path would let
    two concurrent sessions — e.g. pytest overlapping a driver pass on
    the same sf_dir — overwrite each other's files mid-stream). Reaps
    the key's PREVIOUS landing, so repeated driver/pytest runs keep at
    most one events-table copy per key under /tmp instead of
    accumulating them (r6 advice); only the most recent survives for
    LAST_LANDING-based test re-reads, and atexit removes those."""
    old = LAST_LANDING.get(key)
    if old:
        shutil.rmtree(old, ignore_errors=True)
    landing = tempfile.mkdtemp(prefix=f"khcs_{key}_landing_")
    LAST_LANDING[key] = landing
    return landing


def _land_events(spark: SparkSession, sf_dir: str, key: str) -> tuple[str, object]:
    """Rewrite the events table as N_LANDING_FILES parquet chunks under a
    fresh per-invocation landing dir (see _new_landing); returns
    (path, schema). Each chunk becomes one micro-batch
    (maxFilesPerTrigger=1 + availableNow)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    landing = _new_landing(key)
    e.repartition(N_LANDING_FILES).write.mode("overwrite").parquet(landing)
    return landing, e.schema


def _run_to_table(
    spark: SparkSession, stream: DataFrame, key: str, mode: str = "complete"
) -> DataFrame:
    """Run a streaming frame to a memory sink with a fresh checkpoint
    (the landing data is rewritten per invocation; checkpoint resume /
    exactly-once across restarts is pytest-covered by s_ingest_e2e's
    kill-a-commit test) and record the data-batch count. ``complete``
    re-emits the full state each trigger (aggregation keys); ``append``
    unions per-batch emissions (the dedup key)."""
    ckpt = tempfile.mkdtemp(prefix=f"khcs_{key}_ckpt_")
    name = f"{key}_{next(_RUN_IDS)}"
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        LAST_BATCHES[key] = len(
            [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def _stream(spark: SparkSession, landing: str, schema) -> DataFrame:
    """The landing dir as a stream, one file per micro-batch. Watermarks
    require TIMESTAMP (event-time) — the fixture column is
    TIMESTAMP_NTZ; under the UTC session the cast is wall-clock
    preserving, and keys cast window bounds back to NTZ on output."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _with_cents(df: DataFrame) -> DataFrame:
    """Exact integer cents: an order-insensitive sum, so the incremental
    state merge is bit-equal to the batch recompute."""
    return df.withColumn("cents", F.floor(F.col("value") * 100 + 0.5))


def _ntz_buckets(out: DataFrame) -> DataFrame:
    """window_counts' bucket back to the fixture's NTZ, as bucket_start."""
    return out.withColumn(
        "bucket", F.col("bucket").cast("timestamp_ntz")
    ).withColumnRenamed("bucket", "bucket_start")


@query(
    "q_stream_continuous_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_continuous_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate, streamed: events land as {N_LANDING_FILES}
    parquet chunks, a Structured Streaming job consumes them ONE FILE PER
    MICRO-BATCH (maxFilesPerTrigger=1, availableNow) into a watermarked
    1-hour tumbling-window count/sum whose state carries across the
    micro-batches, and the final emitted table must hash-match DuckDB's
    one-shot GROUP BY over the same rows — incremental maintenance ==
    batch recompute, the continuous-aggregate contract.

    Scale shape: streaming state is one row per (open window × event
    type) — bounded by the watermark horizon, not by stream length; each
    micro-batch does a map-side partial agg before the state-store merge
    (same shuffle discipline as the batch groupBy). The body is
    streaming/ops.window_counts, the builder q_win_tumbling_batch runs
    in batch mode and run_continuous_rollup maintains as a sink. The
    memory sink + complete mode here are the comparison harness (the
    final table must be readable back). The checkpoint is fresh per
    invocation because the landing data is rewritten per invocation —
    checkpoint resume/exactly-once across restarts is pytest-covered
    (s_ingest_e2e's kill-a-commit test)."""
    landing, schema = _land_events(spark, sf_dir, "q_stream_continuous_agg")
    stream = window_counts(_stream(spark, landing, schema), watermark="1 hour")
    return _ntz_buckets(_run_to_table(spark, stream, "q_stream_continuous_agg"))


@query(
    "q_stream_cdc_upsert",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value, n_changes
    FROM (
      SELECT user_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                 AS n_changes
      FROM events)
    WHERE rn = 1
    """,
)
def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed CDC upsert — the materialized-view shape change-data
    pipelines maintain: events arrive as micro-batches and the state is
    ONE last-write-wins row per entity (latest event per user by
    (ts, event_id), plus the change count), hash-checked against the
    batch argmax over the full table. Unlike the windowed keys, this
    state never grows with time — it is overwritten in place, the
    upsert/merge path of a CDC sink.

    Scale shape: streaming state is exactly one row per distinct key
    (bounded by entity cardinality, not stream length); each micro-batch
    partially reduces map-side before the state-store merge, so the
    shuffle moves one candidate row per (key × batch). max_by over the
    (ts, event_id) struct makes the winner deterministic under ties the
    same way the oracle's row_number ORDER BY does. last_value is a
    pass-through scalar (bit-exact, unrounded; SURVEY.md §7 R2)."""
    landing, schema = _land_events(spark, sf_dir, "q_stream_cdc_upsert")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_type", "value"),
                F.struct("ts", "event_id"),
            ).alias("last"),
            F.count(F.lit(1)).alias("n_changes"),
        )
    )
    out = _run_to_table(spark, stream, "q_stream_cdc_upsert")
    return out.select(
        "user_id",
        F.col("last.ts").alias("last_ts"),
        F.col("last.event_type").alias("last_event_type"),
        F.col("last.value").alias("last_value"),
        "n_changes",
    )


@query(
    "q_stream_dedup_exact",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    """,
)
def q_stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed exactly-once ingest gate: every event is landed TWICE, in
    two DIFFERENT micro-batches (copy A in files 0..N-1, copy B in files
    N..2N-1 — maxFilesPerTrigger=1 guarantees the duplicate never shares
    a batch with its original), and dropDuplicatesWithinWatermark on
    event_id must emit each event exactly once. The final table hash-matches the
    plain events table — the at-least-once-delivery-to-exactly-once-
    ingest contract (§2A A7's replay-idempotence, here under the
    driver's DuckDB hash gate rather than pytest).

    Copies are byte-identical, so which arrival wins is immaterial and
    the output is deterministic under any batch interleaving. Scale
    shape: dedup state is one key per distinct event_id, bounded by the
    watermark horizon — the production operator,
    streaming/ops.dedup_within_watermark. The watermark here outlasts
    the fixture's time span, so no copy B arrives after its event's
    state expired (the q_stream_join_interval precedent). Append mode:
    each row is emitted by the micro-batch that first sees it, so the
    sink union IS the deduplicated stream."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    landing = _new_landing("q_stream_dedup_exact")
    half = max(N_LANDING_FILES // 2, 1)
    e.repartition(half).write.mode("overwrite").parquet(landing)
    extra = [
        f
        for f in os.listdir(landing)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    for i, name in enumerate(sorted(extra)):
        shutil.copyfile(
            os.path.join(landing, name),
            os.path.join(landing, f"part-dup-{i:05d}-copy.parquet"),
        )
    stream = dedup_within_watermark(
        _stream(spark, landing, e.schema), watermark="3650 days"
    )
    out = _run_to_table(spark, stream, "q_stream_dedup_exact", mode="append")
    return out.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


@query(
    "q_stream_sessionize",
    oracle="""
    WITH seq AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS tts, event_id,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                       OR epoch_us(CAST(ts AS TIMESTAMP))
                          - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                          >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP),
                   event_id)),
    sess AS (
      SELECT user_id, tts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY tts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq)
    SELECT user_id,
           strftime(min(tts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(tts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed sessionization — the hardest streaming state shape:
    ``session_window`` state is DYNAMIC (a session widens as events
    arrive, and two sessions opened by out-of-order micro-batches must
    MERGE when a bridging event lands between them). The landing chunks
    are hash-partitioned, so every user's events arrive out of time
    order across micro-batches and merges genuinely happen; the final
    session table must still hash-match the batch lag+cumsum
    sessionization (native ≥-gap split semantics, the boundary contract
    q_win_session_native pins for batch).

    Scale shape: state is one row per OPEN session per user; in append
    or update mode the watermark evicts closed sessions. The body is
    streaming/ops.session_counts, the builder q_win_session_native runs
    in batch mode; its watermark here outlasts the fixture's time span,
    so no chunk's rows count as late (the q_stream_join_interval
    precedent). Complete mode is the comparison harness. Session
    starts/ends are input timestamps (selection ± the constant gap,
    formatted, not float arithmetic) and counts are exact."""
    landing, schema = _land_events(spark, sf_dir, "q_stream_sessionize")
    stream = session_counts(_stream(spark, landing, schema), watermark="3650 days")
    out = _run_to_table(spark, stream, "q_stream_sessionize")
    return out.select(
        "user_id",
        *(
            F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(c)
            for c in ("session_start", "session_end")
        ),
        "n_events",
    )


@query(
    "q_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           date_trunc('day', e.ts) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, maintained across micro-batches —
    the dimension-hydration shape every streaming pipeline runs (facts
    stream in, the slowly-changing dimension sits in the warehouse):
    events arrive as {N_LANDING_FILES} chunks, each micro-batch joins to
    the STATIC customer dimension (broadcast — re-resolved per batch, so
    a dimension refresh would be picked up), and a daily per-segment
    count/revenue aggregate carries state across batches; the final
    table must hash-match the one-shot batch join+group.

    Scale shape: the static side is a broadcast hash join inside each
    micro-batch (no stream-side shuffle for the join; the state-store
    shuffle is the aggregation's, same as batch). Revenue is summed in
    exact integer cents, so the incremental state merge is
    order-insensitive and bit-equal to the batch recompute — the
    double-sum drift a naive sum(value) would accumulate across batch
    boundaries is designed out (q_agg_decimal_exact's contract)."""
    landing, schema = _land_events(spark, sf_dir, "q_stream_static_join")
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
    )
    joined = _with_cents(_stream(spark, landing, schema)).join(
        dim, F.col("user_id") == F.col("c_custkey")
    )
    stream = window_counts(
        joined, "1 day", by=("c_mktsegment",), sum_col="cents", watermark="1 hour"
    )
    out = _ntz_buckets(_run_to_table(spark, stream, "q_stream_static_join"))
    return out.select(
        F.col("c_mktsegment").alias("segment"), "bucket_start", "n_events", "sum_cents"
    )


@query(
    "q_stream_sliding_agg",
    oracle="""
    WITH x AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS ws
      FROM events)
    SELECT ws AS bucket_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM x GROUP BY 1, 2
    """,
)
def q_stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate, streamed: 2-hour windows sliding every
    hour, so EVERY event belongs to two overlapping windows and each
    micro-batch updates two state rows per (event, type) assignment —
    the overlapping-assignment state shape (rate trends, rolling SLAs)
    that tumbling windows never exercise. The final table must
    hash-match the batch equivalent, spelled in the oracle as an
    explicit two-window unnest per row.

    Scale shape: state rows = open windows x event types x overlap
    factor (2) — still watermark-bounded, independent of stream length;
    the per-batch explosion happens map-side before the partial agg, so
    the state-store shuffle moves at most 2 x |open windows x types|
    partials per batch. Sums are exact integer cents (order-insensitive
    across batch boundaries)."""
    landing, schema = _land_events(spark, sf_dir, "q_stream_sliding_agg")
    stream = window_counts(
        _with_cents(_stream(spark, landing, schema)),
        "2 hours",
        "1 hour",
        sum_col="cents",
        watermark="1 hour",
    )
    return _ntz_buckets(_run_to_table(spark, stream, "q_stream_sliding_agg"))


LATE_DELAY_HOURS = 2     # watermark delay for the late-drop gate
LATE_DELAY = f"{LATE_DELAY_HOURS} hours"  # Spark-side spelling


@query(
    "q_stream_late_drop",
    # kept = chunks 0-1 only: batch k's late filter uses the watermark
    # computed before batch k-1 finished (two-batch lag, Spark >= 3.4 /
    # SPARK-40925), so chunk 1 still sees the zero watermark while
    # chunks 2-3 see the final one. A chunk-2/3 row then either sits in
    # a window that closed (late -> engine-dropped) or in one still open
    # at end of input (never emitted in append mode) — both excluded, so
    # no extra disjunct for them is needed (an earlier draft carried a
    # provably-dead window_end > watermark branch here).
    oracle=f"""
    WITH mx AS (SELECT event_id AS mid, ts AS mts FROM events
                ORDER BY ts DESC, event_id DESC LIMIT 1),
    c AS (SELECT e.*, CASE WHEN e.event_id = mx.mid THEN 0
                           ELSE e.event_id % 4 END AS chunk
          FROM events e CROSS JOIN mx),
    wf AS (SELECT mts - INTERVAL {LATE_DELAY_HOURS} HOUR AS w FROM mx),
    kept AS (
      SELECT c.*, date_trunc('hour', c.ts) AS bs
      FROM c WHERE c.chunk <= 1)
    SELECT bs AS bucket_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM kept CROSS JOIN wf
    WHERE bs + INTERVAL 1 HOUR <= wf.w
    GROUP BY 1, 2
    """,
)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting: events land as 4 single-file
    chunks in a PINNED batch order (chunk = event_id % 4, mtime-ordered,
    maxFilesPerTrigger=1), a 1-hour tumbling aggregate runs in APPEND
    mode with a {LATE_DELAY} watermark, and rows arriving after their
    window passed the watermark are DROPPED — the emitted table is the
    aggregate of exactly the on-time rows, hash-checked against an
    oracle that models Spark's actual lag rule (Spark >= 3.4,
    SPARK-40925): the late filter applied while batch k runs uses the
    watermark computed BEFORE batch k-1 finished — a two-batch lag. So
    batch 1 still filters against the zero watermark (chunk 1 is all on
    time BECAUSE of the lag; under a hypothetical one-batch lag it
    would be cut by the final watermark — this axis is engine-version
    sensitive and the oracle pins the >= 3.4 behavior), and append-mode
    windows are emitted once the eviction watermark passes their end.

    The corpus' max-ts row is MOVED into chunk 0, so the watermark
    reaches its final value (max ts - {LATE_DELAY}) after the first
    batch: chunks 2 and 3 are filtered by that final value under either
    lag rule, and the emitted-window set is invariant to how many
    trailing no-data micro-batches the availableNow run schedules
    (calibrated empirically; exact-match verified across repeated
    runs).

    Scale shape: state is one row per (open window x type) as in
    q_stream_continuous_agg; the late filter runs map-side BEFORE state
    (dropped rows never shuffle). Sums are exact integer cents."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mrow = e.orderBy(F.col("ts").desc(), F.col("event_id").desc()).first()
    mid = mrow["event_id"]
    landing = _new_landing("q_stream_late_drop")
    for k in range(4):
        cond = (
            (F.col("event_id") % 4 == 0) | (F.col("event_id") == mid)
            if k == 0
            else (F.col("event_id") % 4 == k) & (F.col("event_id") != mid)
        )
        tmp = tempfile.mkdtemp(prefix=f"khcs_late_chunk{k}_")
        e.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f)
            for f in sorted(os.listdir(tmp))
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(landing, f"chunk-{k}.parquet")
        shutil.copyfile(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)  # scratch copied out — reap now
        os.utime(dst, (1_000_000 + k * 100, 1_000_000 + k * 100))
    stream = window_counts(
        _with_cents(_stream(spark, landing, e.schema)),
        sum_col="cents",
        watermark=LATE_DELAY,
    )
    return _ntz_buckets(
        _run_to_table(spark, stream, "q_stream_late_drop", mode="append")
    )


@query(
    "q_stream_join_interval",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           p.ts AS purchase_ts, c.ts AS click_ts,
           CAST((epoch_us(CAST(p.ts AS TIMESTAMP))
                 - epoch_us(CAST(c.ts AS TIMESTAMP))) // 60000000
                AS BIGINT) AS mins_before
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def q_stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join — the fifth streaming state shape
    (both inputs are unbounded; state is BUFFERED ROWS on both sides,
    not aggregates): purchases and clicks land as separate chunked
    parquet streams, and each purchase joins every click by the same
    user in the hour before it — the attribution join every clickstream
    pipeline runs continuously. Hash-partitioned landing means a
    purchase's matching clicks routinely arrive in EARLIER and LATER
    micro-batches than the purchase itself, so matches genuinely form
    against buffered state on both sides; the emitted union must
    hash-match the batch interval join over the full table.

    Scale shape: both sides shuffle on user_id so a key's buffered rows
    co-locate; the event-time range condition is what lets the engine
    BOUND the buffers — each side's state evicts once the other side's
    watermark passes ts + 1 hour. The watermark here is set beyond the
    fixture's time span so eviction never races arrival (this harness
    replays history; a live pipeline uses minutes and accepts the
    dropped-late-match contract that q_stream_late_drop pins).
    mins_before is an exact integer (microsecond difference, floor
    division) — no float in the hash."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )

    def land_side(event_type: str) -> tuple[str, object]:
        side = e.where(F.col("event_type") == event_type)
        landing = _new_landing(f"q_stream_join_interval_{event_type}")
        side.repartition(2).write.mode("overwrite").parquet(landing)
        return landing, side.schema

    p_landing, p_schema = land_side("purchase")
    c_landing, c_schema = land_side("click")
    LAST_LANDING["q_stream_join_interval"] = p_landing

    def read_side(landing: str, schema, prefix: str) -> DataFrame:
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "3650 days")
        )
        return s.select([F.col(c).alias(f"{prefix}_{c}") for c in s.columns])

    p = read_side(p_landing, p_schema, "p")
    c = read_side(c_landing, c_schema, "c")
    joined = p.join(
        c,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    out = _run_to_table(
        spark, joined, "q_stream_join_interval", mode="append"
    )
    return out.select(
        F.col("p_user_id").alias("user_id"),
        F.col("p_event_id").alias("purchase_id"),
        F.col("c_event_id").alias("click_id"),
        F.col("p_ts").cast("timestamp_ntz").alias("purchase_ts"),
        F.col("c_ts").cast("timestamp_ntz").alias("click_ts"),
        # integer DIV, not float '/'+cast: the oracle floor-divides in
        # exact integer µs, and double rounding could cross an integer
        # boundary on wider ranges (r9 review; the q_win_attribution
        # idiom)
        F.expr(
            "(unix_micros(p_ts) - unix_micros(c_ts)) DIV 60000000"
        ).alias("mins_before"),
    )


@query(
    "q_stream_stateful_counters",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key streaming state under the driver hash gate: a
    per-user (count, exact-cents sum) counter maintained ACROSS
    micro-batches by the arbitrary-stateful operator, whose final
    per-user values must equal DuckDB's one-shot GROUP BY — the sixth
    gated state shape (custom value-state, complementing the windowed /
    session / upsert / seen-key / join-buffer shapes above).

    The body is streaming/ops.stateful_user_counters, whose API
    selection IS the probe (SURVEY.md §7 R6, r6 verdict item 7): Spark
    4's transformWithStateInPandas is preferred when the runtime
    supports it, but its runner imports google.protobuf, which this
    container lacks — so the operator auto-downgrades to
    applyInPandasWithState with IDENTICAL semantics (same state row,
    same emissions).

    Update mode emits the running counter each time a batch touches a
    user; the FINAL counter per user is selected by max n_events (the
    count is strictly monotonic per emission, so the argmax is unique
    and deterministic). Scale shape: state is one row per user; each
    micro-batch partial-aggregates map-side before the state-store
    merge; the update stream into the sink is the CDC-style changelog a
    production deployment would upsert, here unioned in memory as the
    comparison harness."""
    landing, schema = _land_events(spark, sf_dir, "q_stream_stateful_counters")
    counters = stateful_user_counters(_stream(spark, landing, schema))
    out = _run_to_table(
        spark, counters, "q_stream_stateful_counters", mode="update"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_cents")
    )
