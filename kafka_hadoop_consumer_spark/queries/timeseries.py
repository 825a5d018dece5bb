"""Time-series + keyed-dedup operators (SURVEY.md §2B, build plan M3):
range join, as-of join, tumbling time buckets, exact/keyed dedup.

Oracle note: ``events.ts`` is nanosecond parquet; the engine reads it
truncated to microseconds (catalog.py), so every oracle reference to it is
``CAST(ts AS TIMESTAMP)`` — DuckDB truncates identically.

Scale notes: both temporal joins are equi-joins on ``user_id`` with a time
residual — they shuffle once on the user key (AQE handles user skew); the
as-of picks winners with a per-left-row window, never a cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_hadoop_consumer_spark.catalog import load_table
from kafka_hadoop_consumer_spark.queries.registry import persist_tracked, query
from kafka_hadoop_consumer_spark.streaming.ops import window_counts


@query(
    "q_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, text, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on text with a canonical survivor (min doc_id).

    Deterministic alternative to dropDuplicates(["text"]) (which keeps an
    arbitrary row); at 100 TB this is one hash shuffle on the text —
    or on xxhash64(text) first, to keep shuffle keys small.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("doc_id", "text", "n_copies")


@query(
    "q_dedup_keyed",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def q_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (CDC compaction): latest event per user."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


@query(
    "q_win_tumbling_batch",
    oracle="""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_win_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate: streaming/ops.window_counts, the
    builder q_stream_continuous_agg runs over a stream, here over the
    plain table (its watermark is a no-op on a batch frame)."""
    return window_counts(load_table(spark, sf_dir, "events")).withColumn(
        "bucket", F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")
    )


@query(
    "q_join_range",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           CAST(datediff('second', CAST(v.ts AS TIMESTAMP), CAST(p.ts AS TIMESTAMP)) AS BIGINT)
             AS secs_between
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >  CAST(v.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: purchase within 1h after a view, same user.

    Physically an equi-join on user_id with the time band as a residual
    filter — one shuffle, no cross product.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    return (
        v.join(
            p,
            (v.user_id == p.p_user_id)
            & (p.p_ts > v.v_ts)
            & (p.p_ts <= v.v_ts + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "view_id",
            "purchase_id",
            "user_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("secs_between"),
        )
    )


@query(
    "q_join_asof",
    oracle="""
    SELECT purchase_id, view_id, user_id
    FROM (SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
                 row_number() OVER (PARTITION BY p.event_id
                                    ORDER BY CAST(v.ts AS TIMESTAMP) DESC, v.event_id DESC) AS rn
          FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          JOIN (SELECT * FROM events WHERE event_type = 'view') v
            ON v.user_id = p.user_id AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP))
    WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no native Spark op): for each purchase, the most recent
    view at-or-before it, per user — the generic ``operators.temporal.
    asof_join`` (equi-join on user + backward inequality + row_number()=1
    winner per left row) applied to the events fixture.

    The oracle uses the equivalent window SQL rather than DuckDB's ASOF
    JOIN, whose tie-breaking among equal timestamps is unspecified.
    """
    from kafka_hadoop_consumer_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts")
    )
    return asof_join(
        p, v, by="user_id", left_ts="p_ts", right_ts="v_ts",
        left_key="purchase_id", direction="backward", tie_break="view_id",
    ).select("purchase_id", "view_id", "user_id")


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def sessionize(e: DataFrame) -> DataFrame:
    """Annotate an events frame with a per-user ``session_id``: split each
    user's stream at > {SESSION_GAP_US} µs inactivity — lag + cumulative
    sum of new-session flags, ordered by (ts, event_id), the classic
    composite. THE single source of the batch session model:
    q_win_sessionize, q_join_interval, q_win_path, q_time_concurrency,
    and q_time_session_stats all derive from this exact frame (r9
    review: five hand-kept copies could silently fork the gap semantics
    between keys), and ``_SESSION_CTES`` is its oracle-side twin. One
    shuffle on user_id; downstream per-(user, session) aggregates reuse
    the same partitioning. Gap comparison in integer microseconds —
    exact on both engines (unix_micros requires TIMESTAMP, not NTZ; the
    cast is value-preserving because the session timezone is pinned
    UTC).

    r11 profile: the previous inline form materialized the lag TWICE
    (every use of the lag expression became its own window column,
    _we0/_we1 in the plan) and re-evaluated unix_micros(cast(ts)) per
    reference inside window expressions. Pre-projecting the µs value
    once and lagging the long instead is plan-identical in shape (same
    single exchange+sort; µs ordering is a bijection of ts ordering at
    Spark's µs precision) and measured 5-6% faster at sf0.1 with exact
    value parity. The scratch columns are dropped before return, so
    consumers see exactly input-columns + session_id as before.

    Refuses input already carrying the scratch names or session_id
    (r11 ADVICE): withColumn would silently overwrite a caller column
    and the closing select would emit the scratch value — for the
    single source of the session model, loud beats wrong."""
    clash = {"_tsu", "_prev_tsu", "session_id"}.intersection(e.columns)
    if clash:
        raise ValueError(
            f"sessionize: input already has column(s) {sorted(clash)} — "
            "rename them first; _tsu/_prev_tsu are scratch and "
            "session_id is the appended output"
        )
    cols = e.columns
    w = Window.partitionBy("user_id").orderBy("_tsu", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = e.withColumn(
        "_tsu", F.unix_micros(F.col("ts").cast("timestamp"))
    ).withColumn("_prev_tsu", F.lag("_tsu").over(w))
    is_new = F.when(
        F.col("_prev_tsu").isNull()
        | (F.col("_tsu") - F.col("_prev_tsu") > SESSION_GAP_US),
        1,
    ).otherwise(0)
    return e.withColumn("session_id", F.sum(is_new).over(wrun)).select(
        *cols, "session_id"
    )


# Oracle-side twin of ``sessionize``: expects a CTE named ``e`` carrying
# (user_id, ts, event_id, ...); yields ``sess`` = e + session_id. Spliced
# into every session-model oracle so the SQL replay is single-sourced too.
_SESSION_CTES = f"""
    lagd AS (
      SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM e),
    flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > {SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS is_new
      FROM lagd),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)"""


@query(
    "q_win_sessionize",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events),{_SESSION_CTES}
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us,
           round(sum(value), 2) AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def q_win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream at >30-minute
    inactivity gaps (lag + cumulative-sum of gap flags — the classic
    composite; s_stream_session is the same semantics via the native
    streaming session_window).

    One shuffle on user_id serves both windows AND the final session
    aggregate (same partitioning, no re-shuffle). Gap comparison is in
    integer microseconds — exact on both engines, no truncation drift.
    (unix_micros requires TIMESTAMP, not NTZ — the cast is
    value-preserving because the session timezone is pinned UTC.)
    """
    e = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    return (
        sessionize(e)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            us(F.min("ts")).alias("start_us"),
            (us(F.max("ts")) - us(F.min("ts"))).alias("duration_us"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


GAPFILL_USERS = 20  # fixed panel: bounded spine regardless of SF


@query(
    "q_time_gapfill",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, value
      FROM events WHERE user_id < {GAPFILL_USERS}),
    hourly AS (
      SELECT user_id, hr, round(avg(value), 4) AS v FROM ev GROUP BY 1, 2),
    b AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hourly GROUP BY 1),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM b)
    SELECT s.user_id, s.hr,
           last_value(h.v IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
           CAST(h.v IS NULL AS INT) AS is_gap
    FROM spine s
    LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hr = s.hr
    """,
)
def q_time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: densify each user's hourly metric onto a
    regular spine (min..max hour) and carry the last observation forward
    (LOCF) into the gaps — the hypertable/`time_bucket_gapfill` staple.

    Scale shape: two shuffles, both cheap by construction. The hourly
    rollup is a map-side-combinable hash agg (shuffles partial states,
    not raw events); everything after — bounds, generated spine
    (sequence + explode, narrow, no driver loop), spine join, and the
    running `last(ignorenulls)` LOCF window — rides ONE user_id
    partitioning whose input is already |user×hour| rollup rows, not
    the fact table. (Collapsing to one shuffle by pre-partitioning on
    user_id alone would ship raw events instead of partials — worse.)
    The avg is rounded 4dp before filling (LOCF then copies identical
    bits on both engines)."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < GAPFILL_USERS)
    hourly = (
        e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.round(F.avg("value"), 4).alias("v"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hr"], "left")
        .select(
            "user_id",
            "hr",
            F.last("v", ignorenulls=True).over(w).alias("value_locf"),
            F.col("v").isNull().cast("int").alias("is_gap"),
        )
    )


@query(
    "q_time_ohlc",
    oracle="""
    SELECT event_type,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
           arg_min(value, CAST(ts AS TIMESTAMP)) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, CAST(ts AS TIMESTAMP)) AS close,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q_time_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: per (series, hour) open/high/low/close bars — the
    financial downsampling staple, expressed with ordered-argument
    aggregates (min_by/max_by ≡ DuckDB arg_min/arg_max) instead of a
    window + dedup pass.

    Scale shape: ONE map-side-combinable hash agg — min_by/max_by partial
    states are a single (value, ts) pair each, so 100 TB of ticks reduce
    to |series|×|buckets| rows with no sort and no window; every output
    is a pass-through double (bit-exact, unrounded). Timestamps are
    unique per series in the fixture, so the ordered aggregates are
    deterministic."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_time_retention",
    oracle="""
    WITH f AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_ts
               FROM events GROUP BY user_id),
    coh AS (SELECT user_id, date_trunc('week', first_ts) AS cohort_week FROM f),
    act AS (SELECT DISTINCT user_id,
                   date_trunc('week', CAST(ts AS TIMESTAMP)) AS act_week
            FROM events),
    sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM coh GROUP BY 1),
    r AS (SELECT c.cohort_week,
                 CAST(datediff('day', c.cohort_week, a.act_week) / 7 AS INT)
                     AS week_offset,
                 count(DISTINCT a.user_id) AS n_active
          FROM act a JOIN coh c ON a.user_id = c.user_id
          GROUP BY 1, 2)
    SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week,
           r.week_offset, r.n_active,
           100.0 * r.n_active / s.cohort_size AS retention_pct
    FROM r JOIN sizes s ON s.cohort_week = r.cohort_week
    """,
)
def q_time_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the week of their first
    event; for each later week, the share of the cohort still active —
    the product-analytics staple behind every retention curve.

    Scale shape: raw events are read ONCE — a single user_id hash-agg
    computes each user's cohort week (min) AND distinct active weeks
    (collect_set, bounded by the calendar: ≤ weeks-of-history elements,
    never |events|) — so there is NO user-level join and no second scan
    anywhere; the exploded (user, week) frame is counted directly
    (already distinct per user), and the cohort size is recovered from
    the matrix itself — n_active at offset 0 IS the cohort population
    (every user is active in their own first week) — via a window over
    the |cohorts×weeks| aggregate, not another pass. retention_pct is a
    single division of two exact counts — bit-identical cross-engine,
    emitted UNROUNDED (SURVEY.md §7 R2 corollary).
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"),
        F.collect_set(F.date_trunc("week", "ts")).alias("weeks"),
    )
    act = per_user.select(
        "user_id",
        "cohort_week",
        F.explode("weeks").alias("act_week"),
    ).withColumn(
        "week_offset",
        (F.datediff("act_week", "cohort_week") / 7).cast("int"),
    )
    # one row per (user, act_week) already — a plain count IS the
    # distinct-user count, no count_distinct expansion needed
    r = act.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    wc = Window.partitionBy("cohort_week")
    cohort_size = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(wc)
    return r.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active",
        (F.lit(100.0) * F.col("n_active") / cohort_size).alias("retention_pct"),
    )


@query(
    "q_cdc_scd2",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev_type
      FROM events),
    v AS (
      SELECT *, CAST(sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                              THEN 1 ELSE 0 END) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      FROM w),
    runs AS (
      SELECT user_id, version, event_type,
             CAST(epoch_us(min(ts)) AS BIGINT) AS valid_from_us
      FROM v GROUP BY user_id, version, event_type)
    SELECT user_id, version, event_type, valid_from_us,
           lead(valid_from_us) OVER
             (PARTITION BY user_id ORDER BY version) AS valid_to_us,
           (lead(valid_from_us) OVER
             (PARTITION BY user_id ORDER BY version) IS NULL) AS is_current
    FROM runs
    """,
)
def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 build from a change stream: collapse each user's
    consecutive runs of equal state (event_type) into versioned validity
    intervals [valid_from, valid_to) with an is_current flag — the
    dimension-history operator every warehouse CDC pipeline runs, and the
    batch mirror of q_dedup_keyed's "latest wins" (which keeps only the
    final state; this keeps the full history, change-compressed).

    Scale shape: one shuffle on user_id serves the lag window, the
    run-id cumulative sum, the per-run aggregate, AND the lead window
    (all partition on user_id; the groupBy key only prefixes version).
    Interval bounds are integer microseconds — exact cross-engine; the
    (ts, event_id) order key is unique so every window is deterministic.
    """
    e = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("event_type").over(w)
    changed = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    runs = (
        e.withColumn("version", F.sum(changed).over(wrun))
        .groupBy("user_id", "version", "event_type")
        .agg(us(F.min("ts")).alias("valid_from_us"))
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    valid_to = F.lead("valid_from_us").over(wv)
    return runs.select(
        "user_id",
        "version",
        "event_type",
        "valid_from_us",
        valid_to.alias("valid_to_us"),
        valid_to.isNull().alias("is_current"),
    )


@query(
    "q_time_ewma",
    oracle="""
    WITH w AS (
      SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             lag(value, 1) OVER ew AS l1, lag(value, 2) OVER ew AS l2,
             lag(value, 3) OVER ew AS l3, lag(value, 4) OVER ew AS l4,
             lag(value, 5) OVER ew AS l5, lag(value, 6) OVER ew AS l6,
             lag(value, 7) OVER ew AS l7
      FROM events
      WINDOW ew AS (PARTITION BY event_type
                    ORDER BY CAST(ts AS TIMESTAMP), event_id))
    SELECT event_type, event_id,
           ((((((((value
             + 0.5 * coalesce(l1, 0)) + 0.25 * coalesce(l2, 0))
             + 0.125 * coalesce(l3, 0)) + 0.0625 * coalesce(l4, 0))
             + 0.03125 * coalesce(l5, 0)) + 0.015625 * coalesce(l6, 0))
             + 0.0078125 * coalesce(l7, 0)))
           /
           ((((((((1.0
             + CASE WHEN l1 IS NULL THEN 0 ELSE 0.5 END)
             + CASE WHEN l2 IS NULL THEN 0 ELSE 0.25 END)
             + CASE WHEN l3 IS NULL THEN 0 ELSE 0.125 END)
             + CASE WHEN l4 IS NULL THEN 0 ELSE 0.0625 END)
             + CASE WHEN l5 IS NULL THEN 0 ELSE 0.03125 END)
             + CASE WHEN l6 IS NULL THEN 0 ELSE 0.015625 END)
             + CASE WHEN l7 IS NULL THEN 0 ELSE 0.0078125 END))
           AS ewma
    FROM w
    """,
)
def q_time_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per series (α = 0.5,
    truncated at 8 taps — weights below 2⁻⁷ are beneath double noise for
    this use), normalized over the taps actually present so the series
    head isn't biased toward zero.

    Determinism: α = 0.5 makes every weight an exact binary fraction
    (multiplication is an exponent shift — lossless), and the numerator
    is written as the same left-associated chain in both engines, so the
    result is BIT-EXACT cross-engine with no rounding at all — a
    deliberate contrast to the rounded stochastic aggregates.

    Scale shape: one shuffle on event_type serves all eight lags (same
    window spec); the tap chain is pure projection (whole-stage codegen,
    no extra pass per tap). A recursive infinite-history EWMA is
    inherently sequential; the truncated form is the scalable batch
    equivalent (error < 2⁻⁸ relative)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lags = [F.lag("value", k).over(w) for k in range(1, 8)]
    weights = [0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125]
    num = F.col("value")
    den = F.lit(1.0)
    for lk, wk in zip(lags, weights):
        num = num + wk * F.coalesce(lk, F.lit(0.0))
        den = den + F.when(lk.isNull(), 0.0).otherwise(wk)
    return e.select(
        "event_type", "event_id", (num / den).alias("ewma")
    )


@query(
    "q_time_rolling",
    oracle="""
    SELECT event_type, event_id,
           round(avg(value) OVER w7, 4) AS roll_mean,
           round(stddev_pop(value) OVER w7, 4) AS roll_vol,
           round(min(value) OVER w7, 4) AS roll_min,
           round(max(value) OVER w7, 4) AS roll_max
    FROM events
    WINDOW w7 AS (PARTITION BY event_type
                  ORDER BY CAST(ts AS TIMESTAMP), event_id
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_time_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row mean/volatility/min/max per series — the moving-
    statistics panel behind monitoring dashboards and financial bars.

    Scale shape: ONE shuffle on event_type; all four window aggregates
    share the same frame spec, so Spark evaluates them in a single
    Window operator pass. Mean and stddev are rounded on both sides
    (windowed running sums associate differently across engines);
    min/max are selections but ride the same rounding for a uniform
    contract."""
    e = load_table(spark, sf_dir, "events")
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return e.select(
        "event_type",
        "event_id",
        F.round(F.avg("value").over(w7), 4).alias("roll_mean"),
        F.round(F.stddev_pop("value").over(w7), 4).alias("roll_vol"),
        F.round(F.min("value").over(w7), 4).alias("roll_min"),
        F.round(F.max("value").over(w7), 4).alias("roll_max"),
    )


MERGE_CUTOFF = "2024-01-16"


@query(
    "q_cdc_merge",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_type, value
      FROM (SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events
            WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{MERGE_CUTOFF}')
      WHERE rn = 1),
    delta AS (
      SELECT user_id, event_type, value
      FROM (SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events
            WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{MERGE_CUTOFF}')
      WHERE rn = 1)
    SELECT coalesce(d.user_id, b.user_id) AS user_id,
           coalesce(d.event_type, b.event_type) AS event_type,
           coalesce(d.value, b.value) AS value,
           CASE WHEN b.user_id IS NULL THEN 'insert'
                WHEN d.user_id IS NULL THEN 'unchanged'
                ELSE 'update' END AS action
    FROM base b FULL JOIN delta d ON d.user_id = b.user_id
    """,
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE / upsert (the ``MERGE INTO`` shape without a table
    format): apply a change-batch of per-key latest states onto a base
    snapshot — matched keys update, unmatched delta keys insert,
    untouched base keys pass through, each row labeled with its merge
    action. Complements q_cdc_scd2 (which keeps history; this applies
    state) and q_dedup_keyed (the compaction primitive both reuse).

    Scale shape: both sides compact to one row per key BEFORE the merge
    join (row_number over the same user_id partitioning), so the FULL
    outer join touches |keys|, not |events|, and rides the same user_id
    hash partitioning — one logical shuffle family, no re-partition.
    Values pass through unrounded (selections, not arithmetic)."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", "value")
        )

    base = latest(e.where(F.col("ts") < cutoff))
    delta = latest(e.where(F.col("ts") >= cutoff)).select(
        F.col("user_id").alias("d_user_id"),
        F.col("event_type").alias("d_event_type"),
        F.col("value").alias("d_value"),
    )
    merged = base.join(delta, base.user_id == delta.d_user_id, "full")
    return merged.select(
        F.coalesce("d_user_id", "user_id").alias("user_id"),
        F.coalesce("d_event_type", "event_type").alias("event_type"),
        F.coalesce("d_value", "value").alias("value"),
        F.when(F.col("user_id").isNull(), "insert")
        .when(F.col("d_user_id").isNull(), "unchanged")
        .otherwise("update")
        .alias("action"),
    )


DEBOUNCE_GAP_US = 3600 * 1_000_000  # 1-hour cooldown per (user, type)


@query(
    "q_dedup_debounce",
    oracle=f"""
    SELECT event_id, user_id, event_type,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             lag(CAST(ts AS TIMESTAMP)) OVER
               (PARTITION BY user_id, event_type
                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events)
    WHERE prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) > {DEBOUNCE_GAP_US}
    """,
)
def q_dedup_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce / cooldown dedup: keep an event only if the SAME user's
    previous event of the SAME type is more than 1 hour older — the
    rate-limiting dedup of alerting and notification pipelines (batch
    analogue of streaming dropDuplicatesWithinWatermark, which
    s_stream_dedup covers).

    NOTE the chained-suppression semantics: the gap is measured to the
    previous RAW event, not the previous kept one — a steady drip of
    sub-hour events suppresses everything after the first (lag-based,
    one window pass). Keeping gap-to-last-KEPT would need a running
    session reset — that variant is exactly q_win_sessionize's first
    event per session.

    Scale shape: one shuffle on (user_id, event_type); the lag compare
    is integer microseconds — exact cross-engine."""
    e = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev_us = us(F.lag("ts").over(w))
    return (
        e.withColumn("prev_us", prev_us)
        .where(
            F.col("prev_us").isNull()
            | (us(F.col("ts")) - F.col("prev_us") > DEBOUNCE_GAP_US)
        )
        .select(
            "event_id", "user_id", "event_type", us(F.col("ts")).alias("ts_us")
        )
    )


# --- interval-overlap join -------------------------------------------------
# Fixed campaign calendar over the fixture's event range (Jan 2024): 15
# windows, one every 2 days, each 36 h long. Constants (not data-derived
# scalars) so both engines build the identical dim without an extra pass.
IVL_BASE_US = 1_704_067_200_000_000  # epoch micros of 2024-01-01 00:00 UTC
IVL_STEP_US = 2 * 24 * 3600 * 1_000_000  # campaign every 2 days
IVL_LEN_US = 36 * 3600 * 1_000_000  # each lasts 36 h
IVL_N = 15
IVL_BUCKET_US = IVL_STEP_US  # time-bucket width for the equi-join prefilter


@query(
    "q_join_interval",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events),{_SESSION_CTES},
    iv AS (
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
      FROM sess GROUP BY 1, 2),
    camp AS (
      SELECT range AS campaign_id,
             {IVL_BASE_US} + range * {IVL_STEP_US} AS ws,
             {IVL_BASE_US} + range * {IVL_STEP_US} + {IVL_LEN_US} AS we
      FROM range({IVL_N}))
    SELECT iv.user_id, iv.session_id, camp.campaign_id,
           least(iv.e, camp.we) - greatest(iv.s, camp.ws) AS overlap_us
    FROM iv JOIN camp ON iv.s < camp.we AND iv.e >= camp.ws
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user activity sessions x campaign windows,
    emitting the overlap duration for every (session, campaign) pair whose
    intervals intersect ([s,e] closed vs [ws,we) half-open: s < we AND
    e >= ws).

    The oracle is the plain theta join; the engine plan is the
    SCALE-SAFE shape: both interval sets explode into the 2-day time
    buckets they cover, the pairing is an EQUI-join on the bucket, the
    overlap predicate is a residual, and each pair is emitted exactly
    once (only in the bucket where the LATER of the two starts falls:
    bkt = greatest(s,ws) DIV W) — so no distinct pass and no
    BroadcastNestedLoop over unbounded ranges. At test scale Spark
    broadcasts the tiny exploded campaign side; with two large inputs
    the same plan becomes a shuffle hash join on the bucket key, cost
    proportional to co-bucketed pairs rather than |A|x|B|.
    """
    e = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    iv = (
        sessionize(e)
        .groupBy("user_id", "session_id")
        .agg(us(F.min("ts")).alias("s"), us(F.max("ts")).alias("e"))
    )
    camp = (
        spark.range(IVL_N)
        .select(
            F.col("id").alias("campaign_id"),
            (F.lit(IVL_BASE_US) + F.col("id") * IVL_STEP_US).alias("ws"),
            (F.lit(IVL_BASE_US) + F.col("id") * IVL_STEP_US + IVL_LEN_US).alias("we"),
        )
    )
    from kafka_hadoop_consumer_spark.operators.temporal import interval_overlap_join

    return interval_overlap_join(
        iv, camp, a_start="s", a_end="e", b_start="ws", b_end="we",
        bucket_width=IVL_BUCKET_US,
    ).select(
        "user_id",
        "session_id",
        "campaign_id",
        (F.least("e", "we") - F.greatest("s", "ws")).alias("overlap_us"),
    )


@query(
    "q_time_interp",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, value
      FROM events WHERE user_id < {GAPFILL_USERS}),
    hourly AS (
      SELECT user_id, hr, round(avg(value), 4) AS v FROM ev GROUP BY 1, 2),
    b AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hourly GROUP BY 1),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM b),
    j AS (
      SELECT s.user_id, s.hr, h.v,
             CASE WHEN h.v IS NULL THEN NULL ELSE s.hr END AS obs_hr
      FROM spine s
      LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hr = s.hr),
    ctx AS (
      SELECT user_id, hr, v,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(obs_hr IGNORE NULLS) OVER wp AS ph,
             first_value(v IGNORE NULLS) OVER wf AS nv,
             first_value(obs_hr IGNORE NULLS) OVER wf AS nh
      FROM j
      WINDOW wp AS (PARTITION BY user_id ORDER BY hr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY hr
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, hr,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE CAST(CAST(round(pv * 10000) AS BIGINT) * (datediff('hour', ph, nh) - datediff('hour', ph, hr))
                       + CAST(round(nv * 10000) AS BIGINT) * datediff('hour', ph, hr) AS DOUBLE)
                  / (datediff('hour', ph, nh) * 10000.0)
           END AS value_interp,
           CAST(v IS NULL AS INT) AS is_gap
    FROM ctx
    """,
)
def q_time_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill: densify each user's hourly metric and
    fill gaps by interpolating between the neighboring OBSERVED points
    (edges fall back to nearest-value); the companion to q_time_gapfill's
    LOCF.

    Same scale shape as gapfill (map-side-combinable rollup, generated
    spine, one user_id partitioning) plus ONE extra window pass: the
    backward context (prev observed value/hour) and forward context (next
    observed value/hour) both ride the same user_id partitioning — sorted
    once, scanned in both frame directions, no extra shuffle. The
    interpolation fraction is exact integer-microsecond arithmetic cast
    to double; the result is rounded 4dp on both engines.
    """
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < GAPFILL_USERS)
    hourly = (
        e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.round(F.avg("value"), 4).alias("v"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
        )
    )
    j = (
        spine.join(hourly, ["user_id", "hr"], "left")
        .withColumn("obs_hr", F.when(F.col("v").isNotNull(), F.col("hr")))
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    ctx = j.select(
        "user_id",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last("obs_hr", ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first("obs_hr", ignorenulls=True).over(wf).alias("nh"),
    )
    # Exact fixed-point interpolation: endpoints are 4dp-rounded doubles →
    # scale to integers (x10000); the fraction is whole hours on the spine.
    # One integer dot-product + ONE double division (IEEE correctly rounded
    # → bit-identical across engines; no round() boundary flips).
    hrs = lambda a, b: ((us(b) - us(a)) / F.lit(3_600_000_000)).cast("long")  # noqa: E731
    pvi = F.round(F.col("pv") * 10000).cast("long")
    nvi = F.round(F.col("nv") * 10000).cast("long")
    dn = hrs("ph", "hr")
    dd = hrs("ph", "nh")
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise((pvi * (dd - dn) + nvi * dn).cast("double") / (dd * F.lit(10000.0)))
    )
    return ctx.select(
        "user_id",
        "hr",
        interp.alias("value_interp"),
        F.col("v").isNull().cast("int").alias("is_gap"),
    )


@query(
    "q_win_path",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),{_SESSION_CTES}
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_steps,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
           CAST(regexp_matches(string_agg(event_type, '>' ORDER BY ts, event_id),
                               'view.*purchase') AS INT) AS converted
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_win_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session event-path extraction (MATCH_RECOGNIZE-style pattern
    detection as a composition): sessionize, concatenate each session's
    event types in time order into a path string, and flag sessions whose
    path matches view->...->purchase — the clickstream path-analysis /
    conversion-pattern staple.

    One shuffle on user_id drives sessionization AND the path aggregate
    (same partitioning). The in-order concat is deterministic: events
    collect as (ts, event_id, type) structs, array_sort orders them
    (struct ordering is field-lexicographic: ts, then the unique
    event_id), then the types join into the path — the batch equivalent
    of an ordered string_agg. Per-session payload is bounded by session
    length (30-min gap cap), not corpus size.
    """
    e = load_table(spark, sf_dir, "events")
    path = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return (
        sessionize(e)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            path.alias("path"),
        )
        .withColumn("converted", F.col("path").rlike("view.*purchase").cast("int"))
    )


DOWNSAMPLE_BUCKET_US = 6 * 3600 * 1_000_000  # 6-hour buckets


@query(
    "q_time_downsample",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, value,
                      epoch_us(CAST(ts AS TIMESTAMP)) // {DOWNSAMPLE_BUCKET_US} AS bucket_id
               FROM events),
    stats AS (
      SELECT user_id, bucket_id,
             round(avg(value), 6) AS av, count(*) AS n
      FROM e GROUP BY 1, 2),
    r AS (
      SELECT e.*, s.n, round(abs(e.value - s.av), 6) AS dev
      FROM e JOIN stats s USING (user_id, bucket_id))
    SELECT user_id, bucket_id, event_id, value,
           CAST(n AS BIGINT) AS n_in_bucket
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket_id
                                       ORDER BY dev DESC, event_id) AS rn
          FROM r)
    WHERE rn = 1
    """,
)
def q_time_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-point downsampling: per (user, 6-hour bucket) keep
    the single event deviating most from the bucket mean — the
    shape-preserving reduction behind dashboard rendering and LTTB-style
    plots (this variant is order-free, so it distributes; true LTTB's
    previous-selection dependency does not).

    ONE shuffle: bucket stats (avg, count) come from whole-partition
    window aggregates and the winner from a ranking window over the SAME
    (user, bucket) partitioning — no agg-then-join-back second shuffle.
    The deviation is ranked after rounding (mean 6dp, deviation 6dp, both
    engines) so accumulation-order ulps can't flip near-tied winners.
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    wp = Window.partitionBy("user_id", "bucket_id")
    withstats = (
        e.select("event_id", "user_id", "value", us.alias("us"))
        .withColumn("bucket_id", F.expr(f"us DIV {DOWNSAMPLE_BUCKET_US}"))
        .withColumn("av", F.round(F.avg("value").over(wp), 6))
        .withColumn("n_in_bucket", F.count(F.lit(1)).over(wp))
        .withColumn("dev", F.round(F.abs(F.col("value") - F.col("av")), 6))
    )
    wr = wp.orderBy(F.col("dev").desc(), "event_id")
    return (
        withstats.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("user_id", "bucket_id", "event_id", "value", "n_in_bucket")
    )


DAY_US = 86_400_000_000


@query(
    "q_time_concurrency",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events),{_SESSION_CTES},
    iv AS (
      SELECT user_id, session_id, epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
      FROM sess GROUP BY 1, 2),
    edges AS (
      SELECT s AS ts_us, 1 AS delta FROM iv
      UNION ALL
      -- -1 edge clamped to the session's LAST day: at e + 1 it could cross
      -- midnight into a day where it has no matching +1 and no carry-in
      -- (carry spans only through e // DAY), undercounting that day's peak.
      SELECT least(e + 1, (e // {DAY_US} + 1) * {DAY_US} - 1) AS ts_us,
             -1 AS delta FROM iv),
    carry AS (
      SELECT u.d AS day_id, count(*) AS carry_in
      FROM iv, UNNEST(range(iv.s // {DAY_US} + 1, iv.e // {DAY_US} + 1)) AS u(d)
      GROUP BY 1),
    run AS (
      SELECT ts_us // {DAY_US} AS day_id,
             sum(delta) OVER (PARTITION BY ts_us // {DAY_US}
                              ORDER BY ts_us, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS running
      FROM edges),
    -- peak = carry_in + greatest(0, max(running)): day-start (running=0,
    -- concurrency=carry_in) is a candidate peak; FULL join keeps
    -- carry-only days that lie entirely inside a session (no edges)
    peaks AS (
      SELECT day_id, max(running) AS peak FROM run GROUP BY day_id)
    SELECT coalesce(p.day_id, c.day_id) AS day_id,
           CAST(greatest(coalesce(p.peak, 0), 0)
                + coalesce(c.carry_in, 0) AS BIGINT) AS max_concurrent
    FROM peaks p FULL JOIN carry c ON c.day_id = p.day_id
    """,
)
def q_time_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency per day — the sweep-line staple (capacity
    planning, license-seat counting): +1/-1 edges at session start/end,
    running sum, daily max.

    The naive sweep is a GLOBAL ordered cumsum — a single-partition
    window that dies at scale. This plan shards the sweep by day:
    within-day edges cumsum inside per-day partitions, and sessions that
    were already open at a day's start contribute a carry-in computed by
    EXPLODING each session into the days it spans past its first
    (sequence + explode + count — no join, no global order). Daily max =
    carry-in + max(0, within-day running peak) — the day-start instant
    counts, and carry-only days (inside a long session, no edges) emit
    their carry-in. End edges are at e+1us (closed session
    intervals); simultaneous starts/ends order starts-first (delta DESC)
    identically on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    iv = persist_tracked(
        sessionize(e)
        .groupBy("user_id", "session_id")
        .agg(us(F.min("ts")).alias("s"), us(F.max("ts")).alias("e"))
    )
    # -1 edge clamped into the session's last day (mirrors the oracle): a
    # session ending on a day's final microsecond would otherwise emit its
    # -1 at e+1 = next midnight, where no +1 and no carry-in offset it —
    # that day's running sum starts 1 low (a -1-only day could even report
    # a negative peak). At ts collisions starts sort first (delta DESC), so
    # the clamped edge still lets the peak observe the session at instant e.
    end_edge = F.least(
        F.col("e") + 1, F.expr(f"(e DIV {DAY_US} + 1) * {DAY_US} - 1")
    )
    edges = iv.select(F.col("s").alias("ts_us"), F.lit(1).alias("delta")).unionAll(
        iv.select(end_edge.alias("ts_us"), F.lit(-1).alias("delta"))
    )
    # guard the generator: Spark's sequence(a, b) with a > b yields a
    # DESCENDING array (not empty — the ADVICE.md short-doc trap), so
    # single-day sessions must produce NO carry days explicitly
    carry = (
        iv.select(
            F.explode(
                F.expr(
                    f"if(e DIV {DAY_US} > s DIV {DAY_US},"
                    f" sequence(s DIV {DAY_US} + 1, e DIV {DAY_US}), array())"
                )
            ).alias("day_id")
        )
        .groupBy("day_id")
        .agg(F.count(F.lit(1)).alias("carry_in"))
    )
    wd = (
        Window.partitionBy("day_id")
        .orderBy(F.col("ts_us"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = edges.withColumn("day_id", F.expr(f"ts_us DIV {DAY_US}")).withColumn(
        "running", F.sum("delta").over(wd)
    )
    # peak = carry_in + greatest(0, max(running)): the day-start instant
    # (running = 0, concurrency = carry_in) is a candidate peak too — on a
    # day whose only edge is a carried-in session's -1, max(running) = -1
    # and adding it would undercount the peak by 1 (r9 review). FULL join:
    # a day lying entirely inside a long session has carry-in but no edges
    # at all, so it must still emit a row (its peak IS the carry-in).
    return (
        run.groupBy("day_id")
        .agg(F.max("running").alias("peak"))
        .join(carry, "day_id", "full")
        .select(
            "day_id",
            (
                F.greatest(F.coalesce(F.col("peak"), F.lit(0)), F.lit(0))
                + F.coalesce(F.col("carry_in"), F.lit(0))
            ).alias("max_concurrent"),
        )
    )


@query(
    "q_join_scd2_lookup",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev_type
      FROM events),
    v AS (
      SELECT *, CAST(sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                              THEN 1 ELSE 0 END) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      FROM w),
    runs AS (
      SELECT user_id, version, event_type,
             CAST(epoch_us(min(ts)) AS BIGINT) AS valid_from_us
      FROM v GROUP BY user_id, version, event_type),
    dim AS (
      SELECT user_id, version, event_type AS state_at, valid_from_us,
             lead(valid_from_us) OVER
               (PARTITION BY user_id ORDER BY version) AS valid_to_us
      FROM runs),
    fact AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id, f.ts_us, d.version, d.state_at
    FROM fact f JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from_us <= f.ts_us
     AND (d.valid_to_us IS NULL OR f.ts_us < d.valid_to_us)
    """,
)
def q_join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against the SCD2 history built by
    q_cdc_scd2: each purchase event joins to the state version valid AT
    its timestamp ([valid_from, valid_to) containment) — the build
    operator's consumer half, i.e. what every warehouse query does with
    a slowly-changing dimension.

    Scale shape: the temporal containment is a RESIDUAL on a plain
    equi-join on user_id (versions per user are few), so this is one
    key shuffle like any fact-dim join — no interval bucketing needed
    when an equi key exists (contrast q_join_interval, where there is
    none). Every fact row matches exactly one version by construction
    (versions partition each user's timeline from first event on).
    """
    e = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("event_type").over(w)
    changed = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    runs = (
        e.withColumn("version", F.sum(changed).over(wrun))
        .groupBy("user_id", "version", "event_type")
        .agg(us(F.min("ts")).alias("valid_from_us"))
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    dim = runs.select(
        F.col("user_id").alias("d_user_id"),
        "version",
        F.col("event_type").alias("state_at"),
        "valid_from_us",
        F.lead("valid_from_us").over(wv).alias("valid_to_us"),
    )
    fact = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us(F.col("ts")).alias("ts_us")
    )
    return (
        fact.join(
            dim,
            (F.col("d_user_id") == F.col("user_id"))
            & (F.col("valid_from_us") <= F.col("ts_us"))
            & (F.col("valid_to_us").isNull() | (F.col("ts_us") < F.col("valid_to_us"))),
        )
        .select("event_id", "user_id", "ts_us", "version", "state_at")
    )


@query(
    "q_time_autocorr",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {DAY_US} AS day_id,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, day_id),
    lagged AS (
      SELECT event_type, cnt,
             lag(cnt, 1) OVER w AS prev1,
             lag(cnt, 7) OVER w AS prev7
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day_id))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(corr(cnt, prev1), 6) AS ac1,
           round(corr(cnt, prev7), 6) AS ac7
    FROM lagged GROUP BY event_type
    """,
)
def q_time_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of the daily event-count series per
    event_type — the seasonality/trend screen run before forecasting or
    anomaly thresholds (weekly rhythm shows up as high ac7). Lags index
    the OBSERVED daily series (the fixture is dense; for gappy series run
    q_time_gapfill first — documented precondition, not hidden densify).

    Scale shape: the raw scan collapses to |types| x |days| rows in one
    map-side-combinable hash agg; the lag window and the corr aggregate
    both ride a single event_type partitioning of that tiny aggregate.
    corr is a single-pass co-moment aggregate on both engines, rounded
    6dp (q_agg_corr precedent)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr(f"unix_micros(cast(ts as timestamp)) DIV {DAY_US}").alias(
                "day_id"
            ),
        )
        .groupBy("event_type", "day_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("day_id")
    lagged = daily.select(
        "event_type",
        "cnt",
        F.lag("cnt", 1).over(w).alias("prev1"),
        F.lag("cnt", 7).over(w).alias("prev7"),
    )
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.corr("cnt", "prev1"), 6).alias("ac1"),
        F.round(F.corr("cnt", "prev7"), 6).alias("ac7"),
    )


@query(
    "q_time_growth",
    oracle="""
    WITH monthly AS (
      SELECT n.n_name, date_trunc('month', o.o_orderdate) AS month,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, month)
    SELECT n_name, month, revenue,
           round((revenue - prev) / prev * 100, 4) AS growth_pct
    FROM (SELECT *, lag(revenue) OVER (PARTITION BY n_name ORDER BY month)
                    AS prev
          FROM monthly)
    """,
)
def q_time_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per nation — the period-over-period
    reporting staple (MoM/YoY): grouped rollup to (nation, month), then a
    lag window and a percentage delta; first month is null-growth by
    construction.

    Scale shape: dims broadcast (nation always, customer by hint-class
    size), so the fact table shuffles once for the monthly rollup; the
    lag window rides a per-nation partitioning of the |nations| x
    |months| aggregate. growth is computed from the 2dp-ROUNDED revenue
    on both engines, so the division is over identical doubles."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("month")
    return monthly.select(
        "n_name",
        "month",
        "revenue",
        F.round(
            (F.col("revenue") - F.lag("revenue").over(w))
            / F.lag("revenue").over(w)
            * 100,
            4,
        ).alias("growth_pct"),
    )


@query(
    "q_time_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {DAY_US} AS day_id,
             round(avg(value), 6) AS x
      FROM events GROUP BY event_type, day_id),
    cusum AS (
      SELECT event_type, day_id,
             round(sum(x) OVER (PARTITION BY event_type ORDER BY day_id
                                ROWS UNBOUNDED PRECEDING)
                   - (row_number() OVER (PARTITION BY event_type
                                         ORDER BY day_id))
                     * round(avg(x) OVER (PARTITION BY event_type), 6),
                   4) AS c
      FROM daily)
    SELECT event_type, day_id AS cp_day, abs_c AS max_abs_cusum FROM (
      SELECT event_type, day_id, abs(c) AS abs_c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(c) DESC, day_id) AS rn
      FROM cusum)
    WHERE rn = 1
    """,
)
def q_time_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection: for each event_type's daily-mean
    series, the day where the cumulative deviation from the global mean
    peaks — the standard level-shift locator (monitoring, drift
    triage). cusum_d = Σ x_i - d·μ, argmax |cusum| with day tie-break.

    Determinism: daily means and μ are rounded 6dp on both engines;
    the running sum is a windowed double sum (association differs:
    DuckDB segment tree vs Spark incremental) so the CUSUM value is
    rounded 4dp BEFORE abs/argmax, and ties break on day_id — the
    windows.py rounded-window-sum rule.

    Scale shape: raw rows collapse to |types| x |days| in one hash agg;
    μ, the running sum, and the argmax all ride ONE event_type window
    partitioning — two exchanges total for the whole operator."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr(f"unix_micros(cast(ts as timestamp)) DIV {DAY_US}").alias(
                "day_id"
            ),
            "value",
        )
        .groupBy("event_type", "day_id")
        .agg(F.round(F.avg("value"), 6).alias("x"))
    )
    w_ord = Window.partitionBy("event_type").orderBy("day_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("event_type")
    mu = F.round(F.avg("x").over(w_all), 6)
    cusum = daily.select(
        "event_type",
        "day_id",
        F.round(
            F.sum("x").over(w_run) - F.row_number().over(w_ord) * mu, 4
        ).alias("c"),
    )
    w_top = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c")).desc(), F.col("day_id")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day_id").alias("cp_day"),
            F.abs(F.col("c")).alias("max_abs_cusum"),
        )
    )


@query(
    "q_time_seasonal",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMp)) // {DAY_US} AS day_id,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, day_id),
    trended AS (
      SELECT *, (epoch_us(CAST('1970-01-01' AS TIMESTAMP)) // {DAY_US}
                 + day_id + 3) % 7 AS dow,
             round(CAST(sum(cnt) OVER w AS DOUBLE)
                   / count(cnt) OVER w, 4) AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_id
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    seasonal AS (
      SELECT event_type, dow, round(avg(cnt - trend), 4) AS seas
      FROM trended GROUP BY event_type, dow)
    SELECT t.event_type, t.day_id, t.cnt, t.trend, s.seas,
           round(t.cnt - t.trend - s.seas, 4) AS resid
    FROM trended t JOIN seasonal s
      ON s.event_type = t.event_type AND s.dow = t.dow
    """,
)
def q_time_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (STL-lite) of the daily count
    series per event_type: trend = centered 7-day moving average,
    seasonal = mean detrended value per weekday, remainder = the rest —
    the series triage every monitoring/forecast pipeline starts with.

    Determinism: the trend window sums INTEGER counts (exact on both
    engines) and divides by the frame row count — identical doubles —
    then rounds 4dp; seasonal means average those rounded values
    (rounded 4dp); the residual is pure arithmetic over rounded inputs.
    Weekday comes from the epoch-day index ((day+3) mod 7), never a
    locale date part.

    Scale shape: |types| x |days| aggregate, one event_type window for
    the trend, one tiny (type, dow) agg broadcast back. Edge days use
    the truncated frame (avg of available) — documented STL-lite
    behavior, not hidden padding."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr(f"unix_micros(cast(ts as timestamp)) DIV {DAY_US}").alias(
                "day_id"
            ),
        )
        .groupBy("event_type", "day_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_id")
        .rowsBetween(-3, 3)
    )
    trended = persist_tracked(daily.select(
        "event_type",
        "day_id",
        "cnt",
        ((F.col("day_id") + 3) % 7).alias("dow"),
        F.round(
            F.sum("cnt").over(w).cast("double") / F.count("cnt").over(w), 4
        ).alias("trend"),
    ))
    seasonal = trended.groupBy("event_type", "dow").agg(
        F.round(F.avg(F.col("cnt") - F.col("trend")), 4).alias("seas")
    )
    return (
        trended.join(F.broadcast(seasonal), ["event_type", "dow"])
        .select(
            "event_type",
            "day_id",
            "cnt",
            "trend",
            "seas",
            F.round(F.col("cnt") - F.col("trend") - F.col("seas"), 4).alias(
                "resid"
            ),
        )
    )


WAU_WINDOW_DAYS = 7


@query(
    "q_time_wau",
    oracle=f"""
    WITH user_days AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // {DAY_US} AS day_id
      FROM events),
    active_days AS (SELECT DISTINCT day_id FROM user_days),
    contrib AS (
      SELECT ud.user_id, ud.day_id + d.d AS w_day
      FROM user_days ud,
           UNNEST(range(0, {WAU_WINDOW_DAYS})) AS d(d))
    SELECT c.w_day AS day_id,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM contrib c JOIN active_days a ON a.day_id = c.w_day
    GROUP BY c.w_day
    """,
)
def q_time_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {WAU_WINDOW_DAYS}-day active users (WAU) per day — THE
    engagement metric, and deliberately NOT a windowed count-distinct
    (distinct doesn't decompose over sliding frames): each (user, day)
    pair EXPLODES into the {WAU_WINDOW_DAYS} window-end days it makes
    that user active for, then one exact distinct count per day — every
    join/agg an equi operation, no theta join against a day spine.
    Reported only for days that actually appear in the data (a day with
    zero events has no WAU row — documented; gapfill composes upstream).

    Scale shape: user-day dedup is one shuffle; the explode is narrow
    (×{WAU_WINDOW_DAYS}); the distinct count is one more shuffle on
    (day, user). Cost is |user-days|×{WAU_WINDOW_DAYS} rows regardless
    of raw event volume — at 100 TB the user-day grain is what makes
    this tractable."""
    e = load_table(spark, sf_dir, "events")
    user_days = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(cast(ts as timestamp)) DIV {DAY_US}").alias(
                "day_id"
            ),
        )
        .distinct()
    )
    active = user_days.select("day_id").distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day_id"), F.col("day_id") + (WAU_WINDOW_DAYS - 1))
        ).alias("w_day"),
    )
    return (
        contrib.join(
            F.broadcast(active), contrib.w_day == active.day_id
        )
        .groupBy(contrib.w_day.alias("day_id"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )


@query(
    "q_time_session_stats",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events),{_SESSION_CTES},
    sessions AS (
      SELECT user_id, session_id,
             epoch_us(min(ts)) // {DAY_US} AS start_day,
             CAST(count(*) AS BIGINT) AS n_events,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
      FROM sess GROUP BY user_id, session_id)
    SELECT start_day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(avg(n_events), 4) AS avg_events,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dur_us)
                AS BIGINT) AS p50_dur_us,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY dur_us)
                AS BIGINT) AS p90_dur_us
    FROM sessions GROUP BY start_day
    """,
)
def q_time_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily session-quality report over the q_win_sessionize session
    model (same 30-min gap): sessions started per day, distinct users,
    mean events per session, and exact p50/p90 session durations — the
    engagement dashboard one level above raw sessionization.

    Scale shape: the session build rides ONE user_id partitioning (lag +
    cumsum + the session agg — the sessionize precedent); the daily
    report is a second grouped agg over the |sessions| grain with exact
    percentile_disc (bit-exact selections, unrounded). Durations are
    integer microseconds throughout — no float drift anywhere."""
    e = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    sessions = (
        sessionize(e)
        .groupBy("user_id", "session_id")
        .agg(
            F.expr(f"unix_micros(cast(min(ts) as timestamp)) DIV {DAY_US}").alias(
                "start_day"
            ),
            F.count(F.lit(1)).alias("n_events"),
            (us(F.max("ts")) - us(F.min("ts"))).alias("dur_us"),
        )
    )
    return sessions.groupBy("start_day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dur_us)")
        .cast("long")
        .alias("p50_dur_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY dur_us)")
        .cast("long")
        .alias("p90_dur_us"),
    )


WEEK_US = 7 * DAY_US


@query(
    "q_time_cohort_ltv",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) // {WEEK_US} AS week_id
      FROM events),
    firsts AS (
      SELECT user_id, min(week_id) AS cohort_week FROM e GROUP BY user_id),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
      FROM firsts GROUP BY cohort_week),
    weekly AS (
      SELECT f.cohort_week, e.week_id - f.cohort_week AS period,
             round(sum(CASE WHEN e.event_type = 'purchase'
                            THEN e.value ELSE 0 END), 2) AS revenue
      FROM e JOIN firsts f ON f.user_id = e.user_id
      GROUP BY f.cohort_week, period)
    SELECT w.cohort_week, w.period, s.cohort_users, w.revenue,
           round(sum(w.revenue) OVER (PARTITION BY w.cohort_week
                                      ORDER BY w.period
                                      ROWS UNBOUNDED PRECEDING)
                 / s.cohort_users, 4) AS ltv_per_user
    FROM weekly w JOIN sizes s ON s.cohort_week = w.cohort_week
    """,
)
def q_time_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue companion to
    q_time_retention's counts matrix: users grouped by first-seen week,
    purchase revenue per (cohort, weeks-since-first), and cumulative
    revenue per cohort user (the LTV curve a growth team plots).

    Scale shape: firsts and weekly revenue are user-keyed hash aggs
    (map-side combinable); the cohort assignment is a plain equi-join on
    user_id — firsts is one row PER USER (unbounded), so it must never
    carry a broadcast hint; AQE broadcasts it when it is actually small.
    The cumulative window rides a per-cohort partitioning of the
    |cohorts| x |periods| aggregate, and the cohort-sizes join side is
    bounded by the number of WEEKS in the data, which is why that one
    keeps its hint. Weekly revenue is rounded 2dp on
    both engines BEFORE the cumulative sum (windowed double sums
    associate differently), and the final per-user division rounds 4dp.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.expr(f"unix_micros(cast(ts as timestamp)) DIV {WEEK_US}").alias(
            "week_id"
        ),
    )
    firsts = e.groupBy("user_id").agg(F.min("week_id").alias("cohort_week"))
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    weekly = (
        e.join(firsts, "user_id")
        .groupBy(
            "cohort_week", (F.col("week_id") - F.col("cohort_week")).alias("period")
        )
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                    .otherwise(0.0)
                ),
                2,
            ).alias("revenue")
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("period")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        weekly.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "period",
            "cohort_users",
            "revenue",
            F.round(
                F.sum("revenue").over(w) / F.col("cohort_users"), 4
            ).alias("ltv_per_user"),
        )
    )


@query(
    "q_time_rolling_median",
    oracle="""
    SELECT event_type, event_id,
           list_element(list_sort(l),
                        CAST((len(l) + 1) // 2 AS BIGINT)) AS roll_median,
           CAST(len(l) AS BIGINT) AS n_in_frame
    FROM (
      SELECT event_type, event_id,
             list(value) OVER (PARTITION BY event_type
                               ORDER BY CAST(ts AS TIMESTAMP), event_id
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS l
      FROM events)
    """,
)
def q_time_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row EXACT median per series (lower median: sorted-frame
    element at position ⌈n/2⌉) — the robust companion to q_time_rolling's
    mean/volatility panel; medians shrug off the single-spike outliers
    that drag a rolling mean.

    Neither engine supports median() as a frame-bounded window function
    (Spark rejects ORDER BY + frame for median — probed on 4.1), so both
    sides build the SAME primitive: collect the 7-row frame as an array,
    sort it, select the middle element. Selection, not interpolation —
    the output is an input bit pattern, so no rounding is needed.

    Scale shape: ONE shuffle on event_type; the frame array is bounded
    (≤7 elements) regardless of scale, so per-row state is O(window),
    exactly how a 100 TB rolling-median job must bound memory. Rows
    before the 6th emit the median of their shorter prefix frame
    (n_in_frame exposes the warm-up)."""
    e = load_table(spark, sf_dir, "events")
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w7))
    return e.select(
        "event_type",
        "event_id",
        F.element_at(arr, ((F.size(arr) + 1) / 2).cast("int")).alias("roll_median"),
        F.size(arr).cast("long").alias("n_in_frame"),
    )


FC_SEASON_DAYS = 7


@query(
    "q_time_forecast_snaive",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    fc AS (
      SELECT event_type, day, y,
             lag(y, {FC_SEASON_DAYS})
               OVER (PARTITION BY event_type ORDER BY day) AS yhat
      FROM daily)
    SELECT event_type,
           CAST(count(yhat) AS BIGINT) AS n_scored,
           round(avg(abs(CAST(y - yhat AS DOUBLE)) / y), 6) AS mape,
           round(avg(CAST(abs(y - yhat) AS DOUBLE)), 4) AS mae,
           round(max(abs(CAST(y - yhat AS DOUBLE)) / y), 6) AS worst_ape
    FROM fc WHERE yhat IS NOT NULL
    GROUP BY event_type
    """,
)
def q_time_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event volume
    as the SAME WEEKDAY one week earlier (ŷ_d = y_{{d-7}}) and score
    MAPE / MAE / worst-APE per series — the baseline every production
    forecasting system must beat before anything fancier ships, and the
    backtest harness is the same regardless of the model plugged in.

    The fixture's daily grid is dense (every type has events every day),
    so lag-7 over the ordered daily aggregate IS the calendar shift —
    on sparse data you'd gap-fill first (q_time_gapfill composes
    directly in front of this).

    Scale shape: the raw scan collapses immediately to |types|×|days|
    rows (one map-side-combinable hash agg); the lag window and error
    aggregation run on that tiny aggregate. Errors are integer counts
    cast to double late, one rounding site per metric."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    fc = daily.withColumn("yhat", F.lag("y", FC_SEASON_DAYS).over(w)).where(
        F.col("yhat").isNotNull()
    )
    err = F.abs(F.col("y") - F.col("yhat"))
    return fc.groupBy("event_type").agg(
        F.count("yhat").alias("n_scored"),
        F.round(F.avg(err.cast("double") / F.col("y")), 6).alias("mape"),
        F.round(F.avg(err.cast("double")), 4).alias("mae"),
        F.round(F.max(err.cast("double") / F.col("y")), 6).alias("worst_ape"),
    )


SNAP_T1 = "2024-01-15"  # snapshot A: activity in [start, T1)
SNAP_T2 = "2024-01-29"  # snapshot B: activity in [T1, T2)


@query(
    "q_cdc_snapshot_diff",
    oracle=f"""
    WITH a AS (
      SELECT user_id, value
      FROM (SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events
            WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{SNAP_T1}')
      WHERE rn = 1),
    b AS (
      SELECT user_id, value
      FROM (SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events
            WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{SNAP_T1}'
              AND CAST(ts AS TIMESTAMP) < TIMESTAMP '{SNAP_T2}')
      WHERE rn = 1)
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           a.value AS value_a, b.value AS value_b,
           CASE WHEN a.user_id IS NULL THEN 'added'
                WHEN b.user_id IS NULL THEN 'removed'
                WHEN a.value = b.value THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM a FULL JOIN b ON b.user_id = a.user_id
    """,
)
def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the data-diff / audience-migration report between
    two point-in-time states: each window's per-user latest value is the
    snapshot, and one full-outer join classifies every user as added
    (B only), removed (A only), changed, or unchanged. This is the
    table-compare primitive behind CDC validation, replication audits
    and campaign before/after analyses; q_cdc_merge applies a delta,
    this one EXPLAINS it.

    Scale shape: each snapshot is a keep-latest-per-key compaction (the
    q_dedup_keyed one-shuffle window); the diff is one full-outer
    equi-join of two already-compacted |users|-row tables on the same
    key — at 100 TB both compactions and the join share the user_id
    partitioning (AQE reuses the exchange), and value comparison is
    exact (pass-through doubles, no rounding needed)."""
    e = load_table(spark, sf_dir, "events")

    def snapshot(lo: str | None, hi: str) -> DataFrame:
        win = e.where(F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
        if lo is not None:
            win = win.where(F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            win.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "value")
        )

    a = snapshot(None, SNAP_T1)
    b = snapshot(SNAP_T1, SNAP_T2)
    return (
        a.withColumnRenamed("value", "value_a")
        .withColumnRenamed("user_id", "ua")
        .join(
            b.withColumnRenamed("value", "value_b").withColumnRenamed(
                "user_id", "ub"
            ),
            F.col("ua") == F.col("ub"),
            "full",
        )
        .select(
            F.coalesce("ua", "ub").alias("user_id"),
            "value_a",
            "value_b",
            F.when(F.col("ua").isNull(), "added")
            .when(F.col("ub").isNull(), "removed")
            .when(F.col("value_a") == F.col("value_b"), "unchanged")
            .otherwise("changed")
            .alias("status"),
        )
    )


@query(
    "q_time_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      FROM events),
    t AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2)
    SELECT prev_type, next_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY prev_type), 6) AS prob
    FROM t
    """,
)
def q_time_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for every
    (previous event_type → next event_type) pair, the transition count
    and row-normalized probability — the building block of
    behavioral-model baselines, next-action prediction sanity checks and
    anomalous-flow detection (a probability shifting across releases is
    a regression signal; q_win_path extracts the journeys, this
    aggregates their dynamics).

    Scale shape: ONE shuffle keyed on user_id for the lag window, then a
    hash agg that collapses instantly to ≤|types|² rows; the
    probability normalization window runs on that constant-size matrix.
    Counts are exact integers; the single division is rounded once on
    both engines."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    t = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_row = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_row), 6).alias(
            "prob"
        ),
    )


@query(
    "q_time_heatmap",
    oracle="""
    SELECT CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) % 7
                AS BIGINT) AS dow,
           CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END), 2) AS purchase_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_time_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the load-profile /
    seasonality grid behind capacity planning and anomaly baselines
    (q_stats_chisq tests one margin of this grid for independence; this
    emits the full cell-level surface: volume, exact uniques, purchase
    value). Day-of-week derives from exact integer epoch-day arithmetic
    (`div`, +3 epoch-weekday offset) — no locale-dependent dayofweek()
    whose week-start convention differs across engines.

    Scale shape: one hash agg collapsing any input size to ≤168 cells;
    the exact per-cell count-distinct is the one expansion pass (swap
    for HLL partials at extreme scale, q_e2e_kpi_daily's documented
    trade)."""
    e = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return (
        e.select(
            ((F.expr("unix_micros(cast(ts as timestamp)) div 86400000000") + 3)
             % 7).alias("dow"),
            F.hour(ts).cast("long").alias("hod"),
            "user_id",
            "event_type",
            "value",
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                    .otherwise(0.0)
                ),
                2,
            ).alias("purchase_value"),
        )
    )


@query(
    "q_time_rolling_slope",
    oracle="""
    SELECT event_type, event_id,
           CASE WHEN count(*) OVER w7 >= 2
                 AND count(*) OVER w7 * sum(x * x) OVER w7
                     - sum(x) OVER w7 * sum(x) OVER w7 <> 0 THEN
             round((count(*) OVER w7 * sum(x * value) OVER w7
                    - sum(x) OVER w7 * sum(value) OVER w7)
                   / (count(*) OVER w7 * sum(x * x) OVER w7
                      - sum(x) OVER w7 * sum(x) OVER w7), 6)
           END AS slope_per_hour
    FROM (
      SELECT event_type, event_id, value, ts,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) / 3600000000
                 AS x
      FROM events)
    WINDOW w7 AS (PARTITION BY event_type
                  ORDER BY CAST(ts AS TIMESTAMP), event_id
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_time_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling LINEAR-TREND slope per series: the OLS slope of value
    against time over the trailing 7-row frame, in units per hour —
    trend direction/steepness at every point (the q_time_rolling panel
    reports level; this reports drift, the input to 'metric is rising
    abnormally fast' alerts). Neither engine allows regr_slope with a
    window frame; the rewrite is four plain frame aggregates
    (n, Σx, Σy, Σxy, Σx²) sharing ONE window spec, combined by the
    closed-form slope — the same sufficient-statistics trick as
    q_ml_ols, but windowed (try_divide + an explicit zero-variance
    guard on BOTH engines: a frame of identical timestamps has an
    undefined slope and must emit NULL, not a throw or an inf). x is epoch-µs scaled to hours (a linear
    map: slope units change, rank of slopes doesn't; the scale keeps
    the x² sums well-conditioned in double).

    Scale shape: one shuffle on event_type; all five aggregates
    evaluate in a single Window pass; warm-up rows with n < 2 emit NULL
    (undefined slope) identically on both engines."""
    e = load_table(spark, sf_dir, "events")
    x = (
        F.expr("unix_micros(cast(ts as timestamp))").cast("double") / 3600000000
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    d = e.select("event_type", "event_id", "ts", "value", x.alias("x"))
    n = F.count(F.lit(1)).over(w7)
    sx = F.sum("x").over(w7)
    sy = F.sum("value").over(w7)
    sxy = F.sum(F.col("x") * F.col("value")).over(w7)
    sxx = F.sum(F.col("x") * F.col("x")).over(w7)
    return d.select(
        "event_type",
        "event_id",
        F.when(
            (n >= 2) & (n * sxx - sx * sx != 0),
            F.round(F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx), 6),
        ).alias("slope_per_hour"),
    )


@query(
    "q_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t_next
      FROM events),
    held AS (
      SELECT user_id, value, CAST(t_next - t AS BIGINT) AS held_us
      FROM seq WHERE t_next IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(held_us) AS BIGINT) AS span_us,
           round(sum(value * held_us) / sum(held_us), 6) AS time_weighted_avg,
           round(avg(value), 6) AS naive_avg
    FROM held GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average per user — each observation's value is held
    (LOCF) until the next observation, and the average weights each
    value by its holding duration: Σ vᵢ·(tᵢ₊₁−tᵢ) / Σ(tᵢ₊₁−tᵢ). The
    hypertable staple (billing meters, position marks, sensor states)
    where the NAIVE row average is simply wrong under irregular
    sampling — a value held for a day must count more than one blipped
    for a second; both averages are emitted so the bias is visible. The
    final sample contributes no interval (open-ended hold), the
    standard convention.

    Scale shape: one shuffle on user_id for the lead() window; holding
    durations are exact integer microseconds (epoch_us arithmetic — the
    q_time_concurrency convention), so only the final divisions round.
    """
    e = load_table(spark, sf_dir, "events")
    t = F.expr("unix_micros(cast(ts as timestamp))")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "value", t.alias("t"), F.lead(t).over(w).alias("t_next")
    ).where(F.col("t_next").isNotNull())
    held = seq.select(
        "user_id", "value", (F.col("t_next") - F.col("t")).alias("held_us")
    )
    return held.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("held_us").alias("span_us"),
        # try_divide: a user whose events all share one microsecond has
        # sum(held_us) = 0 — ANSI '/' would abort the query; DuckDB's
        # x/0 is NULL, so NULL-on-zero-span is the parity behavior
        F.round(
            F.try_divide(
                F.sum(F.col("value") * F.col("held_us")), F.sum("held_us")
            ),
            6,
        ).alias("time_weighted_avg"),
        F.round(F.avg("value"), 6).alias("naive_avg"),
    )


DOWNTIME_GAP_US = 2 * 3_600_000_000  # report silences longer than 2h


@query(
    "q_time_downtime",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             CAST(ts AS TIMESTAMP) AS tts,
             lead(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY event_type
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t_next
      FROM events)
    SELECT event_type,
           strftime(tts, '%Y-%m-%d %H:%M:%S.%f') AS silence_start,
           strftime(t_next, '%Y-%m-%d %H:%M:%S.%f') AS silence_end,
           CAST(epoch_us(t_next) - epoch_us(tts) AS BIGINT) AS silence_us
    FROM seq
    WHERE t_next IS NOT NULL
      AND epoch_us(t_next) - epoch_us(tts) > {DOWNTIME_GAP_US}
    """,
)
def q_time_downtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downtime / silence detection: every window longer than 2 hours in
    which a series emitted NOTHING (threshold sized to the fixture's
    inter-arrival tail so the key exercises non-empty output; at
    production density you'd raise it with the expected cadence) — the monitoring question
    ("did the pipeline stall?") that value-level anomaly detection
    (q_time_anomaly) cannot answer because absent rows have no z-score.
    Emits one row per silence with its exact boundaries and integer-µs
    duration — the complement of q_win_islands (which finds runs of
    presence; this finds the holes between them, and q_time_gapfill
    repairs what this op reports).

    Scale shape: one lead() window shuffle on event_type; the filter
    emits only the (rare) long gaps. Boundaries are input timestamps
    formatted, durations exact integer microsecond arithmetic — nothing
    rounds."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    seq = e.select(
        "event_type",
        "ts",
        us.alias("t_us"),
        F.lead("ts").over(w).alias("ts_next"),
        F.lead(us).over(w).alias("t_next_us"),
    ).where(F.col("ts_next").isNotNull())
    return seq.where(
        F.col("t_next_us") - F.col("t_us") > DOWNTIME_GAP_US
    ).select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "silence_start"
        ),
        F.date_format("ts_next", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "silence_end"
        ),
        (F.col("t_next_us") - F.col("t_us")).alias("silence_us"),
    )


NEAREST_TOL_S = 7200  # ±2h candidate band for the nearest as-of join


@query(
    "q_join_asof_nearest",
    oracle=f"""
    SELECT purchase_id, view_id, user_id, offset_us FROM (
      SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
             epoch_us(CAST(v.ts AS TIMESTAMP))
               - epoch_us(CAST(p.ts AS TIMESTAMP)) AS offset_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(CAST(v.ts AS TIMESTAMP))
                            - epoch_us(CAST(p.ts AS TIMESTAMP))),
                        CAST(v.ts AS TIMESTAMP), v.event_id) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON v.user_id = p.user_id
       AND abs(epoch_us(CAST(v.ts AS TIMESTAMP))
               - epoch_us(CAST(p.ts AS TIMESTAMP))) <= {NEAREST_TOL_S * 1_000_000})
    WHERE rn = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof direction='nearest',
    per user): each purchase is matched to the closest view in EITHER
    direction within a ±{NEAREST_TOL_S}s band — the enrichment shape for
    sensor fusion and sessionless attribution where the relevant context
    can precede or follow the event. Completes the temporal-join matrix
    (backward=q_join_asof, forward inside s_stream_asof, interval, range,
    SCD2 point-in-time). Equal distances prefer the earlier view, then
    the lower event id — pinned in operators.temporal.asof_join and
    mirrored in the oracle, so tie outcomes are hash-checked. The signed
    offset is emitted in exact integer µs.

    Scale shape: the band REQUIREMENT (nearest without a tolerance is a
    per-key cross product) keeps this an equi-join on user with a banded
    residual — at scale, bucketize ts by the tolerance and join on
    (user, bucket±1), the q_join_range recipe."""
    from kafka_hadoop_consumer_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts")
    )
    return asof_join(
        p,
        v,
        by="user_id",
        left_ts="p_ts",
        right_ts="v_ts",
        left_key="purchase_id",
        direction="nearest",
        tolerance=NEAREST_TOL_S,
        tie_break="view_id",
    ).select(
        "purchase_id",
        "view_id",
        "user_id",
        (
            F.unix_micros(F.col("v_ts").cast("timestamp"))
            - F.unix_micros(F.col("p_ts").cast("timestamp"))
        ).alias("offset_us"),
    )


@query(
    "q_time_drawdown",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {DAY_US} AS day_id,
             round(sum(value), 2) AS day_val
      FROM events GROUP BY event_type, day_id),
    cum AS (
      SELECT event_type, day_id,
             sum(day_val) OVER (
               PARTITION BY event_type ORDER BY day_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      FROM daily),
    dd AS (
      SELECT event_type, day_id, running,
             max(running) OVER (
               PARTITION BY event_type ORDER BY day_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM cum),
    ranked AS (
      SELECT event_type, day_id AS trough_day, running, peak,
             round(peak - running, 2) AS drawdown,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY round(peak - running, 2) DESC, day_id) AS rn
      FROM dd)
    SELECT event_type, trough_day, round(peak, 2) AS peak_value,
           round(running, 2) AS trough_value, drawdown
    FROM ranked WHERE rn = 1
    """,
)
def q_time_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the running-peak-to-trough metric
    (finance's risk staple, equally useful for KPI regression monitoring):
    daily totals (rounded 2dp so the cumulative base is cross-engine
    exact) are cumulatively summed, the running peak tracked by an
    expanding max window, and the single worst (peak − current) day
    reported per event_type with the peak/trough values. Two stacked
    expanding windows + argmax SHARE one (event_type, day) ordering, so
    the whole thing is one shuffle on the collapsed daily aggregate.

    Scale shape: the expanding windows run on the |series|×|days| daily
    rollup, not raw events — one hash agg reduces the fact table first
    (q_time_changepoint discipline)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.expr(f"unix_micros(cast(ts AS timestamp)) DIV {DAY_US}").alias("day_id"),
    ).agg(F.round(F.sum("value"), 2).alias("day_val"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = (
        daily.withColumn("running", F.sum("day_val").over(w_cum))
        .withColumn("peak", F.max(F.sum("day_val").over(w_cum)).over(w_cum))
    )
    ranked = dd.withColumn(
        "drawdown", F.round(F.col("peak") - F.col("running"), 2)
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("drawdown").desc(), F.col("day_id")
            )
        ),
    )
    return ranked.where(F.col("rn") == 1).select(
        "event_type",
        F.col("day_id").alias("trough_day"),
        F.round("peak", 2).alias("peak_value"),
        F.round("running", 2).alias("trough_value"),
        "drawdown",
    )


@query(
    "q_cdc_deletes",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_type, value
      FROM (SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events
            WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{MERGE_CUTOFF}')
      WHERE rn = 1),
    delta AS (
      SELECT user_id, event_type, value,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      FROM (SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events
            WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{MERGE_CUTOFF}')
      WHERE rn = 1)
    SELECT coalesce(d.user_id, b.user_id) AS user_id,
           CASE WHEN d.op = 'delete' THEN NULL
                ELSE coalesce(d.event_type, b.event_type) END AS event_type,
           CASE WHEN d.op = 'delete' THEN NULL
                ELSE coalesce(d.value, b.value) END AS value,
           CASE WHEN b.user_id IS NULL AND d.op = 'delete' THEN 'delete_miss'
                WHEN b.user_id IS NULL THEN 'insert'
                WHEN d.user_id IS NULL THEN 'unchanged'
                WHEN d.op = 'delete' THEN 'delete'
                ELSE 'update' END AS action
    FROM base b FULL JOIN delta d ON d.user_id = b.user_id
    """,
)
def q_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with TOMBSTONES — completes q_cdc_merge's action matrix with
    the delete leg every CDC feed needs (Debezium ``op=d``, Delta/Iceberg
    ``WHEN MATCHED THEN DELETE``): delta rows whose latest state is a
    tombstone (here: event_type='error' stands in for the delete marker)
    remove the matched base key, tombstones for absent keys surface as
    'delete_miss' (the idempotency case a naive MERGE silently swallows),
    and everything else follows insert/update/unchanged. Deleted rows are
    emitted with NULLed state so the action audit is one table.

    Scale shape: identical to q_cdc_merge — both sides compact to one row
    per key on the same user_id partitioning before one FULL outer join
    over |keys| rows."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", "value")
        )

    base = latest(e.where(F.col("ts") < cutoff)).select(
        F.col("user_id").alias("b_uid"),
        F.col("event_type").alias("b_type"),
        F.col("value").alias("b_val"),
    )
    delta = latest(e.where(F.col("ts") >= cutoff)).select(
        F.col("user_id").alias("d_uid"),
        F.col("event_type").alias("d_type"),
        F.col("value").alias("d_val"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("upsert")
        .alias("op"),
    )
    j = base.join(delta, F.col("b_uid") == F.col("d_uid"), "full")
    is_del = F.col("op") == "delete"
    return j.select(
        F.coalesce("d_uid", "b_uid").alias("user_id"),
        F.when(is_del, F.lit(None).cast("string"))
        .otherwise(F.coalesce("d_type", "b_type"))
        .alias("event_type"),
        F.when(is_del, F.lit(None).cast("double"))
        .otherwise(F.coalesce("d_val", "b_val"))
        .alias("value"),
        F.when(F.col("b_uid").isNull() & is_del, "delete_miss")
        .when(F.col("b_uid").isNull(), "insert")
        .when(F.col("d_uid").isNull(), "unchanged")
        .when(is_del, "delete")
        .otherwise("update")
        .alias("action"),
    )


STALE_LAG_US = 6 * 3_600_000_000  # freshness SLA: stale after 6h silence


@query(
    "q_quality_freshness",
    oracle=f"""
    WITH mx AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS gmax FROM events),
    s AS (
      SELECT event_type,
             max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type)
    SELECT s.event_type, s.n_events,
           mx.gmax - s.last_us AS lag_us,
           (mx.gmax - s.last_us) > {STALE_LAG_US} AS is_stale,
           CAST((SELECT count(*) FROM events e
                 WHERE e.event_type = s.event_type
                   AND epoch_us(CAST(e.ts AS TIMESTAMP))
                       > mx.gmax - {24 * 3_600_000_000}) AS BIGINT)
               AS n_last_24h
    FROM s CROSS JOIN mx
    """,
)
def q_quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit — the first check every pipeline-ops dashboard
    runs: per series, how far behind the corpus watermark (the GLOBAL max
    timestamp — a deterministic stand-in for wall-clock now) is the last
    observed event, is it past the staleness SLA, and how much volume
    arrived in the trailing 24 h. All arithmetic in exact integer µs.

    Scale shape: the 1-row global watermark broadcasts back onto the
    scan, so the trailing-24h count is a conditional inside ONE
    per-series hash agg — constant-size partials, one shuffle, nothing
    row-sized retained."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mx = e.agg(F.max(us).alias("gmax"))
    s = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.max(us).alias("last_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(us > F.col("gmax") - F.lit(24 * 3_600_000_000), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_last_24h"),
            F.first("gmax").alias("gmax"),
        )
    )
    return s.select(
        "event_type",
        "n_events",
        (F.col("gmax") - F.col("last_us")).alias("lag_us"),
        ((F.col("gmax") - F.col("last_us")) > STALE_LAG_US).alias("is_stale"),
        "n_last_24h",
    )


@query(
    "q_time_sla_uptime",
    oracle=f"""
    WITH t AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
      FROM events),
    gaps AS (
      SELECT event_type, t_us,
             lead(t_us) OVER (PARTITION BY event_type ORDER BY t_us) - t_us
                 AS gap_us
      FROM t),
    agg AS (
      SELECT event_type,
             max(t_us) - min(t_us) AS span_us,
             CAST(coalesce(sum(CASE WHEN gap_us > {DOWNTIME_GAP_US}
                                    THEN gap_us END), 0) AS BIGINT)
                 AS downtime_us,
             CAST(coalesce(sum(CASE WHEN gap_us > {DOWNTIME_GAP_US}
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS n_outages,
             CAST(coalesce(max(CASE WHEN gap_us > {DOWNTIME_GAP_US}
                                    THEN gap_us END), 0) AS BIGINT)
                 AS longest_outage_us
      FROM gaps GROUP BY event_type)
    SELECT event_type, span_us, n_outages, downtime_us, longest_outage_us,
           round(1.0 - CAST(downtime_us AS DOUBLE) / span_us, 6) AS uptime_pct
    FROM agg
    """,
)
def q_time_sla_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA uptime report per series — the rollup q_time_downtime's raw
    silence windows feed: total observed span, outage count, total and
    longest silence beyond the {2}h threshold, and the resulting uptime
    percentage — the number an availability SLO is judged on. Exact
    integer-µs arithmetic end-to-end; only the final percentage divides.

    Scale shape: one lead() window per series (the q_time_downtime
    shuffle) feeding one hash agg that reuses the same partitioning —
    nothing leaves the series partition until the 5-row report."""
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    w = Window.partitionBy("event_type").orderBy("t_us")
    gaps = t.withColumn("gap_us", F.lead("t_us").over(w) - F.col("t_us"))
    outage = F.col("gap_us") > DOWNTIME_GAP_US
    agg = gaps.groupBy("event_type").agg(
        (F.max("t_us") - F.min("t_us")).alias("span_us"),
        F.coalesce(F.sum(F.when(outage, F.col("gap_us"))), F.lit(0))
        .cast("long")
        .alias("downtime_us"),
        F.sum(F.when(outage, 1).otherwise(0)).cast("long").alias("n_outages"),
        F.coalesce(F.max(F.when(outage, F.col("gap_us"))), F.lit(0))
        .cast("long")
        .alias("longest_outage_us"),
    )
    return agg.select(
        "event_type",
        "span_us",
        "n_outages",
        "downtime_us",
        "longest_outage_us",
        # try_divide: a single-event (or single-microsecond) series has
        # span_us = 0 — ANSI '/' would abort the query; DuckDB's x/0 is
        # NULL, so uptime over a zero span is NULL on both engines
        F.round(
            F.lit(1.0)
            - F.try_divide(
                F.col("downtime_us").cast("double"), F.col("span_us")
            ),
            6,
        ).alias("uptime_pct"),
    )


@query(
    "q_time_gap_histogram",
    oracle="""
    WITH t AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
      FROM events),
    gaps AS (
      SELECT event_type,
             lead(t_us) OVER (PARTITION BY event_type ORDER BY t_us) - t_us
                 AS gap_us
      FROM t),
    binned AS (
      SELECT event_type,
             CASE WHEN gap_us < 1000000 THEN 0          -- < 1 s
                  WHEN gap_us < 10000000 THEN 1         -- 1-10 s
                  WHEN gap_us < 60000000 THEN 2         -- 10-60 s
                  WHEN gap_us < 600000000 THEN 3        -- 1-10 min
                  WHEN gap_us < 3600000000 THEN 4       -- 10-60 min
                  ELSE 5 END AS bin                     -- >= 1 h
      FROM gaps WHERE gap_us IS NOT NULL)
    SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n_gaps
    FROM binned GROUP BY event_type, bin
    """,
)
def q_time_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per series, bucketed on a
    log-ish scale (sub-second through hour-plus) — the latency/cadence
    profile that distinguishes steady telemetry from bursty human
    traffic and calibrates the q_time_downtime / q_time_sla_uptime
    thresholds empirically instead of by fiat. Exact integer-µs gap
    computation, literal bin edges identical on both engines.

    Scale shape: the same per-series lead() shuffle as the SLA rollup
    feeding a map-side-combinable (series, bin) hash agg — output is at
    most |series|×6 rows."""
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us")
    )
    w = Window.partitionBy("event_type").orderBy("t_us")
    gaps = t.withColumn(
        "gap_us", F.lead("t_us").over(w) - F.col("t_us")
    ).where(F.col("gap_us").isNotNull())
    bin_col = (
        F.when(F.col("gap_us") < 1_000_000, 0)
        .when(F.col("gap_us") < 10_000_000, 1)
        .when(F.col("gap_us") < 60_000_000, 2)
        .when(F.col("gap_us") < 600_000_000, 3)
        .when(F.col("gap_us") < 3_600_000_000, 4)
        .otherwise(5)
    )
    return (
        gaps.select("event_type", bin_col.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )
