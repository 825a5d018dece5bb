"""Window function operators (SURVEY.md §2B "Window functions").

Every ordered window carries a unique tie-break key so results are
deterministic under the driver's value hash (SURVEY.md §7 R5). Windowed
SUM over doubles is rounded: DuckDB evaluates frames via segment trees,
Spark incrementally — different association order (§7 R2).

Scale note: all windows here are partitioned (by nation / customer / user),
so state is distributed; the one global window (q_win_ntile) is inherently
a single-partition sort, kept for literal-semantics parity — its scale
path is q_win_ntile_scalable (range-partitioned two-pass global rank, no
SinglePartition anywhere, plan-asserted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_hadoop_consumer_spark.catalog import load_table
from kafka_hadoop_consumer_spark.queries.registry import (
    distributed_prefix,
    persist_tracked,
    query,
)
from kafka_hadoop_consumer_spark.streaming.ops import session_counts


@query(
    "q_win_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank: per-nation ranking by balance."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@query(
    "q_win_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)
def q_win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (top-3 orders per customer) — the scale-safe
    alternative to a global sort: one shuffle on the group key."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "q_win_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value)       OVER w AS prev_value,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: previous value / next event type per user."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "q_win_running",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER w, 2) AS running_value,
           CAST(count(*) OVER w AS BIGINT) AS running_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per user (ROWS UNBOUNDED PRECEDING → CURRENT ROW)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
        F.count(F.lit(1)).over(w).cast("long").alias("running_n"),
    )


@query(
    "q_win_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(count(*) OVER w AS BIGINT) AS n_in_band,
           round(sum(o_totalprice) OVER w, 2) AS sum_in_band
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
                 RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
    """,
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering key: all orders within 1000 below
    the current price (value-based frame, includes peers)."""
    o = load_table(spark, sf_dir, "orders")
    # Fractional RANGE bounds aren't supported by the PySpark Window API
    # (rangeBetween takes ints) — the SQL frame syntax is.
    over = (
        "OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice "
        "RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)"
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.expr(f"CAST(count(*) {over} AS BIGINT)").alias("n_in_band"),
        F.expr(f"round(sum(o_totalprice) {over}, 2)").alias("sum_in_band"),
    )


@query(
    "q_win_ntile",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over a global order.

    The literal formulation (``Window.orderBy`` with no partitionBy) is a
    single-partition sort by construction — the one plan shape banned from
    this registry (tests/test_plans.py asserts no SinglePartition node
    globally). Since r4 this key EXECUTES via the range-partitioned
    two-pass exact rank (see q_win_ntile_scalable for the full recipe);
    results are identical (same oracle, driver-green r1 on the literal
    plan, strict-sim green on this one)."""
    return q_win_ntile_scalable(spark, sf_dir)


@query(
    "q_win_ntile_scalable",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_win_ntile_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile / percent_rank / cume_dist WITHOUT a global sort — the
    distributed two-pass rank recipe (same result as q_win_ntile, whose
    single-partition window is the thing this replaces at scale):

    1. ``repartitionByRange`` on the full ordering key → non-overlapping
       sorted ranges across PREFIX_RANGE_PARTS tasks (sampled boundaries;
       rank arithmetic never depends on where the boundaries land because
       the key, with its unique tie-break, is a total order).
    2. Per-partition row counts → cumulative offsets. The collect is a
       bounded scalar fetch (≤ PREFIX_RANGE_PARTS longs — the same
       legitimacy class as the k-means centroid collect), broadcast back
       as a literal map.
    3. Local row_number within each range partition + the partition's
       offset = exact global rank; ntile/percent_rank/cume_dist are then
       closed-form functions of (rank, n) because the unique tie-break
       key makes every row its own peer group.

    Both exchanges (range partition, pid hash for the window) are
    distributed — no SinglePartition node, plan-asserted in
    tests/test_plans.py.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # global rank = inclusive running count of ones through the SHARED
    # two-pass recipe (r9 review: this body hand-rolled the identical
    # ~25 lines registry.distributed_prefix implements and
    # property-tests — hardening applied to the helper, e.g. the
    # all-NULL-partition fix, silently missed this copy). total is a
    # parquet metadata count, no extra scan.
    ranked = distributed_prefix(
        o.withColumn("one", F.lit(1)),
        (F.col("o_totalprice").desc(), F.col("o_orderkey")),
        "one",
        op="sum",
        out_col="rn",
    )
    total = o.count()
    # ntile(4): first (total mod 4) tiles get one extra row; integer-exact
    # ceil-division so both branches stay in long arithmetic.
    q, rem = divmod(total, 4)
    if q == 0:  # fewer rows than tiles: tile == rank
        tile = F.col("rn")
    else:
        cut = rem * (q + 1)
        tile = F.expr(
            f"if(rn <= {cut}, (rn + {q}) DIV {q + 1},"
            f" {rem} + (rn - {cut} + {q - 1}) DIV {q})"
        )
    denom = float(max(total - 1, 1))
    return ranked.select(
        "o_orderkey",
        "o_totalprice",
        tile.cast("long").alias("quartile"),
        ((F.col("rn") - F.lit(1)) / F.lit(denom)).alias("pct_rank"),
        (F.col("rn") / F.lit(float(total))).alias("cume"),
    )


@query(
    "q_win_firstlast",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           first_value(c_custkey) OVER w AS richest,
           last_value(c_custkey) OVER w AS poorest,
           nth_value(c_custkey, 2) OVER w AS runner_up
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over a full-partition frame:
    each customer row annotated with its nation's richest, poorest, and
    runner-up customer. The explicit UNBOUNDED FOLLOWING frame matters —
    the default frame ends at CURRENT ROW, which silently turns
    last_value into the current row on every engine."""
    c = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.first("c_custkey").over(w).alias("richest"),
        F.last("c_custkey").over(w).alias("poorest"),
        F.nth_value("c_custkey", 2).over(w).alias("runner_up"),
    )


@query(
    "q_win_cume",
    oracle="""
    SELECT c_custkey, c_nationkey,
           cume_dist()    OVER w AS cd,
           percent_rank() OVER w AS pr
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal)
    """,
)
def q_win_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist / percent_rank: distributional position within each
    nation. Ordered by value only (no tie-break) — peer groups share
    ranks identically on both engines. Deliberately UNROUNDED: each
    value is one integer division (IEEE-correctly-rounded, bit-identical
    on both engines), whereas round() itself diverges cross-engine at
    decimal boundaries (HALF_UP on the binary expansion vs
    multiply-round-divide — caught by the sf0.1 sweep)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


ISLAND_MIN_LEN = 3


@query(
    "q_win_islands",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS grp
      FROM events)
    SELECT user_id, event_type,
           min(ts) AS island_start,
           count(*) AS island_len
    FROM seq
    GROUP BY user_id, event_type, grp
    HAVING count(*) >= {ISLAND_MIN_LEN}
    """,
)
def q_win_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive same-type events per
    user (streak detection — the classic two-row_number difference trick),
    keeping streaks of length ≥ {ISLAND_MIN_LEN}.

    Scale shape: both row_numbers and the island agg share the user_id
    hash partitioning, so the whole query is ONE shuffle; the per-user
    sort is bounded by a user's event count. event_id breaks timestamp
    ties so the numbering is total on both engines."""
    e = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        "ts",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
    )
    return (
        seq.groupBy("user_id", "event_type", "grp")
        .agg(
            F.min("ts").alias("island_start"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .where(F.col("island_len") >= ISLAND_MIN_LEN)
        .drop("grp")
    )


ATTRIBUTION_WINDOW_SEC = 7 * 86_400


@query(
    "q_win_attribution",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    touched AS (
      SELECT *,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_id END IGNORE NULLS) OVER w AS touch_event_id,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS) OVER w AS touch_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN ts END IGNORE NULLS) OVER w AS touch_ts
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT event_id AS purchase_id, user_id, touch_event_id, touch_type,
           (epoch_us(ts) - epoch_us(touch_ts)) // 1000000 AS gap_sec
    FROM touched
    WHERE event_type = 'purchase' AND touch_event_id IS NOT NULL
      AND (epoch_us(ts) - epoch_us(touch_ts)) // 1000000 <= {ATTRIBUTION_WINDOW_SEC}
    """,
)
def q_win_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent preceding marketing touch (click or view) within a 7-day
    lookback — the conversion-credit staple behind every marketing
    dashboard. Implemented as last_value(... IGNORE NULLS) over the
    per-user ordered event stream with a frame ending at 1 PRECEDING
    (a purchase can never attribute to itself), identical on both
    engines.

    Scale shape: a single per-user window — one shuffle on user_id for
    the whole operator, the same partitioning sessionize/path/asof ride;
    no self-join of events against events (contrast q_join_asof, which
    materializes candidate pairs; the window form streams each user's
    timeline once)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    touched = e.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    gap = F.expr(
        "(unix_micros(cast(ts as timestamp))"
        " - unix_micros(cast(touch_ts as timestamp))) DIV 1000000"
    )
    return (
        touched.where(
            (F.col("event_type") == "purchase")
            & F.col("touch_event_id").isNotNull()
        )
        .withColumn("gap_sec", gap)
        .where(F.col("gap_sec") <= ATTRIBUTION_WINDOW_SEC)
        .select("event_id", "user_id", "touch_event_id", "touch_type", "gap_sec")
        .withColumnRenamed("event_id", "purchase_id")
    )


@query(
    "q_win_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2)
    SELECT nation, region, revenue,
           round(revenue / sum(revenue) OVER (), 6) AS share_global,
           round(revenue / sum(revenue) OVER (PARTITION BY region), 6)
               AS share_region,
           CAST(rank() OVER (PARTITION BY region ORDER BY revenue DESC,
                             nation) AS BIGINT) AS rank_in_region
    FROM rev
    """,
)
def q_win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report windows: each nation's revenue as a share of the
    GLOBAL total and of its REGION's total, plus its rank within the
    region — the contribution-analysis shape behind every "% of total"
    report column.

    Scale shape: the window input is the |nations| aggregate (25 rows at
    any data scale), NOT the fact table — the share-of-total windows,
    including the unpartitioned global one, are computed after the
    rollup (25 rows at any scale); the global denominator is a broadcast
    1-row crossJoin rather than an empty-frame window, so no
    SinglePartition node (plan-asserted globally; the fact-table
    shuffles are the join + one hash agg). Revenue
    is rounded BEFORE the share division so both engines divide
    identical numerators into identical denominators... except the
    denominator is a sum of rounded terms — associative in exact 2dp
    arithmetic, hence cross-engine stable."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = persist_tracked(
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    glob_1row = rev.agg(F.sum("revenue").alias("rev_global"))
    w_reg = Window.partitionBy("region")
    w_rank = Window.partitionBy("region").orderBy(
        F.col("revenue").desc(), F.col("nation")
    )
    return rev.crossJoin(F.broadcast(glob_1row)).select(
        "nation",
        "region",
        "revenue",
        F.round(F.col("revenue") / F.col("rev_global"), 6).alias(
            "share_global"
        ),
        F.round(F.col("revenue") / F.sum("revenue").over(w_reg), 6).alias(
            "share_region"
        ),
        F.rank().over(w_rank).cast("long").alias("rank_in_region"),
    )


HOUR_US = 3_600_000_000


@query(
    "q_win_time_range",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(count(*) OVER w1h AS BIGINT) AS cnt_1h,
           round(sum(value) OVER w1h, 4) AS sum_1h
    FROM events
    WINDOW w1h AS (PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                   RANGE BETWEEN {HOUR_US} PRECEDING AND CURRENT ROW)
    """,
)
def q_win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per user, the count and value-sum of
    events in the trailing ONE HOUR (inclusive) at every event — the
    rate-limiting / velocity-check window (fraud scoring, API quota
    auditing) where the frame is defined by TIME DISTANCE, not row
    count. Spark's rangeBetween is numeric-only, so the ordering key is
    integer epoch MICROSECONDS (exact — no float time arithmetic;
    unix_micros needs a TIMESTAMP cast from the NTZ column, UTC session —
    the q_time_concurrency convention); equal timestamps fall in the
    same frame on both engines by RANGE semantics.

    Scale shape: ONE shuffle on user_id; the frame is value-bounded, so
    executor state per row is the trailing hour's aggregate, not the
    partition — exactly how a 100 TB velocity check must bound memory.
    Counts exact; the double sum rounds once on both sides."""
    e = load_table(spark, sf_dir, "events")
    w1h = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-HOUR_US, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w1h).alias("cnt_1h"),
        F.round(F.sum("value").over(w1h), 4).alias("sum_1h"),
    )


@query(
    "q_win_session_native",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(CAST(ts AS TIMESTAMP))
                          - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                          >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id)),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq)
    SELECT user_id,
           strftime(min(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f')
               AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q_win_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native batch ``session_window`` — Spark's gap-based session
    assignment works in BATCH groupBy, not just streams, and this key
    pins its semantics against the manual lag+cumsum sessionization the
    oracle runs: a session extends 30 minutes past each event and a gap
    of EXACTLY the threshold starts a new session (native windows split
    at diff ≥ gap, whereas q_win_sessionize's manual split uses strict
    >; the oracle mirrors the native ≥ so the two keys also document the
    boundary difference between the idioms).

    Scale shape: one shuffle on user_id; session merging is a sort
    within each key partition. The body is streaming/ops.session_counts,
    the builder q_stream_sessionize executes incrementally with state
    (its watermark is a no-op on a batch frame). Session start is an
    input timestamp (selection, formatted, not arithmetic) and event
    counts are exact."""
    return session_counts(load_table(spark, sf_dir, "events")).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        "n_events",
    )


@query(
    "q_win_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1
                  THEN 1 ELSE 0 END AS is_first,
             CAST(ts AS TIMESTAMP) AS tts
      FROM events)
    SELECT user_id, event_id,
           CAST(sum(is_first) OVER (
                  PARTITION BY user_id ORDER BY tts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS distinct_types_so_far
    FROM flagged
    """,
)
def q_win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT DISTINCT per user — how many distinct event types
    each user has touched as of every event (breadth-of-engagement
    curves, feature-adoption funnels). Neither engine supports
    count(DISTINCT) as a running window aggregate; the standard exact
    rewrite is two windows: flag each (user, type)'s FIRST occurrence
    with row_number()=1, then running-sum the flags in event order —
    first occurrences are exactly the increments of the distinct count.

    Scale shape: both windows partition by user (the second's
    (user, type) partitioning refines the first — one logical key
    family, the engine orders within user partitions); state per row is
    a counter, not a distinct-set, which is precisely why this rewrite
    scales where a naive set-accumulating UDAF would blow memory on
    high-cardinality users. Counts exact, no rounding."""
    e = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "is_first"
        ),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("is_first").over(w_run).alias("distinct_types_so_far"),
    )


@query(
    "q_win_attribution_linear",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, CAST(ts AS TIMESTAMP) AS pts
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT event_id AS tid, user_id, event_type AS touch_type,
             CAST(ts AS TIMESTAMP) AS tts
      FROM events WHERE event_type IN ('click', 'view')),
    j AS (
      SELECT p.pid, t.tid, t.touch_type
      FROM p JOIN t ON t.user_id = p.user_id
       AND (t.tts, t.tid) < (p.pts, p.pid)
       AND epoch_us(p.pts) - epoch_us(t.tts)
           <= {ATTRIBUTION_WINDOW_SEC * 1_000_000}),
    credit AS (
      SELECT touch_type,
             1.0 / count(*) OVER (PARTITION BY pid) AS c
      FROM j),
    agg AS (
      SELECT touch_type, CAST(count(*) AS BIGINT) AS n_credited_touches,
             sum(c) AS tc
      FROM credit GROUP BY touch_type)
    SELECT touch_type, n_credited_touches,
           round(tc, 6) AS total_credit,
           round(tc / sum(tc) OVER (), 6) AS credit_share
    FROM agg
    """,
)
def q_win_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the fair-share companion to
    q_win_attribution's last-touch model: every click/view touch in the
    7-day window before a purchase receives an equal 1/k share of that
    conversion's credit (k = touches in the window), aggregated into
    per-channel credited-touch counts, total credit, and credit share.
    Stream-order precedence ((ts, event_id) lexicographic, a struct
    comparison on both engines) pins which touches qualify, so the
    credit table is hash-verified.

    Scale shape: one banded equi-join on user (the q_join_range recipe
    applies at scale: bucketize ts by the window width), one
    per-purchase window count riding the join's partitioning, one
    |channels|-row rollup."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").cast("timestamp").alias("pts"),
    )
    t = e.where(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("tid"),
        F.col("user_id").alias("t_uid"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").cast("timestamp").alias("tts"),
    )
    j = p.join(
        t,
        (F.col("t_uid") == F.col("user_id"))
        & (
            F.struct(F.col("tts"), F.col("tid"))
            < F.struct(F.col("pts"), F.col("pid"))
        )
        & (
            F.unix_micros(F.col("pts")) - F.unix_micros(F.col("tts"))
            <= ATTRIBUTION_WINDOW_SEC * 1_000_000
        ),
    ).select("pid", "tid", "touch_type")
    w_p = Window.partitionBy("pid")
    credit = j.select(
        "touch_type", (F.lit(1.0) / F.count(F.lit(1)).over(w_p)).alias("c")
    )
    agg = persist_tracked(
        credit.groupBy("touch_type").agg(
            F.count(F.lit(1)).alias("n_credited_touches"), F.sum("c").alias("tc")
        )
    )
    # Global credit total over the |channels|-row aggregate as a broadcast
    # 1-row crossJoin — no SinglePartition window (plan-asserted globally).
    tc_1row = agg.agg(F.sum("tc").alias("tc_total"))
    return agg.crossJoin(F.broadcast(tc_1row)).select(
        "touch_type",
        "n_credited_touches",
        F.round("tc", 6).alias("total_credit"),
        F.round(F.col("tc") / F.col("tc_total"), 6).alias("credit_share"),
    )
