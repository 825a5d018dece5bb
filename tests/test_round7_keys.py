"""Round-7 additions: tracked-cache ownership, distributed_prefix,
plan-audit parsing, operator config guards and quality metrics."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_hadoop_consumer_spark.queries import QUERIES
from tests.conftest import SF_DIR


def test_delegating_query_keeps_cache_owner(spark):
    """A registered query that delegates to another registered query
    (the q_win_ntile -> q_win_ntile_scalable shape) must not ping-pong
    the tracked-cache owner: a warm rerun of the delegating key must
    NOT release its own pins mid-build."""
    from kafka_hadoop_consumer_spark.queries import registry as R

    @R.query("q_test_inner__tmp")
    def inner(spark, sf_dir):
        return R.persist_tracked(spark.range(3).toDF("x"))

    @R.query("q_test_outer__tmp")
    def outer(spark, sf_dir):
        return R.QUERIES["q_test_inner__tmp"](spark, sf_dir)

    try:
        R.QUERIES["q_test_outer__tmp"](spark, "").count()
        assert R._TRACKED_OWNER == "q_test_outer__tmp"
        first_pin = R._TRACKED[0]
        R.QUERIES["q_test_outer__tmp"](spark, "").count()
        assert R._TRACKED_OWNER == "q_test_outer__tmp"
        # the cache must stay WARM (no unpersist — the plan is the same,
        # so the rerun's pin hits the same CacheManager entry)...
        assert first_pin.storageLevel.useMemory, (
            "warm rerun UNPERSISTED the delegating query's pins"
        )
        # ...but the pin list must not grow by k entries per rerun
        # (r9 review: N reruns accumulated N×k dead entries until a
        # DIFFERENT query finally released them)
        assert len(R._TRACKED) == 1, (
            f"warm rerun accumulated pins: {len(R._TRACKED)}"
        )
    finally:
        for k in ("q_test_inner__tmp", "q_test_outer__tmp"):
            R.QUERIES.pop(k, None)
            R.METAS.pop(k, None)
            R.ORACLES.pop(k, None)
        R.release_tracked()


def test_distributed_prefix_survives_all_null_partitions(spark):
    """A range partition whose aggregate is NULL (all values null) must
    contribute nothing to the running prefix, not crash the driver-side
    accumulator with None arithmetic."""
    from pyspark.sql import functions as F

    from kafka_hadoop_consumer_spark.queries.registry import distributed_prefix

    df = spark.createDataFrame(
        [(i, None if i < 50 else float(i)) for i in range(100)],
        "k long, v double",
    )
    out = distributed_prefix(
        df, [F.col("k")], "v", op="sum", out_col="run"
    ).orderBy("k")
    rows = out.select("k", "run").collect()
    # nulls-first prefix: running sum starts once values appear
    assert rows[0]["run"] is None
    expected = sum(range(50, 100))
    assert rows[-1]["run"] == float(expected)
    out2 = distributed_prefix(
        df, [F.col("k")], "v", op="max", out_col="run"
    )
    assert out2.agg(F.max("run")).collect()[0][0] == 99.0


def test_plan_audit_parses_compound_entries(spark):
    """pushed_filters must keep EqualTo(col,val) as ONE entry, and
    read_schema_columns must not truncate at a nested complex type."""
    from pyspark.sql import functions as F

    from kafka_hadoop_consumer_spark.catalog import load_table
    from kafka_hadoop_consumer_spark.plans.audit import (
        _split_top_level,
        pushed_filters,
        read_schema_columns,
    )

    assert _split_top_level("IsNotNull(a), EqualTo(a,Brand#23)") == [
        "IsNotNull(a)", "EqualTo(a,Brand#23)",
    ]
    assert _split_top_level("doc_id:bigint,vec:array<double>,label:string") == [
        "doc_id:bigint", "vec:array<double>", "label:string",
    ]

    d = load_table(spark, SF_DIR, "part").where(F.col("p_brand") == "Brand#23")
    pf = pushed_filters(d.select("p_partkey"))
    assert any(f.startswith("EqualTo(p_brand,") for f in pf), pf

    # 'label' sits AFTER the array<float> column: the old non-greedy
    # struct<...> regex stopped at array's '>' and dropped it
    emb = load_table(spark, SF_DIR, "embeddings")
    schemas = read_schema_columns(emb.select("vec_id", "embedding", "label"))
    assert schemas and {"vec_id", "embedding", "label"} <= schemas[0], schemas


def test_operator_guards_reject_silent_empty_configs(spark):
    """Config typos that would silently produce empty joins must raise."""
    import pytest

    from kafka_hadoop_consumer_spark.operators.salting import salted_join
    from kafka_hadoop_consumer_spark.operators.temporal import (
        asof_join,
        interval_overlap_join,
    )

    big = spark.range(10).toDF("k")
    small = spark.range(3).toDF("k")
    with pytest.raises(ValueError, match="n_salts"):
        salted_join(big, small, "k", n_salts=0)

    a = spark.createDataFrame([(0, 10)], "s long, e long")
    b = spark.createDataFrame([(5, 15)], "bs long, be long")
    with pytest.raises(ValueError, match="bucket_width"):
        interval_overlap_join(a, b, "s", "e", "bs", "be", bucket_width=0)

    lt = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1)], "by long, ts string, id long"
    ).select("by", F.col("ts").cast("timestamp").alias("ts"), "id")
    rt = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 2)], "by long, rts string, rid long"
    ).select("by", F.col("rts").cast("timestamp").alias("rts"), "rid")
    with pytest.raises(ValueError, match="NUMERIC"):
        asof_join(lt, rt, "by", "ts", "rts", "id", tolerance=60)


def test_observed_null_metrics_zero_on_empty_input(spark):
    """The quality-gate metric contract: null_<col> must be 0 (not None)
    over an empty input, so `obs.get['null_x'] == 0` gates hold."""
    from kafka_hadoop_consumer_spark.operators.quality import observed

    df = spark.range(5).toDF("x").where("x < 0")  # empty
    df2, obs = observed(df, "x")
    assert df2.count() == 0
    got = obs.get
    assert got["n_rows"] == 0 and got["null_x"] == 0
