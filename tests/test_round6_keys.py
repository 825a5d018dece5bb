"""Property tests for the round-6 registry additions — invariants the
DuckDB hash gate cannot express (micro-batch counts, per-row bounds,
conservation laws). Oracle equality itself is covered by the
whole-registry sweep in tests/test_oracle.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_hadoop_consumer_spark.queries import QUERIES
from tests.conftest import SF_DIR


def test_av_sync_one_row_per_frame_and_nonnegative_lag(spark):
    sync = QUERIES["q_multimodal_av_sync"](spark, SF_DIR).cache()
    try:
        frames = QUERIES["q_multimodal_frames"](spark, SF_DIR)
        assert sync.count() == frames.count()  # inner as-of drops nothing
        assert sync.where(F.col("lag_ms") < 0).count() == 0
        # a frame inside the audio span lags less than one hop
        from kafka_hadoop_consumer_spark.queries.multimodal import AUDIO_HOP_MS

        in_span = sync.join(
            sync.groupBy("doc_id").agg(F.max("chunk_idx").alias("mx")), "doc_id"
        ).where(F.col("chunk_idx") < F.col("mx"))
        assert in_span.where(F.col("lag_ms") >= AUDIO_HOP_MS).count() == 0
    finally:
        sync.unpersist()


def test_decision_stump_conservation_and_bounds(spark):
    from kafka_hadoop_consumer_spark.catalog import load_table

    stump = QUERIES["q_ml_decision_stump"](spark, SF_DIR)
    n = load_table(spark, SF_DIR, "embeddings").count()
    rows = stump.collect()
    assert len(rows) == 3  # one winning split per candidate feature
    for r in rows:
        assert r.n_le + r.n_gt == n, r  # every vector lands on one side
        assert r.n_le > 0 and r.n_gt > 0, r
        assert 0.0 <= r.gini <= 0.9, r  # 10-class gini < 1 - 1/10


def test_hll_manual_error_within_sketch_regime(spark):
    from kafka_hadoop_consumer_spark.queries.aggregates import HLL_M

    rows = QUERIES["q_agg_hll_manual"](spark, SF_DIR).collect()
    assert len(rows) >= 2
    for r in rows:
        assert 0 < r.n_regs <= HLL_M
        assert r.hll_estimate > 0
        # raw-estimator regime: expected sigma 1.04/sqrt(m) ~ 6.5%;
        # 3-sigma gate catches a broken hash/register pipeline without
        # flaking on legitimate sketch noise
        assert r.rel_error < 0.2, r


def test_boost_round_weight_conservation(spark):
    from kafka_hadoop_consumer_spark.catalog import load_table
    from kafka_hadoop_consumer_spark.queries.quality import BOOST_W_MISS

    res = QUERIES["q_ml_boost_round"](spark, SF_DIR)
    n = load_table(spark, SF_DIR, "embeddings").count()
    rows = res.collect()
    assert len(rows) == 3
    miss = rows[0].r1_miss
    assert 0 < miss < n  # round 1 is neither perfect nor useless
    for r in rows:
        # total weight = n + (W-1)·misses, conserved on every feature
        assert r.w_le + r.w_gt == n + (BOOST_W_MISS - 1) * miss, r
        assert r.r1_miss == miss and r.r1_feature == rows[0].r1_feature


def test_pq_adc_dist_lies_on_exact_integer_grid(spark):
    """The r6 PQ oracle conversion rests on one invariant: every ADC
    distance is an exact integer in the PQ_SCALE² domain (that is what
    makes rankings order-independent across engines). The shipped
    adc_dist is that integer divided by PQ_SCALE² — the division itself
    is inexact but IEEE-deterministic, so the value must round-trip:
    rescaling and re-dividing reproduces it bit-for-bit."""
    from kafka_hadoop_consumer_spark.queries.similarity import PQ_SCALE

    s2 = F.lit(PQ_SCALE * PQ_SCALE)
    res = QUERIES["q_sim_pq_topk"](spark, SF_DIR)
    off_grid = res.where(
        F.col("adc_dist") != F.round(F.col("adc_dist") * s2, 0) / s2
    )
    assert off_grid.count() == 0


def test_round_half_away_matches_sql_semantics():
    import numpy as np

    from kafka_hadoop_consumer_spark.queries.similarity import (
        _round_half_away,
    )

    a = np.array([0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 2.4, -2.4])
    # half away from zero (SQL ROUND), NOT banker's (np.round)
    assert _round_half_away(a).tolist() == [1, 2, 3, -1, -2, -3, 2, -2]


def test_range_search_radius_and_selectivity(spark):
    from kafka_hadoop_consumer_spark.queries.similarity import RANGE_COS

    res = QUERIES["q_sim_range_search"](spark, SF_DIR).cache()
    try:
        assert res.where(F.col("cos_sim") < RANGE_COS).count() == 0
        # n_in_range is the per-query row count, replicated on each row
        per_q = res.groupBy("q_id").agg(F.count(F.lit(1)).alias("n"))
        bad = res.join(per_q, "q_id").where(F.col("n_in_range") != F.col("n"))
        assert bad.count() == 0
    finally:
        res.unpersist()


def test_graph_cc_components_are_edge_consistent(spark):
    """Independent CC invariants (stronger than the oracle hash alone):
    both endpoints of every edge share a component, the component id is
    the min member id, and sizes partition the node set."""
    from kafka_hadoop_consumer_spark.catalog import load_table
    from kafka_hadoop_consumer_spark.queries.graph import copurchase_edges

    out = QUERIES["q_graph_cc"](spark, SF_DIR).cache()
    try:
        e = load_table(spark, SF_DIR, "events")
        edges = copurchase_edges(e)
        lab = out.select("user_id", "component_id")
        viol = (
            edges.join(lab.withColumnRenamed("user_id", "u"), "u")
            .withColumnRenamed("component_id", "cu")
            .join(lab.withColumnRenamed("user_id", "v"), "v")
            .where(F.col("cu") != F.col("component_id"))
        )
        assert viol.count() == 0
        mins = out.groupBy("component_id").agg(
            F.min("user_id").alias("mn"), F.count(F.lit(1)).alias("n")
        )
        assert mins.where(F.col("mn") != F.col("component_id")).count() == 0
        # sizes match and node set is exactly the graph's node set
        assert (
            out.join(mins, "component_id")
            .where(F.col("component_size") != F.col("n"))
            .count()
            == 0
        )
        nodes = (
            edges.select(F.col("u").alias("user_id"))
            .union(edges.select(F.col("v").alias("user_id")))
            .distinct()
        )
        assert out.count() == nodes.count()
    finally:
        out.unpersist()


def test_graph_bfs_layers_are_parented(spark):
    """BFS invariants: exactly BFS_SOURCES dist-0 rows (the sources
    themselves), (src, node) states unique, and every dist-h node has a
    neighbor at dist h-1 (the frontier-parent property that makes
    first-visit == shortest-hop)."""
    from kafka_hadoop_consumer_spark.catalog import load_table
    from kafka_hadoop_consumer_spark.queries.graph import (
        BFS_SOURCES,
        copurchase_edges,
    )

    out = QUERIES["q_graph_bfs"](spark, SF_DIR).cache()
    try:
        zero = out.where(F.col("dist") == 0)
        assert zero.count() == BFS_SOURCES
        assert zero.where(F.col("src_id") != F.col("user_id")).count() == 0
        n = out.count()
        assert out.select("src_id", "user_id").distinct().count() == n
        e = load_table(spark, SF_DIR, "events")
        edges = copurchase_edges(e)
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        child = out.where(F.col("dist") > 0)
        parented = child.join(
            sym.withColumnRenamed("u", "user_id"), "user_id"
        ).join(
            out.select(
                "src_id",
                F.col("user_id").alias("v"),
                F.col("dist").alias("pdist"),
            ),
            ["src_id", "v"],
        ).where(F.col("pdist") == F.col("dist") - 1)
        orphans = child.join(
            parented.select("src_id", "user_id").distinct(),
            ["src_id", "user_id"],
            "left_anti",
        )
        assert orphans.count() == 0
    finally:
        out.unpersist()


def test_graph_cc_converges_in_log_rounds(spark):
    """The large-star/small-star loop must DETECT its fixpoint well
    under the round cap (the O(log V) claim), never exit by cap — a
    cap exit would silently return unconverged components."""
    from kafka_hadoop_consumer_spark.queries import graph

    QUERIES["q_graph_cc"](spark, SF_DIR).count()
    rounds = graph.CC_LAST_ROUNDS.get("q_graph_cc")
    assert rounds is not None and rounds < graph.CC_MAX_ROUNDS, rounds
    # the fixture co-purchase graph is dense: fixpoint within a few rounds
    assert rounds <= 6, rounds
