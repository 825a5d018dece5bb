"""Streaming operator surface (SURVEY.md §2B "Streaming-only operators"):
windowed aggregations, watermarks, dedup, arbitrary state, and the
foreachBatch snapshot sinks.

Each builder takes an events-shaped DataFrame — ``event_id long, ts
timestamp, user_id long, event_type string, value double`` — and returns
the transformed DataFrame, streaming or batch alike (one engine, two
modes, SURVEY.md §1.3). The registry keys are the builders' callers, each
hash-checked against a DuckDB oracle:

- window_counts: q_stream_continuous_agg, q_stream_sliding_agg,
  q_stream_static_join, q_stream_late_drop and, in batch mode,
  q_win_tumbling_batch (run_continuous_rollup maintains it as a sink);
- session_counts: q_stream_sessionize and, in batch mode,
  q_win_session_native;
- dedup_within_watermark: q_stream_dedup_exact;
- stateful_user_counters: q_stream_stateful_counters.

tests/test_properties.py checks that a stream over any micro-batch split
gives the batch answer; the foreachBatch sinks (run_foreach_batch_upsert,
run_continuous_rollup, run_incremental_near_dedup) and their crash-safety
are covered in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

cloudpickle.register_pickle_by_value(sys.modules[__name__])


SESSION_GAP = "30 minutes"  # native session_window gap (q_win_sessionize's 30 min)


def window_counts(df: DataFrame, window: str = "1 hour", slide: str | None = None,
                  by: tuple[str, ...] = ("event_type",), sum_col: str = "value",
                  watermark: str = "10 minutes") -> DataFrame:
    """Per-(window, *by) event count and ``sum_<sum_col>``, rounded to 2
    places (the identity on an integer-cents column). ``slide`` makes
    the windows overlap: each event lands in window/slide buckets. On a
    stream in append or update mode the watermark evicts closed windows'
    state (bounded state at 100 TB/day rates) and drops rows that arrive
    after their window closed; complete mode keeps every window, and on
    a batch frame the watermark is a no-op."""
    total = f"sum_{sum_col}"
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), *by)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(sum_col), 2).alias(total),
        )
        .select(F.col("w.start").alias("bucket"), *by, "n_events", total)
    )


def session_counts(df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Gap-based session windows per user (dynamic-width state, merged
    as events arrive). A gap of exactly SESSION_GAP starts a new
    session."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(df: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon —
    state is bounded by the watermark, unlike a plain dropDuplicates on
    a stream, which grows forever."""
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _read_snapshot(spark, out_path: str) -> DataFrame:
    """Recovery-aware read of a snapshot maintained by ``_swap_snapshot``.

    If a crash interrupted a prior swap, ``out_path`` may be missing
    while a sibling holds the data: a fully-staged dir (Spark's
    ``_SUCCESS`` marker proves the write committed) supersedes the
    ``.old`` snapshot it was about to replace; an incomplete staging
    dir means the old snapshot is still current. After recovery, a
    genuinely missing path (true first batch) raises
    AnalysisException exactly like a plain read."""
    import shutil

    staged, old = out_path + ".staging", out_path + ".old"
    if not os.path.isdir(out_path):
        if os.path.exists(os.path.join(staged, "_SUCCESS")):
            os.rename(staged, out_path)
        elif os.path.isdir(old):
            os.rename(old, out_path)
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    return spark.read.parquet(out_path)


def _swap_snapshot(merged: DataFrame, out_path: str) -> None:
    """Crash-safe replacement of a parquet snapshot that ``merged``'s
    own plan reads from (r9 review: overwrite-in-place truncated the
    only copy of the accumulated state BEFORE the write committed, so
    a crash mid-write made the checkpoint replay read an empty path,
    fall into its first-batch branch, and permanently lose every
    previously accumulated row).

    localCheckpoint (not cache: best-effort, an evicted partition
    would recompute from lineage and re-read the dir mid-replacement —
    the run_incremental_near_dedup precedent) severs the plan from
    ``out_path``; the new snapshot is fully staged to a sibling dir,
    then swapped via two renames. Every crash point leaves a complete
    snapshot recoverable by ``_read_snapshot``."""
    import shutil

    staged, old = out_path + ".staging", out_path + ".old"
    merged = merged.localCheckpoint()
    merged.write.mode("overwrite").parquet(staged)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(out_path):
        os.rename(out_path, old)
    os.rename(staged, out_path)
    shutil.rmtree(old, ignore_errors=True)


def run_foreach_batch_upsert(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    key: str,
    order_col: str,
) -> None:
    """Streaming upsert via foreachBatch: each micro-batch is merged into a
    keep-latest-per-key snapshot at ``out_path``.

    The foreachBatch escape hatch is how Structured Streaming reaches
    sinks without native streaming support (JDBC merges, dedup snapshots,
    multi-table fanout): the batch is an ordinary DataFrame, and the
    checkpoint still provides exactly-once batch ids. The merge itself is
    the q_dedup_keyed pattern (row_number over key by recency).
    """
    from pyspark.sql import Window

    def merge(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch.sparkSession
        try:
            current = _read_snapshot(spark, out_path)
            merged = current.unionByName(batch)
        except AnalysisException:
            # Missing path AFTER swap recovery = genuinely the first
            # batch. Anything else (transient IO, permissions, corrupt
            # footer) PROPAGATES and fails the batch — treating it as
            # "first batch" would overwrite the accumulated snapshot
            # with this batch alone and silently lose every prior key.
            merged = batch
        w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        # stage-then-swap: replay of this batch id must find the PRIOR
        # snapshot intact if the rewrite dies mid-flight
        _swap_snapshot(latest, out_path)

    q = (
        df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_COUNTER_OUT_DDL = "user_id long, n_events long, sum_cents long"
_COUNTER_STATE_DDL = "n long, cents long"


def _accumulate_cents(n: int, cents: int, batches) -> tuple[int, int]:
    """The ONE accumulation body behind every stateful-counter path (no
    timeout, TTL, transformWithState — they must stay bit-identical for
    the downgrade to be semantics-preserving). Cents via
    floor(value*100 + 0.5) — the repo's float-free streaming-sum
    discipline, so cross-batch accumulation order can't drift the hash.
    NULL values are skipped from the sum but counted in n — exactly SQL's
    sum()/count(*) semantics (int(NaN) would otherwise crash the query)."""
    import numpy as np

    for pdf in batches:
        n += len(pdf)
        v = pdf["value"].to_numpy(dtype="float64")
        v = v[~np.isnan(v)]
        cents += int(np.floor(v * 100 + 0.5).sum())
    return n, cents


def _counter_row(key: tuple, n: int, cents: int) -> pd.DataFrame:
    return pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]})


def _make_counter_fn(ttl_ms: int | None):
    """applyInPandasWithState body. With ``ttl_ms``, keys quiet for that
    long have their state removed (bounding the state store by ACTIVE
    keys instead of all keys ever seen)."""

    def fn(key: tuple, batches: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, cents = state.get if state.exists else (0, 0)  # .get is a property
        n, cents = _accumulate_cents(n, cents, batches)
        state.update((n, cents))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield _counter_row(key, n, cents)

    return fn


class _CentsStatefulProcessor:
    """transformWithState processor with the same semantics as the
    applyInPandasWithState body, mixed into StatefulProcessor ONLY where
    the runtime supports it (see stateful_user_counters). A plain class,
    so importing this module never touches the TWS runner's protobuf
    dependency."""

    def init(self, handle) -> None:
        self._state = handle.getValueState("counter", _COUNTER_STATE_DDL)

    def handleInputRows(self, key, rows, timerValues):
        got = self._state.get()
        n, cents = _accumulate_cents(*(got if got is not None else (0, 0)), rows)
        self._state.update((n, cents))
        yield _counter_row(key, n, cents)

    def close(self) -> None:
        pass


def transform_with_state_available() -> bool:
    """Feature-detect Spark 4's transformWithStateInPandas (SURVEY.md §7 R6).

    The API exists in PySpark 4.1 but its streaming runner imports
    google.protobuf, which is not usable in this container — probed at
    runtime so the engine degrades to applyInPandasWithState (identical
    semantics for the patterns used here) instead of crashing mid-query.
    """
    try:
        from pyspark.sql.streaming import StatefulProcessor  # noqa: F401
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


def stateful_user_counters(df: DataFrame, ttl_minutes: int | None = None) -> DataFrame:
    """Arbitrary per-key state: a running per-user (n_events, sum_cents)
    counter, emitted in update mode each micro-batch that touches the
    user; state lives in the checkpointed state store (the analogue of
    the reference's ZK offsets — but holding operator state, SURVEY.md
    §3.2).

    API selection IS the probe (SURVEY.md §7 R6): transformWithState is
    preferred where transform_with_state_available() says the runtime
    supports it, otherwise the counter auto-downgrades to
    applyInPandasWithState with identical semantics.

    ``ttl_minutes`` bounds the state store for always-on deployments:
    keys idle longer than the TTL are evicted (processing-time timeout),
    so state scales with ACTIVE keys, not with every user_id ever seen.
    ``None`` (bounded replay harnesses, tests) keeps counters exact over
    the whole run.

    Operational caveat (measured on PySpark 4.1.2): with a processing-
    time timeout configured, ``trigger(availableNow=True)`` does NOT
    terminate after draining input — the engine keeps scheduling
    micro-batches (~1/sec) so pending timeouts can fire. Drive TTL mode
    with the default trigger plus ``processAllAvailable()``/``stop()``
    in bounded harnesses; reserve availableNow for ``ttl_minutes=None``.
    """
    grouped = df.select("user_id", "value").groupBy("user_id")
    if ttl_minutes is None and transform_with_state_available():  # pragma: no cover
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        proc = type("CentsProcessor", (_CentsStatefulProcessor, StatefulProcessor), {})
        return grouped.transformWithStateInPandas(
            proc(),
            outputStructType=_COUNTER_OUT_DDL,
            outputMode="Update",
            timeMode="None",
        )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return grouped.applyInPandasWithState(
        _make_counter_fn(None if ttl_minutes is None else ttl_minutes * 60_000),
        outputStructType=_COUNTER_OUT_DDL,
        stateStructType=_COUNTER_STATE_DDL,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_minutes is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def run_continuous_rollup(df: DataFrame, out_path: str, checkpoint: str) -> None:
    """Continuous aggregate (the hypertable materialized-rollup pattern):
    maintain a per-(hour, event_type) rollup table that stays correct as
    new micro-batches arrive and across restarts.

    Spark-first shape: the aggregation itself lives in the STREAM (state
    store holds the running per-bucket totals; update output mode emits
    only buckets a batch changed), and foreachBatch REPLACES those
    buckets in the snapshot — replace-not-add is what makes a replayed
    batch id idempotent, because the emitted rows are full recomputed
    totals, not deltas. At 100 TB the snapshot rewrite becomes a
    partition-overwrite (or MERGE on a table format); the stream side
    already only ships changed buckets.
    """
    rolled = window_counts(df, watermark="2 hours").withColumnRenamed(
        "sum_value", "total_value"
    )

    def replace_buckets(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch.sparkSession
        batch = batch.cache()
        try:
            current = _read_snapshot(spark, out_path)
            keep = current.join(
                batch.select("bucket", "event_type").distinct(),
                ["bucket", "event_type"],
                "left_anti",
            )
            merged = keep.unionByName(batch)
        except AnalysisException:
            # Missing path AFTER swap recovery = first batch. A
            # transient read error must FAIL the batch instead: falling
            # back to `merged = batch` would overwrite the rollup with
            # only the buckets this batch touched, truncating all other
            # history — and the state store would never re-emit the
            # lost buckets.
            merged = batch
        # stage-then-swap (r9 review): overwrite-in-place truncated the
        # rollup BEFORE the write committed, so a crash mid-write lost
        # every bucket outside this batch on replay
        _swap_snapshot(merged, out_path)
        batch.unpersist()

    q = (
        rolled.writeStream.outputMode("update")
        .foreachBatch(replace_buckets)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_near_dedup(
    docs: DataFrame, corpus_dir: str, log_dir: str, checkpoint: str
) -> None:
    """Streaming NEAR-dedup ingestion — the LLM-corpus dedup gate running
    in the ingestion path: each micro-batch of (doc_id, text) is
    classified against the accumulated corpus as ``exact_dup`` (md5
    fingerprint already present), ``near_dup`` (MinHash LSH band-bucket
    collision with an accepted doc — the q_dedup_minhash banding, so
    only genuinely-similar docs collide), or ``new``. Duplicates WITHIN
    a micro-batch are also caught (min doc_id keeps; later same-batch
    copies classify as dups), so a bulk backfill arriving as one batch
    cannot smuggle copies past the gate. Verdicts append to
    ``log_dir``; only NEW docs' signatures join the corpus state at
    ``corpus_dir``, so later batches dedup against everything accepted
    so far (the streaming face of q_dedup_incremental, upgraded from
    exact-only to near-dup).

    State is a parquet signature table ((doc_id, fp, band, bucket) —
    N_BANDS rows per accepted doc, constant-size per doc regardless of
    text length), the same mergeable-compact-state discipline as the
    continuous-aggregate sink.

    Exactly-once is enforced IN the sink, not just by the checkpoint:
    both outputs land in ``batch_id=N`` partition directories with
    overwrite semantics, and classification reads only ``batch_id < N``
    corpus state — so a replay of batch N (failure after the writes but
    before the checkpoint commit) overwrites its own partitions and
    classifies against exactly the same prior corpus, never against its
    own first-attempt signatures (which would have re-classified its new
    docs as exact_dups of themselves)."""
    from kafka_hadoop_consumer_spark.queries.dedup import (
        N_BANDS,
        ROWS_PER_BAND,
        minhash_signatures,
        shingles,
    )

    def sig_table(d: DataFrame) -> DataFrame:
        sig = minhash_signatures(shingles(d))
        band_structs = [
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"m{b * ROWS_PER_BAND + k}") for k in range(ROWS_PER_BAND)]
                ).alias("bucket"),
            )
            for b in range(N_BANDS)
        ]
        return sig.select(
            "doc_id", F.explode(F.array(*band_structs)).alias("bb")
        ).select("doc_id", "bb.band", "bb.bucket")

    def classify(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch.sparkSession
        fps = batch.select("doc_id", F.md5("text").alias("fp"))
        bands = sig_table(batch).join(fps, "doc_id")
        bands.cache().count()
        try:
            # batch_id is the partition column of corpus_dir; < batch_id
            # makes a replayed batch blind to its own first attempt.
            corpus = spark.read.parquet(corpus_dir).where(
                F.col("batch_id") < batch_id
            )
            have_corpus = True
        except AnalysisException:
            # Missing path / no partitions yet = genuinely empty corpus.
            # Anything else (corrupt parquet, permissions) PROPAGATES and
            # fails the batch — silently accepting every doc as new on a
            # read error would poison the corpus.
            have_corpus = False
        if have_corpus:
            exact = (
                fps.join(corpus.select("fp").distinct(), "fp")
                .select("doc_id")
                .distinct()
            )
            near = (
                bands.join(
                    corpus.select("band", "bucket").distinct(), ["band", "bucket"]
                )
                .select("doc_id")
                .distinct()
                .join(exact, "doc_id", "left_anti")
            )
        else:
            exact = fps.select("doc_id").where(F.lit(False))
            near = exact
        # Intra-batch duplicates (the same-batch blind spot): a doc whose
        # fingerprint or band-bucket collides with an EARLIER doc of the
        # SAME batch (min doc_id = deterministic keeper) is a dup even
        # when the corpus has seen neither — bulk backfills deliver
        # duplicate bursts inside one micro-batch, and classifying only
        # against prior batches would accept every copy as "new".
        a_fp = fps.select(F.col("doc_id").alias("a_id"), "fp")
        b_fp = fps.select(F.col("doc_id").alias("b_id"), "fp")
        intra_exact = (
            a_fp.join(b_fp, "fp")
            .where(F.col("a_id") > F.col("b_id"))
            .select(F.col("a_id").alias("doc_id"))
            .distinct()
        )
        a_bb = bands.select(F.col("doc_id").alias("a_id"), "band", "bucket")
        b_bb = bands.select(F.col("doc_id").alias("b_id"), "band", "bucket")
        intra_near = (
            a_bb.join(b_bb, ["band", "bucket"])
            .where(F.col("a_id") > F.col("b_id"))
            .select(F.col("a_id").alias("doc_id"))
            .distinct()
        )
        exact = exact.union(intra_exact).distinct()
        near = near.union(intra_near).distinct().join(
            exact, "doc_id", "left_anti"
        )
        verdicts = (
            fps.select("doc_id")
            .join(exact.withColumn("v", F.lit("exact_dup")), "doc_id", "left")
            .join(near.withColumn("w", F.lit("near_dup")), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("v", "w", F.lit("new")).alias("verdict"),
            )
        )
        # localCheckpoint truncates the lineage: caching is best-effort,
        # and a re-evaluated verdict plan would otherwise re-read the
        # corpus AFTER this batch's own signatures landed — classifying
        # the batch's new docs as duplicates of themselves.
        verdicts = verdicts.localCheckpoint()
        # Idempotent per-batch sinks: hive-style batch_id=N partition dirs
        # with overwrite, so a replayed batch replaces its first attempt
        # instead of appending duplicate rows (batch_id comes back as the
        # partition column on read).
        verdicts.write.mode("overwrite").parquet(
            os.path.join(log_dir, f"batch_id={batch_id}")
        )
        new_sigs = bands.join(
            verdicts.where(F.col("verdict") == "new").select("doc_id"), "doc_id"
        )
        new_sigs.write.mode("overwrite").parquet(
            os.path.join(corpus_dir, f"batch_id={batch_id}")
        )
        bands.unpersist()

    q = (
        docs.writeStream.outputMode("append")
        .foreachBatch(classify)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
