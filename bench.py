#!/usr/bin/env python
"""Benchmark harness (driver contract + SURVEY.md §6 protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Protocol: one warm-up execution per query (JIT + file-index warm), then
median of 3 timed runs. Queries materialize through the noop sink so
timing covers full execution without driver-side collect overhead.

The bench reports and never gates: whether a change made the program
slower is judged by perfbench (BENCHMARK.json, perfbench/README.md),
which runs the parent and the change paired on the same machine.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_hadoop_consumer_spark import get_spark  # noqa: E402
from kafka_hadoop_consumer_spark.queries import QUERIES  # noqa: E402
from kafka_hadoop_consumer_spark.streaming.ingest import (  # noqa: E402
    SourceSpec,
    run_ingest,
)

HEADLINE = [
    "q_agg_groupby",       # flagship: TPC-H Q1 shape
    "q_join_multiway",     # TPC-H Q5 shape star join
    "q_win_topk_group",    # partitioned window
    "q_join_range",        # temporal equi+residual join
    "q_dedup_minhash",     # MinHash+LSH near-dedup cascade
    "q_dedup_ngram_jaccard",  # exact near-dup ground truth
    "q_sim_cosine_topk",   # brute-force ANN baseline
    "q_text_ngram",        # shingle + frequency
    "q_udf_scalar",        # Arrow pandas-UDF path
    "q_win_sessionize",    # lag + cumsum gap sessionization
    "q_text_tfidf",        # tf-idf with broadcast vocabulary
    "q_e2e_q9",            # 5-table profit rollup (round-2 TPC-H set)
    "q_cdc_scd2",          # change-compressed SCD2 (single-shuffle windows)
    # r7 promotions (r6 verdict item 6): the two most representative
    # "modern pipeline" costs, review-hardened in r6 — headline from r7
    # on (BASELINE.md records the 16-entry anchor arithmetic)
    "q_graph_cc",          # log-round connected components (iterative)
    "q_e2e_hybrid_search", # BM25 + PRF dense + RRF fusion composition
]

N_RUNS = 3


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# events.ts is parquet TIMESTAMP(NANOS); the session reads it as long
# (nanosAsLong) — fine for an ingest-throughput measure (bytes in,
# checkpointed parquet out), the reference's entire job.
_EVENTS_DDL = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def time_ingest(spark, sf_dir: str) -> tuple[float, int]:
    """Wall-clock for the reference-parity ingest pipeline (s_ingest_e2e):
    stream the events table from a file source into a checkpointed parquet
    sink, availableNow. Fresh checkpoint per run = a cold bounded run, the
    reference's cron invocation. Returns (median seconds, rows ingested)."""
    stage = tempfile.mkdtemp(prefix="bench_ingest_src_")
    runs, n_rows = [], 0
    try:
        # file stream sources take a directory: stage the table via symlink
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(stage, "events.parquet"),
        )
        spec = SourceSpec(kind="file", format="parquet", path=stage, schema=_EVENTS_DDL)
        # Warm-up run, SAME protocol as time_query (r10 profile): the
        # process's first streaming query pays ~2.5-3 s of streaming-
        # engine JIT (progress API durationMs: addBatch 3.0 s/0.4 s and
        # queryPlanning 576/26 ms cold vs warm on identical input), so
        # without this the median-of-3 straddles warm-up state, not
        # ingest cost. WAL/commit fsync is NOT the variance source
        # (walCommit+commitOffsets ≈ 100 ms of a 650 ms warmed trigger).
        for _ in range(N_RUNS + 1):
            work = tempfile.mkdtemp(prefix="bench_ingest_")
            try:
                out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
                t0 = time.perf_counter()
                run_ingest(spark, spec, out, ckpt)
                runs.append(time.perf_counter() - t0)
                n_rows = spark.read.parquet(out).count()
            finally:
                shutil.rmtree(work, ignore_errors=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    # runs[0] is the warm-up sample — timed for the log but excluded
    # from the median, exactly like time_query's warm-up execution
    return statistics.median(runs[1:]), n_rows


# ---------------------------------------------------------------------------
# Similarity/dedup scaling probe: the "bucketed, not all-pairs" claim as a
# MEASURED curve, not just a plan assertion. Both the LSH ANN and the
# embedding near-dup cascade run on a 1x and a 10x synthetic gaussian
# corpus (same generator, same distribution); per the operators' scale
# contract, bits-per-table grow ~log2(n) between the two sizes so bucket
# sizes stay bounded. All-pairs behavior would show ~100x wall-clock at
# 10x rows; the bucketed cascades should stay near ~10x (linear in
# candidates). Results go to a separate "scaling" field — not part of the
# headline total, so the total stays comparable across rounds.
SCALE_N1 = 2_000
SCALE_FACTOR = 10
SCALE_DEDUP_TABLES = 12
# Candidate count per bucket is QUADRATIC in bucket size, so constant-ish
# bucket size (~62-78 rows) is what makes total candidates linear in n:
# 1x: 12 tables x 32 buckets x C(62,2)  ~ 0.7M pairs
# 10x: 12 tables x 256 buckets x C(78,2) ~ 9.2M pairs (~12x, not 100x)
SCALE_DEDUP_BITS_1X = 5
SCALE_DEDUP_BITS_10X = 8


def scale_planes_for(bits: int) -> list:
    """Seed-7 hyperplane family shared by the per-round 10x probes AND
    tools/scale100_probe.py — ONE definition so the 1x/10x/100x candidate
    series measures the same LSH family (r9 review: the probe carried a
    textual copy that could silently drift from this one)."""
    import numpy as np

    return (
        np.random.RandomState(7).randn(SCALE_DEDUP_TABLES, bits, 64).tolist()
    )


def scale_load_embeddings(spark, d: str):
    """vec_id + double-vector view of a synthetic embeddings dir."""
    from kafka_hadoop_consumer_spark.queries.similarity import _vec_double

    return spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
        "vec_id", _vec_double().alias("v")
    )


def scale_lsh_candidate_pairs(ed, q) -> int:
    """DISTINCT (q_id, vec_id) candidate pairs the ANN cosine-verifies —
    mirrors lsh_topk's candidate stage (similarity.py lsh_topk: corpus
    bucketed per table, each query probes its bucket + the k Hamming-1
    neighbors) through the operator's OWN _sim_lsh_bits/_sim_planes/
    _table_buckets helpers, so the count measures the same LSH family
    the timed runs use. Noise-free (no wall-clock), so the scaling wall
    for lsh_topk has an invariant that distinguishes a real candidate
    blow-up from a cold-cache artifact (r9 ADVICE: the wall ratio alone
    read as a regression on a cold box).

    Same-math, not bit-identical (r10 ADVICE): this mirror buckets via
    the interpreted _table_buckets HOF while lsh_topk buckets via its
    numpy/Arrow UDF — same planes and bit convention, but a different FP
    summation order, so a dot product landing EXACTLY at 0.0 could
    bucket differently. Acceptable for a candidate-count probe; if
    exactness ever matters, reuse lsh_topk's _buckets pandas UDF here."""
    from pyspark.sql import functions as F

    from kafka_hadoop_consumer_spark.queries.similarity import (
        _sim_lsh_bits,
        _sim_planes,
        _table_buckets,
    )

    k = _sim_lsh_bits(ed.count())
    planes = _sim_planes(k)

    def buckets(df, idc, vc):
        return df.select(
            idc,
            F.posexplode(
                F.array(*_table_buckets(F.col(vc), planes))
            ).alias("l", "bucket"),
        )

    probes = buckets(q, "q_id", "qv").select(
        "q_id",
        "l",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("int")
                    for j in range(k)
                ],
            )
        ).alias("bucket"),
    )
    return (
        buckets(ed, "vec_id", "v")
        .join(F.broadcast(probes), ["l", "bucket"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
        .count()
    )


def scale_minhash_candidate_pairs(docs) -> int:
    """DISTINCT candidate pairs the MinHash cascade exact-Jaccard-verifies
    (band self-join + distinct, exactly what the operator does). A pair
    colliding in several bands counts once — per-band Σ C(bucket,2)
    would overcount it once per band. Shared by the 1x/10x per-round
    probe AND tools/scale100_probe.py --minhash so the three-point
    candidate series measures ONE definition (same policy as
    scale_candidate_pairs for the embedding cascade)."""
    from pyspark.sql import functions as F

    from kafka_hadoop_consumer_spark.queries.dedup import (
        minhash_banded,
        minhash_signatures,
        shingles,
    )

    # persist: the self-join would otherwise run shingling + signatures
    # + banding once per side
    banded = minhash_banded(minhash_signatures(shingles(docs))).persist()
    try:
        return (
            banded.alias("a")
            .join(
                banded.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
            )
            .distinct()
            .count()
        )
    finally:
        banded.unpersist()


def scale_candidate_pairs(ed, bits: int) -> int:
    """DISTINCT candidate pairs the embedding-dedup cascade
    cosine-verifies — the same (table, bucket) self-join + distinct the
    operator itself performs. A pair colliding in multiple tables counts
    once; Σ C(bucket,2) per table would overcount multi-table collisions
    relative to the verified set. This count is noise-free (no
    wall-clock), so it is the headline scaling invariant for the
    embedding-dedup probe (shared with tools/scale100_probe.py)."""
    from pyspark.sql import functions as F

    from kafka_hadoop_consumer_spark.queries.similarity import _table_buckets

    # persist: the self-join would otherwise recompute the full
    # hyperplane bucketing once per side
    bucketed = ed.select(
        "vec_id",
        F.posexplode(
            F.array(*_table_buckets(F.col("v"), scale_planes_for(bits)))
        ).alias("l", "bucket"),
    ).persist()
    try:
        return (
            bucketed.alias("a")
            .join(
                bucketed.alias("b"),
                (F.col("a.l") == F.col("b.l"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("v1"),
                F.col("b.vec_id").alias("v2"),
            )
            .distinct()
            .count()
        )
    finally:
        bucketed.unpersist()


def _synth_embeddings(spark, n: int, out_dir: str) -> None:
    """Deterministic gaussian corpus shaped like the embeddings fixture
    (vec_id int64, label int32, embedding array<float>)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(2024)
    V = rng.randn(n, 64).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "label": (np.arange(n) % 10).astype("int32"),
            "embedding": list(V),
        }
    )
    spark.createDataFrame(pdf).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def _synth_documents(spark, n: int, out_dir: str) -> None:
    """Deterministic word-salad corpus shaped like the documents fixture,
    with every 10th doc a 1-token edit of its predecessor (planted
    near-dups whose shared runs the substring miner must find; the
    40-word vocabulary makes accidental 8-gram collisions negligible)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    vocab = np.array([f"w{i}" for i in range(40)])
    texts = [" ".join(rng.choice(vocab, size=80)) for _ in range(n)]
    for i in range(10, n, 10):
        # positional edit (not str.replace: "w3" is a prefix of "w30"/"w31",
        # and the token may occur earlier — a substring replace would move
        # the planted edit away from position 40)
        toks = texts[i - 1].split(" ")
        toks[40] = "EDIT"
        texts[i] = " ".join(toks)
    pdf = pd.DataFrame({"doc_id": np.arange(n, dtype="int64"), "text": texts})
    spark.createDataFrame(pdf).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


# The 1x/10x probe corpora are DETERMINISTIC (fixed RandomState seeds),
# so re-synthesizing them every bench run is pure untimed driver overhead
# (4 parquet writes). They are cached under /tmp in a directory keyed on
# n and a hash of both generators' source, so editing a generator lands
# in a fresh directory. This caches probe INPUT, never any query output
# or intermediate — results are computed from the parquet every run.
_PROBE_CACHE_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_probe_cache")


def _probe_corpus_dir(spark, n: int) -> str:
    """Return a directory holding the deterministic n-row synthetic
    embeddings+documents corpora, synthesizing on first use. A build
    goes into a private temp dir beside the cache and is renamed into
    place, so an interrupted or concurrent build never leaves a partial
    corpus under the final name."""
    src = "".join(inspect.getsource(g) for g in (_synth_embeddings, _synth_documents))
    tag = hashlib.sha256(f"{n}\0{src}".encode()).hexdigest()[:16]
    d = os.path.join(_PROBE_CACHE_ROOT, f"n{n}-{tag}")
    if os.path.isdir(d):
        return d
    os.makedirs(_PROBE_CACHE_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".n{n}-{tag}-", dir=_PROBE_CACHE_ROOT)
    try:
        _synth_embeddings(spark, n, tmp)
        _synth_documents(spark, n, tmp)
        try:
            os.replace(tmp, d)
        except OSError:
            # a concurrent run renamed its (identical) build in first
            if not os.path.isdir(d):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return d


def _time_scaling(spark) -> dict:
    from pyspark.sql import functions as F

    from kafka_hadoop_consumer_spark.queries.dedup import (
        OCC_CAP,
        kept_positions,
        minhash_near_dup_pairs,
        verbatim_runs,
    )
    from kafka_hadoop_consumer_spark.queries.similarity import (
        embedding_near_dup_pairs,
        lsh_topk,
    )

    def load_ed(d):
        return scale_load_embeddings(spark, d)

    # Direct operator calls bypass the registry's _on_query_start release
    # hook, so each probe's persist_tracked pins (bucketed, lexr, deg, ...)
    # would otherwise accumulate across the ~10 runs and skew the later
    # cc_run timings with cache pressure (r8 advice).
    from kafka_hadoop_consumer_spark.queries.registry import release_tracked

    def timed(build):
        materialize(build())  # warm-up
        release_tracked()
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(build())
            runs.append(time.perf_counter() - t0)
            release_tracked()
        return round(statistics.median(runs), 3)

    out = {}
    # cached deterministic corpora (see _probe_corpus_dir) — the probes
    # read the same parquet bytes whether freshly built or cached
    d1 = _probe_corpus_dir(spark, SCALE_N1)
    d10 = _probe_corpus_dir(spark, SCALE_N1 * SCALE_FACTOR)

    def runs(d):
        return verbatim_runs(
            spark.read.parquet(os.path.join(d, "documents.parquet"))
        )

    def lsh_sides(d):
        ed = load_ed(d)
        q = ed.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
        )
        return ed, q

    def lsh(d):
        return lsh_topk(*lsh_sides(d))

    def dedup(d, bits):
        return embedding_near_dup_pairs(load_ed(d), scale_planes_for(bits))

    def n_candidate_pairs(d, bits):
        return scale_candidate_pairs(load_ed(d), bits)

    for name, b1, b10 in (
        ("q_sim_lsh_topk", lambda: lsh(d1), lambda: lsh(d10)),
        ("q_dedup_substring", lambda: runs(d1), lambda: runs(d10)),
    ):
        t1, t10 = timed(b1), timed(b10)
        out[name] = {
            "n_1x": SCALE_N1,
            "n_10x": SCALE_N1 * SCALE_FACTOR,
            "sec_1x": t1,
            "sec_10x": t10,
            "ratio": round(t10 / t1, 2) if t1 else None,
        }
    # wall-clock-free invariant for the ANN wall (r9 ADVICE): the
    # verified candidate set must grow sublinearly (bits ~log2(n)
    # re-tuning bounds bucket size), whatever the box's cache state
    lp1 = scale_lsh_candidate_pairs(*lsh_sides(d1))
    lp10 = scale_lsh_candidate_pairs(*lsh_sides(d10))
    out["q_sim_lsh_topk"].update(
        candidate_pairs_1x=lp1,
        candidate_pairs_10x=lp10,
        ratio_pairs=round(lp10 / lp1, 2) if lp1 else None,
    )

    # Flagship near-dedup scaling: the full MinHash+LSH+verify cascade
    # on the same 1x/10x corpora, plus the candidate-pair count
    # (Σ C(bucket,2) over (band, bucket) groups) — constant-size
    # signatures mean candidates track true near-dup pairs (planted
    # linearly: one per 10 docs), not corpus size squared.
    def mh(d):
        return minhash_near_dup_pairs(
            spark.read.parquet(os.path.join(d, "documents.parquet"))
        )

    def mh_candidates(d):
        return scale_minhash_candidate_pairs(
            spark.read.parquet(os.path.join(d, "documents.parquet"))
        )

    t1, t10 = timed(lambda: mh(d1)), timed(lambda: mh(d10))
    mh_p1, mh_p10 = mh_candidates(d1), mh_candidates(d10)
    out["q_dedup_minhash"] = {
        "n_1x": SCALE_N1,
        "n_10x": SCALE_N1 * SCALE_FACTOR,
        "sec_1x": t1,
        "sec_10x": t10,
        "ratio": round(t10 / t1, 2) if t1 else None,
        "candidate_pairs_1x": mh_p1,
        "candidate_pairs_10x": mh_p10,
        "ratio_pairs": round(mh_p10 / mh_p1, 2) if mh_p1 else None,
    }

    # OCC_CAP accounting (VERDICT r4 item 4): how many df-cap-surviving
    # positions the within-doc occurrence budget drops, and the matched
    # positions that actually reach the pair join — the pair-growth
    # evidence behind the substring wall-clock ratio. The planted
    # near-dups grow linearly with n (one pair per 10 docs), so matched
    # positions should scale ~10x, not ~100x.
    def occ_stats(d):
        kp = kept_positions(
            spark.read.parquet(os.path.join(d, "documents.parquet"))
        )
        row = kp.select(
            F.sum((F.col("occ") > OCC_CAP).cast("long")).alias("dropped"),
            F.sum((F.col("occ") <= OCC_CAP).cast("long")).alias("kept"),
        ).first()
        return int(row["dropped"] or 0), int(row["kept"] or 0)

    drop1, kept1 = occ_stats(d1)
    drop10, kept10 = occ_stats(d10)
    out["q_dedup_substring"].update(
        occ_cap_dropped_1x=drop1,
        occ_cap_dropped_10x=drop10,
        joinable_positions_1x=kept1,
        joinable_positions_10x=kept10,
    )

    # Embedding near-dup: report BOTH 10x points (VERDICT r3 item 4) —
    # same-config (bits=1x's, the true like-for-like scaling ratio) and
    # re-tuned (bits grown ~log2(n), the production posture). The
    # HEADLINE invariants here are the candidate-pair RATIOS (VERDICT
    # r5 item 5): pair counts are deterministic and noise-free, where
    # the wall-clock ratio on a shared box moved 1.83×→4.17× between
    # rounds on identical code. Wall clocks stay recorded as context.
    t1 = timed(lambda: dedup(d1, SCALE_DEDUP_BITS_1X))
    t10_same = timed(lambda: dedup(d10, SCALE_DEDUP_BITS_1X))
    t10_tuned = timed(lambda: dedup(d10, SCALE_DEDUP_BITS_10X))
    p1 = n_candidate_pairs(d1, SCALE_DEDUP_BITS_1X)
    p10_same = n_candidate_pairs(d10, SCALE_DEDUP_BITS_1X)
    p10_tuned = n_candidate_pairs(d10, SCALE_DEDUP_BITS_10X)
    out["q_dedup_embedding"] = {
        "n_1x": SCALE_N1,
        "n_10x": SCALE_N1 * SCALE_FACTOR,
        "sec_1x": t1,
        "sec_10x_same_config": t10_same,
        "sec_10x_retuned": t10_tuned,
        "bits_1x": SCALE_DEDUP_BITS_1X,
        "bits_10x_retuned": SCALE_DEDUP_BITS_10X,
        "candidate_pairs_1x": p1,
        "candidate_pairs_10x_same_config": p10_same,
        "candidate_pairs_10x_retuned": p10_tuned,
        "ratio_pairs_same_config": round(p10_same / p1, 2) if p1 else None,
        "ratio_pairs_retuned": round(p10_tuned / p1, 2) if p1 else None,
        "ratio_wall_same_config": round(t10_same / t1, 2) if t1 else None,
        "ratio_wall_retuned": round(t10_tuned / t1, 2) if t1 else None,
    }

    # Histogram-split scaling (r6): the stump's candidate-threshold
    # count — distinct (feature, bin) pairs — is bounded by the bin
    # GRID, not corpus size (the XGBoost/Spark-ML discipline its
    # docstring claims). ratio_bins is the noise-free invariant: at
    # 10x gaussian rows the grid only densifies toward the tails
    # (sub-linear, ~1.x), where per-row candidate generation would
    # show ~10x. Wall-clock tracks the linear corpus scan.
    from kafka_hadoop_consumer_spark.queries.quality import (
        _stump_points,
        q_ml_decision_stump,
    )

    def stump_bins(d):
        return (
            _stump_points(spark, d).select("feat", "bin").distinct().count()
        )

    t1 = timed(lambda: q_ml_decision_stump(spark, d1))
    t10 = timed(lambda: q_ml_decision_stump(spark, d10))
    b1x, b10x = stump_bins(d1), stump_bins(d10)
    out["q_ml_decision_stump"] = {
        "n_1x": SCALE_N1,
        "n_10x": SCALE_N1 * SCALE_FACTOR,
        "sec_1x": t1,
        "sec_10x": t10,
        "ratio": round(t10 / t1, 2) if t1 else None,
        "bins_1x": b1x,
        "bins_10x": b10x,
        "ratio_bins": round(b10x / b1x, 2) if b1x else None,
    }

    # CC round-scaling (r6 verdict item 5): the large-star/small-star
    # loop on a PATH graph — maximum diameter per node count, the
    # adversarial case where diameter-round CC (q_dedup_clusters'
    # shape) needs n rounds but log-round CC must stay ~log2(V). The
    # invariant is ROUNDS-TO-FIXPOINT (deterministic, noise-free);
    # wall-clock from a single run is context only, so no
    # warm-up/median here — rounds don't jitter.
    from kafka_hadoop_consumer_spark.queries.graph import (
        CC_LAST_EDGE_COUNTS,
        CC_LAST_ROUNDS,
        cc_from_edges,
    )

    def cc_run(n: int, key: str) -> float:
        edges = spark.range(1, n).select(
            (F.col("id") - 1).alias("u"), F.col("id").alias("v")
        )
        t0 = time.perf_counter()
        materialize(cc_from_edges(edges, key=key, max_rounds=40))
        wall = round(time.perf_counter() - t0, 3)
        release_tracked()
        return wall

    # Hybrid-search scaling (r7 verdict item: it joined the headline
    # set without the scale evidence every other promoted key
    # carries). Same hybrid_search core as q_e2e_hybrid_search, with
    # vocabulary-matched query terms over the synthetic corpora. Two
    # invariants: wall ratio ~linear (every stage is one corpus scan
    # + per-query windows over <=POOL rows), and the PRUNED token
    # stream — the rows that actually reach the BM25 explode-output
    # shuffle — stays the query-term fraction of the corpus (6 of 40
    # vocab words), evidencing "the IN-filter prunes BEFORE the
    # shuffle" with row counts, not prose.
    from kafka_hadoop_consumer_spark.queries.similarity import (
        hybrid_search,
    )

    hyb_queries = {
        "hq1": ("w1", "w2"),
        "hq2": ("w3", "w4"),
        "hq3": ("w5", "w6"),
    }
    hyb_terms = [t for ts in hyb_queries.values() for t in ts]

    def load_docs(d):
        # synth docs lack the metadata cols the hydration projects
        return (
            spark.read.parquet(os.path.join(d, "documents.parquet"))
            .withColumn("lang", F.lit("en"))
            .withColumn("source", F.lit("synth"))
        )

    def hyb(d):
        return hybrid_search(spark, load_docs(d), spark.read.parquet(
            os.path.join(d, "embeddings.parquet")), hyb_queries)

    def token_counts(d):
        """(total exploded tokens, tokens surviving the term
        IN-filter) — the second number is the BM25 stage's shuffle
        input row count."""
        row = (
            load_docs(d)
            .select(F.explode(F.split("text", " ")).alias("term"))
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.count(
                    F.when(F.col("term").isin(*hyb_terms), 1)
                ).alias("pruned"),
            )
            .first()
        )
        return int(row["total"]), int(row["pruned"])

    hy_t1, hy_t10 = timed(lambda: hyb(d1)), timed(lambda: hyb(d10))
    tot1, pr1 = token_counts(d1)
    tot10, pr10 = token_counts(d10)
    out["q_e2e_hybrid_search"] = {
        "n_1x": SCALE_N1,
        "n_10x": SCALE_N1 * SCALE_FACTOR,
        "sec_1x": hy_t1,
        "sec_10x": hy_t10,
        "ratio": round(hy_t10 / hy_t1, 2) if hy_t1 else None,
        "tokens_total_1x": tot1,
        "tokens_after_in_filter_1x": pr1,
        "tokens_total_10x": tot10,
        "tokens_after_in_filter_10x": pr10,
        "ratio_pruned_tokens": round(pr10 / pr1, 2) if pr1 else None,
        "prune_fraction_10x": round(pr10 / tot10, 3) if tot10 else None,
    }

    # Triangle scaling (r8): the most expensive bench extra gets the
    # same receipts as the promoted keys. Graph = k disjoint 8-node
    # cliques (k scales 10x) PLUS a disjoint star whose hub has
    # n/2 leaves — the adversarial hub that makes unoriented wedge
    # enumeration quadratic. Invariants (noise-free row counts):
    # enumerated wedges track triangles EXACTLY (every clique wedge
    # closes, the hub emits zero because orientation gives its
    # leaves out-degree 1 and the hub out-degree 0), so
    # ratio_wedges == 10 at 10x nodes while the unoriented
    # per-center probe count Σ C(deg,2) — also measured — grows
    # ~100x, dominated by C(n/2, 2) at the hub. Wall-clock is
    # context; the counts are the claim.
    from kafka_hadoop_consumer_spark.queries.graph import (
        triangles_from_edges,
    )

    CLIQUE = 8
    clique_pairs = F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
        for i in range(CLIQUE) for j in range(i + 1, CLIQUE)
    ])

    def tri_edges(n_nodes: int):
        g = spark.range(n_nodes // CLIQUE).select(
            (F.col("id") * CLIQUE).alias("base"),
            F.explode(clique_pairs).alias("p"),
        )
        cliques = g.select(
            (F.col("base") + F.col("p.i")).alias("u"),
            (F.col("base") + F.col("p.j")).alias("v"),
        )
        hub = F.lit(10 * n_nodes)  # id above every leaf -> u < v holds
        star = spark.range(n_nodes, n_nodes + n_nodes // 2).select(
            F.col("id").alias("u"), hub.alias("v")
        )
        return cliques.unionAll(star)

    def tri_run(n_nodes: int):
        tri, deg, wedges = triangles_from_edges(tri_edges(n_nodes))
        t0 = time.perf_counter()
        n_tri = tri.count()
        wall = round(time.perf_counter() - t0, 3)
        unoriented = deg.agg(
            F.sum(F.expr("d * (d - 1) / 2")).cast("long")
        ).first()[0]
        n_wedges = wedges.count()
        release_tracked()
        return wall, n_tri, n_wedges, int(unoriented)

    tw1, tc1, wc1, un1 = tri_run(SCALE_N1)
    tw10, tc10, wc10, un10 = tri_run(SCALE_N1 * SCALE_FACTOR)
    out["q_graph_triangles"] = {
        "graph": f"disjoint {CLIQUE}-cliques + (n/2)-leaf hub star",
        "n_1x": SCALE_N1,
        "n_10x": SCALE_N1 * SCALE_FACTOR,
        "sec_1x": tw1,
        "sec_10x": tw10,
        "triangles_1x": tc1,
        "triangles_10x": tc10,
        "wedges_1x": wc1,
        "wedges_10x": wc10,
        "unoriented_probes_1x": un1,
        "unoriented_probes_10x": un10,
        "ratio_wedges": round(wc10 / wc1, 2) if wc1 else None,
        "ratio_unoriented_probes": round(un10 / un1, 2) if un1 else None,
    }

    cc_t1 = cc_run(SCALE_N1, "bench_cc_1x")
    cc_t10 = cc_run(SCALE_N1 * SCALE_FACTOR, "bench_cc_10x")
    r1x, r10x = CC_LAST_ROUNDS["bench_cc_1x"], CC_LAST_ROUNDS["bench_cc_10x"]
    out["q_graph_cc"] = {
        "graph": "path (diameter = n-1)",
        "n_1x": SCALE_N1,
        "n_10x": SCALE_N1 * SCALE_FACTOR,
        "sec_1x": cc_t1,
        "sec_10x": cc_t10,
        "rounds_1x": r1x,
        "rounds_10x": r10x,
        "ratio_rounds": round(r10x / r1x, 2) if r1x else None,
        "edge_counts_per_round_10x": CC_LAST_EDGE_COUNTS["bench_cc_10x"],
    }

    # Min-label round-scaling (r8 verdict item 5): q_dedup_clusters'
    # diameter-round CC previously capped at 16 rounds on an
    # ASSERTED "near-dup components are shallow" claim. This probe
    # makes the cap data: planted near-dup chains (doc i ~ doc i+1
    # only → one component, diameter = n-1) at two depths, recording
    # rounds-to-fixpoint — the invariant is rounds == diameter + 1
    # confirm round, so the old cap silently mislabeled any chain
    # deeper than 16 (the operator now raises past its cap instead).
    from kafka_hadoop_consumer_spark.queries.dedup import (
        MINLABEL_LAST_ROUNDS,
        min_label_components,
    )

    def chain_rounds(diam: int) -> float:
        e = spark.range(diam).select(
            F.col("id").alias("doc1"), (F.col("id") + 1).alias("doc2")
        )
        e = e.union(e.select(
            F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2")
        ))
        t0 = time.perf_counter()
        labels = min_label_components(e, key=f"bench_chain_{diam}")
        # per-round localCheckpoints make the fixpoint loop eager, so
        # the operator's work is done here; the invariant scan below
        # stays OUTSIDE the window (cc_run/tri_run convention)
        wall = round(time.perf_counter() - t0, 3)
        not_min = labels.where(F.col("label") != 0).count()
        release_tracked()
        assert not_min == 0, (
            f"chain diam={diam}: {not_min} nodes never reached the "
            "component min — propagation broke"
        )
        return wall

    DIAM_A, DIAM_B = 5, 20
    ml_ta, ml_tb = chain_rounds(DIAM_A), chain_rounds(DIAM_B)
    ml_ra = MINLABEL_LAST_ROUNDS[f"bench_chain_{DIAM_A}"]
    ml_rb = MINLABEL_LAST_ROUNDS[f"bench_chain_{DIAM_B}"]
    out["q_dedup_clusters"] = {
        "graph": "planted near-dup chain (diameter = n-1)",
        "diam_a": DIAM_A,
        "rounds_a": ml_ra,
        "sec_a": ml_ta,
        "diam_b": DIAM_B,
        "rounds_b": ml_rb,
        "sec_b": ml_tb,
        # rounds = diameter + 1 confirm -> 21/6 = 3.5 at 4x depth
        "ratio_rounds": round(ml_rb / ml_ra, 2) if ml_ra else None,
    }
    return out


# ---------------------------------------------------------------------------
# Skew-join probe: the "salting for skew" claim measured, not asserted.
# A synthetic fact with one hot key (50% of rows) aggregated after joining
# a small dim, three ways: naive SMJ with AQE skew-split disabled (the
# thing that dies at scale), the explicit salted_join operator (AQE off —
# pure operator effect), and plain join with AQE skew handling on (the
# runtime fix). Reported under "skew_join"; not part of the headline total.
#
# Wall-clock on local[32] understates the claim: with 32 cores and one hot
# task, the other 31 cores absorb the non-hot work, so total time barely
# moves. The metric that scales to a 1000-executor cluster is the
# STRAGGLER — the longest single task (REST status API, max task duration
# over the stages each run completes): a job is as slow as its slowest
# task, and salting's whole point is to cut that maximum.
SKEW_ROWS = 8_000_000
SKEW_HOT_FRACTION = 0.5
SKEW_N_KEYS = 1_000


def _rest_base(spark) -> str | None:
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    return f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}"


def _completed_stage_ids(base: str) -> set[int] | None:
    """None on any REST failure — the probe then skips the straggler
    metric for that run instead of killing the whole bench."""
    import urllib.error
    import urllib.request

    try:
        with urllib.request.urlopen(
            f"{base}/stages?status=complete", timeout=10
        ) as r:
            return {s["stageId"] for s in json.load(r)}
    except (urllib.error.URLError, urllib.error.HTTPError, OSError, ValueError):
        return None


def _max_task_ms(base: str, stage_ids: set[int]) -> float | None:
    """Longest task duration (ms) across the given completed stages."""
    import urllib.error
    import urllib.request

    mx = None
    for sid in stage_ids:
        url = f"{base}/stages/{sid}/0/taskSummary?quantiles=1.0"
        try:
            with urllib.request.urlopen(url, timeout=10) as r:
                summary = json.load(r)
        except (urllib.error.URLError, urllib.error.HTTPError, OSError):
            continue  # stage with no task data (skipped/reused)
        dur = summary.get("duration") or []
        if dur:
            mx = max(mx or 0.0, float(dur[0]))
    return mx


def _time_skew_join(spark) -> dict:
    from pyspark.sql import functions as F

    from kafka_hadoop_consumer_spark.operators.salting import salted_join

    fact = spark.range(SKEW_ROWS).select(
        F.when(
            F.col("id") % int(1 / SKEW_HOT_FRACTION) == 0, F.lit(0)
        )
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(SKEW_N_KEYS)))
        .cast("long")
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    dim = spark.range(SKEW_N_KEYS).select(
        F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id") % 10).alias("grp")
    )
    # force the shuffle path: a broadcast dim would bypass skew entirely
    # and measure nothing
    no_broadcast = {"spark.sql.autoBroadcastJoinThreshold": "-1",
                    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}

    rest = _rest_base(spark)

    def run(extra_conf: dict, build):
        """(median wall sec, median straggler ms, per-run straggler list).
        Each variant runs 3× after a warm-up; the straggler is computed
        PER timed run (max single-task over that run's stages) and the
        MEDIAN across the 3 runs is reported (r5 post-mortem: a min over
        2 runs let one lucky/unlucky run define the recorded number, and
        the recorded file contradicted a clean re-measurement). The raw
        per-run maxima are kept so bench_detail.json shows the spread.
        Stragglers are None when the UI/REST API is unavailable."""
        keys = list(extra_conf) + list(no_broadcast)
        saved = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k, v in {**no_broadcast, **extra_conf}.items():
                spark.conf.set(k, v)
            build().write.format("noop").mode("overwrite").save()  # warm
            runs, stragglers = [], []
            for _ in range(3):
                before = _completed_stage_ids(rest) if rest else None
                t0 = time.perf_counter()
                build().write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
                if rest and before is not None:
                    after = _completed_stage_ids(rest)
                    if after is not None:
                        mx = _max_task_ms(rest, after - before)
                        if mx is not None:
                            stragglers.append(mx)
            straggler = (
                round(statistics.median(stragglers), 1) if stragglers else None
            )
            return round(statistics.median(runs), 3), straggler, stragglers
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def agg(joined):
        return joined.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 2).alias("s")
        )

    aqe_off = {"spark.sql.adaptive.skewJoin.enabled": "false"}
    naive_sec, naive_straggler, naive_runs = run(
        aqe_off, lambda: agg(fact.join(dim, "k"))
    )
    salted_sec, salted_straggler, salted_runs = run(
        aqe_off, lambda: agg(salted_join(fact, dim, on="k", n_salts=32))
    )
    aqe_sec, aqe_straggler, aqe_runs = run(
        {"spark.sql.adaptive.skewJoin.enabled": "true"},
        lambda: agg(fact.join(dim, "k")),
    )
    # Tuned-AQE point (VERDICT r4 item 6): two defaults stop the split at
    # local scale, and both are thresholds, not capability gaps. (1) The
    # hot partition's SHUFFLE bytes are ~10 MB (4M near-constant rows
    # lz4-compress hard), under even a lowered 16 MB skew threshold —
    # so the threshold must sit below that, 4 MB here (256 MB default is
    # sized for cluster-scale partitions). (2) OptimizeSkewedJoin declines
    # any split that introduces an extra shuffle — the downstream groupBy
    # would have reused the join's hash partitioning — so
    # forceOptimizeSkewedJoin accepts that trade, exactly the documented
    # knob for agg-after-join shapes. Measured on the r5 boot: max-task
    # 965 ms vs 1517 ms naive (salted: 625 ms).
    aqe_tuned_sec, aqe_tuned_straggler, aqe_tuned_runs = run(
        {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
            "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        },
        lambda: agg(fact.join(dim, "k")),
    )
    return {
        "rows": SKEW_ROWS,
        "hot_fraction": SKEW_HOT_FRACTION,
        "naive_no_aqe_sec": naive_sec,
        "salted_no_aqe_sec": salted_sec,
        "aqe_skew_sec": aqe_sec,
        "aqe_tuned_sec": aqe_tuned_sec,
        "naive_max_task_ms": naive_straggler,
        "salted_max_task_ms": salted_straggler,
        "aqe_skew_max_task_ms": aqe_straggler,
        "aqe_tuned_max_task_ms": aqe_tuned_straggler,
        "aqe_tuned_threshold": "4m+force",
        # raw per-run maxima (ms) — the spread behind the medians above;
        # filtered out of the compact final line, kept in bench_detail.json
        "max_task_ms_runs": {
            "naive": naive_runs,
            "salted": salted_runs,
            "aqe_skew": aqe_runs,
            "aqe_tuned": aqe_tuned_runs,
        },
    }


def time_query(spark, name: str, sf_dir: str) -> float:
    """Warm-up once, then median of N_RUNS materializations — the ONE
    timing protocol for headline and extras alike (keep them sharing
    this helper so the two sections stay comparable)."""
    fn = QUERIES[name]
    materialize(fn(spark, sf_dir))  # warm-up
    runs = []
    for _ in range(N_RUNS):
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # UI on (free port) so the skew probe can read per-task straggler
    # times off the REST status API; overhead is in-memory listener state
    # only (no event log), negligible vs multi-second queries.
    spark = get_spark(
        app_name="bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "5000",
        },
    )

    # UNTIMED process warm-up (r13 verdict item 3): the first timed key
    # used to absorb the JVM's first-position JIT/codegen cost — the
    # driver's first pass charged q_agg_groupby 2.49 s where its warmed
    # cost is ~0.3-0.6 s (BASELINE.md documents the ~1.9× first-position
    # factor), polluting the round-over-round comparison. One throwaway
    # execution of a representative mix (codegen hash agg, broadcast
    # join, Arrow pandas UDF, window) warms those paths before ANY timed
    # run. Additions-only: the timed set, per-key protocol (warm-up +
    # median of 3, noop sink) and the final JSON line are unchanged.
    for _w in ("q_agg_groupby", "q_join_multiway", "q_udf_scalar",
               "q_win_topk_group"):
        spark.sparkContext.setJobDescription(f"bench warmup {_w} (untimed)")
        materialize(QUERIES[_w](spark, sf_dir))
    spark.sparkContext.setJobDescription(None)

    timings = {name: time_query(spark, name, sf_dir) for name in HEADLINE}

    ingest_sec, ingest_rows = time_ingest(spark, sf_dir)
    timings["s_ingest_e2e"] = round(ingest_sec, 3)

    # Later-round additions, timed OUTSIDE the headline total so the
    # total stays comparable across rounds (same policy as
    # scaling_10x/skew_join): the MG heavy-hitter plan, the near-dup-graph
    # PageRank, PQ ANN, the Poisson bootstrap, and the dedup/text/graph
    # extras. (q_graph_cc and q_e2e_hybrid_search were timed here through
    # r6; they are HEADLINE entries from r7 on.)
    extras = {
        name: time_query(spark, name, sf_dir)
        for name in ("q_text_heavy_hitters", "q_graph_pagerank",
                     "q_sim_pq_topk", "q_stats_bootstrap",
                     "q_dedup_substring", "q_graph_triangles",
                     "q_dedup_semdedup", "q_text_bpe_encode",
                     "q_e2e_dedup_cascade")
    }

    scaling = _time_scaling(spark)
    skew = _time_skew_join(spark)

    # Control rerun (VERDICT r3 item 5): a second pass over the headline
    # set at the END of the bench. Ambient CPU contention is the dominant
    # variance source on the shared 32-core box (BASELINE.md variance
    # protocol: same code moved the total ~1.5x boot-to-boot); two samples
    # an entire bench apart let the reader separate contention from real
    # regressions IN the recorded file.
    control = {name: time_query(spark, name, sf_dir) for name in HEADLINE}
    control["s_ingest_e2e"] = timings["s_ingest_e2e"]  # FS-bound; not re-run

    detail = {
        "metric": "headline query wall-clock (median of 3, noop sink)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "control_rerun": {
            "value": round(sum(control.values()), 3),
            "queries": control,
        },
        "ingest_rows_per_sec": round(ingest_rows / ingest_sec),
        "r3_ops": extras,
        "scaling_10x": scaling,
        "skew_join": skew,
        "sf": float(sf),
    }
    # One-time 100x ANN stress receipt (r8 verdict item 8): recorded by
    # `python tools/scale100_probe.py` into a committed sidecar (the
    # ~2-4 min probe is not worth re-paying per round) and embedded
    # verbatim — its "recorded" date marks it as a prior measurement,
    # not this run's.
    path_100x = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_100x.json"
    )
    if os.path.exists(path_100x):
        with open(path_100x) as f:
            detail["scaling_100x_recorded"] = json.load(f)
    # Full detail to a committed sidecar + stderr; the driver's tail buffer
    # only holds ~2000 chars, so everything stderr/diagnostic prints BEFORE
    # the final compact stdout line (r4 post-mortem: control_rerun grew the
    # single JSON line past the buffer and the driver recorded parsed:null).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=2)
    print(json.dumps(detail), file=sys.stderr)
    print(format_final_line(detail), flush=True)


# The driver captures only the last ~2000 chars of combined output and
# parses the final JSON line it finds there. Keep the final line compact
# and well under that budget (guard + fallback below, locked by a test).
FINAL_LINE_BUDGET = 1600


def format_final_line(detail: dict) -> str:
    """Compact one-line JSON for the driver: headline numbers verbatim,
    everything else summarized (full payload lives in bench_detail.json).
    Falls back to a minimal line if a pathological payload overflows."""
    control = detail.get("control_rerun", {})
    ratios = [
        sec / detail["queries"][k]
        for k, sec in control.get("queries", {}).items()
        if detail["queries"].get(k)
    ]
    # ratio keys only, "ratio_" prefix stripped (bare "ratio" -> "wall"):
    # the full names live in bench_detail.json and the final line runs
    # close to its 1600-byte budget
    scaling = {
        name: {
            (k[6:] if k.startswith("ratio_") else "wall"): v
            for k, v in d.items() if k.startswith("ratio")
        }
        for name, d in detail.get("scaling_10x", {}).items()
    }
    skew = {
        k: v
        for k, v in detail.get("skew_join", {}).items()
        if k.endswith("_max_task_ms") or k.endswith("_sec")
    }
    compact = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        "queries": detail["queries"],
        "control": {
            "value": control.get("value"),
            "max_query_ratio": round(max(ratios), 2) if ratios else None,
        },
        "ingest_rows_per_sec": detail.get("ingest_rows_per_sec"),
        "extras": detail.get("r3_ops", {}),
        "scaling_10x_ratios": scaling,
        "skew_join": skew,
        "detail": "bench_detail.json",
        "sf": detail["sf"],
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > FINAL_LINE_BUDGET:
        minimal = {
            "metric": detail["metric"],
            "value": detail["value"],
            "unit": detail["unit"],
            "queries": detail["queries"],
            "sf": detail["sf"],
        }
        line = json.dumps(minimal, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
