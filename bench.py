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

It holds only this timing contract, whose warm_up and time_query
tools/ab_probe.py reuses. Scale and skew evidence (candidate pairs,
rounds, bins and wedges at 1x/10x/100x, join stragglers) is
deterministic per operator definition, so the scale-probe tool in
tools/ earns it once per change into def-hash-stamped receipts, not
per run.
"""

from __future__ import annotations

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


def warm_up(spark, sf_dir: str) -> None:
    """UNTIMED process warm-up: the first timed key used to absorb the
    JVM's first-position JIT/codegen cost — the driver's first pass
    charged q_agg_groupby 2.49 s where its warmed cost is ~0.3-0.6 s
    (BASELINE.md documents the ~1.9× first-position factor). One
    throwaway execution of a representative mix (codegen hash agg,
    broadcast join, Arrow pandas UDF, window) warms those paths before
    ANY timed run."""
    for w in ("q_agg_groupby", "q_join_multiway", "q_udf_scalar",
              "q_win_topk_group"):
        spark.sparkContext.setJobDescription(f"warmup {w} (untimed)")
        materialize(QUERIES[w](spark, sf_dir))
    spark.sparkContext.setJobDescription(None)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    warm_up(spark, sf_dir)

    timings = {name: time_query(spark, name, sf_dir) for name in HEADLINE}

    ingest_sec, ingest_rows = time_ingest(spark, sf_dir)
    timings["s_ingest_e2e"] = round(ingest_sec, 3)

    # Later-round additions, timed OUTSIDE the headline total so the
    # total stays comparable across rounds: the MG heavy-hitter plan, the
    # near-dup-graph PageRank, PQ ANN, the Poisson bootstrap, and the
    # dedup/text/graph extras. (q_graph_cc and q_e2e_hybrid_search were timed here through
    # r6; they are HEADLINE entries from r7 on.)
    extras = {
        name: time_query(spark, name, sf_dir)
        for name in ("q_text_heavy_hitters", "q_graph_pagerank",
                     "q_sim_pq_topk", "q_stats_bootstrap",
                     "q_dedup_substring", "q_graph_triangles",
                     "q_dedup_semdedup", "q_text_bpe_encode",
                     "q_e2e_dedup_cascade")
    }

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
        "sf": float(sf),
    }
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
