#!/usr/bin/env python
"""Isolated A/B timing probe for optimization rounds.

Runs bench.time_query (same warm-up + median-of-3 + noop-sink protocol
as the bench) on the given keys in a fresh bench-config session, after
the bench's untimed JVM warm-up (bench.warm_up), and prints one JSON
line. Run it on the
baseline code and the changed code back-to-back and compare per-key
medians; include an untouched CONTROL key in both runs so ambient box
contention can be separated from real deltas.

Usage:
    python tools/ab_probe.py q_graph_triangles q_win_topk_group
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from kafka_hadoop_consumer_spark import get_spark  # noqa: E402


def main(keys: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab_probe")
    bench.warm_up(spark, sf_dir)
    out = {}
    t0 = time.perf_counter()
    for k in keys:
        spark.sparkContext.setJobDescription(f"ab_probe {k}")
        out[k] = bench.time_query(spark, k, sf_dir)
    print(json.dumps({"keys": out, "wall": round(time.perf_counter() - t0, 3),
                      "sf_dir": sf_dir}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
