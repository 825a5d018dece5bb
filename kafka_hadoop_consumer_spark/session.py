"""SparkSession builder with the engine's pinned configs (SURVEY.md §4.2).

Configs chosen for correctness-critical determinism (UTC session timezone —
fixtures are timestamp_ntz, SURVEY.md §7 R3) and for scale (AQE on, so the
same declarative plans re-optimize at runtime on a real cluster; shuffle
partition count is a knob, defaulting low for local scale factors but meant
to be raised to ~2-3× total cores at 100 TB).

Sessions this module builds also install the worker start-up hook
(``_pyworker/sitecustomize.py``): every Python process Spark launches
imports the driver's bytecode-cached pyspark instead of compiling
``$SPARK_HOME/python/lib/pyspark.zip`` from source.
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

from kafka_hadoop_consumer_spark._pyworker.sitecustomize import DRIVER_DIR_ENV

# Tuned for the local[32] test host; on a 1000-executor cluster raise
# shuffle partitions to O(cores*2) and let AQE coalesce down.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
# local[*] runs driver+executors in ONE JVM; Spark's 1g default heap is a
# laptop setting, not a 32-core/125 GB host setting — a candidate-verify
# shuffle that any real executor absorbs OOMs at 1g. Only effective when
# this process launches the JVM (no-op on an externally built session).
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
# The worker start-up hook and the directory it lets workers import
# pyspark from (see _pyworker/sitecustomize.py).
_PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pyworker")
_DRIVER_PYSPARK_DIR = os.path.dirname(os.path.dirname(os.path.abspath(pyspark.__file__)))


def ensure_session_defaults(spark: SparkSession) -> None:
    """Pin the runtime-settable configs the engine's determinism contract
    depends on, on an externally-created session (the driver passes its
    own SparkSession to queries()):

    - UTC session timezone: fixtures are timestamp_ntz and oracle
      comparisons assume UTC epoch math (SURVEY.md §7 R3);
    - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS) (catalog.py);
    - Arrow: pandas-UDF interchange.

    Pinned once per session object: every load_table call routes here
    (10x per register_views), and each conf.set is a py4j round-trip —
    the memo keeps the hot path free of ~40 redundant driver calls. A
    caller that mutates these confs afterwards owns the consequences
    (nothing in the engine does).
    """
    if getattr(spark, "_khcs_defaults_pinned", False):
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # custom Python data sources absorb offset-range predicates
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark._khcs_defaults_pinned = True


def get_spark(app_name: str = "kafka_hadoop_consumer_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned configs.
    ``extra_conf`` overlays builder-time configs (e.g. bench.py enables
    the UI so the REST status API can report per-task straggler times);
    it only takes effect when this call actually creates the session."""
    builder = (
        SparkSession.builder
        .master(master or f"local[{DEFAULT_CPUS}]")
        .appName(app_name)
        # AQE: runtime re-planning (coalesce post-shuffle partitions,
        # broadcast-convert joins, split skewed partitions).
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # Determinism: fixtures are timestamp_ntz; never let session tz leak in.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas interchange (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PYWORKER_DIR)
        .config(f"spark.executorEnv.{DRIVER_DIR_ENV}", _DRIVER_PYSPARK_DIR)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_profile(total_cores: int = 8000,
                    target_partition_mb: int = 128) -> dict[str, str]:
    """Config overlay for a real multi-executor cluster at the ~100 TB
    design point — the deploy-time counterpart of get_spark()'s local
    defaults (pass to SparkSession.builder.config(map=...) or spark-submit
    --conf). Values are derivations, not magic numbers:

    - shuffle partitions: 2x total cores, sized so a ~100 TB shuffle
      lands ~GB-scale partitions BEFORE AQE; AQE coalesces small ones
      and splits skewed ones at runtime, so over-provisioning is the
      safe direction.
    - maxPartitionBytes / advisoryPartitionSizeInBytes: bound scan and
      post-shuffle partitions to fit executor memory with headroom
      (spill-aware; SURVEY.md §4.2).
    - autoBroadcastJoinThreshold raised to 64 MB: every dim table in the
      star schema broadcasts even at sf1000-equivalents, keeping the
      fact table shuffle-free in the join families.
    - runtime bloom filter: row-level semi-join pruning on selective
      fact-dim joins (exercised in tests/test_scale_patterns.py).
    """
    mb = 1024 * 1024
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * mb),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(target_partition_mb * mb),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * mb),
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
