"""Judge-checked operator inventory (SURVEY.md §2B).

Importing this package populates the registries; ``QUERIES`` /``ORACLES``
are what ``__spark_entry__.py`` re-exports to the driver.
"""

from kafka_hadoop_consumer_spark.queries.registry import METAS, ORACLES, QUERIES, query

# Each import registers its operators.
from kafka_hadoop_consumer_spark.queries import (  # noqa: E402,F401
    scans_filters,
    joins,
    aggregates,
    sorts_sets,
    subqueries,
    windows,
    functions,
    timeseries,
    text,
    dedup,
    similarity,
    multimodal,
    udfs,
    sampling,
    e2e,
    pipeline,
    e2e_tpch,
    formats,
    quality,
    graph,
    continuous,
)

__all__ = ["QUERIES", "ORACLES", "METAS", "query"]
