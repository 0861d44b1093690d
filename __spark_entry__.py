"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check on sf0.001.
``queries()`` — the full 121-query surface: the SURVEY.md §2 datacompy
    comparison core (``cmp_*``) plus the LLM-data-pipeline extensions
    (dedup/ANN/text/corpus/drift/CDC/graph/multimodal/streaming
    families). Ordering matters: the driver sweep samples the FIRST 50
    names per round, so the registry is ordered oldest driver evidence
    first, computed at import from the ``CORRECTNESS_r*.json`` history
    (``datacompy_spark/queries.py::_sweep_order``).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for each query (121/121).

Implementations live in ``datacompy_spark/queries.py`` and
``datacompy_spark/queries_pipeline.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datacompy_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["cmp_column_stats"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
