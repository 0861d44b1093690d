"""datacompy_spark — a PySpark-native DataFrame comparison & data-quality engine.

A from-scratch Spark-first rebuild of the capabilities of
capitalone/datacompy, plus large-scale training-data pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).
"""

from datacompy_spark.operators.compare import (
    SparkCompare,
    ColumnStat,
    consistent_key_sample,
)
from datacompy_spark.functions.comparators import (
    BaseComparator,
    ArrayComparator,
    BooleanComparator,
    NumericComparator,
    StringComparator,
    ComplexComparator,
    columns_equal,
)
from datacompy_spark.plans.report import ReportData, build_report_data
from datacompy_spark.plans.cache import (
    release_caches,
    release_checkpoints,
    scope,
)
from datacompy_spark.session import apply_recommended_conf, recommended_spark_conf

__version__ = "0.5.0"
__all__ = [
    "SparkCompare",
    "release_caches",
    "release_checkpoints",
    "scope",
    "ColumnStat",
    "BaseComparator",
    "ArrayComparator",
    "BooleanComparator",
    "NumericComparator",
    "StringComparator",
    "ComplexComparator",
    "columns_equal",
    "ReportData",
    "build_report_data",
    "recommended_spark_conf",
    "apply_recommended_conf",
]
