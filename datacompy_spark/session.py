"""Engine-recommended Spark session configuration.

The engine never mutates a caller's session — every operator runs under
whatever configuration the session already has. But some session settings
materially change how fast this engine's DRIVER-side work runs, and users
(and the bench harness) should get them from one documented place instead
of cargo-culting them per script. ``recommended_spark_conf()`` returns the
settings; ``apply_recommended_conf(builder)`` folds them into a
``SparkSession.Builder``.

Current recommendations and their trade-offs:

``spark.python.sql.dataFrameDebugging.enabled = false``
    PySpark 4 wraps EVERY Column API call in a debugging aid that captures
    the user call site for error enrichment — costing ``getActiveSession``
    + ``conf.get`` + a JVM origin set/clear, i.e. 3-4 extra py4j round
    trips per Column operation. ``SparkCompare`` builds its expressions as
    Spark SQL text, so the flag barely moves it now: one lineitem compare
    unit (11 columns, sf0.01, report plus check flow, 4-core VM, median of
    4 warm units) took 1.78 s with the flag on and 1.60 s off, 701 py4j
    round trips either way. While it built Column trees the same unit took
    2.91 s and ~16,800 round trips on, 2.36 s and ~5,500 off. The other
    operators (dedup, similarity, text, profile, ...) still build Column
    trees, so the flag stays recommended: the cost is per Column call,
    independent of core count and data scale, from local[1] to a
    1000-executor cluster. Trade-off: Spark error messages lose the "call
    site" enrichment pointing at the user's line of code — keep the
    default (true) while developing a pipeline, disable it for production
    runs where driver latency matters.

``spark.sql.execution.arrow.pyspark.enabled = true``
    Arrow-accelerated ``toPandas()`` / ``createDataFrame(pandas_df)``
    (guide: orders of magnitude faster than the row-pickling path). The
    engine's report sampling and the multimodal operators cross the
    Python boundary through these. Off by default in Spark; no known
    downside for this engine's types.

Deliberately NOT recommended here: shuffle-partition counts, AQE toggles,
memory sizing — those are deployment-specific (the bench harness derives
them from ``$SPARK_GRAFT_CPUS``; a cluster derives them from its
executors). Correctness never depends on any of these settings — the
oracle-checked paths run under PySpark defaults in CI.
"""

from __future__ import annotations

from typing import Dict


def recommended_spark_conf() -> Dict[str, str]:
    """The engine's recommended session settings (see module docstring
    for each setting's measurement and trade-off). Returns a fresh dict —
    callers may mutate it freely."""
    return {
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }


def apply_recommended_conf(builder):
    """Fold :func:`recommended_spark_conf` into a ``SparkSession.Builder``
    (returns the builder for chaining)::

        spark = apply_recommended_conf(
            SparkSession.builder.master("local[8]").appName("compare")
        ).getOrCreate()

    Settings already set on the builder are overwritten — call this first
    and add overrides after if you want different values.
    """
    for k, v in recommended_spark_conf().items():
        builder = builder.config(k, v)
    return builder
