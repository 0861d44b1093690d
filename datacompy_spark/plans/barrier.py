"""Lineage barriers: cut a DataFrame's logical plan so iterative operators
and multiply-referenced intermediates don't re-derive (or re-sample) their
inputs.

The session decides what a barrier writes, not the caller:

- No checkpoint directory on the SparkContext (the default):
  ``localCheckpoint`` — executor-local block storage, zero I/O config, the
  right default on a healthy cluster and in local mode. Its weakness at
  scale: blocks live only on the executors that computed them, so losing a
  node mid-job loses the barrier and fails the job (no recompute — lineage
  was truncated).
- A checkpoint directory set for the deployment, e.g.
  ``--conf spark.checkpoint.dir=hdfs://...`` (or the same key on the
  builder) or ``sc.setCheckpointDir("hdfs://...")``: reliable
  ``checkpoint`` — blocks go to the fault-tolerant store, all under the one
  ``<dir>/<uuid>`` subdirectory Spark made for the context, so a long job
  that loses machines resumes from them instead of dying.
  ``sc.setCheckpointDir(None)`` switches back.

Spark Connect exposes no SparkContext, so barriers there always use
``localCheckpoint``. The reference library never needs any of this
(single-shot batch comparisons, ``spark.py``); it exists for the
iterative/dedup extensions.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame

#: When the plan audit (tools/plan_audit.py) is running it sets this to a
#: list; every lineage_barrier call then records the QueryExecution it is
#: about to truncate. Without this hook a shuffle regression UPSTREAM of a
#: barrier would be invisible to the audit — localCheckpoint cuts the
#: visible plan, so barrier-using queries (pagerank, fuzzy_key_match, the
#: incremental dedups) would report near-empty plans. None outside audits:
#: the hook costs nothing in production.
PLAN_AUDIT_SINK: Optional[List[object]] = None


def lineage_barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage: reliable ``checkpoint()``
    when the session has a checkpoint directory, else ``localCheckpoint()``.
    Never sets the directory itself.

    ``eager=False`` still lets every consumer of the result share the one
    checkpointed RDD, so nondeterministic upstreams (sampled range bounds,
    ``spark_partition_id``) stay consistent across plan branches. It does
    NOT defer all work to the first action: under AQE the call itself runs
    every upstream shuffle stage, and only the final stage waits.
    """
    if PLAN_AUDIT_SINK is not None:
        try:
            PLAN_AUDIT_SINK.append(df._jdf.queryExecution())
        except Exception:  # noqa: BLE001 — the audit must never break the op
            pass
    if hasattr(df, "_jdf") and df.sparkSession.sparkContext.getCheckpointDir():
        # reliable checkpoints are files, not block-manager blocks: no owner
        return df.checkpoint(eager=eager)
    from datacompy_spark.plans.cache import register_checkpoint

    # owned by internal-RDD id by the current owner (a scope() exit or
    # release_checkpoints() frees the executor-local blocks even after
    # every Python wrapper is gone: derived plans pin them JVM-side)
    return register_checkpoint(df.localCheckpoint(eager=eager))
