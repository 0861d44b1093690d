"""Lineage barriers: cut a DataFrame's logical plan so iterative operators
and multiply-referenced intermediates don't re-derive (or re-sample) their
inputs.

Two flavors behind one call:

- ``checkpoint_dir=None`` (default): ``localCheckpoint`` — executor-local
  block storage, zero I/O config, the right default on a healthy cluster and
  in local mode. Its weakness at the 100 TB target: blocks live only on the
  executors that computed them, so losing a node mid-job loses the barrier
  and fails the job (no recompute — lineage was truncated).
- ``checkpoint_dir="hdfs://..."``: reliable ``checkpoint`` — blocks are
  written to the fault-tolerant store, so a 1000-executor job that loses
  machines mid-flight resumes from the checkpoint instead of dying. Costs a
  distributed write; opt in for long iterative jobs on real clusters.

The reference library never needs this (single-shot batch comparisons,
``spark.py``); it exists for the iterative/dedup extensions.
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


def lineage_barrier(
    df: DataFrame, checkpoint_dir: Optional[str] = None, eager: bool = True
) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    With ``checkpoint_dir`` set, uses reliable ``checkpoint()`` (the
    directory is registered on the SparkContext once; later calls with a
    different directory re-register). Otherwise ``localCheckpoint()``.
    ``eager=False`` defers materialization to the first action — both plan
    branches of a self-referencing operator still share the one checkpointed
    RDD, so nondeterministic upstreams (sampled range bounds,
    ``spark_partition_id``) stay consistent across branches.
    """
    if PLAN_AUDIT_SINK is not None:
        try:
            PLAN_AUDIT_SINK.append(df._jdf.queryExecution())
        except Exception:  # noqa: BLE001 — the audit must never break the op
            pass
    if checkpoint_dir is None:
        from datacompy_spark.plans.cache import register_checkpoint

        # owned by internal-RDD id by the current owner (a scope() exit or
        # release_checkpoints() frees the executor-local blocks even after
        # every Python wrapper is gone: derived plans pin them JVM-side);
        # reliable checkpoint() below writes files, not block-manager
        # blocks, so only this branch registers
        return register_checkpoint(df.localCheckpoint(eager=eager))
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)
