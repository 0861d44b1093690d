"""Spark status-store counters and the spans that carry them.

Counters are whole-store deltas: with one client in the process every job
between two reads belongs to the code between them, including jobs that
worker threads submit without the caller's job group. Each read first waits
for the listener bus to drain, so the store holds the final task metrics.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

# status-store stage fields summed into each delta, and their output names
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


class StatusStore:
    """Reads job and stage totals from the driver's ``AppStatusStore``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._all = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))

    def mark(self) -> dict:
        """Newest job and stage ids and the oldest retained stage id."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(self._all)
        stages = self._stages()
        return {
            "job": jobs.head().jobId() if jobs.size() else -1,
            "stage": stages.head().stageId() if stages.size() else -1,
            "oldest_stage": stages.last().stageId() if stages.size() else -1,
        }

    def _stages(self):
        return self._store.stageList(self._all, False, False, self._no_quantiles, self._all)

    def since(self, start: dict) -> dict:
        """Counter deltas from ``start`` (a :meth:`mark`) to now.

        ``evicted`` is true when the store dropped stages inside the
        interval, which makes every stage total an undercount."""
        end = self.mark()
        out = {"jobs": end["job"] - start["job"], "stages": 0}
        out.update({v: 0 for v in _STAGE_FIELDS.values()})
        stages = self._stages()
        take = max(end["stage"] - start["stage"], 0)
        while take:
            rows = json.loads(self._json.writeValueAsString(stages.take(take)))
            if rows[-1]["stageId"] <= start["stage"] or take >= stages.size():
                break
            take *= 2
        for row in rows if take else []:
            if row["stageId"] <= start["stage"] or row["status"] == "SKIPPED":
                continue
            out["stages"] += 1
            for field, name in _STAGE_FIELDS.items():
                out[name] += row[field]
        out["evicted"] = end["oldest_stage"] > start["oldest_stage"] >= 0
        return out

    def stored_bytes(self) -> int:
        """Memory plus disk bytes of every persisted RDD right now."""
        return sum(i.memSize() + i.diskSize() for i in self._sc.getRDDStorageInfo())


class Py4jCounter:
    """Counts round trips on the gateway client while :meth:`counting`."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    @contextmanager
    def counting(self):
        send = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counted
        try:
            yield self
        finally:
            del self._client.send_command


class Tracer:
    """Spans around the benchmark's calls into each layer.

    Disabled, a span only runs its body. Enabled, each span records its wall
    time, its parent and the status-store deltas over it; spans stay in
    memory until the run ends."""

    def __init__(self, spark, cores: int, enabled: bool):
        self.enabled = enabled
        self.cores = cores
        self.spans: List[dict] = []
        self._open: List[dict] = []
        if enabled:
            self.store = StatusStore(spark)
            self.py4j = Py4jCounter(spark)

    @contextmanager
    def span(self, name: str, count_py4j: bool = False, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"name": name, "parent": self._open[-1]["id"] if self._open else None,
               "id": len(self.spans), **attrs}
        self.spans.append(rec)
        self._open.append(rec)
        start = self.store.mark()
        calls0 = self.py4j.calls
        t0 = time.perf_counter()
        try:
            if count_py4j:
                with self.py4j.counting():
                    yield rec
            else:
                yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if count_py4j:
                rec["py4j_calls"] = self.py4j.calls - calls0
            rec["spark"] = spark_metrics(self.store.since(start), rec["wall_s"], self.cores)
            self._open.pop()


def spark_metrics(delta: dict, wall_s: float, cores: int) -> Dict[str, float]:
    """Status-store deltas in the benchmark's units."""
    run_s = delta["executor_run_ms"] / 1e3
    return {
        "jobs": delta["jobs"],
        "stages": delta["stages"],
        "tasks": delta["tasks"],
        "executor_run_s": run_s,
        "executor_cpu_s": delta["executor_cpu_ns"] / 1e9,
        "gc_s": delta["gc_ms"] / 1e3,
        "input_bytes": delta["input_bytes"],
        "shuffle_write_bytes": delta["shuffle_write_bytes"],
        "shuffle_read_bytes": delta["shuffle_read_bytes"],
        "spill_bytes": delta["spill_bytes"],
        "slot_busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "evicted": delta["evicted"],
    }


def catalyst_s(df) -> Optional[float]:
    """Analysis, optimization and planning time recorded on ``df``'s query
    execution, in seconds."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            total_ms += phases.apply(name).durationMs()
    return total_ms / 1e3
