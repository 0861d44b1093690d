"""Ownership of operator-internal caches and localCheckpoints.

Several operators persist an internal frame that multiple branches of the
RETURNED lazy plan consume (e.g. the normalized key frame in the
edit-distance join family feeds the index, the probe, and the exact
verify; ``SparkCompare``'s diff feeds its statistics reads, mismatch pulls
and derived frames), and iterative operators truncate lineage with
``lineage_barrier``'s localCheckpoint. Both are load-bearing, but the
returned plan is lazy, so the operator cannot know when its caller is
done with them.

Every such persist (:func:`tracked_persist`) and checkpoint
(:func:`register_checkpoint`) is owned by the CURRENT :class:`Owner`: the
process owner, unless a :func:`scope` is open. A caller that is done with
a result releases what its calls created by bracketing them:

    from datacompy_spark import scope
    with scope():
        pairs = edit_distance_pairs(docs, "doc_id", "text", max_dist=2)
        pairs.write.parquet(out)   # plan materialized: caches now idle
    # exit: this scope's caches and checkpoints are released

Without a scope, ``release_caches()`` and ``release_checkpoints()`` drain
the process owner. In a short-lived session (a CLI run, a batch job) none
of this matters: the block manager goes with the session. In a long-lived
one (a notebook, a service) it keeps entries from accumulating.
``spark.catalog.clearCache()`` is the blunt alternative; it also drops
caches the USER created.
"""

from __future__ import annotations

import contextlib
import contextvars
import threading
from typing import Iterator, List

from pyspark.sql import DataFrame


class Owner:
    """The frames persisted and the localCheckpoint RDD ids registered
    while this owner was current.

    Checkpoints are held as internal-RDD ids, not DataFrame references: a
    strong ref would pin the JVM Dataset and block ContextCleaner, and a
    weak ref is dead at every real call site (operators drop the wrapper
    as soon as they return a derived frame, while the derived plan's
    LogicalRDD keeps the blocks pinned). Unpersisting by id from
    ``getPersistentRDDs`` frees them even after the wrapper is gone; ids
    are never reused, so a stale id simply misses.
    """

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.frames: List[DataFrame] = []
        self.checkpoints: List[int] = []

    def release_caches(self) -> int:
        """Unpersist every owned frame, newest first; returns the count."""
        with self.lock:
            frames, self.frames = self.frames, []
        released = 0
        for df in reversed(frames):
            try:
                df.unpersist()
                released += 1
            except Exception:  # noqa: BLE001 — a dead session must not raise here
                pass
        return released

    def release_checkpoints(self) -> int:
        """Free the blocks of every owned checkpoint; returns the count.

        The JVM handle is taken FIRST: with no context visible from this
        thread, or a failing ``getPersistentRDDs``, the ids stay owned and
        a later call releases them. Only then is the id list swapped out
        under the lock, so concurrent releases never claim an id twice.
        Ids ContextCleaner already reclaimed are skipped. Never raises.
        """
        from pyspark import SparkContext

        # the blocks live on the CONTEXT (getActiveSession is thread-local
        # and may be None for a borrowed session touched from another thread)
        sc = SparkContext._active_spark_context
        if sc is None:
            return 0
        try:
            persistent = sc._jsc.getPersistentRDDs()
        except Exception:  # noqa: BLE001 — transient failure: retry later
            return 0
        with self.lock:
            ids, self.checkpoints = self.checkpoints, []
        released = 0
        for rid in ids:
            try:
                jrdd = persistent.get(rid)
                if jrdd is None:  # ContextCleaner beat us to it
                    continue
                jrdd.unpersist(False)
                released += 1
            except Exception:  # noqa: BLE001
                pass
        return released


_PROCESS = Owner()
_CURRENT: contextvars.ContextVar[Owner] = contextvars.ContextVar(
    "datacompy_spark_owner", default=_PROCESS
)


@contextlib.contextmanager
def scope() -> Iterator[Owner]:
    """Own every cache and checkpoint the enclosed calls create; release
    them on exit, caches first, then checkpoints.

    Only what is registered inside the scope, on this thread (or in a
    context copied from it), is released. What was registered before or
    after it, or on another thread while it was open (a new thread starts
    with the default context), stays with the process owner. Checkpoints
    the exit could not release (no visible SparkContext) pass to the
    enclosing owner, so a later release still reaches them.

    Exiting is DESTRUCTIVE for checkpoints: a localCheckpoint truncated
    its frame's lineage, so any plan built over it fails once its blocks
    are gone. Exit only after every result is fully materialized (e.g.
    written to parquet). Operators must never open a scope internally,
    because the lazy plans they return depend on those blocks.
    """
    owner = Owner()
    token = _CURRENT.set(owner)
    try:
        yield owner
    finally:
        _CURRENT.reset(token)
        owner.release_caches()
        owner.release_checkpoints()
        if owner.checkpoints:
            outer = _CURRENT.get()
            with outer.lock:
                outer.checkpoints.extend(owner.checkpoints)


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the current owner.

    Returns the persisted frame. Materialization stays lazy — the first
    action populates the cache, exactly as with a bare ``persist()``.
    """
    df = df.persist()
    owner = _CURRENT.get()
    with owner.lock:
        owner.frames.append(df)
    return df


def register_checkpoint(df: DataFrame) -> DataFrame:
    """Record a localCheckpoint-ed frame's internal-RDD id with the current
    owner. Lazy (eager=False) checkpoints register too — localCheckpoint
    marks the RDD persisted immediately, so the id is already in the
    persistent-RDD map before materialization."""
    try:
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    except Exception:  # noqa: BLE001 — bookkeeping must never break the op
        return df
    owner = _CURRENT.get()
    with owner.lock:
        owner.checkpoints.append(rdd_id)
    return df


def release_caches() -> int:
    """Unpersist every frame the process owner holds; returns the count.

    Safe to call at any time: a plan whose cache is dropped early is
    recomputed from lineage on its next action (slower, never wrong).
    Deliberately does NOT touch localCheckpoint blocks — dropping those is
    destructive (see :func:`release_checkpoints`), so it stays a separate,
    explicit call.
    """
    return _PROCESS.release_caches()


def release_checkpoints() -> int:
    """Free the executor-local blocks of the process owner's checkpoints.

    UNLIKE :func:`release_caches` this is destructive: a localCheckpoint
    TRUNCATED its frame's lineage, so once the blocks are dropped the frame
    cannot be recomputed — any later action on any plan built over it
    fails. Call it only when every consumer has fully materialized; to
    release only what your own calls created, use :func:`scope`.
    """
    return _PROCESS.release_checkpoints()
