"""Persisted state: the package's one persist / local-checkpoint path.

Operators persist or locally checkpoint intermediate frames that the lazy
plan they return still reads (a signature table probed twice, a k-means
codebook per iteration, a component labelling). That state must outlive
the operator call and die before the next one: CacheManager matches
identical plans across calls, so a frame left cached turns the next
run's "compute" into a cache hit, and cached blocks pile up in a
long-lived session. Hence one lifecycle:

- :func:`persist` and :func:`local_checkpoint` register what they create
  in the current scope. Nothing else in the package persists.
- :func:`scope` is a context manager; on exit it releases everything
  registered inside it (including nested operator calls). Use it when
  state must be freed in the middle of a run, e.g. per streaming
  micro-batch, after everything built inside has been materialized.
- Outside any scope, state goes to the implicit root scope, which
  :func:`release_state` releases. Call it only after every result built
  since the last release has been materialized (collected or written).

Releasing a local checkpoint unpersists the checkpoint RDD itself;
``DataFrame.unpersist()`` does not reach it. A released local checkpoint
cannot be recomputed (Spark raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``),
so any frame that reads one is dead after its scope ends.

Scopes are per thread (a context variable); every thread starts in the
shared root scope.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import threading
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_ROOT: list = []
_scope: contextvars.ContextVar[list] = contextvars.ContextVar("mrf_state_scope", default=_ROOT)
_root_lock = threading.Lock()


def persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)`` (the default is Spark's own), registered in
    the current scope."""
    out = df.persist(level)
    _scope.get().append(out.unpersist)
    return out


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` (eager); the checkpoint RDD it persists is
    registered in the current scope. The RDD is read off the returned
    frame's own plan (a ``LogicalRDD``), so a persist or checkpoint
    running on another thread at the same time cannot be mistaken for it."""
    out = df.localCheckpoint()
    rdd = out._jdf.queryExecution().logical().rdd()
    _scope.get().append(functools.partial(rdd.unpersist, False))
    return out


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Release everything registered inside the ``with`` block on exit."""
    handles: list = []
    token = _scope.set(handles)
    try:
        yield
    finally:
        _scope.reset(token)
        _release(handles)


def release_state(result: DataFrame | None = None) -> None:
    """Release the root scope: every persist and local checkpoint made
    outside a :func:`scope` since the last release, whatever frame they
    belong to. ``result`` is not read; it is kept only so that callers of
    the old one-argument form (the benchmark's catalog workload) still
    work."""
    with _root_lock:
        handles = _ROOT[:]
        del _ROOT[: len(handles)]
    _release(handles)


def _release(handles: list) -> None:
    # newest first, so a frame derived from an earlier persisted frame is
    # dropped before its source (no recache of dependents)
    for unpersist in reversed(handles):
        unpersist()


def held(spark: SparkSession) -> tuple[frozenset, frozenset]:
    """(CacheManager entries, persistent-RDD ids) right now; an entry is
    named by its JVM identity hash. The CacheManager keeps its list in a
    private field, read by reflection."""
    jvm = spark._jvm
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    it = field.get(cm).iterator()
    cached = set()
    while it.hasNext():
        cached.add(jvm.System.identityHashCode(it.next()))
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return frozenset(cached), frozenset(rdds.keySet())


def leaked(
    before: tuple[frozenset, frozenset], after: tuple[frozenset, frozenset]
) -> tuple[int, int]:
    """(CacheManager entries, persistent RDDs) present in ``after`` but not
    in ``before``, both :func:`held` readings."""
    return len(after[0] - before[0]), len(after[1] - before[1])
