"""One owner for how long persisted and checkpointed frames live.

photon-ml persists, counts and explicitly unpersists every
intermediate of its coordinate-descent loop (RandomEffectDataset.scala:
279-341). Here every materialization in the package goes through this
module, and a ``scope()`` owns what it materializes:

- ``persist(df)`` caches the frame (a CacheManager entry);
- ``checkpoint(df, eager=True)`` ``localCheckpoint``s it, which also
  cuts the logical plan to a leaf — a frame rebuilt from its own
  previous generation (the CD loop's running score sum, curate's
  corpus generations) otherwise grows a plan that doubles per
  generation, and its analysis alone OOMs the driver after ~20;
- both register the frame with the innermost open ``scope()`` of the
  calling thread; a scope releases everything it owns when it exits,
  on success or on an exception;
- ``release(df)`` frees one frame early — a superseded generation of
  a loop, once nothing will read it again.

Rules, stated once here instead of at each site:

- The consumer that runs the actions opens the scope: a CLI driver,
  one evaluation, one bench row. A helper that returns a lazy frame
  cannot know when its caller's last action has run, so what it
  materialized belongs to its caller's scope. Outside any scope a
  frame is unowned: it lives until ``release``,
  ``spark.catalog.clearCache()`` or, for a checkpoint, garbage
  collection of its RDD.
- Checkpoint blocks are RDD storage, not CacheManager entries, so
  ``DataFrame.unpersist()`` is a no-op on them. ``release`` and scope
  exit know which kind each frame is and free it accordingly. A
  released checkpoint cannot be recomputed (its lineage is gone), so
  release it only after its last read.
- Plan-identical persisted frames share ONE CacheManager entry.
  Owners of an entry are counted, and the entry is unpersisted only
  when its last owner lets go — one scope's exit never drops data
  another open scope still reads.
- Storage defaults to ``MEMORY_AND_DISK``, which PySpark stores
  serialized: corpus- and row-set-sized frames kept as deserialized
  rows cost one JVM object per row (the round-8 GC failure, and a
  24g-heap OOM of the x100 CD loop). Narrow frames re-read on every
  solver iteration pass ``StorageLevel.MEMORY_AND_DISK_DESER``
  instead, so reads skip deserialization.
- On a multi-executor cluster with executor churn, prefer reliable
  checkpoints (``setCheckpointDir`` + ``df.checkpoint``) for the same
  lineage cut: local checkpoint blocks die with their executor.
"""

from __future__ import annotations

import contextlib
import contextvars
import threading
import weakref

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

#: the innermost open scope of the running thread: a list of holds
_current: contextvars.ContextVar = contextvars.ContextVar(
    "materialize_scope", default=None
)
#: frame -> its live holds, newest last
_holds: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
#: owner count per CacheManager entry, keyed by the entry's JVM identity
_entry_owners: dict[int, int] = {}
#: guards both registries and makes each cache-or-share (and each
#: drop) with its owner count one step, so a persist cannot race the
#: release of the same entry; the JVM calls under it only plan or drop
#: a cache entry and never run a Spark job
_lock = threading.Lock()


class _Hold:
    """One ownership of a frame. ``frame`` is set only while a scope
    owns the hold: an unowned hold must not keep its frame alive."""

    __slots__ = ("frame", "kind", "key", "scope")

    def __init__(self, frame, kind, key, scope):
        self.frame = frame if scope is not None else None
        self.kind = kind
        self.key = key
        self.scope = scope


@contextlib.contextmanager
def scope():
    """Own every frame ``persist``/``checkpoint`` materialize inside the
    block (in this thread) and release them when it exits. Scopes
    nest; an inner scope releases only its own frames. As a decorator
    (``@scope()``), each call of the function gets its own scope."""
    owned: list[_Hold] = []
    token = _current.set(owned)
    try:
        yield
    finally:
        _current.reset(token)
        while owned:
            hold = owned.pop()
            with _lock:
                _holds[hold.frame].remove(hold)
            _free(hold.frame, hold)


def persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Cache ``df`` at ``level`` and register it with the innermost
    open scope. A plan-identical frame already cached shares that
    entry (and its level)."""
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    with _lock:
        entry = cache.lookupCachedData(df._jdf)
        if not entry.isDefined():
            df.persist(level)
            entry = cache.lookupCachedData(df._jdf)
        key = _identity(df, entry.get())
        _entry_owners[key] = _entry_owners.get(key, 0) + 1
        _register(df, "persist", key)
    return df


def checkpoint(
    df: DataFrame,
    eager: bool = True,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """``localCheckpoint`` ``df`` at ``level`` and register the result
    with the innermost open scope. ``eager=False`` materializes on the
    first action instead of now."""
    out = df.localCheckpoint(eager=eager, storageLevel=level)
    with _lock:
        _register(out, "checkpoint", None)
    return out


def release(df: DataFrame) -> None:
    """Free ``df`` now instead of at its scope's exit. A no-op for a
    frame this module did not materialize (a lazy frame, or one
    already released)."""
    with _lock:
        holds = _holds.get(df)
        if not holds:
            return
        hold = holds.pop()
        if hold.scope is not None:
            hold.scope.remove(hold)
    _free(df, hold)


def _register(df: DataFrame, kind: str, key: int | None) -> None:
    owner = _current.get()
    hold = _Hold(df, kind, key, owner)
    _holds.setdefault(df, []).append(hold)
    if owner is not None:
        owner.append(hold)


def _identity(df: DataFrame, cached) -> int:
    builder = cached.cachedRepresentation().cacheBuilder()
    return df.sparkSession.sparkContext._jvm.System.identityHashCode(builder)


def _free(df: DataFrame, hold: _Hold) -> None:
    if hold.kind == "checkpoint":
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    with _lock:
        left = _entry_owners.pop(hold.key, 0) - 1
        if left > 0:
            _entry_owners[hold.key] = left
            return
        # the entry may already be gone (clearCache) and a plan-identical
        # one made since; that one has owners of its own
        entry = cache.lookupCachedData(df._jdf)
        if entry.isDefined() and _identity(df, entry.get()) == hold.key:
            df.unpersist()
