"""The one owner of executor storage that outlives an operator call.

dedup_components and host_rank return relations over an eager
localCheckpoint; ngram_jaccard_pairs and the capped grouped verify return
plans over a cache.  An operator cannot know when its caller's last action
ran, so it ``hold``s that storage here and the caller frees it with
``release()`` or, scope-bound, ``with scope(): ...``.

A cache is freed with ``unpersist`` (lineage intact: freeing early only
forces a recompute).  A localCheckpoint is freed by its backing RDD —
Spark's CacheManager does not track it — and has no lineage, so freeing
it DESTROYS the data: materialize results before release.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Dict, List, Optional

from pyspark.sql import DataFrame

_HELD: List[DataFrame] = []  # registration order
_SLOTS: Dict[str, DataFrame] = {}  # slot -> its current entry in _HELD


def persisted_ids(sc) -> set:
    """Ids of the JVM's persisted RDDs — caches and localCheckpoints both
    live here, so this is the complete storage census."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint: materializes ``df`` and truncates its plan."""
    return df.localCheckpoint(eager=True)


def free(*dfs: DataFrame) -> None:
    """Free the storage behind each cached or checkpointed DataFrame.  A
    checkpoint is freed by the exact RDD its analyzed LogicalRDD wraps, so
    storage other queries persisted concurrently on the same session is
    never touched."""
    for df in dfs:
        try:
            if df.is_cached:
                df.unpersist()
            else:
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # owning session already stopped


def _drop(df: DataFrame) -> None:
    free(df)
    _HELD[:] = [d for d in _HELD if d is not df]
    for slot in [s for s, d in _SLOTS.items() if d is df]:
        del _SLOTS[slot]


def hold(df: DataFrame, slot: Optional[str] = None) -> DataFrame:
    """Register ``df``'s storage and return ``df``.  Holding into a slot
    first frees the slot's previous holder, so a long-lived session keeps
    at most one call's relation per slot.  Persist a slot's cache AFTER
    holding it (``hold(df, slot).persist()``): unpersist matches caches by
    plan, so a same-plan cache persisted first would share the previous
    holder's entry and be freed with it."""
    if slot in _SLOTS:
        _drop(_SLOTS[slot])
    _HELD.append(df)
    if slot is not None:
        _SLOTS[slot] = df
    return df


def release() -> None:
    """Free everything held; checkpointed results become unusable."""
    free(*_HELD)
    _HELD.clear()
    _SLOTS.clear()


@contextmanager
def scope():
    """Free exactly what is held from inside the block on exit.  Storage
    held before it stays held unless a slot inside replaces it."""
    before = list(_HELD)
    try:
        yield
    finally:
        for df in [d for d in _HELD if not any(d is b for b in before)]:
            _drop(df)
