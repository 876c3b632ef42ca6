"""Cache-lifecycle helpers.

Multi-pass operators (dedup and similarity joins, clustering, PCA,
heavy hitters, TF-IDF) persist an intermediate frame that several
downstream subtrees read.  The scalable range pass (``operators.scale``)
persists nothing: its consumers read one range exchange.  Naked
``persist()`` has two operational problems observed in this engine:

- inside one action, AQE launches the consuming subtrees concurrently
  and they race the cache, recomputing the intermediate up to N times;
- CacheManager entries are never GC'd, so repeated operator invocations
  in a long session accumulate storage until eviction pressure.

``materialize_and_release`` solves both: it eagerly materializes the
*result* with ``localCheckpoint`` (truncating lineage, so every
downstream reference reads one stored copy), then unpersists the
intermediate(s) immediately.  Checkpointed RDD storage is reference-
counted by Spark's ContextCleaner and freed when the returned frame is
garbage-collected — unlike CacheManager entries, nothing outlives its
caller.

Scale note (100 TB): ``localCheckpoint`` stores on executors and does
not survive executor loss.  A production deployment pointing at object
storage would flip this to ``spark.sparkContext.setCheckpointDir`` +
``checkpoint()``; the call structure is identical.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_scoped: dict[str, list[DataFrame]] = {}
# Concurrent driver branches (parallel.run_concurrently) may register
# frames under the same scope; without the lock a same-scope race could
# transiently exceed ``keep`` or double-unpersist (ADVICE r10).
_scoped_lock = threading.Lock()


def materialize_and_release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Eagerly materialize ``result``, then unpersist every frame in
    ``cached``.  Returns the materialized (lineage-truncated) frame.

    Use ONLY for small results (pair sets, aggregates): the checkpoint
    stores deserialized rows on the JVM heap, so checkpointing a large
    frame trades a compact columnar cache for heap pressure that taxes
    every subsequent query (measured: multi-× GC slowdown at sf0.1).
    """
    out = result.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


def persist_scoped(df: DataFrame, scope: str, keep: int = 2) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK, compact columnar cache) under a
    bounded session scope: registering a frame beyond the newest
    ``keep`` unpersists the oldest — repeated operator invocations can
    never accumulate more than ``keep`` cached intermediates per scope.

    If ``df``'s plan already matches a live cache entry (Spark's
    CacheManager matches by analyzed plan, so e.g. two dedup operators
    building the identical shingle table share one entry), the frame is
    returned as-is without re-registering — deliberate cross-operator
    reuse, and it keeps one eviction from orphaning a handle that a
    later registration of the same plan would otherwise share.

    Lifecycle contract: frames cached this way must be DETERMINISTIC to
    recompute (stable source + deterministic partitioning/expressions).
    If a still-lazy plan outlives its cache entry, Spark recomputes the
    exact same rows — slower, never wrong.
    """
    with _scoped_lock:
        if df.storageLevel != StorageLevel.NONE:
            return df
        # Forget handles whose cache their operator already released:
        # evicting one later would uncache a newer entry of its plan.
        frames = [f for f in _scoped.get(scope, []) if f.storageLevel != StorageLevel.NONE]
        _scoped[scope] = frames
        frames.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        evicted = []
        while len(frames) > keep:
            evicted.append(frames.pop(0))
    for old in evicted:
        old.unpersist()
    return df


def release_scope(scope: str) -> None:
    """Unpersist every frame registered under ``scope``."""
    with _scoped_lock:
        frames = _scoped.pop(scope, [])
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; nothing to free
