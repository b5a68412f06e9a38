"""Persist lifecycle tracking for query-path caches.

Several operators persist() mid-plan because one frame feeds multiple
consumers (LSH bands feed both sides of a self-join; IVF lists feed
the candidate side and the list-size aggregate). persist() is the
right call DURING a query, but the handles outlive the query: a
long-lived session sweeping the whole registry would accumulate
cached blocks until LRU eviction churn sets in.

Contract: operators route every query-path persist through
``tracked_persist``; a harness that runs many queries in one session
calls ``release_tracked()`` after materializing each query's result
(bench.py does; the registry sweep test pins that the storage
footprint returns to baseline). Releasing is safe once the consumer
has collected/written the result — unpersist on a consumed frame
only drops cache blocks, never data.

OWNERSHIP (ADVICE r4): the global registry is HARNESS-OWNED and
single-threaded by contract — one driver thread builds, materializes,
and releases queries in sequence. It is NOT thread-safe: concurrent
query threads would interleave their persists in one list, and a
``release_tracked()`` from one thread could unpersist frames another
thread's running query still depends on (forcing mid-query recompute
of multi-consumer frames). Library callers running queries
concurrently, or embedding this engine where the global lifecycle is
inconvenient, should wrap each query in ``tracked_scope()`` — it
releases exactly the frames persisted inside its own block and leaves
everything else alone. A caller that never releases at all simply
leans on Spark's LRU cache eviction; correctness is unaffected, only
cache residency. This matters most for ``similarity.kmeans_centroids``
(ADVICE r13 low): since r13 it deliberately leaves its corpus-sized
(id, v, norm) projection in the tracked registry (an internal
unpersist would drop a caller's cache entry for the same canonicalized
plan — the ivf_topk_pq ``base`` steal), so a library caller training
many models outside the harness should wrap each fit in
``tracked_scope()`` or accept one LRU-managed corpus projection per
distinct input plan.

Not tracked here: ``localCheckpoint`` frames (graph.py's iterative
connected components, both variants). Those HOLD the result data
(checkpoint truncates lineage — unpersisting one before the caller
consumes it would lose the frame), so their lifetime is correctly
tied to the result DataFrame's lifetime: Spark's ContextCleaner frees
the blocks when the frame is garbage-collected. k-means needs neither:
its Lloyd rounds carry the k×d centroids as driver rows, so no
per-round frame is persisted or checkpointed.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


@contextmanager
def tracked_scope() -> Iterator[None]:
    """Scope tracked persists to one query: on exit, unpersist ONLY
    the frames ``tracked_persist`` registered inside the block (and
    remove them from the global registry, releasing the Python refs so
    ContextCleaner can reclaim the JVM-side blocks). Frames tracked
    before or outside the scope are untouched — safe to nest and safe
    next to a concurrently-running query that manages its own scope,
    as long as the two queries don't share a persisted frame."""
    start = len(_TRACKED)
    try:
        yield
    finally:
        scoped = _TRACKED[start:]
        del _TRACKED[start:]
        for df in scoped:
            try:
                df.unpersist(blocking=True)
            except Exception:  # noqa: BLE001 — session already stopped
                pass


def tracked_persist(df: DataFrame,
                    level: StorageLevel = StorageLevel.MEMORY_AND_DISK
                    ) -> DataFrame:
    """persist() with session-level lifetime tracking (see module
    docstring). Lazy, exactly like bare persist()."""
    df = df.persist(level)
    _TRACKED.append(df)
    return df


def tracked_persist_if_cold(df: DataFrame,
                            level: StorageLevel =
                            StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """``tracked_persist`` that respects caller ownership (ADVICE r12
    low): when the input is ALREADY persisted — at any storage level —
    leave it alone. Two failure modes otherwise: ``persist()`` on a
    frame persisted at a different level raises
    'cannot change storage level', and entering a caller-persisted
    frame into the tracked registry lets a harness
    ``release_tracked()`` unpersist cache blocks the caller still
    owns (a cache drop, not a correctness bug — but the caller paid
    for those blocks). Operators that accept caller-built frames
    (countmin_inner_product's grids) route through this; frames the
    operator derives itself keep using ``tracked_persist``."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk or lvl.useOffHeap:
        return df
    return tracked_persist(df, level)


def release_tracked() -> int:
    """Unpersist every tracked frame. BLOCKING (r12): the async drop
    left blocks visible in getPersistentRDDs for a beat after the
    call, so "footprint returns to baseline after release" — the
    contract the lifecycle sweep pins — was only eventually true and
    flaked under suite load once the recompute-audit persists
    multiplied the release count. The wait happens outside every
    timed section (bench releases after the timer stops). Returns
    how many were released. Idempotent; unpersisting an
    already-unpersisted frame is a no-op in Spark."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking=True)
            n += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n


def release_all(spark) -> int:
    """Session-level full release: tracked persists, the SQL cache,
    AND any still-persisted RDDs (localCheckpoint blocks included —
    ``clearCache()`` alone never reaches those). Returns how many
    persisted RDDs were dropped.

    Only safe once every outstanding result has been consumed:
    localCheckpoint frames cannot recompute after their blocks are
    dropped (checkpointing truncated the lineage), so a caller still
    holding an unconsumed checkpointed DataFrame loses it. This is
    the harness-level sweep hook (end of a bench run / test session),
    not a per-query call — per-query hygiene is ``release_tracked``."""
    release_tracked()
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jmap.values())
    for rdd in rdds:
        try:
            rdd.unpersist(True)          # JavaRDD: blocking variant
        except Exception:  # noqa: BLE001
            pass
    return len(rdds)
