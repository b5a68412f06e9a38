"""Persist lifecycle tracking for query-path caches.

Several operators persist() mid-plan because one frame feeds multiple
consumers (LSH bands feed both sides of a self-join; IVF lists feed
the candidate side and the list-size aggregate). The handles outlive
the query, so a long-lived session sweeping the registry would
accumulate cached blocks until LRU eviction churn sets in. Every
query-path persist goes through ``tracked_persist``. Releasing is safe
once the consumer has collected or written the result: unpersist on a
consumed frame only drops cache blocks, never data.

Invariants:

- The global registry belongs to the harness (bench, the registry
  sweeps, perfbench): one driver thread builds, materializes and
  releases queries in sequence, and ``release_tracked()`` unpersists
  EVERY tracked frame, whichever thread persisted it.
- ``tracked_scope()`` releases exactly the frames that its own thread
  registered inside it (innermost scope only), removing them from the
  registry by identity. Frames of other threads, and frames tracked
  before the scope opened, stay persisted and tracked, so concurrent
  queries may each run in their own scope as long as they share no
  persisted frame.
- ``similarity.kmeans_centroids`` leaves its corpus-sized
  (id, v, norm) projection tracked instead of unpersisting it:
  CacheManager keys cache entries by canonicalized plan, so an
  internal unpersist would also drop a caller's entry for the same
  projection, which ``ivf_topk`` and ``ivf_topk_pq`` persist
  (``similarity.vectors``) next to the lists ``similarity.build``
  assigns. A fitted centroid frame is driver rows that any number of
  probes share (``ann_recall_report`` fits each coarse quantizer
  once). The projection goes with the next release; a library caller
  that fits many models outside the harness wraps each fit in
  ``tracked_scope()`` or leaves it to LRU eviction. The at-rest IVF
  writers do the former: ``similarity.save_ivf_index`` and
  ``append_to_ivf_index`` each run in their own ``tracked_scope()``,
  so the projection and the assigned lists are released once the
  index write lands.
- ``localCheckpoint`` frames (graph.py's iterative loops, the PQ
  codebooks) are not tracked: they HOLD the result data, so their
  blocks live as long as the result DataFrame and ContextCleaner frees
  them when it is garbage-collected.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_LOCK = threading.Lock()
_SCOPES = threading.local()     # .stack: this thread's open scope lists


def _unpersist(frames: list[DataFrame]) -> int:
    n = 0
    for df in frames:
        try:
            df.unpersist(blocking=True)
            n += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n


@contextmanager
def tracked_scope() -> Iterator[None]:
    """Scope tracked persists to one query: on exit, unpersist ONLY
    the frames that ``tracked_persist`` registered from this thread
    inside the block, and drop them from the global registry (releasing
    the Python refs so ContextCleaner can reclaim the JVM-side blocks).
    Nested scopes each release their own frames."""
    stack = getattr(_SCOPES, "stack", None)
    if stack is None:
        stack = _SCOPES.stack = []
    scoped: list[DataFrame] = []
    stack.append(scoped)
    try:
        yield
    finally:
        stack.pop()
        mine = {id(df) for df in scoped}
        with _LOCK:
            _TRACKED[:] = [df for df in _TRACKED if id(df) not in mine]
        _unpersist(scoped)


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() with session-level lifetime tracking (see module
    docstring). Lazy, exactly like bare persist()."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _TRACKED.append(df)
    stack = getattr(_SCOPES, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


def tracked_persist_if_cold(df: DataFrame) -> DataFrame:
    """``tracked_persist`` that respects caller ownership: when the
    input is ALREADY persisted — at any storage level —
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
    return tracked_persist(df)


def release_tracked() -> int:
    """Unpersist every tracked frame, from any thread. BLOCKING: an
    async drop leaves blocks visible in getPersistentRDDs for a beat
    after the call, so "footprint returns to baseline after release"
    — the contract the lifecycle sweep pins — would only be eventually
    true. The wait happens outside every timed section (bench releases
    after the timer stops). Returns how many were released.
    Idempotent; unpersisting an already-unpersisted frame is a no-op
    in Spark."""
    with _LOCK:
        frames = _TRACKED[::-1]
        _TRACKED.clear()
    return _unpersist(frames)


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
