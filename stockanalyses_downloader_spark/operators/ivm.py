"""Incremental view maintenance (IVM) for distributive aggregates —
the dashboard/rollup refresh path that never rescans history.

A distributive aggregate (count, decimal sum, min, max — and the
algebraic avg = sum/count on top of them) keeps a per-group PARTIAL
STATE that merges by the same operation that built it. So a stored
aggregate table over a year of data refreshes from each new ingest
batch with: aggregate the BATCH (small), merge with the stored state
(group-keyed, state-sized — not history-sized), swap atomically.
Full recompute touches 100 TB; the incremental refresh touches one
day + the rollup. This is the aggregate-table sibling of
pipelines.incremental_quality_refresh (per-row digest diff) and
sinks.cdc_materialized_view (keyed upsert): three IVM tiers —
per-row, per-key, per-group.

Scope contract: ``refresh_aggregate_table`` handles APPEND-ONLY
ingest — min/max are not maintainable under deletes/updates
(removing the current max requires history), under append they
merge exactly. For updatable sources, route the changes through the
CDC tier and use ``touched_groups`` + ``refresh_groups``: partial
recompute of exactly the affected groups, everything else carried.

State discipline: sums accumulate in DECIMAL (order- and
batching-independent — the merge tree must not change the value),
counts in long; finalize derives doubles/averages LAST. The state
table is the at-rest analog of Spark's own partial aggregation
buffers — this module just persists them between jobs.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import swap

_DEC = "decimal(30,10)"

#: spec kinds -> (state builder, state merger)
_KINDS = ("sum", "count", "min", "max")


def agg_state(batch: DataFrame, group_cols: Sequence[str],
              specs: Sequence[tuple[str, str, str | None]]) -> DataFrame:
    """Per-group partial state of one batch. ``specs`` is a list of
    (out_name, kind, col) with kind in {sum, count, min, max}
    (col ignored for count). One shuffle, map-side combined."""
    aggs = []
    for name, kind, col in specs:
        if kind == "sum":
            aggs.append(F.sum(F.col(col).cast(_DEC)).alias(name))
        elif kind == "count":
            aggs.append(F.count("*").alias(name))
        elif kind == "min":
            aggs.append(F.min(col).alias(name))
        elif kind == "max":
            aggs.append(F.max(col).alias(name))
        else:
            raise ValueError(f"unsupported kind: {kind}")
    return batch.groupBy(*group_cols).agg(*aggs)


def merge_state(old: DataFrame, delta: DataFrame,
                group_cols: Sequence[str],
                specs: Sequence[tuple[str, str, str | None]]) -> DataFrame:
    """Merge two state frames: each kind merges by its own combine
    (sum+sum, count+count, min-of-mins, max-of-maxes) — exactly
    Spark's partial-aggregate combine, applied across JOBS instead
    of across partitions. Cost: state-sized union + one group-keyed
    aggregate; history is never read."""
    both = old.unionByName(delta)
    aggs = []
    for name, kind, _ in specs:
        if kind in ("sum", "count"):
            aggs.append(F.sum(name).alias(name))
        elif kind == "min":
            aggs.append(F.min(name).alias(name))
        elif kind == "max":
            aggs.append(F.max(name).alias(name))
    return both.groupBy(*group_cols).agg(*aggs)


def refresh_aggregate_table(spark: SparkSession, table_path: str,
                            batch: DataFrame,
                            group_cols: Sequence[str],
                            specs: Sequence[tuple[str, str, str | None]]
                            ) -> None:
    """Fold one append-only ingest batch into the stored aggregate
    state: aggregate the batch, merge with the stored state (first
    call seeds it), atomic swap via ``sources.swap`` (a reader never
    observes a half-written table, a crashed refresh leaves the old
    state and the next refresh recovers it)."""
    merged = delta = agg_state(batch, group_cols, specs)
    if swap.recover(table_path):
        merged = merge_state(spark.read.parquet(table_path), delta,
                             group_cols, specs)
    swap.replace_dir(table_path, merged.write.mode("overwrite").parquet)


def finalize(state: DataFrame,
             specs: Sequence[tuple[str, str, str | None]],
             derived: Sequence[tuple[str, str, str]] = ()) -> DataFrame:
    """Present the state as the user-facing view: decimal sums cast
    to double, plus derived algebraic columns ``(name, num, den)``
    computed as num/den (e.g. avg = sum/count) — derived LAST, from
    exact state, never maintained directly (an incrementally-averaged
    average drifts; a ratio of exact sums cannot)."""
    out = state
    for name, kind, _ in specs:
        if kind == "sum":
            out = out.withColumn(name, F.col(name).cast("double"))
    for name, num, den in derived:
        out = out.withColumn(name, F.col(num) / F.col(den))
    return out


def touched_groups(base_before: DataFrame, changes: DataFrame,
                   key: str, group_cols: Sequence[str]) -> DataFrame:
    """Distinct group keys an update/delete/insert changelog can
    affect: the groups of the changed keys' BEFORE-image rows (a row
    may leave a group) unioned with the groups carried by the change
    payloads themselves (a row may enter a group). Everything else
    is provably untouched."""
    changed_keys = changes.select(key).distinct()
    before = (base_before.join(changed_keys, key, "semi")
              .select(*group_cols))
    after = changes.select(*group_cols)
    return before.unionByName(after).distinct()


def refresh_groups(spark: SparkSession, table_path: str,
                   source: DataFrame, touched: DataFrame,
                   group_cols: Sequence[str],
                   specs: Sequence[tuple[str, str, str | None]]) -> None:
    """IVM under UPDATES/DELETES — the partial-recompute tier for
    non-append sources (append-only refresh can merge states; an
    update can't, because min/max/sums would need retraction):
    recompute ONLY the groups the changelog touched from the
    CURRENT base table (maintained by the CDC tier), carry every
    other group's state untouched via an anti join. With the base
    partitioned/bucketed by the group key, the semi join prunes the
    scan to the touched groups' files — refresh cost tracks the
    CHANGE footprint, not the table. The partiality contract is
    pinned by a test that hands this function a source containing
    ONLY the touched groups' rows and still gets the globally
    correct state."""
    recomputed = agg_state(
        source.join(F.broadcast(touched), list(group_cols), "semi"),
        group_cols, specs)
    swap.recover(table_path)
    old = spark.read.parquet(table_path)
    kept = old.join(F.broadcast(touched), list(group_cols), "anti")
    merged = kept.unionByName(recomputed)
    swap.replace_dir(table_path, merged.write.mode("overwrite").parquet)


def _applied_batch_path(table_path: str) -> str:
    # underscore prefix: Spark's file listing ignores it, so the
    # marker can live INSIDE the table directory and ride the same
    # atomic swap as the data — no window where state and marker
    # disagree
    return os.path.join(table_path, "_applied_batch.json")


def last_applied_batch(table_path: str) -> int:
    """-1 if the table doesn't exist or predates streaming refresh."""
    import json
    p = _applied_batch_path(table_path)
    if not os.path.exists(p):
        return -1
    with open(p) as fh:
        return int(json.load(fh)["batch_id"])


def refresh_aggregate_table_once(spark: SparkSession, table_path: str,
                                 batch: DataFrame, batch_id: int,
                                 group_cols: Sequence[str],
                                 specs: Sequence[tuple[str, str,
                                                       str | None]]) -> bool:
    """Exactly-once batch application for at-least-once callers
    (foreachBatch replays the in-flight batch after crash recovery —
    additive state would DOUBLE-COUNT it; cf. the dedup the publish
    sink needs for the same reason): the applied batch id is written
    inside the new table directory BEFORE the atomic swap, so state
    and marker swap together — a crash at any point leaves either the
    old table (marker says replay needed) or the new one (marker says
    skip); a crash mid-swap is recovered before the marker is read.
    Returns False when the batch was already applied. Monotonic batch
    ids are Structured Streaming's contract."""
    import json

    exists = swap.recover(table_path)
    if batch_id <= last_applied_batch(table_path):
        return False
    merged = delta = agg_state(batch, group_cols, specs)
    if exists:
        merged = merge_state(spark.read.parquet(table_path), delta,
                             group_cols, specs)

    def write(tmp: str) -> None:
        merged.write.mode("overwrite").parquet(tmp)
        with open(_applied_batch_path(tmp), "w") as fh:
            json.dump({"batch_id": int(batch_id)}, fh)
    swap.replace_dir(table_path, write)
    return True


def streaming_refresh(table_path: str, group_cols: Sequence[str],
                      specs: Sequence[tuple[str, str, str | None]]):
    """foreachBatch binding of the exactly-once refresh: attach with
    ``stream.writeStream.foreachBatch(streaming_refresh(...))`` and
    the stored aggregate tracks the stream with no loss and no
    double-count across crash/replay."""
    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        refresh_aggregate_table_once(batch_df.sparkSession, table_path,
                                     batch_df, batch_id,
                                     group_cols, specs)
    return _apply
