"""Changelog application (CDC upsert/delete merge) — the MERGE INTO
semantics a warehouse applies when a table arrives as a stream of
keyed change records instead of full snapshots.

The reference updates job rows in place over HTTP one at a time
(reference main.py:198-231 claim/finish writebacks); the engine's
batch analogue is: given yesterday's snapshot and today's changelog
(op ∈ {I,U,D} with a monotone sequence per key), produce today's
snapshot. SCD2 (operators/scd.py) keeps every version; this keeps
only the LATEST surviving row per key — the two are the history/
current duals of the same change feed.

Semantics (Delta/Iceberg MERGE-equivalent, but as a pure derivation —
recomputable and oracle-checkable, no mutable storage engine needed):

  * the changelog is first reduced to the latest change per key
    (row_number over the sequence DESC — later seq wins; ties broken
    by the caller's full sequence column list);
  * latest op D       -> key absent from the result (delete; a D for
    a key not in the base is a no-op by construction);
  * latest op I/U     -> the change's payload (upsert — insert-vs-
    update need not be distinguished once only the latest survives);
  * key not in changelog -> base row unchanged.

Scale shape: one shuffle of the changelog on the key for the
row_number, then one key-width full-outer join against the base. Both
sides shuffle on the SAME key, so at 100 TB the join co-partitions
with the reduction; no row wider than (key + payload) crosses the
wire, and applying a day's changelog never rescans history.

Applying the same changelog twice is idempotent (latest-change
reduction is deterministic), which is what makes the daily job safely
re-runnable — pinned in tests/test_cdc_indicators.py.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_changes(changes: DataFrame, key: str,
                   seq_cols: Sequence[str]) -> DataFrame:
    """The single winning change row per key: highest (seq_cols) wins.
    Callers must pass a TOTAL order (e.g. ts then a change id) or the
    result is nondeterministic — the fixture queries always do."""
    w = Window.partitionBy(key).orderBy(
        *[F.col(c).desc() for c in seq_cols])
    return (changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def apply_changelog(base: DataFrame, changes: DataFrame, key: str,
                    seq_cols: Sequence[str], op_col: str,
                    payload_cols: Sequence[str]) -> DataFrame:
    """New snapshot = base merged with the changelog. ``base`` needs
    (key, payload_cols); ``changes`` needs (key, op_col, seq_cols,
    payload_cols) with op values 'I'/'U'/'D'. Output: (key,
    payload_cols)."""
    latest = latest_changes(changes, key, seq_cols)
    b = base.select(key, *payload_cols)
    c = latest.select(
        key, F.col(op_col).alias("__op"),
        # mark change presence explicitly — op itself could in
        # principle be NULL in a malformed feed, and the full-outer
        # probe below must distinguish "no change row" from that
        F.lit(True).alias("__chg"),
        *[F.col(p).alias(f"__c_{p}") for p in payload_cols])
    joined = b.join(c, [key], "full_outer")
    # drop keys whose latest change is a delete; everything else
    # survives (base-only rows have __op NULL; a malformed NULL op on
    # a change row falls through to the upsert branch rather than
    # silently deleting)
    kept = joined.filter(~F.col("__op").eqNullSafe(F.lit("D")))
    return kept.select(
        key,
        *[F.when(F.col("__chg").isNotNull(), F.col(f"__c_{p}"))
          .otherwise(F.col(p)).alias(p) for p in payload_cols])
