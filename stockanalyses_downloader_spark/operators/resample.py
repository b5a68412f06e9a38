"""Time-series regularization: resample an irregular tick stream onto
a fixed grid with forward-fill — the step between raw ticks and any
model that assumes evenly spaced observations (returns, volatility,
correlation matrices all silently require it; the reference stores
raw irregular snapshots, reference main.py:328 one row per poll).

Built from existing machinery, not new physics:

  grid      per key: explode ``sequence(floor(min_ts), floor(max_ts),
            interval)`` — each key carries its own observed span, so
            a late-listed instrument doesn't fabricate pre-listing
            rows.
  ffill     operators/asof.asof_join backward: the grid is the left
            side, the ticks the right — "the last tick at or before
            each grid instant" IS the as-of join. ``tolerance_s``
            bounds staleness (a 1-minute grid with a 10-minute-old
            last tick can be forced NULL instead of stale-filled).

Scale: the grid explode emits span/interval rows per key (bounded,
data-independent given the span); the fill is one exchange + sort
(asof.py's cost model). No per-key driver loops, no pandas resample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import asof


def resample_ffill(ticks: DataFrame, value_cols: list[str] | None = None,
                   interval_s: int = 60,
                   tolerance_s: float | None = None) -> DataFrame:
    """(isin, grid_ts, *value_cols): one row per isin per grid instant
    between the key's first and last observation (instants floored to
    the interval), each carrying the most recent observation at or
    before it. Output is NULL-padded (``how='left'``) when tolerance
    cuts a stale fill."""
    value_cols = value_cols or ["last_price"]
    span = (ticks.groupBy("isin")
            .agg(F.min("ts").alias("__t0"), F.max("ts").alias("__t1")))
    step = F.expr(f"INTERVAL {int(interval_s)} SECONDS")
    floor0 = F.timestamp_seconds(
        (F.unix_timestamp("__t0") / interval_s).cast("long") * interval_s)
    floor1 = F.timestamp_seconds(
        (F.unix_timestamp("__t1") / interval_s).cast("long") * interval_s)
    grid = (span.select(
        "isin", F.explode(F.sequence(floor0, floor1, step))
        .alias("grid_ts")))
    right = ticks.select(
        "isin", F.col("ts"),
        *[F.col(c).alias(f"ff_{c}") for c in value_cols])
    return asof.asof_join(grid, right, on="isin", left_ts="grid_ts",
                          right_ts="ts", how="left",
                          direction="backward",
                          tolerance_s=tolerance_s)
