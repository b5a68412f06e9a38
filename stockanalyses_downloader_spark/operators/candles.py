"""OHLC candle aggregation (reference A1 — the README's declared
"weekly data / historical data" actions, README.md:11-12, over the tick
fields of main.py:408-411).

Built as tumbling ``F.window`` buckets so the exact same transform runs
in batch (historical backfill) and Structured Streaming (live candles,
with a watermark bound on state). Spark's window() aligns buckets to
the epoch, so ``window.start = floor(epoch_us / width) * width`` — the
property the DuckDB oracle reproduces with integer arithmetic.

Determinism discipline for the oracle: open/close are first/last by
``(ts, tiebreak)`` over an explicit full-frame window (duplicate
timestamps exist in the fixture), and volume is summed as DECIMAL then
cast to double so the result is independent of partitioning/order.

Scale: one shuffle on (key, bucket); partial aggregation is map-side;
at 100 TB the bucket column is also the natural storage partition key
so historical rebuilds prune to the affected window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

WEEK_US = 7 * 24 * 3600 * 1_000_000


def ohlc_candles(ticks: DataFrame) -> DataFrame:
    """Tumbling 7-day OHLCV candles per isin. Columns:
    isin, bucket_start, open, high, low, close, volume, n_ticks."""
    # materialize the bucket as a column FIRST so the window and the
    # groupBy share one attribute -> Catalyst reuses a single shuffle
    # on (key, bucket) instead of re-exchanging per operator
    ticks = ticks.withColumn("__w", F.window("ts", "7 days"))
    w = (Window.partitionBy("isin", "__w")
               .orderBy("ts", "tick_id")
               .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    enriched = (ticks
                .withColumn("__open", F.first("last_price").over(w))
                .withColumn("__close", F.last("last_price").over(w)))
    return (enriched
            .groupBy("isin", "__w")
            .agg(F.min("__open").alias("open"),
                 F.max("last_price").alias("high"),
                 F.min("last_price").alias("low"),
                 F.min("__close").alias("close"),
                 F.sum(F.col("volume").cast("decimal(25,10)"))
                  .cast("double").alias("volume"),
                 F.count("*").alias("n_ticks"))
            .select("isin", F.col("__w.start").alias("bucket_start"),
                    "open", "high", "low", "close", "volume", "n_ticks"))


def streaming_ohlc(ticks: DataFrame,
                   watermark: str = "10 minutes") -> DataFrame:
    """Streaming variant of ohlc_candles: 7-day candles per isin;
    watermark bounds candle state (ST5); open and close use
    min_by/max_by over (ts, tick_id) — window
    functions are not supported on streams, and the struct order key
    keeps results identical to the batch transform under duplicate
    timestamps. Volume sums in decimal (order-independent), so a
    replayed/re-partitioned stream emits bit-identical candles. Late
    ticks beyond the watermark drop."""
    order_key = F.struct("ts", "tick_id")
    return (ticks
            .withWatermark("ts", watermark)
            .groupBy("isin", F.window("ts", "7 days").alias("__w"))
            .agg(F.min_by("last_price", order_key).alias("open"),
                 F.max("last_price").alias("high"),
                 F.min("last_price").alias("low"),
                 F.max_by("last_price", order_key).alias("close"),
                 F.sum(F.col("volume").cast("decimal(25,10)"))
                  .cast("double").alias("volume"),
                 F.count("*").alias("n_ticks"))
            .select("isin", F.col("__w.start").alias("bucket_start"),
                    "open", "high", "low", "close", "volume", "n_ticks"))
