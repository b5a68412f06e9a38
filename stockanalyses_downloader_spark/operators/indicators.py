"""Rolling technical indicators over the tick feed — the analytics a
stock-downloader's consumers compute first from the stored ticks
(reference scope: main.py stores raw bid/ask/last; SMA/volatility/RSI
are the canonical derived series over that store).

All three are single-window derivations per instrument:

  sma_n    simple moving average of the last n ticks
  std_n    rolling sample standard deviation (annualizable volatility)
  rsi_n    Wilder's relative-strength index on an n-tick lookback
           (simple-average variant: 100 * avg_gain / (avg_gain +
           avg_loss); NULL until a full lookback exists and when the
           window moved nowhere — no fake neutral 50s)

Scale shape: everything is ONE shuffle per instrument key — all
windows share the same (isin) partitioning and (ts, tick_id) sort, so
Catalyst plans a single Exchange + Sort feeding every frame. State per
key is the n-row frame, never the full series.

Cross-engine float discipline (cf. queries/helpers.py): window sums
accumulate in DECIMAL (order-fixed by the frame, but decimal keeps
partial-vs-sequential addition exact), then divide/sqrt in double —
bit-identical between Spark and the DuckDB oracle. The rolling
variance uses the moment identity (sum2 - sum^2/n)/(n-1) evaluated in
double AFTER the exact decimal sums, with a greatest(.,0) clamp for
the tiny negative residue a constant window produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(30,10)"


def with_rolling_indicators(ticks: DataFrame, n: int = 5) -> DataFrame:
    """Append sma_n / std_n / rsi_n columns over ``last_price`` per
    isin in (ts, tick_id) order (NULL until the frame holds
    n rows — a deterministic warm-up cutoff rather than noisy partial
    averages).

    Shared frame aggregates are bound as REAL columns before the
    derived indicator expressions use them (r13 optimization round —
    same rationale as with_anomaly_zscores below): every textual
    occurrence of ``.over(frame)`` becomes its own window-function
    instance in the plan, so the old inline form evaluated ~14
    sliding decimal aggregates (plus one embedded lag per rsi sum
    occurrence) where 6 + one lag suffice. Arithmetic per row is
    unchanged; the hash-oracled output is identical."""
    w = Window.partitionBy("isin").orderBy(F.col("ts"), F.col("tick_id"))
    frame = w.rowsBetween(-(n - 1), 0)

    price = F.col("last_price")
    # lag bound first: the rsi sums consume it, and binding keeps the
    # plan at two Window nodes (lag, then the six aggregates) sharing
    # one exchange + sort instead of re-extracting lag per occurrence
    d = ticks.withColumn("__ri_diff", price - F.lag(price).over(w))
    diff = F.col("__ri_diff")
    gain = F.when(diff > 0, diff).otherwise(F.lit(0.0))
    loss = F.when(diff < 0, -diff).otherwise(F.lit(0.0))
    # diff is NULL on each key's first row; decimal SUM skips NULLs in
    # both engines, and the full-lookback gate below only opens once
    # n diffs exist anyway
    # one withColumns call = one Project = ONE Window node for all six
    # aggregates — chained withColumn would interleave each aggregate's
    # cast-input Project between Window nodes, which blocks Catalyst's
    # CollapseWindow and leaves one Window operator per aggregate
    d = d.withColumns({
        "__ri_cnt": F.count(price).over(frame),
        "__ri_s1": F.sum(price.cast(_DEC)).over(frame).cast("double"),
        "__ri_s2": F.sum((price * price).cast(_DEC)).over(frame)
                    .cast("double"),
        "__ri_gsum": F.sum(gain.cast(_DEC)).over(frame).cast("double"),
        "__ri_lsum": F.sum(loss.cast(_DEC)).over(frame).cast("double"),
        "__ri_ndiff": F.count(diff).over(frame),
    })

    s1, s2 = F.col("__ri_s1"), F.col("__ri_s2")
    gsum, lsum = F.col("__ri_gsum"), F.col("__ri_lsum")
    full = F.col("__ri_cnt") == n

    sma = F.when(full, s1 / n)
    var = F.greatest((s2 - s1 * s1 / n) / (n - 1), F.lit(0.0))
    std = F.when(full, F.sqrt(var))
    rsi = F.when((F.col("__ri_ndiff") == n) & (gsum + lsum > 0),
                 100.0 * gsum / (gsum + lsum))

    return (d
            .withColumn(f"sma_{n}", sma)
            .withColumn(f"std_{n}", std)
            .withColumn(f"rsi_{n}", rsi)
            .drop("__ri_diff", "__ri_cnt", "__ri_s1", "__ri_s2",
                  "__ri_gsum", "__ri_lsum", "__ri_ndiff"))


def with_anomaly_zscores(ticks: DataFrame, price_col: str = "last_price",
                         key: str = "isin", ts: str = "ts",
                         tiebreak: str = "tick_id",
                         n: int = 12, z_thresh: float = 2.5) -> DataFrame:
    """Trailing-window z-score anomaly flags: each tick scored against
    the mean/std of the n ticks STRICTLY BEFORE it (frame (-n, -1) —
    the current row is excluded so a spike can't inflate its own
    baseline and mask itself, the classic self-contamination bug in
    rolling anomaly detectors). NULL until a full n-row baseline
    exists and when the baseline is flat (std = 0 makes z undefined —
    no fabricated infinities). Same decimal-moment discipline as the
    indicators above; one shuffle shared with them when composed (all
    frames sort on (ts, tiebreak) per key).

    Appends ``zscore`` and ``is_anomaly`` (|z| > z_thresh).

    The three frame aggregates are bound as REAL columns before any
    derived expression uses them (r13 optimization round): Catalyst
    extracts each *occurrence* of a window expression as its own
    window function — the old form's ``zscore``-then-``is_anomaly``
    chain rendered as TWO Window operators evaluating 24 sliding
    decimal aggregates (8 + 16) where 3 suffice. Binding once leaves
    a single Window node with exactly count/sum/sum². Arithmetic per
    row is unchanged — same exact decimal sums, same double
    divisions — so the hash-oracled output is identical."""
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(tiebreak))
    frame = w.rowsBetween(-n, -1)

    price = F.col(price_col)
    # one withColumns call = one Project = one Window node (see the
    # CollapseWindow note in with_rolling_indicators)
    d = ticks.withColumns({
        "__az_cnt": F.count(price).over(frame),
        "__az_s1": F.sum(price.cast(_DEC)).over(frame).cast("double"),
        "__az_s2": F.sum((price * price).cast(_DEC)).over(frame)
                    .cast("double"),
    })
    s1, s2 = F.col("__az_s1"), F.col("__az_s2")
    mean = s1 / n
    var = F.greatest((s2 - s1 * s1 / n) / (n - 1), F.lit(0.0))
    std = F.sqrt(var)
    zscore = F.when((F.col("__az_cnt") == n) & (std > 0),
                    (price - mean) / std)
    return (d.withColumn("zscore", zscore)
            .withColumn("is_anomaly",
                        F.when(F.col("zscore").isNotNull(),
                               F.abs(F.col("zscore")) > z_thresh))
            .drop("__az_cnt", "__az_s1", "__az_s2"))


def ema_by_key(ticks: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Exponential moving average of ``last_price`` per isin in
    (ts, tick_id) order — the recurrence
    s_t = alpha*x_t + (1-alpha)*s_{t-1} (s_1 = x_1) is inherently
    SEQUENTIAL per key: no window frame expresses it and the pow()
    closed form changes the float summation order. This is the
    sanctioned Arrow escape hatch (applyInPandas): one grouped Arrow batch per key,
    a per-key Python fold whose expression order matches the
    DuckDB oracle's recursive fold EXACTLY — so even this
    pandas-backed operator is HASH-verified cross-engine, the
    property the repo's UDF policy exists to protect. State per key
    is one float; cost is one shuffle on the key.

    Output: (isin, tick_id, ema)."""
    import pandas as pd

    a = float(alpha)

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "tick_id"])
        s = None
        out = []
        for x in pdf["last_price"].astype("float64"):
            s = x if s is None else a * x + (1.0 - a) * s
            out.append(s)
        return pd.DataFrame({"isin": pdf["isin"],
                             "tick_id": pdf["tick_id"], "ema": out})

    out_schema = "isin string, tick_id long, ema double"
    return ticks.groupBy("isin").applyInPandas(fold, out_schema)
