"""Custom stateful streaming operator via applyInPandasWithState
(reference ST6 — the per-key job/tick state the reference keeps in
process memory, main.py:293-353).

``running_pair_stats`` maintains per-key cumulative tick statistics
(count, volume, last price, min/max) across micro-batches — the
streaming-native generalization of the reference's mutable per-job
dict. State is explicit, checkpointed, and bounded per key.

State is also bounded ACROSS keys when ``idle_timeout_ms`` is set:
idle pairs are evicted via GroupStateTimeout.ProcessingTimeTimeout —
a key that receives no data for the timeout duration has its state
removed at the next micro-batch, so total state size tracks the
active key set, not the lifetime key universe. At 100 TB / year-long
feeds the key universe (pairs × venues, or fingerprints in the dedup
path) is unbounded; an engine that never evicts eventually spills
the state store on every executor. The trade is explicit and the
default (``None`` = NoTimeout) is right for bounded backfills:
eviction means a key returning after the TTL restarts its running
stats from zero.

This is the sanctioned escape hatch when windowed aggregation can't
express the semantics (cross-window running state). Everything that CAN
be a window/groupBy stays one (candles.py) — state here is a last
resort, exactly as the engine's UDF policy demands.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor
from pyspark.sql import types as T

STATS_SCHEMA = T.StructType([
    T.StructField("pair", T.StringType(), False),
    T.StructField("n_ticks", T.LongType(), True),
    T.StructField("total_volume", T.DoubleType(), True),
    T.StructField("last_price", T.DoubleType(), True),
    T.StructField("min_price", T.DoubleType(), True),
    T.StructField("max_price", T.DoubleType(), True),
])

_STATE_SCHEMA = ("n_ticks long, total_volume double, last_price double, "
                 "min_price double, max_price double")


def _make_update(idle_timeout_ms: int | None):
    """Build the per-key update fn. A closure (not functools.partial)
    because applyInPandasWithState pickles the callable to executors
    and requires the exact (key, batches, state) arity."""

    def _update(key: tuple, batches: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Eviction path: the key saw no data for idle_timeout_ms.
            # Drop the state and emit nothing — the last emitted stats
            # row stands as the key's final word; a later return of the
            # key starts from zero (documented trade in the module
            # docstring).
            state.remove()
            return
        (pair,) = key
        if state.exists:
            n, vol, last, mn, mx = state.get
        else:
            n, vol, last, mn, mx = 0, 0.0, None, None, None
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "last_price"])
            n += len(pdf)
            vol += float(pdf["volume"].sum())
            last = float(pdf["last_price"].iloc[-1])
            lo = float(pdf["last_price"].min())
            hi = float(pdf["last_price"].max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        state.update((n, vol, last, mn, mx))
        if idle_timeout_ms is not None:
            # re-arm on every batch that carries data for the key
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame([{"pair": pair, "n_ticks": n,
                             "total_volume": vol, "last_price": last,
                             "min_price": mn, "max_price": mx}])

    return _update


class _PairStatsProcessor(StatefulProcessor):
    """Spark-4 ``transformWithState`` successor of ``_make_update`` —
    the same per-key running stats on the new arbitrary-state API:
    typed ValueState instead of a positional tuple schema string at
    the call site, and a processor object whose lifecycle (init/close)
    the engine owns. State is kept forever, like ``running_pair_stats``
    without ``idle_timeout_ms``."""

    def init(self, handle) -> None:
        self._stats = handle.getValueState("stats", _STATE_SCHEMA)

    def handleInputRows(self, key: tuple, rows, timerValues):
        (pair,) = key
        prev = self._stats.get() if self._stats.exists() else None
        if prev is not None:
            n, vol, last, mn, mx = prev
        else:
            n, vol, last, mn, mx = 0, 0.0, None, None, None
        for pdf in rows:
            pdf = pdf.sort_values(["ts", "last_price"])
            n += len(pdf)
            vol += float(pdf["volume"].sum())
            last = float(pdf["last_price"].iloc[-1])
            lo = float(pdf["last_price"].min())
            hi = float(pdf["last_price"].max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        self._stats.update((n, vol, last, mn, mx))
        yield pd.DataFrame([{"pair": pair, "n_ticks": n,
                             "total_volume": vol, "last_price": last,
                             "min_price": mn, "max_price": mx}])

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


def running_pair_stats_tws(ticks: DataFrame) -> DataFrame:
    """``running_pair_stats`` on the transformWithStateInPandas API
    (Spark 4 arbitrary-state operator — REQUIRES the RocksDB state
    store provider; the caller sets
    ``spark.sql.streaming.stateStore.providerClass``). Semantics are
    pinned equal to the applyInPandasWithState path in
    tests/test_streaming.py."""
    return (ticks.groupBy("pair")
            .transformWithStateInPandas(
                statefulProcessor=_PairStatsProcessor(),
                outputStructType=STATS_SCHEMA,
                outputMode="update",
                timeMode="none"))


def running_pair_stats(ticks: DataFrame,
                       idle_timeout_ms: int | None = None) -> DataFrame:
    """Streaming DataFrame in (pair, bid/ask/last_price/volume/ts) ->
    one updated stats row per pair per micro-batch (update output mode).

    ``idle_timeout_ms``: when set, per-key state is EVICTED after the
    key has been idle that long (ProcessingTimeTimeout) — the
    unbounded-key-universe guard. ``None`` keeps state forever (exact
    running totals for bounded backfills)."""
    timeout = (GroupStateTimeout.NoTimeout if idle_timeout_ms is None
               else GroupStateTimeout.ProcessingTimeTimeout)
    return (ticks.groupBy("pair")
            .applyInPandasWithState(
                _make_update(idle_timeout_ms),
                outputStructType=STATS_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=timeout))


ANOM_SCHEMA = T.StructType([
    T.StructField("isin", T.StringType(), False),
    T.StructField("tick_id", T.LongType(), True),
    T.StructField("zscore", T.DoubleType(), True),
    T.StructField("is_anomaly", T.BooleanType(), True),
])

_ANOM_STATE = "prices array<double>"


def _make_anomaly_update(n: int, z_thresh: float):
    def _update(key: tuple, batches: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
        (isin,) = key
        if state.exists:
            (prices,) = state.get
            prices = list(prices)
        else:
            prices = []
        out = []
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "tick_id"])
            for tid, x in zip(pdf["tick_id"], pdf["last_price"]):
                x = float(x)
                if len(prices) >= n:
                    window = prices[-n:]
                    mean = sum(window) / n
                    var = max(
                        (sum(v * v for v in window) - sum(window) ** 2 / n)
                        / (n - 1), 0.0)
                    std = var ** 0.5
                    zs = (x - mean) / std if std > 0 else None
                else:
                    zs = None
                out.append((isin, int(tid), zs,
                            None if zs is None else abs(zs) > z_thresh))
                prices.append(x)
                prices = prices[-n:]
        state.update((prices,))
        yield pd.DataFrame(out, columns=["isin", "tick_id", "zscore",
                                         "is_anomaly"])

    return _update


def streaming_anomaly_flags(ticks: DataFrame, n: int = 12,
                            z_thresh: float = 2.5) -> DataFrame:
    """Streaming-native trailing z-score anomaly flags — the live
    binding of operators/indicators.with_anomaly_zscores: per-key
    state is the rolling last-n price buffer (bounded: n doubles per
    key), each incoming tick scores against the n ticks strictly
    before it ACROSS micro-batch boundaries (what a per-batch window
    can't see), same exclusion-of-self contract as the batch op.
    Stream-matches-batch is pinned in tests/test_streaming.py.
    Event-time ordering within state follows arrival batches; use an
    ordered source (or upstream watermark sort) as with every
    sequence-sensitive stream op here."""
    return (ticks.groupBy("isin")
            .applyInPandasWithState(
                _make_anomaly_update(n, z_thresh),
                outputStructType=ANOM_SCHEMA,
                stateStructType=_ANOM_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))
