"""CDC changelog application (operators/cdc.py) and rolling technical
indicators (operators/indicators.py): planted-scenario semantics,
idempotence, and parity against pandas/pure-Python references."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stockanalyses_downloader_spark.operators import cdc, indicators


def _ts(d, h=0):
    return datetime(2024, 3, d, h)


def _base(spark):
    return spark.createDataFrame(
        [(1, "A", _ts(1)), (2, "B", _ts(1)), (3, "C", _ts(1))],
        "k long, state string, updated_ts timestamp")


def _apply(base, changes):
    return cdc.apply_changelog(base, changes, "k", ["seq"], "op",
                               ["state", "updated_ts"])


def _rows(df):
    return {r["k"]: (r["state"], r["updated_ts"]) for r in df.collect()}


def test_cdc_upsert_delete_insert_noop(spark):
    """The four MERGE cases in one changelog: update (latest of two
    changes wins), delete, insert of a new key, delete of an absent
    key (no-op), and an untouched base row."""
    changes = spark.createDataFrame(
        [(2, 1, "U", "B1", _ts(2)),
         (2, 2, "U", "B2", _ts(3)),   # later seq wins
         (3, 1, "D", None, _ts(2)),   # delete key 3
         (4, 1, "I", "NEW", _ts(2)),  # insert key 4
         (5, 1, "D", None, _ts(2))],  # delete a key not in base: no-op
        "k long, seq long, op string, state string, updated_ts timestamp")
    got = _rows(_apply(_base(spark), changes))
    assert got == {1: ("A", _ts(1)), 2: ("B2", _ts(3)),
                   4: ("NEW", _ts(2))}


def test_cdc_is_idempotent_and_order_blind(spark):
    """Re-applying the same changelog is a no-op (the daily job is
    safely re-runnable), and input row order never matters — only the
    sequence column decides the winner."""
    changes = spark.createDataFrame(
        [(2, 2, "U", "LATE", _ts(3)),
         (2, 1, "D", None, _ts(2)),   # earlier delete loses to the U
         (1, 1, "U", "A1", _ts(2))],
        "k long, seq long, op string, state string, updated_ts timestamp")
    once = _rows(_apply(_base(spark), changes))
    twice = _rows(_apply(_apply(_base(spark), changes), changes))
    shuffled = _rows(_apply(_base(spark), changes.orderBy(F.rand(7))))
    assert once == twice == shuffled
    assert once[2] == ("LATE", _ts(3))


def test_cdc_null_op_upserts_not_deletes(spark):
    """A malformed NULL op on a change row falls through to upsert —
    never a silent delete."""
    changes = spark.createDataFrame(
        [(1, 1, None, "X", _ts(2))],
        "k long, seq long, op string, state string, updated_ts timestamp")
    got = _rows(_apply(_base(spark), changes))
    assert got[1] == ("X", _ts(2))


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.integers(1, 4),          # key
                          st.integers(1, 30),         # seq (may tie)
                          st.sampled_from("IUD"),     # op
                          st.sampled_from("WXYZ")),   # payload
                min_size=0, max_size=30))
def test_cdc_property_vs_python(spark, changes):
    """apply_changelog against a pure-Python merge over random
    changelogs. Ties on seq are broken by payload then op (passed as
    extra sequence columns) so both sides pick the same winner."""
    base = {1: "A", 2: "B"}
    base_df = spark.createDataFrame(
        [(k, v, _ts(1)) for k, v in base.items()],
        "k long, state string, updated_ts timestamp")
    ch_df = spark.createDataFrame(
        [(k, s, op, p, _ts(2)) for k, s, op, p in changes],
        "k long, seq long, op string, state string, updated_ts timestamp")
    got = {r["k"]: r["state"] for r in
           cdc.apply_changelog(base_df, ch_df, "k",
                               ["seq", "state", "op"],
                               "op", ["state", "updated_ts"]).collect()}

    expected = dict(base)
    latest: dict = {}
    for k, s, op, p in changes:
        if k not in latest or (s, p, op) > latest[k]:
            latest[k] = (s, p, op)
    for k, (_, p, op) in latest.items():
        if op == "D":
            expected.pop(k, None)
        else:
            expected[k] = p
    assert got == expected


# --- rolling indicators ----------------------------------------------------

def _series(spark, prices):
    rows = [(i, "XFC000000001", _ts(1, 0).replace(minute=i), float(p))
            for i, p in enumerate(prices)]
    return spark.createDataFrame(
        rows, "tick_id long, isin string, ts timestamp, last_price double")


def test_indicators_match_pandas_rolling(spark):
    prices = [10.0, 11.0, 10.5, 12.0, 11.5, 13.0, 12.5, 12.5, 14.0]
    df = indicators.with_rolling_indicators(
        _series(spark, prices), n=5).orderBy("tick_id")
    got = df.toPandas()

    s = pd.Series(prices)
    sma = s.rolling(5).mean()
    std = s.rolling(5).std()
    diff = s.diff()
    gain = diff.clip(lower=0).rolling(5).sum()
    loss = (-diff).clip(lower=0).rolling(5).sum()
    rsi = 100 * gain / (gain + loss)

    for i in range(len(prices)):
        for col, ref in (("sma_5", sma), ("std_5", std)):
            if pd.isna(ref[i]):
                assert got[col][i] is None or pd.isna(got[col][i])
            else:
                assert got[col][i] == pytest.approx(ref[i], rel=1e-9)
    # rsi needs 5 diffs -> first valid at i=5
    for i in range(len(prices)):
        if i < 5:
            assert pd.isna(got["rsi_5"][i])
        else:
            assert got["rsi_5"][i] == pytest.approx(rsi[i], rel=1e-9)


def test_indicators_flat_window_rsi_is_null_not_neutral(spark):
    """A window that moved nowhere has no relative strength — NULL,
    not a fake neutral 50 (0/0 guarded by the gsum+lsum>0 gate)."""
    df = indicators.with_rolling_indicators(
        _series(spark, [7.0] * 8), n=5).orderBy("tick_id")
    got = df.toPandas()
    assert got["rsi_5"].isna().all()
    assert got["std_5"].dropna().eq(0.0).all()
    assert got["sma_5"].dropna().eq(7.0).all()


def test_indicators_partition_by_key_no_cross_isin_bleed(spark):
    """Each ISIN's windows see only its own ticks — the lag/frames
    reset at the key boundary."""
    rows = ([(i, "AAA", _ts(1).replace(minute=i), 10.0 + i)
             for i in range(6)]
            + [(100 + i, "BBB", _ts(1).replace(minute=i), 500.0)
               for i in range(6)])
    df = spark.createDataFrame(
        rows, "tick_id long, isin string, ts timestamp, last_price double")
    out = indicators.with_rolling_indicators(df, n=5).toPandas()
    aaa = out[out["isin"] == "AAA"]
    bbb = out[out["isin"] == "BBB"]
    # BBB is flat at 500: its sma is 500, never polluted by AAA's 10s
    assert bbb["sma_5"].dropna().eq(500.0).all()
    # AAA warm-up: exactly rows 0-3 lack sma (frame < 5)
    assert aaa.sort_values("tick_id")["sma_5"].isna().tolist() == (
        [True] * 4 + [False] * 2)


def test_resample_ffill_grid_and_tolerance(spark):
    """resample_ffill: grid spans floor(min)..floor(max) per key,
    each instant carries the last tick at or before it, instants
    before the first tick are NULL, and a staleness tolerance turns
    too-old fills back into NULL instead of serving stale prices."""
    from stockanalyses_downloader_spark.operators import resample

    rows = [(1, "AAA", datetime(2024, 3, 1, 0, 0, 30), 10.0),
            (2, "AAA", datetime(2024, 3, 1, 0, 2, 10), 20.0)]
    t = spark.createDataFrame(
        rows, "tick_id long, isin string, ts timestamp, last_price double")

    out = {r["grid_ts"].minute: r["ff_last_price"]
           for r in resample.resample_ffill(
               t.select("isin", "ts", "last_price"), interval_s=60)
           .collect()}
    # grid minutes 0,1,2 — 0 precedes the first tick
    assert out == {0: None, 1: 10.0, 2: 10.0}

    tol = {r["grid_ts"].minute: r["ff_last_price"]
           for r in resample.resample_ffill(
               t.select("isin", "ts", "last_price"), interval_s=60,
               tolerance_s=60).collect()}
    # minute 2 is 90s after the last usable tick: stale -> NULL
    assert tol == {0: None, 1: 10.0, 2: None}


def test_anomaly_zscore_flags_spike_not_baseline(spark):
    """A planted spike after a stable baseline is flagged; the stable
    ticks around it are not; warm-up rows are NULL. Baseline values
    alternate 99.5/100.5 (std > 0) so z is defined everywhere past
    warm-up."""
    rows = []
    for i in range(20):
        price = 100.0 + (0.5 if i % 2 == 0 else -0.5)
        if i == 15:
            price = 140.0  # the spike
        rows.append(("A", i, datetime(2024, 1, 1, 0, i), price))
    df = spark.createDataFrame(
        rows, "isin string, tick_id long, ts timestamp, price double")
    out = indicators.with_anomaly_zscores(
        df, price_col="price", n=5, z_thresh=2.5)
    got = {r["tick_id"]: (r["zscore"], r["is_anomaly"])
           for r in out.collect()}
    for i in range(5):
        assert got[i] == (None, None)          # warm-up
    assert got[15][1] is True                   # the spike
    assert abs(got[15][0]) > 2.5
    for i in (10, 11, 12, 13, 14):
        assert got[i][1] is False               # stable baseline


def test_anomaly_baseline_excludes_current_row(spark):
    """Self-masking check: the spike's OWN baseline window must not
    contain the spike. With a constant pre-spike series the trailing
    window is flat (std = 0) => zscore NULL — whereas a frame that
    included the current row would compute std > 0 and a finite z.
    The NULL is the proof of exclusion."""
    rows = [("A", i, datetime(2024, 1, 1, 0, i), 100.0) for i in range(10)]
    rows.append(("A", 10, datetime(2024, 1, 1, 0, 10), 150.0))
    df = spark.createDataFrame(
        rows, "isin string, tick_id long, ts timestamp, price double")
    out = indicators.with_anomaly_zscores(
        df, price_col="price", n=5, z_thresh=2.5)
    spike = [r for r in out.collect() if r["tick_id"] == 10][0]
    assert spike["zscore"] is None
    assert spike["is_anomaly"] is None


def test_feed_islands_planted_gaps(spark):
    """Planted outage pattern: ticks at minutes 0,10,20 then a 30 h
    silence then 3 more => exactly two islands with the right spans;
    a second isin with no gap stays one island."""
    from stockanalyses_downloader_spark.queries.reference_queries import (
        tick_feed_islands)  # noqa: F401  (query itself needs sf fixtures)
    from pyspark.sql import Window

    def mk(isin, minutes):
        return [(isin, i, datetime(2024, 1, 1) + pd.Timedelta(minutes=m))
                for i, m in enumerate(minutes)]

    rows = mk("A", [0, 10, 20, 20 + 30 * 60, 20 + 30 * 60 + 5,
                    20 + 30 * 60 + 9]) + mk("B", [0, 30, 60])
    df = spark.createDataFrame(rows, "isin string, tick_id long, ts timestamp")
    w = Window.partitionBy("isin").orderBy("ts", "tick_id")
    prev = F.lag("ts").over(w)
    brk = F.when(prev.isNull()
                 | (F.col("ts") > prev + F.expr("INTERVAL 24 HOURS")),
                 F.lit(1)).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (df.withColumn("island_id",
                         F.sum(brk).over(run).cast("long"))
           .groupBy("isin", "island_id")
           .agg(F.count("*").alias("n"), F.min("ts").alias("s"),
                F.max("ts").alias("e")))
    got = {(r["isin"], r["island_id"]): r["n"] for r in out.collect()}
    assert got == {("A", 1): 3, ("A", 2): 3, ("B", 1): 3}


def test_ema_matches_pandas_ewm_and_isolates_keys(spark):
    """ema_by_key == pandas ewm(alpha, adjust=False) per key to
    1e-12, and a second key's series never bleeds into the first
    (each key's fold restarts at its own first price)."""
    rows = []
    for i in range(30):
        rows.append(("A", i, datetime(2024, 1, 1, 0, i),
                     100.0 + (i % 7) * 1.5))
        rows.append(("B", 100 + i, datetime(2024, 1, 1, 0, i),
                     500.0 - (i % 5) * 2.0))
    df = spark.createDataFrame(
        rows, "isin string, tick_id long, ts timestamp, last_price double")
    got = {(r["isin"], r["tick_id"]): r["ema"] for r in
           indicators.ema_by_key(df, alpha=0.2).collect()}

    pdf = pd.DataFrame(rows, columns=["isin", "tick_id", "ts", "p"])
    for isin, g in pdf.groupby("isin"):
        g = g.sort_values(["ts", "tick_id"])
        ewm = g["p"].ewm(alpha=0.2, adjust=False).mean()
        for tid, want in zip(g["tick_id"], ewm):
            assert abs(got[(isin, tid)] - want) < 1e-12
    # key isolation: B's first ema is exactly its own first price
    assert got[("B", 100)] == 500.0
