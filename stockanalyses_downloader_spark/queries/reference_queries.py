"""Queries exercising the reference's pipeline semantics (SURVEY.md
§2.3-§2.7) end-to-end on the deterministic synthetic feeds.

Every Spark side composes the operators in ``operators/``; every oracle
recomputes the same relation in portable ANSI SQL over the same events
table + inline currency dim, so a hash match certifies the operator
chain, not just the arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..dims.currency import currency_dim, currency_values_sql
from ..operators import candles, pipeline, state_machine
from ..sources import synthetic
from . import Q

_DIM = currency_values_sql()

_MSG_COLS = ["tick_id", "exchange", "isin", "pair", "base", "quote",
             "bid", "ask", "mid", "last_price", "volume", "ts"]


def _resolved_ok_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared prefix: ticks -> P2 status filter -> J1 broadcast dim join
    -> P8 mid."""
    t = synthetic.ticks(spark, sf_dir)
    t = pipeline.validate_http(t)
    t = pipeline.resolve_pair(t, currency_dim(spark))
    return pipeline.with_mid(t)


_RESOLVED_SQL = f"""(
  SELECT t.tick_id, t.exchange, t.isin, d.pair, d.base, d.quote,
         t.bid, t.ask, (t.bid + t.ask) / 2 AS mid,
         t.last_price, t.volume, t.ts
  FROM {synthetic.TICKS_SQL} t
  JOIN {_DIM} d ON t.isin = d.isin
  WHERE t.status = 200
)"""


def flagship_latest_mid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: current (latest) mid-price quote per currency pair
    — scan -> filter -> broadcast join -> derive -> window top-1."""
    df = _resolved_ok_ticks(spark, sf_dir)
    df = pipeline.latest_per_key(df, "pair", tiebreak="tick_id")
    return df.select(*_MSG_COLS)


_FLAGSHIP_SQL = f"""
WITH ranked AS (
  SELECT r.*, row_number() OVER (PARTITION BY pair
                                 ORDER BY ts DESC, tick_id DESC) AS rn
  FROM {_RESOLVED_SQL} r
)
SELECT {', '.join(_MSG_COLS)} FROM ranked WHERE rn = 1
"""


def jobs_parse_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = synthetic.jobs(spark, sf_dir)
    j = pipeline.filter_actionable_jobs(j, rest_only=True)
    j = pipeline.parse_job_value(j)
    j = pipeline.dispatch_exchange(j)
    return j.select("downloader_jq_id", "exchange", "isin", "transport")


_JOBS_PARSE_SQL = f"""
SELECT downloader_jq_id,
       string_split(value, '#')[1] AS exchange,
       string_split(value, '#')[2] AS isin,
       CASE string_split(value, '#')[1]
            WHEN 'btsp' THEN 'rest' WHEN 'btfx' THEN 'wss' END AS transport
FROM {synthetic.JOBS_SQL}
WHERE downloader_jq_id <> 0 AND action = 1000 AND type_idtype = 2
"""


def jobs_resolve_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 on the job feed: unknown ISINs (85..97) drop via the inner
    broadcast join, mirroring the reference's KeyError discard."""
    j = synthetic.jobs(spark, sf_dir)
    j = pipeline.filter_actionable_jobs(j)
    j = pipeline.parse_job_value(j)
    j = pipeline.resolve_pair(j, currency_dim(spark))
    return j.select("downloader_jq_id", "exchange", "isin",
                    "base", "quote", "pair")


_JOBS_RESOLVE_SQL = f"""
WITH parsed AS (
  SELECT downloader_jq_id,
         string_split(value, '#')[1] AS exchange,
         string_split(value, '#')[2] AS isin
  FROM {synthetic.JOBS_SQL}
  WHERE downloader_jq_id <> 0 AND action = 1000
)
SELECT p.downloader_jq_id, p.exchange, p.isin, d.base, d.quote, d.pair
FROM parsed p JOIN {_DIM} d ON p.isin = d.isin
"""


def rest_pipeline_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 batch pipeline: every successful fetch becomes one enriched
    message row (pre-serialization; JSON formatting is engine-specific
    and covered by unit tests instead)."""
    return _resolved_ok_ticks(spark, sf_dir).select(*_MSG_COLS)


def dead_letter_by_exchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5: failed fetches per exchange and status code."""
    t = pipeline.dead_letter(synthetic.ticks(spark, sf_dir))
    return (t.groupBy("exchange", "status")
             .agg(F.count("*").alias("n_failed")))


_DEAD_LETTER_SQL = f"""
SELECT exchange, status, count(*) AS n_failed
FROM {synthetic.TICKS_SQL} WHERE status <> 200
GROUP BY exchange, status
"""


def job_state_claim_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6: batch claim transition (1000->1100) + state census."""
    j = state_machine.claim(synthetic.jobs(spark, sf_dir))
    return state_machine.transition_counts(j)


_CLAIM_SQL = f"""
SELECT CASE WHEN downloader_jq_id <> 0 AND action = 1000
            THEN 1100 ELSE action END AS action,
       count(*) AS n_jobs
FROM {synthetic.JOBS_SQL}
GROUP BY 1
"""


def job_state_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full state-machine cycle: claim, then merge fetch/publish
    outcomes (fetch ok = HTTP 200; every 13th publish fails) ->
    1300 on success, 1900 on any failure (main.py:328-353)."""
    jobs = pipeline.filter_actionable_jobs(synthetic.jobs(spark, sf_dir))
    jobs = state_machine.claim(jobs)
    t = synthetic.ticks(spark, sf_dir)
    outcomes = t.select(
        F.col("tick_id").alias("downloader_jq_id"),
        (F.col("status") == 200).alias("fetch_ok"),
        (F.col("tick_id") % 13 != 0).alias("publish_ok"))
    out = state_machine.apply_outcomes(jobs, outcomes)
    return out.groupBy("action").agg(F.count("*").alias("n_jobs"))


_OUTCOMES_SQL = f"""
WITH claimed AS (
  SELECT downloader_jq_id FROM {synthetic.JOBS_SQL}
  WHERE downloader_jq_id <> 0 AND action = 1000
), outcomes AS (
  SELECT tick_id AS downloader_jq_id,
         status = 200 AS fetch_ok,
         tick_id % 13 <> 0 AS publish_ok
  FROM {synthetic.TICKS_SQL}
)
SELECT CASE WHEN o.fetch_ok IS NULL THEN 1100
            WHEN NOT o.fetch_ok THEN 1900
            WHEN o.publish_ok IS NULL OR NOT o.publish_ok THEN 1900
            ELSE 1300 END AS action,
       count(*) AS n_jobs
FROM claimed c LEFT JOIN outcomes o USING (downloader_jq_id)
GROUP BY 1
"""


def wss_enriched_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 streaming-path transform on the wire-format feed: positional
    projection (P7) -> reverse pair->ISIN check (J2) -> mid (P8)."""
    raw = synthetic.wss_ticks_raw(spark, sf_dir)
    named = pipeline.project_wss_tick(raw.drop("isin"))
    named = pipeline.resolve_isin(named, currency_dim(spark))
    named = pipeline.with_mid(named)
    return named.select("tick_id", "pair", "isin", "bid", "ask", "mid",
                        "daily_change", "daily_change_pct",
                        "last_price", "volume", "high", "low", "ts")


_WSS_SQL = f"""
WITH base AS (
  SELECT event_id AS tick_id,
         {synthetic.ISIN_SQL} AS isin,
         value,
         epoch_us(ts) / 1000000.0 AS ts
  FROM events
)
SELECT b.tick_id, d.pair, d.isin,
       b.value * 0.999 AS bid, b.value * 1.001 AS ask,
       (b.value * 0.999 + b.value * 1.001) / 2 AS mid,
       b.value * 0.001 AS daily_change,
       b.value * 0.0001 AS daily_change_pct,
       b.value AS last_price, abs(b.value) AS volume,
       b.value * 1.002 AS high, b.value * 0.998 AS low, b.ts
FROM base b JOIN {_DIM} d ON b.isin = d.isin
"""


def weekly_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: weekly OHLCV candles per ISIN over successful ticks."""
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    return candles.ohlc_candles(t)


_WEEK_US = candles.WEEK_US
_CANDLES_SQL = f"""
WITH t AS (
  SELECT * FROM {synthetic.TICKS_SQL} WHERE status = 200
), b AS (
  SELECT *, epoch_us(ts) // {_WEEK_US} AS bucket FROM t
), fw AS (
  SELECT *,
    first_value(last_price) OVER (PARTITION BY isin, bucket ORDER BY ts, tick_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
    last_value(last_price) OVER (PARTITION BY isin, bucket ORDER BY ts, tick_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
  FROM b
)
SELECT isin, make_timestamp(bucket * {_WEEK_US}) AS bucket_start,
       min(o) AS open, max(last_price) AS high, min(last_price) AS low,
       min(c) AS close,
       CAST(SUM(CAST(volume AS DECIMAL(25,10))) AS DOUBLE) AS volume,
       count(*) AS n_ticks
FROM fw GROUP BY isin, bucket
"""


def ticks_asof_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every successful tick against the latest 'official
    quote' (every 10th tick) at or before its event time, per ISIN —
    the point-in-time enrichment a market-data engine lives on."""
    from ..operators.asof import asof_join

    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    quotes = (t.filter(F.col("tick_id") % 10 == 0)
               .select("isin", F.col("ts").alias("quote_ts"),
                       F.col("tick_id").alias("quote_id"),
                       F.col("last_price").alias("quote_price")))
    joined = asof_join(t.select("tick_id", "isin", "ts", "last_price"),
                       quotes, on="isin", right_ts="quote_ts")
    return joined.select(
        "tick_id", "isin", "ts", "last_price",
        "quote_id", "quote_price",
        (F.col("last_price") - F.col("quote_price")).alias("drift"))


def ticks_asof_quotes_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND (r5 — asof_join's
    direction/tolerance surface, pandas merge_asof semantics pinned
    in tests): same tick-vs-official-quote enrichment, but a quote
    older than 100,000 s must NOT serve the tick — it surfaces as a
    NULL match instead (how='left'), the "don't price off a stale
    book" rule every market-data consumer enforces. The tolerance is
    a post-carry filter on the matched timestamp: same one-exchange
    plan as the unbounded variant."""
    from ..operators.asof import asof_join

    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    quotes = (t.filter(F.col("tick_id") % 10 == 0)
               .select("isin", F.col("ts").alias("quote_ts"),
                       F.col("tick_id").alias("quote_id"),
                       F.col("last_price").alias("quote_price")))
    joined = asof_join(t.select("tick_id", "isin", "ts", "last_price"),
                       quotes, on="isin",
                       right_ts="quote_ts", how="left",
                       tolerance_s=100_000)
    return joined.select("tick_id", "isin", "ts", "last_price",
                         "quote_id", "quote_price")


_ASOF_TOL_SQL = f"""
WITH t AS (
  SELECT tick_id, isin, ts, last_price FROM {synthetic.TICKS_SQL}
  WHERE status = 200
), quotes AS (
  SELECT isin, ts AS quote_ts, tick_id AS quote_id,
         last_price AS quote_price
  FROM {synthetic.TICKS_SQL} WHERE status = 200 AND tick_id % 10 = 0
)
SELECT t.tick_id, t.isin, t.ts, t.last_price,
       (SELECT q.quote_id FROM quotes q
        WHERE q.isin = t.isin AND q.quote_ts <= t.ts
          AND epoch(t.ts) - epoch(q.quote_ts) <= 100000
        ORDER BY q.quote_ts DESC LIMIT 1) AS quote_id,
       (SELECT q.quote_price FROM quotes q
        WHERE q.isin = t.isin AND q.quote_ts <= t.ts
          AND epoch(t.ts) - epoch(q.quote_ts) <= 100000
        ORDER BY q.quote_ts DESC LIMIT 1) AS quote_price
FROM t
"""


def tick_quote_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream interval join's BATCH BIND (r6, VERDICT r5
    #7): streaming/joins.interval_join_streams bound to static frames
    — every tick joined to EVERY official quote of its ISIN in the
    trailing 24 h (not just the latest, which is the as-of variant
    above). The exact definition that runs live with watermarks in
    tests/test_streaming's stream-matches-batch suite earns a DuckDB
    range-join oracle row here — the ST+ tier's first driver-visible
    hash certificate."""
    from ..streaming.joins import interval_join_streams

    t = (pipeline.validate_http(synthetic.ticks(spark, sf_dir))
         .select("tick_id", "isin", "ts", "last_price"))
    q = (pipeline.validate_http(synthetic.ticks(spark, sf_dir))
         .filter(F.col("tick_id") % 10 == 0)
         .select(F.col("tick_id").alias("quote_id"),
                 F.col("isin").alias("q_isin"),
                 F.col("ts").alias("quote_ts"),
                 F.col("last_price").alias("quote_price")))
    j = interval_join_streams(t, q, "isin", "q_isin", "ts", "quote_ts",
                              lookback_s=86_400)
    return j.select("tick_id", "isin", "ts", "last_price",
                    "quote_id", "quote_ts", "quote_price")


_INTERVAL_JOIN_SQL = f"""
WITH t AS (
  SELECT tick_id, isin, ts, last_price FROM {synthetic.TICKS_SQL}
  WHERE status = 200
), q AS (
  SELECT tick_id AS quote_id, isin AS q_isin, ts AS quote_ts,
         last_price AS quote_price
  FROM {synthetic.TICKS_SQL} WHERE status = 200 AND tick_id % 10 = 0
)
SELECT t.tick_id, t.isin, t.ts, t.last_price,
       q.quote_id, q.quote_ts, q.quote_price
FROM t JOIN q
  ON t.isin = q.q_isin
 AND q.quote_ts <= t.ts
 AND q.quote_ts >= t.ts - INTERVAL 86400 SECONDS
"""


_ASOF_SQL = f"""
WITH t AS (
  SELECT tick_id, isin, ts, last_price FROM {synthetic.TICKS_SQL}
  WHERE status = 200
), quotes AS (
  SELECT isin, ts AS quote_ts, tick_id AS quote_id,
         last_price AS quote_price
  FROM {synthetic.TICKS_SQL} WHERE status = 200 AND tick_id % 10 = 0
)
SELECT t.tick_id, t.isin, t.ts, t.last_price,
       q.quote_id, q.quote_price,
       t.last_price - q.quote_price AS drift
FROM t ASOF JOIN quotes q
  ON t.isin = q.isin AND t.ts >= q.quote_ts
"""


def vwap_by_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per ISIN (the ticker feed's vwap
    field recomputed from ticks — bitstamp payload parity). Exact
    decimal products/sums; double division at the end."""
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    pv = (F.col("last_price") * F.col("volume")).cast("decimal(30,10)")
    return (t.groupBy("isin")
             .agg((F.sum(pv).cast("double")
                   / F.sum(F.col("volume").cast("decimal(30,10)"))
                      .cast("double")).alias("vwap"),
                  F.count("*").alias("n_ticks")))


_VWAP_SQL = f"""
SELECT isin,
       CAST(SUM(CAST(last_price * volume AS DECIMAL(30,10))) AS DOUBLE)
         / CAST(SUM(CAST(volume AS DECIMAL(30,10))) AS DOUBLE) AS vwap,
       count(*) AS n_ticks
FROM {synthetic.TICKS_SQL}
WHERE status = 200
GROUP BY isin
"""


def rest_fetch_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5 source path end-to-end on the offline fixture fetcher:
    dim -> per-exchange URL build (P6) -> fetch -> boundary cast ->
    status filter (P2) -> mid (P8). Fully DuckDB-oracled (r6): the
    fixture payload keys on the portable md5-prefix hash (cm_bucket's
    scheme), and the string round-trip at the cast boundary is
    identity on doubles in both engines — so the oracle recomputes
    the exact payload bits from the URL alone."""
    from ..dims.currency import currency_dim
    from ..sources import ticker

    dim = currency_dim(spark)
    pairs = dim.withColumn(
        "exchange", F.when(F.col("isin").substr(-1, 1).cast("int") % 2 == 0,
                           "btsp").otherwise("btfx"))
    snap = ticker.fixture_fetcher(ticker.build_ticker_urls(pairs))
    ok = pipeline.validate_http(snap)
    return pipeline.with_mid(ok).select(
        "exchange", "isin", "pair", "bid", "ask", "mid", "last", "ts")


_REST_FETCH_SQL = f"""
WITH pairs AS (
  SELECT isin, base, quote, pair,
         CASE WHEN CAST(substring(isin, length(isin), 1) AS INT) % 2 = 0
              THEN 'btsp' ELSE 'btfx' END AS exchange
  FROM {_DIM}
), urls AS (
  SELECT *,
         CASE exchange
           WHEN 'btsp' THEN 'https://www.bitstamp.net/api/v2/ticker/'
                            || lower(base) || lower(quote)
           WHEN 'btfx' THEN 'https://api.bitfinex.com/v1/pubticker/'
                            || lower(base) || lower(quote)
         END AS url
  FROM pairs
), fetched AS (
  SELECT *,
         (CAST(('0x' || substring(md5('7|' || url), 1, 8)) AS BIGINT)
          % 1000000) / 100.0 AS h
  FROM urls
)
SELECT exchange, isin, pair,
       h * 0.999 AS bid, h * 1.001 AS ask,
       (h * 0.999 + h * 1.001) / 2 AS mid,
       h AS "last",
       TIMESTAMP '2024-01-01 00:00:00' AS ts
FROM fetched
"""


def twap_by_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per ISIN: each tick's price holds
    until the next tick (lead), weight = holding duration in µs; the
    last tick per key carries no duration and drops. VWAP's sibling —
    the fair average when volume is unreliable. Products accumulate in
    DECIMAL (order/partitioning-independent); double division last."""
    t = (pipeline.validate_http(synthetic.ticks(spark, sf_dir))
         .select("isin", "ts", "tick_id", "last_price"))
    w = Window.partitionBy("isin").orderBy("ts", "tick_id")
    dur = (F.lead(F.unix_micros("ts")).over(w)
           - F.unix_micros("ts")).alias("dur_us")
    held = t.select("isin", "last_price", dur).filter(F.col("dur_us").isNotNull())
    pd_ = (F.col("last_price") * F.col("dur_us")).cast("decimal(38,10)")
    return (held.groupBy("isin")
            .agg((F.sum(pd_).cast("double")
                  / F.sum(F.col("dur_us").cast("decimal(38,10)"))
                     .cast("double")).alias("twap"),
                 F.count("*").alias("n_intervals")))


_TWAP_SQL = f"""
WITH t AS (
  SELECT isin, ts, tick_id, last_price FROM {synthetic.TICKS_SQL}
  WHERE status = 200
), held AS (
  SELECT isin, last_price,
         lead(epoch_us(ts)) OVER (PARTITION BY isin ORDER BY ts, tick_id)
           - epoch_us(ts) AS dur_us
  FROM t
)
SELECT isin,
       CAST(SUM(CAST(last_price * dur_us AS DECIMAL(38,10))) AS DOUBLE)
         / CAST(SUM(CAST(dur_us AS DECIMAL(38,10))) AS DOUBLE) AS twap,
       count(*) AS n_intervals
FROM held WHERE dur_us IS NOT NULL
GROUP BY isin
"""


def ticks_in_candle_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: every successful tick against the weekly
    OHLC candle whose [start, start+7d) window CONTAINS its event time,
    per ISIN — the containment sibling of the as-of join. Daily buckets
    (1/7th of the interval) force the multi-bucket explode path of
    ``operators/rangejoin.range_join``."""
    from ..operators.rangejoin import range_join

    t = (pipeline.validate_http(synthetic.ticks(spark, sf_dir))
         .select("tick_id", "isin", "ts", "last_price"))
    c = candles.ohlc_candles(pipeline.validate_http(
        synthetic.ticks(spark, sf_dir)))
    intervals = c.select(
        "isin", F.col("bucket_start").alias("win_start"),
        (F.col("bucket_start") + F.expr("INTERVAL 7 DAYS")).alias("win_end"),
        F.col("open").alias("wk_open"), F.col("high").alias("wk_high"),
        F.col("low").alias("wk_low"), F.col("close").alias("wk_close"))
    rj = range_join(t, intervals, left_ts="ts",
                    right_start="win_start", right_end="win_end",
                    keys=["isin"])
    return rj.select("tick_id", "isin", "ts", "last_price",
                     "wk_open", "wk_high", "wk_low", "wk_close")


_RANGE_SQL = f"""
WITH c AS ({_CANDLES_SQL})
SELECT t.tick_id, t.isin, t.ts, t.last_price,
       c.open AS wk_open, c.high AS wk_high,
       c.low AS wk_low, c.close AS wk_close
FROM {synthetic.TICKS_SQL} t
JOIN c ON t.isin = c.isin
      AND t.ts >= c.bucket_start
      AND t.ts < c.bucket_start + INTERVAL 7 DAY
WHERE t.status = 200
"""


QUERIES: dict[str, Q] = {
    "flagship_latest_mid": Q(flagship_latest_mid, _FLAGSHIP_SQL),
    "ticks_in_candle_ranges": Q(ticks_in_candle_ranges, _RANGE_SQL),
    "rest_fetch_pipeline": Q(rest_fetch_pipeline, _REST_FETCH_SQL),
    "ticks_asof_quotes": Q(ticks_asof_quotes, _ASOF_SQL),
    "ticks_asof_quotes_tolerant": Q(ticks_asof_quotes_tolerant, _ASOF_TOL_SQL),
    "tick_quote_interval_join": Q(tick_quote_interval_join,
                                  _INTERVAL_JOIN_SQL),
    "vwap_by_isin": Q(vwap_by_isin, _VWAP_SQL),
    "twap_by_isin": Q(twap_by_isin, _TWAP_SQL),
    "jobs_parse_dispatch": Q(jobs_parse_dispatch, _JOBS_PARSE_SQL),
    "jobs_resolve_pair": Q(jobs_resolve_pair, _JOBS_RESOLVE_SQL),
    "rest_pipeline_messages": Q(rest_pipeline_messages,
                                f"SELECT {', '.join(_MSG_COLS)} FROM {_RESOLVED_SQL} r"),
    "dead_letter_by_exchange": Q(dead_letter_by_exchange, _DEAD_LETTER_SQL),
    "job_state_claim_counts": Q(job_state_claim_counts, _CLAIM_SQL),
    "job_state_outcomes": Q(job_state_outcomes, _OUTCOMES_SQL),
    "wss_enriched_messages": Q(wss_enriched_messages, _WSS_SQL),
    "weekly_ohlc_candles": Q(weekly_ohlc_candles, _CANDLES_SQL),
}


def tick_rolling_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling SMA / volatility / RSI per ISIN over the tick feed
    (r5 — operators/indicators.py): the first derived series any
    consumer of the reference's stored ticks computes. One shuffle on
    isin; every frame shares the (ts, tick_id) sort. NULL until a
    full 5-tick lookback exists (deterministic warm-up, no partial
    averages)."""
    from ..operators import indicators
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    out = indicators.with_rolling_indicators(t)
    return out.select("isin", "tick_id", "ts", "last_price",
                      "sma_5", "std_5", "rsi_5")


_INDICATORS_SQL = f"""
WITH t AS (SELECT * FROM {synthetic.TICKS_SQL} x WHERE status = 200),
d AS (
  SELECT isin, tick_id, ts, last_price,
         last_price - lag(last_price) OVER
           (PARTITION BY isin ORDER BY ts, tick_id) AS diff
  FROM t
),
w AS (
  SELECT isin, tick_id, ts, last_price,
         COUNT(last_price) OVER f AS cnt,
         CAST(SUM(CAST(last_price AS DECIMAL(30,10))) OVER f AS DOUBLE) AS s1,
         CAST(SUM(CAST(last_price * last_price AS DECIMAL(30,10))) OVER f
              AS DOUBLE) AS s2,
         COUNT(diff) OVER f AS ndiff,
         CAST(SUM(CAST(CASE WHEN diff > 0 THEN diff ELSE 0.0 END
                       AS DECIMAL(30,10))) OVER f AS DOUBLE) AS gsum,
         CAST(SUM(CAST(CASE WHEN diff < 0 THEN -diff ELSE 0.0 END
                       AS DECIMAL(30,10))) OVER f AS DOUBLE) AS lsum
  FROM d
  WINDOW f AS (PARTITION BY isin ORDER BY ts, tick_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
SELECT isin, tick_id, ts, last_price,
       CASE WHEN cnt = 5 THEN s1 / 5 END AS sma_5,
       CASE WHEN cnt = 5
            THEN sqrt(greatest((s2 - s1 * s1 / 5) / 4, 0.0)) END AS std_5,
       CASE WHEN ndiff = 5 AND gsum + lsum > 0
            THEN 100.0 * gsum / (gsum + lsum) END AS rsi_5
FROM w
"""

QUERIES.update({
    "tick_rolling_indicators": Q(tick_rolling_indicators, _INDICATORS_SQL),
})


def tick_price_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags per ISIN (operators/indicators.
    with_anomaly_zscores — the monitoring layer over the tick store):
    each tick scored against the 12 ticks strictly before it, so a
    spike can't mask itself by inflating its own baseline. NULL
    during warm-up and on flat baselines. Same single-exchange window
    shape as the indicators query."""
    from ..operators import indicators
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    out = indicators.with_anomaly_zscores(t)
    return out.select("isin", "tick_id", "ts", "last_price",
                      "zscore", "is_anomaly")


_ANOMALY_SQL = f"""
WITH t AS (SELECT * FROM {synthetic.TICKS_SQL} x WHERE status = 200),
w AS (
  SELECT isin, tick_id, ts, last_price,
         COUNT(last_price) OVER f AS cnt,
         CAST(SUM(CAST(last_price AS DECIMAL(30,10))) OVER f AS DOUBLE) AS s1,
         CAST(SUM(CAST(last_price * last_price AS DECIMAL(30,10))) OVER f
              AS DOUBLE) AS s2
  FROM t
  WINDOW f AS (PARTITION BY isin ORDER BY ts, tick_id
               ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
)
SELECT isin, tick_id, ts, last_price,
       CASE WHEN cnt = 12
             AND sqrt(greatest((s2 - s1 * s1 / 12) / 11, 0.0)) > 0
            THEN (last_price - s1 / 12)
                 / sqrt(greatest((s2 - s1 * s1 / 12) / 11, 0.0))
       END AS zscore,
       CASE WHEN cnt = 12
             AND sqrt(greatest((s2 - s1 * s1 / 12) / 11, 0.0)) > 0
            THEN abs((last_price - s1 / 12)
                 / sqrt(greatest((s2 - s1 * s1 / 12) / 11, 0.0))) > 2.5
       END AS is_anomaly
FROM w
"""


def tick_feed_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands feed-outage detection: per ISIN, consecutive
    ticks whose inter-arrival stays within 24 h form one island; a
    longer silence starts the next (the feed-health report the
    reference's single-threaded poller can't compute but its
    consumers need: WHERE was the feed dark?). Two stacked windows
    sharing one (isin)-keyed sort — lag to flag breaks, running sum
    to number islands — then one aggregate. Output: (isin, island_id,
    start_ts, end_ts, n_ticks)."""
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    w = Window.partitionBy("isin").orderBy("ts", "tick_id")
    prev = F.lag("ts").over(w)
    brk = F.when(prev.isNull()
                 | (F.col("ts") > prev + F.expr("INTERVAL 24 HOURS")),
                 F.lit(1)).otherwise(F.lit(0))
    run = (Window.partitionBy("isin").orderBy("ts", "tick_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (t.withColumn("brk", brk)
            .withColumn("island_id", F.sum("brk").over(run).cast("long"))
            .groupBy("isin", "island_id")
            .agg(F.min("ts").alias("start_ts"),
                 F.max("ts").alias("end_ts"),
                 F.count("*").alias("n_ticks")))


_ISLANDS_SQL = f"""
WITH t AS (SELECT * FROM {synthetic.TICKS_SQL} x WHERE status = 200),
d AS (
  SELECT isin, tick_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 24 HOUR
              THEN 1 ELSE 0 END AS brk
  FROM t
  WINDOW w AS (PARTITION BY isin ORDER BY ts, tick_id)
), i AS (
  SELECT isin, ts,
         CAST(SUM(brk) OVER (PARTITION BY isin ORDER BY ts, tick_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS island_id
  FROM d
)
SELECT isin, island_id, min(ts) AS start_ts, max(ts) AS end_ts,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM i GROUP BY isin, island_id
"""

QUERIES.update({
    "tick_price_anomalies": Q(tick_price_anomalies, _ANOMALY_SQL),
    "tick_feed_islands": Q(tick_feed_islands, _ISLANDS_SQL),
})


def isin_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-instrument OLS price trend (r5b): slope / intercept / r²
    of last_price over time for every ISIN, computed CLOSED-FORM from
    decimal-accumulated moment sums (n, Σx, Σy, Σxy, Σx², Σy²) — the
    grouped model-fitting shape that needs NO UDF and NO per-group
    iteration: one scan, one key-partitioned aggregate, exact the
    same answer at any partitioning. Time is rebased to seconds since
    2024-01-01 so squared sums stay inside the decimal budget.
    Degenerate groups (single tick / zero variance) yield NULL slope
    rather than a division blow-up."""
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    x = ((F.unix_micros(F.col("ts"))
          - F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp")))
         / F.lit(1000000.0))
    y = F.col("last_price")
    dec = "decimal(30,10)"
    g = (t.select("isin", x.alias("x"), y.alias("y"))
         .groupBy("isin")
         .agg(F.count("*").alias("n"),
              F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
              F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
              F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double")
               .alias("sxy"),
              F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double")
               .alias("sxx"),
              F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double")
               .alias("syy")))
    den_x = g["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = g["n"] * F.col("syy") - F.col("sy") * F.col("sy")
    num = g["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = num / F.nullif(den_x, F.lit(0.0))
    return g.select(
        "isin", "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / g["n"]).alias("intercept"),
        (num * num / F.nullif(den_x * den_y, F.lit(0.0))).alias("r2"))


_TREND_SQL = f"""
WITH pts AS (
  SELECT isin,
         (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
           / 1000000.0 AS x,
         last_price AS y
  FROM {synthetic.TICKS_SQL} t WHERE status = 200
), g AS (
  SELECT isin, count(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(30,10))) AS DOUBLE) AS syy
  FROM pts GROUP BY isin
)
SELECT isin, n,
       (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) AS slope,
       (sy - ((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)) * sx)
         / n AS intercept,
       (n * sxy - sx * sy) * (n * sxy - sx * sy)
         / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0) AS r2
FROM g
"""

QUERIES.update({
    "isin_price_trend": Q(isin_price_trend, _TREND_SQL),
})


def hopping_volume_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation (r5b): 14-day windows
    advancing every 7 days — each tick lands in exactly TWO
    overlapping windows, the overlap structure tumbling candles
    (weekly_ohlc_candles) can't express. Spark's F.window handles
    slide natively (epoch-aligned origins); the oracle reconstructs
    the same windows from exact integer epoch math, which also
    documents the alignment contract (1970-01-01 origin, NOT ISO
    weeks). Streaming-ready: the identical expression binds to a
    readStream with a watermark."""
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    w = F.window("ts", "14 days", "7 days")
    return (t.groupBy("isin", w.alias("w"))
            .agg(F.sum(F.col("volume").cast("decimal(30,10)"))
                 .cast("double").alias("volume"),
                 F.count("*").alias("n_ticks"))
            .select("isin", F.col("w.start").alias("win_start"),
                    F.col("w.end").alias("win_end"),
                    "volume", "n_ticks"))


_HOPPING_SQL = f"""
WITH t AS (SELECT * FROM {synthetic.TICKS_SQL} x WHERE status = 200),
placed AS (
  SELECT isin, volume,
         make_timestamp((epoch_us(ts) // 604800000000)
                        * 604800000000 - off.o * 604800000000)
           AS win_start
  FROM t, (SELECT unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS o) off
  WHERE epoch_us(ts) >= (epoch_us(ts) // 604800000000) * 604800000000
                        - off.o * 604800000000
    AND epoch_us(ts) <  (epoch_us(ts) // 604800000000) * 604800000000
                        - off.o * 604800000000 + 1209600000000
)
SELECT isin, win_start,
       win_start + INTERVAL 14 DAY AS win_end,
       CAST(SUM(CAST(volume AS DECIMAL(30,10))) AS DOUBLE) AS volume,
       count(*) AS n_ticks
FROM placed
GROUP BY isin, win_start
"""

QUERIES.update({
    "hopping_volume_windows": Q(hopping_volume_windows, _HOPPING_SQL),
})


def pyds_ticker_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource end-to-end (r5b —
    sources/pyds.py): ``spark.read.format("tickersnap")`` over the 84
    dim pairs, both exchanges — connector-owned partition planning
    (pair chunks × exchange) and filter-pushdown capability, surfaced
    as a first-class registry query. The md5-derived fixture rows are
    engine-reproducible, so even the CONNECTOR is DuckDB-oracled —
    the oracle recomputes every emitted row from the same md5 math.
    The 84-row dim collect that builds the option string is dim-sized
    by construction."""
    from ..dims.currency import currency_dim
    from ..sources import pyds

    pyds.register(spark)
    pairs = sorted(r["pair"] for r in
                   currency_dim(spark).select("pair").collect())
    return (spark.read.format("tickersnap")
            .option("pairs", ",".join(pairs)).option("chunk", "16")
            .load())


_PYDS_SNAP_SQL = f"""
WITH px AS (
  SELECT ex.exchange, d.pair,
         md5(ex.exchange || '|' || d.pair || '|0') AS h
  FROM {_DIM} d,
       (SELECT unnest(['btsp', 'btfx']) AS exchange) ex
), derived AS (
  SELECT exchange, pair,
         10.0 + (CAST('0x' || substr(h, 1, 8) AS BIGINT) % 100000)
                / 100.0 AS level,
         CASE WHEN CAST('0x' || substr(h, 9, 4) AS BIGINT) % 97 = 0
              THEN 500 ELSE 200 END AS status,
         TIMESTAMP '2024-01-01 00:00:00'
           + CAST('0x' || substr(h, 13, 2) AS BIGINT)
             * INTERVAL 1 SECOND AS ts
  FROM px
)
SELECT exchange, pair, CAST(status AS INT) AS status,
       level * 0.999 AS bid, level * 1.001 AS ask, level AS last, ts
FROM derived
"""

QUERIES.update({
    "pyds_ticker_snapshot": Q(pyds_ticker_snapshot, _PYDS_SNAP_SQL),
})


def tick_grid_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularized hourly price grid with forward-fill (r5b —
    operators/resample.py): one row per ISIN per hour across the
    instrument's observed span, carrying the last tick at or before
    each grid instant — the evenly-spaced series every downstream
    return/volatility model assumes. Grid explode + ONE as-of
    exchange; per-key spans mean no pre-listing fabrication."""
    from ..operators import resample
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    return resample.resample_ffill(
        t.select("isin", "ts", "last_price"),
        value_cols=["last_price"], interval_s=3600)


_GRID_SQL = f"""
WITH t AS (
  SELECT isin, ts, last_price FROM {synthetic.TICKS_SQL} x
  WHERE status = 200
), span AS (
  SELECT isin,
         make_timestamp((epoch_us(min(ts)) // 3600000000)
                        * 3600000000) AS t0,
         make_timestamp((epoch_us(max(ts)) // 3600000000)
                        * 3600000000) AS t1
  FROM t GROUP BY isin
), grid AS (
  SELECT isin,
         unnest(generate_series(t0, t1, INTERVAL 3600 SECOND))
           AS grid_ts
  FROM span
)
SELECT g.isin, g.grid_ts, t.last_price AS ff_last_price
FROM grid g
ASOF LEFT JOIN t ON g.isin = t.isin AND g.grid_ts >= t.ts
"""

QUERIES.update({
    "tick_grid_hourly": Q(tick_grid_hourly, _GRID_SQL),
})


def tick_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ISIN EMA (operators/indicators.ema_by_key — the
    applyInPandas escape hatch, used ONLY because the recurrence is
    sequential per key). The oracle folds the identical expression
    through a recursive CTE over per-key ordered lists, so the
    pandas path itself is hash-certified — the strongest form of the
    no-unverified-UDF policy."""
    from ..operators import indicators
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    return indicators.ema_by_key(t)


_EMA_SQL = f"""
WITH RECURSIVE t AS (
  SELECT * FROM {synthetic.TICKS_SQL} x WHERE status = 200
), s AS (
  SELECT isin,
         list(last_price ORDER BY ts, tick_id) AS xs,
         list(tick_id ORDER BY ts, tick_id) AS ids
  FROM t GROUP BY isin
), ema AS (
  SELECT isin, xs, ids, 1 AS i, xs[1] AS s FROM s
  UNION ALL
  SELECT isin, xs, ids, i + 1, 0.2 * xs[i + 1] + 0.8 * s
  FROM ema WHERE i < len(xs)
)
SELECT isin, ids[i] AS tick_id, s AS ema FROM ema
"""

QUERIES.update({
    "tick_ema": Q(tick_ema, _EMA_SQL),
})


def tick_trailing_hour_volume(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """RANGE-frame window (the interval sibling of the ROWS frames
    the indicator queries use): per tick, the total volume and tick
    count of the SAME instrument in the trailing hour — a
    value-based frame, so gaps in the feed shrink the window's
    membership instead of silently spanning days the way a row count
    would. Spark expresses it as rangeBetween over epoch seconds
    (timestamps aren't valid range-frame ordering keys in Spark;
    exact integer seconds are, and the oracle uses DuckDB's native
    RANGE ... INTERVAL over the timestamp — same membership by
    construction). Decimal volume sum, one (isin)-keyed exchange."""
    t = pipeline.validate_http(synthetic.ticks(spark, sf_dir))
    # exact epoch MICROSECONDS: a seconds cast would truncate
    # sub-second precision and disagree with the oracle's native
    # INTERVAL bound at the window edge
    w = (Window.partitionBy("isin").orderBy(F.unix_micros(F.col("ts")))
         .rangeBetween(-3600 * 1_000_000, 0))
    return t.select(
        "isin", "tick_id", "ts",
        F.sum(F.col("volume").cast("decimal(30,10)")).over(w)
        .cast("double").alias("vol_1h"),
        F.count("*").over(w).alias("n_ticks_1h"))


_TRAILING_SQL = f"""
WITH t AS (SELECT * FROM {synthetic.TICKS_SQL} x WHERE status = 200)
SELECT isin, tick_id, ts,
       CAST(SUM(CAST(volume AS DECIMAL(30,10))) OVER w AS DOUBLE)
         AS vol_1h,
       COUNT(*) OVER w AS n_ticks_1h
FROM t
WINDOW w AS (PARTITION BY isin ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""

QUERIES.update({
    "tick_trailing_hour_volume": Q(tick_trailing_hour_volume,
                                   _TRAILING_SQL),
})


def isin_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tick-side ops capstone (dual of the text side's
    corpus_datacard): one per-instrument health row composing the
    certified monitoring pieces — feed continuity (island count +
    longest silence from the gaps-and-islands rule), data quality
    (anomaly count from the trailing z-score rule), freshness
    (latest price/ts via the flagship's top-1 window) and volume.
    Every leg shares the single (isin)-keyed sort; the final join is
    per-isin aggregates only. A consumer reads THIS table instead of
    four queries."""
    from ..caching import tracked_persist
    from ..operators import indicators
    # tracked_persist (r12 recompute audit): the validated tick
    # stream feeds all four health legs (continuity, anomalies,
    # freshness, volume) — unpersisted, each leg re-derived it from
    # the fact scan (4 scans for one report)
    t = tracked_persist(pipeline.validate_http(
        synthetic.ticks(spark, sf_dir)))
    w = Window.partitionBy("isin").orderBy("ts", "tick_id")
    prev = F.lag("ts").over(w)
    brk = F.when(prev.isNull()
                 | (F.col("ts") > prev + F.expr("INTERVAL 24 HOURS")),
                 F.lit(1)).otherwise(F.lit(0))
    gap_s = F.when(prev.isNotNull(),
                   F.unix_micros(F.col("ts")) - F.unix_micros(prev))
    base = (t.withColumn("brk", brk)
            .withColumn("gap_us", gap_s))
    cont = (base.groupBy("isin")
            .agg(F.count("*").alias("n_ticks"),
                 F.sum("brk").cast("long").alias("n_islands"),
                 (F.max("gap_us") / 3600000000.0).alias("max_gap_hours")))
    an = indicators.with_anomaly_zscores(t)
    anomalies = (an.groupBy("isin")
                 .agg(F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0))
                      .cast("long").alias("n_anomalies")))
    latest = (t.withColumn(
        "__rn", F.row_number().over(
            Window.partitionBy("isin")
            .orderBy(F.desc("ts"), F.desc("tick_id"))))
        .filter(F.col("__rn") == 1)
        .select("isin", F.col("ts").alias("latest_ts"),
                F.col("last_price").alias("latest_price")))
    vol = (t.groupBy("isin")
           .agg(F.sum(F.col("volume").cast("decimal(30,10)"))
                .cast("double").alias("total_volume")))
    return (cont.join(anomalies, "isin").join(latest, "isin")
            .join(vol, "isin"))


_HEALTH_SQL = f"""
WITH t AS (SELECT * FROM {synthetic.TICKS_SQL} x WHERE status = 200),
d AS (
  SELECT isin, tick_id, ts, last_price, volume,
         lag(ts) OVER w AS prev
  FROM t
  WINDOW w AS (PARTITION BY isin ORDER BY ts, tick_id)
), cont AS (
  SELECT isin, CAST(count(*) AS BIGINT) AS n_ticks,
         CAST(SUM(CASE WHEN prev IS NULL
                        OR ts > prev + INTERVAL 24 HOUR
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_islands,
         MAX(CASE WHEN prev IS NOT NULL
                  THEN epoch_us(ts) - epoch_us(prev) END)
           / 3600000000.0 AS max_gap_hours
  FROM d GROUP BY isin
), z AS (
  SELECT isin,
         COUNT(last_price) OVER f AS cnt,
         CAST(SUM(CAST(last_price AS DECIMAL(30,10))) OVER f AS DOUBLE)
           AS s1,
         CAST(SUM(CAST(last_price * last_price AS DECIMAL(30,10))) OVER f
              AS DOUBLE) AS s2,
         last_price
  FROM t
  WINDOW f AS (PARTITION BY isin ORDER BY ts, tick_id
               ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
), anom AS (
  SELECT isin,
         CAST(SUM(CASE WHEN cnt = 12
                   AND sqrt(greatest((s2 - s1*s1/12) / 11, 0.0)) > 0
                   AND abs((last_price - s1/12)
                       / sqrt(greatest((s2 - s1*s1/12) / 11, 0.0))) > 2.5
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
  FROM z GROUP BY isin
), latest AS (
  SELECT isin, ts AS latest_ts, last_price AS latest_price FROM (
    SELECT isin, ts, last_price,
           row_number() OVER (PARTITION BY isin
                              ORDER BY ts DESC, tick_id DESC) AS rn
    FROM t
  ) WHERE rn = 1
), vol AS (
  SELECT isin,
         CAST(SUM(CAST(volume AS DECIMAL(30,10))) AS DOUBLE)
           AS total_volume
  FROM t GROUP BY isin
)
SELECT c.isin, c.n_ticks, c.n_islands, c.max_gap_hours,
       a.n_anomalies, l.latest_ts, l.latest_price, v.total_volume
FROM cont c JOIN anom a ON c.isin = a.isin
JOIN latest l ON c.isin = l.isin
JOIN vol v ON c.isin = v.isin
"""

QUERIES.update({
    "isin_health_report": Q(isin_health_report, _HEALTH_SQL),
})
