"""Reference-semantics dataflow operators, DataFrame-native.

Each function re-expresses one stage of the reference's imperative
pipelines (SURVEY.md §2.3/§2.4, reference file:line cited per function)
as a pure ``DataFrame -> DataFrame`` transform. All are built-in-only
(JVM expressions, whole-stage codegen) — no Python UDFs anywhere on the
hot path — and composition keeps a single narrow plan that Catalyst can
push down into the scan.

Batch and streaming DataFrames share these unchanged (reference ST7:
the REST snapshot path and the WSS live path differ only in the source
binding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def actionable_job_condition(rest_only: bool = False):
    """The P1 predicate as a Column — shared by the filter and by
    telemetry aggregates (one definition, so a sum(when(cond)) count
    can never drift from what the filter actually kept)."""
    cond = (F.col("downloader_jq_id") != 0) & (F.col("action") == 1000)
    if rest_only:
        cond = cond & (F.col("type_idtype") == 2)
    return cond


def filter_actionable_jobs(df: DataFrame, rest_only: bool = False) -> DataFrame:
    """P1: keep jobs with a real id and action==1000 (main.py:277); the
    REST path additionally demands type_idtype==2 (main.py:301)."""
    return df.filter(actionable_job_condition(rest_only))


def parse_job_value(df: DataFrame) -> DataFrame:
    """P3: split ``"<exchange>#<isin>"`` into columns (main.py:278-280).

    Malformed values (no ``#``) yield a NULL isin, which the downstream
    inner dim-join drops — same net effect as the reference's KeyError
    path, but total instead of crashing."""
    parts = F.split(F.col("value"), "#")
    return (df
            .withColumn("exchange", parts.getItem(0))
            .withColumn("isin", F.when(F.size(parts) >= 2, parts.getItem(1))))


def dispatch_exchange(df: DataFrame) -> DataFrame:
    """P4: route btsp->rest, btfx->wss (main.py:282-286); unknown
    exchanges get NULL and can be dead-lettered."""
    return df.withColumn(
        "transport",
        F.when(F.col("exchange") == "btsp", "rest")
         .when(F.col("exchange") == "btfx", "wss"))


def resolve_pair(df: DataFrame, dim: DataFrame) -> DataFrame:
    """J1: ISIN -> (base, quote, pair) enrichment (currency.py:93-94).

    Inner broadcast hash join: the dim is ~84 rows, so at any fact
    scale this is map-side, shuffle-free; unknown ISINs drop exactly
    like the reference's KeyError (currency.py:94)."""
    return df.join(F.broadcast(dim), "isin", "inner")


def resolve_isin(df: DataFrame, dim: DataFrame) -> DataFrame:
    """J2: reverse pair -> ISIN lookup (currency.py:96-99). The
    reference's O(n) linear scan becomes the same broadcast join keyed
    on pair."""
    return df.join(F.broadcast(dim), "pair", "inner")


def validate_http(df: DataFrame) -> DataFrame:
    """P2: keep successful responses (main.py:328)."""
    return df.filter(F.col("status") == 200)


def dead_letter(df: DataFrame) -> DataFrame:
    """K5: the complement of validate_http — failed fetches routed to an
    error branch instead of a mail comment (main.py:343-345)."""
    return df.filter(F.col("status") != 200)


def with_mid(df: DataFrame) -> DataFrame:
    """P8: the flagship derived column, mid = (bid+ask)/2 (main.py:414)."""
    return df.withColumn("mid", (F.col("bid") + F.col("ask")) / 2)


def serialize_message(df: DataFrame) -> DataFrame:
    """P11: one JSON document per row, the reference's queue payload
    (main.py:217). ``to_json(struct(*))`` — JVM-side, no Python."""
    return df.withColumn("message", F.to_json(F.struct(*df.columns)))


def project_wss_tick(raw: DataFrame) -> DataFrame:
    """P7: positional wire-format array -> named columns
    (main.py:398-415; indices 0,2,4,5,6,7,8,9 of data[0][0]).

    Carries every non-array column (pair, ids, epoch ts) through
    unchanged; converting the epoch-seconds double to an event-time
    timestamp is the source binding's job, not the projection's."""
    t = F.col("tick").getItem(0)
    carry = [c for c in raw.columns if c != "tick"]
    return raw.select(
        *carry,
        t.getItem(0).alias("bid"),
        t.getItem(2).alias("ask"),
        t.getItem(4).alias("daily_change"),
        t.getItem(5).alias("daily_change_pct"),
        t.getItem(6).alias("last_price"),
        t.getItem(7).alias("volume"),
        t.getItem(8).alias("high"),
        t.getItem(9).alias("low"),
    )


def latest_per_key(df: DataFrame, key: str,
                   tiebreak: str | None = None) -> DataFrame:
    """Latest row per key by ``ts`` (the 'current data' semantics of job action
    1000, README.md:5-10): row_number over a key-partitioned window.

    Scale note: one shuffle on the key; with AQE the per-key state is
    bounded by key cardinality, not input size, and heavily skewed keys
    split via adaptive skew-join handling."""
    from pyspark.sql import Window
    order_cols = [F.col("ts").desc()]
    if tiebreak:
        order_cols.append(F.col(tiebreak).desc())
    w = Window.partitionBy(key).orderBy(*order_cols)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))
