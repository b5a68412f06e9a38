"""Skew-mitigation utilities for hot keys.

AQE's skew-join splitting handles most cases at runtime; these helpers
cover the two patterns AQE can't: a skewed high-cardinality aggregation
whose partial aggregation still funnels one key into one reducer
(salted two-phase aggregate), and a shuffle join against a
medium-sized build side that is too big to broadcast (salt-replicate
join). Salts are deterministic (hash of carried columns), keeping
results reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(cols: list[str], n_salts: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salts))


def salted_sum(df: DataFrame, key: str, value: str,
               n_salts: int = 16) -> DataFrame:
    """Two-phase aggregate: partial sums on (key, salt) spread one hot
    key over n_salts reducers; the final combine handles n_salts rows
    per key. The salt hashes the summed value. Decimal accumulation
    keeps the result identical to the unsalted plan."""
    dec = F.col(value).cast("decimal(30,10)")
    partial = (df.withColumn("__salt", _salt([value], n_salts))
                 .groupBy(key, "__salt")
                 .agg(F.sum(dec).alias("__part"), F.count("*").alias("__n")))
    return (partial.groupBy(key)
            .agg(F.sum("__part").cast("double").alias(f"sum_{value}"),
                 F.sum("__n").alias("n_rows")))


def salt_replicate_join(facts: DataFrame, dim: DataFrame, key: str,
                        n_salts: int = 8) -> DataFrame:
    """Equi-join where one fact key is hot and the build side can't
    broadcast: replicate each dim row n_salts times, salt the facts
    deterministically, join on (key, salt). Row multiplicity is
    preserved exactly; dim replication is the (bounded) cost."""
    # salt must vary WITHIN a key (salting by the key itself would send
    # the hot key to one reducer again): hash of the full row
    salted_facts = facts.withColumn(
        "__salt", _salt(list(facts.columns), n_salts))
    replicated = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))
                            .cast("array<bigint>")))
    return (salted_facts.join(replicated, [key, "__salt"], "inner")
            .drop("__salt"))


def measure_key_skew(df: DataFrame, key: str) -> dict:
    """The measurement that DRIVES the salting decision (the query
    form is join_key_skew_report; this returns the model-sized dict
    the planner-side chooser needs): per-key counts reduced to
    max / mean / top-share. One aggregate over distinct keys; the
    collected result is 3 scalars — a documented driver action of
    the same class as centroid/sizes tables."""
    per = df.groupBy(key).agg(F.count("*").alias("n"))
    row = per.agg(F.max("n").alias("mx"),
                  F.avg("n").alias("mean"),
                  F.sum("n").alias("total")).first()
    if row["mx"] is None:  # empty input: no keys, nothing to salt
        return {"max": 0, "mean": 0.0, "total": 0, "top_share": 0.0}
    return {"max": int(row["mx"]), "mean": float(row["mean"]),
            "total": int(row["total"]),
            "top_share": float(row["mx"]) / float(row["total"])}


def choose_salt_factor(skew: dict) -> int:
    """Pick n_salts from measured skew: 1 (no salting) while the
    hottest key stays within 4x the mean per-key count; otherwise
    enough salts to bring the hot key's per-reducer slice back under
    that bound, capped at 64. The cap bounds dim replication in
    salt_replicate_join; the ratio 4 tolerates benign
    imbalance (salting has real cost — an extra combine or a
    replicated build side — and should not trigger on noise)."""
    ratio = skew["max"] / max(skew["mean"], 1.0)
    if ratio <= 4.0:
        return 1
    import math
    return min(64, math.ceil(ratio / 4.0))


def auto_salted_sum(df: DataFrame, key: str, value: str) -> DataFrame:
    """Measure -> decide -> aggregate: the closed loop. Uniform keys
    run the plain two-phase aggregate (salting skipped — no wasted
    combine); a hot key gets exactly the salt factor its measured
    ratio demands. Result is bit-identical either way (decimal
    accumulation); the decision is logged in the returned frame's
    plan only through the extra combine stage."""
    n = choose_salt_factor(measure_key_skew(df, key))
    if n == 1:
        dec = F.col(value).cast("decimal(30,10)")
        return (df.groupBy(key)
                .agg(F.sum(dec).cast("double").alias(f"sum_{value}"),
                     F.count("*").alias("n_rows")))
    return salted_sum(df, key, value, n_salts=n)
