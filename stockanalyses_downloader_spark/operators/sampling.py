"""Deterministic sampling & split assignment — the reproducibility
primitives of a training-data pipeline (every corpus build needs "the
same 1% sample on every run/engine" and "this doc is ALWAYS train,
never val", or experiments contaminate).

The randomness source is an md5 prefix of the row key: uniform,
engine-portable (Spark and DuckDB produce identical lowercase hex for
identical input — pinned by the driver oracle), and stable under
repartitioning/reruns, unlike ``rand(seed)`` which is
partition-layout-dependent. Comparing the 8-hex-char prefix
LEXICOGRAPHICALLY equals comparing the 32-bit integer it encodes, so
thresholds are computed driver-side as hex strings and the whole
predicate stays a codegen'd string compare — no UDF, no conv().

Scale: every operator here is a linear scan (sample, split) or one
shuffle (stratified top-n per stratum); the hash is the partition-
independent part, so AQE/repartitioning never changes membership.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX_SPACE = 16 ** 8  # 8 hex chars = 32 bits of the md5


def hash_key(col: Column, salt: str = "") -> Column:
    """8-hex-char uniform hash of a key column (+ salt). Change the
    salt to draw an independent sample from the same corpus."""
    return F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 8)


def _threshold_hex(p: float) -> str:
    return format(min(int(p * _HEX_SPACE), _HEX_SPACE - 1), "08x")


def deterministic_sample(df: DataFrame, rate: float, key: str,
                         salt: str = "") -> DataFrame:
    """Keep ~``rate`` of rows, membership decided per KEY, not per
    run: the same key is in or out forever, on any engine."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter(hash_key(F.col(key), salt) < _threshold_hex(rate))


_SPLITS = (("train", 0.8), ("val", 0.1), ("test", 0.1))


def assign_splits(df: DataFrame, key: str) -> DataFrame:
    """Disjoint, exhaustive, deterministic split assignment:
    train/val/test at 80/10/10 by the hash of ``key``. A key's split
    never changes — the leakage guard."""
    h = hash_key(F.col(key))
    cum = 0.0
    expr = None
    for name, weight in _SPLITS[:-1]:
        cum += weight
        branch = h < _threshold_hex(cum)
        expr = (F.when(branch, name) if expr is None
                else expr.when(branch, name))
    return df.withColumn("split", expr.otherwise(_SPLITS[-1][0]))


def stratified_sample(df: DataFrame, stratum_col: str, n_per_stratum: int,
                      key: str) -> DataFrame:
    """Deterministic top-``n`` rows per stratum, chosen by hash order
    (i.e. a uniform without-replacement sample per class whose
    membership is run- and engine-stable). One shuffle on the
    stratum; the per-stratum top-n runs as a window group limit."""
    from pyspark.sql import Window
    w = (Window.partitionBy(stratum_col)
         .orderBy(hash_key(F.col(key)), F.col(key)))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_per_stratum)
            .drop("__rn"))


def mixture_threshold_hex(rate: Column) -> Column:
    """Column form of ``_threshold_hex`` for data-dependent rates:
    8-hex-char threshold such that ``hash_key(k) < threshold`` keeps
    ~``rate`` of keys. ``least(..., 2^32-1)`` keeps the threshold at 8
    chars so the lexicographic compare stays valid at rate=1.0 (cost:
    the single hash 'ffffffff' is always dropped — 2^-32, and
    identically so on every engine)."""
    return F.format_string(
        "%08x",
        F.least(F.floor(rate * F.lit(float(_HEX_SPACE))),
                F.lit(float(_HEX_SPACE - 1))).cast("long"))


def temperature_mixture(df: DataFrame, domain_col: str,
                        key: str) -> DataFrame:
    """Temperature-based domain rebalancing (T=2, i.e. target share
    ∝ sqrt(n_domain) — the multilingual-corpus resampling rule): keep
    rate r_d = sqrt(n_min)/sqrt(n_d), so the smallest domain is kept
    whole and larger domains are downsampled toward balance.
    Membership is per-key md5 order (deterministic across runs,
    partitionings, and engines).

    The exponent is fixed at 1/2 deliberately: IEEE-754 requires
    ``sqrt`` to be correctly rounded, so Spark and DuckDB compute
    bit-identical rates and thresholds; arbitrary-alpha ``pow`` has
    no such guarantee and would let the two engines disagree on keys
    hashing next to a threshold.

    Plan shape at 100 TB: one map-side-combined count per domain
    (#domains rows), a broadcast of the rate table, then a linear
    scan+filter — no full-data shuffle."""
    counts = df.groupBy(domain_col).agg(F.count("*").alias("n_total"))
    floor_n = counts.agg(F.min("n_total").alias("__n_min"))
    rates = (counts.crossJoin(F.broadcast(floor_n))
             .withColumn("keep_rate",
                         F.sqrt(F.col("__n_min").cast("double"))
                         / F.sqrt(F.col("n_total").cast("double")))
             .withColumn("__thr", mixture_threshold_hex(F.col("keep_rate")))
             .drop("__n_min"))
    return (df.join(F.broadcast(rates), domain_col)
            .filter(hash_key(F.col(key)) < F.col("__thr"))
            .drop("__thr"))


def pack_sequences(df: DataFrame, count_col: str, budget: int,
                   key: str) -> DataFrame:
    """Concat-then-chunk sequence packing: order rows by a
    deterministic hash of ``key``, lay their token counts end to end,
    and cut the stream every ``budget`` tokens — the packing step that
    turns a curated corpus into fixed-length training sequences
    (documents MAY span a chunk boundary, as in standard LM
    pretraining concatenation).

    The global running offset is computed scalably: rows hash into 16
    ordered buckets (first hex digit), a per-bucket cumulative sum
    runs partition-parallel, and the 16 bucket totals — a broadcast-
    sized prefix table — shift each bucket to its global position.
    No single-partition global window, so the plan survives any
    corpus size; total order is (bucket, hash, key), identical on
    every engine/run.

    Output: key, n_tokens, start_offset (global), bin_id,
    offset_in_bin, spans_boundary."""
    h = hash_key(F.col(key))
    rows = df.select(F.col(key), F.col(count_col).alias("n_tokens"),
                     h.alias("__h"),
                     F.substring(h, 1, 1).alias("__bucket"))
    w = (Window.partitionBy("__bucket")
         .orderBy("__h", key)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    within = rows.withColumn("__end_in_bucket",
                             F.sum("n_tokens").over(w))
    totals = (rows.groupBy("__bucket")
              .agg(F.sum("n_tokens").alias("__tot")))
    bw = (Window.orderBy("__bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offsets = (totals
               .withColumn("__base", F.sum("__tot").over(bw)
                           - F.col("__tot"))
               .select("__bucket", "__base"))
    packed = (within.join(F.broadcast(offsets), "__bucket")
              .withColumn("start_offset",
                          (F.col("__base") + F.col("__end_in_bucket")
                           - F.col("n_tokens")).cast("long")))
    return (packed
            .withColumn("bin_id",
                        F.floor(F.col("start_offset") / budget)
                         .cast("long"))
            .withColumn("offset_in_bin",
                        (F.col("start_offset") % budget).cast("long"))
            .withColumn("spans_boundary",
                        F.col("offset_in_bin") + F.col("n_tokens")
                        > budget)
            .select(key, "n_tokens", "start_offset", "bin_id",
                    "offset_in_bin", "spans_boundary"))


def weighted_sample(df: DataFrame, n: int, weight_col: str, key: str,
                    salt: str = "") -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic
    (Efraimidis-Spirakis A-ES): each row draws priority u^(1/w) from
    its md5 uniform u ∈ (0,1]; the top-n priorities are the sample.
    Inclusion probability tracks weight share exactly as the
    textbook algorithm's — but the randomness is the same portable
    keyed-md5 every sampler here uses, so the SAMPLE SET is
    reproducible bit-for-bit across runs/partitionings/engines (a
    distributed np.random choice can promise none of that; change
    the salt for an independent draw).

    Scale shape: priorities are scan-side expressions; top-n
    compiles to TakeOrderedAndProject (per-partition heaps + driver
    merge of n rows), NOT a global sort — n is model-sized by
    contract. pow() is libm-bound, so this stays in the
    python-parity-pinned tier (the selection only depends on
    priority ORDER, which ulp-level pow drift cannot flip except on
    exact ties the md5 uniform doesn't produce).

    Rows with weight <= 0 or NULL are excluded (zero mass)."""
    u = ((F.conv(hash_key(F.col(key), salt), 16, 10).cast("double")
          + F.lit(1.0)) / F.lit(float(_HEX_SPACE)))
    pri = F.pow(u, F.lit(1.0) / F.col(weight_col))
    return (df.filter(F.col(weight_col) > 0)
            .withColumn("__pri", pri)
            .orderBy(F.desc("__pri"), F.col(key))
            .limit(n)
            .drop("__pri"))
