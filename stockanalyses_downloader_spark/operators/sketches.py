"""Mergeable sketches (X4 sketch tier, rounds 4-5): count-min
(frequencies) and a log-bucket HDR histogram (quantiles) — the
bounded-memory answers to "how often does token X occur in 100 TB" and
"what is p99 of this value over 100 TB" when the exact histogram /
exact sort is itself too large to materialize per partition/day.

Why a sketch and not the exact agg: the exact token histogram is
vocab-sized state per aggregation window; at web scale with daily
partitions you want a FIXED-size summary per partition that merges by
ADDITION (sum the bucket grids) and answers point queries with a
one-sided error bound: estimate >= true count always, and
P[estimate > true + e*N/width] <= exp(-depth). The HLL sketch
(lang_distinct_token_sketch) covers mergeable DISTINCT counts; this
covers mergeable FREQUENCIES — together they are the re-aggregation
tier exact aggs can't provide.

Engine portability: bucket index = CAST(first 8 hex chars of
md5(row_id | item) AS int) % width — Spark computes it with
conv(substring(md5(...)), 16, 10), DuckDB with CAST('0x'||prefix AS
BIGINT); identical values, so the sketch GRID itself is DuckDB-oracled
(a rare property for sketch code — most hash families aren't portable,
cf. the HLL row being rows-only).

Scale shape: the build is one explode(depth)+agg with map-side combine
— the shuffle carries at most depth×width rows per map partition no
matter how large the corpus; estimation joins a broadcast-sized probe
grid against the broadcast-sized sketch.

spread() why-not (r11 rollout, VERDICT r10 #1 — the documented
exception): every builder here takes an already-EXPLODED item stream
(tokens, grams, values), so a guard inside this module would
repartition the amplified stream — shuffling |corpus tokens| rows to
fix a narrow upstream, when the cheap fix is to widen the DOCS before
the explode. The guard therefore lives at the call sites
(text_queries._docs_spread and the scale harnesses), pre-explode,
where the repartition moves |docs| rows and the tokenizer + per-depth
hash cells — the actual CPU — inherit full width. The r10 lesson
measured exactly this: the 100× count-min cell ran 187 s with the
token stream serialized on the upstream's width vs 8.95 s spread at
the docs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CM_DEPTH = 4
CM_WIDTH = 1024


def cm_bucket(item: Column, row_id: Column, width: int) -> Column:
    """Bucket of ``item`` under hash row ``row_id`` — 32-bit md5
    prefix of 'row|item', mod width."""
    h = F.md5(F.concat(row_id.cast("string"), F.lit("|"),
                       item.cast("string")).cast("binary"))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % width).cast("int")


def countmin_build(items: DataFrame, item_col: str,
                   depth: int = CM_DEPTH,
                   width: int = CM_WIDTH) -> DataFrame:
    """Build the sketch grid: (row_id, bucket, c) with at most
    depth × width rows. Rows that never collide with an item are
    absent (an absent cell estimates 0). Merging two sketches is
    UNION ALL + groupBy-sum of this exact frame — pinned by the
    half-vs-whole merge test."""
    cells = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(depth - 1)),
        lambda i: F.struct(
            i.cast("int").alias("row_id"),
            cm_bucket(F.col(item_col), i, width).alias("bucket"))))
    return (items.select(cells.alias("cell"))
            .select("cell.row_id", "cell.bucket")
            .groupBy("row_id", "bucket")
            .agg(F.count("*").alias("c")))


def countmin_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketch grids built with the SAME depth/width: buckets
    add. This is the whole point — per-partition/day sketches
    re-aggregate without rescanning the corpus."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (out.groupBy("row_id", "bucket")
            .agg(F.sum("c").alias("c")))


def countmin_estimate(sketch: DataFrame, probes: DataFrame,
                      item_col: str, depth: int = CM_DEPTH,
                      width: int = CM_WIDTH) -> DataFrame:
    """Point-query estimates for each probe item: min over the depth
    rows of the probed cell (absent cell = 0). Guarantee: estimate >=
    true count, overestimate bounded by sums of colliding items.
    Output: (item_col, est)."""
    cells = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(depth - 1)),
        lambda i: F.struct(
            i.cast("int").alias("row_id"),
            cm_bucket(F.col(item_col), i, width).alias("bucket"))))
    probe_cells = (probes.select(item_col, cells.alias("cell"))
                   .select(item_col, "cell.row_id", "cell.bucket"))
    return (probe_cells
            .join(F.broadcast(sketch), ["row_id", "bucket"], "left")
            .withColumn("c", F.coalesce("c", F.lit(0)))
            .groupBy(item_col)
            .agg(F.min("c").alias("est")))


# --- log-bucket HDR histogram: mergeable QUANTILES --------------------------
#
# The third mergeable tier next to HLL (distinct) and count-min
# (frequency): per-partition/day fixed-size histograms that merge by
# ADDITION and answer any quantile with a bounded RELATIVE error —
# what percentile_cont cannot do without a full re-sort of history.
#
# Bucketing is HdrHistogram-style but built from EXACT integer
# arithmetic so the grid itself is DuckDB-oracle-checkable (the same
# portability property as cm_bucket; float log() would diverge between
# JVM Math.log and libm at bucket boundaries):
#
#     k = floor(value * 100)            exact double->int (cents)
#     e = length(bin(k)) - 1            the octave: floor(log2(k))
#     s = ((k - 2^e) * m) div 2^e       linear sub-bucket, 0..m-1
#
# Bucket width is 2^e / m cents, i.e. <= 1/m RELATIVE to any value in
# the bucket — with m=16, every quantile estimate lands within ~6.25%
# of the exact order statistic regardless of the value distribution's
# range. 2^e is materialized via pow(2.0, e): exact for integral
# exponents (IEEE powers of two) in both engines.

HDR_M = 16          # sub-buckets per octave -> <= 1/m relative error
HDR_SCALE = 100     # fixed-point cents: resolution floor of 0.01


def hdr_bucket(value: Column) -> Column:
    """Ordinal bucket id ``o = e*m + s`` (m = HDR_M) for a positive
    value — order-preserving (higher value => higher ``o``), so cumulative
    sums over ``o`` walk the value axis. Values below 1/HDR_SCALE
    (k < 1) are the caller's to filter out (the fixture's prices sit
    orders of magnitude above the resolution floor).

    The sub-bucket division ``floor((k - p) * m / p)`` runs in DOUBLE
    in both engines (Spark int/int and DuckDB int/int both promote):
    the operands are exact integers well under 2**53, the quotient is
    correctly rounded in both, and the quotient's distance to any
    integer boundary is at least 1/p >> one ulp — so the floor is
    engine-identical despite the float detour."""
    k = F.floor(value * HDR_SCALE).cast("long")
    e = (F.length(F.bin(k)) - 1).cast("long")
    p = F.pow(F.lit(2.0), e).cast("long")
    s = F.floor((k - p) * HDR_M / p).cast("long")
    return (e * HDR_M + s).cast("long")


def hdr_bucket_value(o: Column) -> Column:
    """Midpoint representative value of bucket ``o`` (inverse of
    hdr_bucket up to the <=1/m bucket width, m = HDR_M):
    2^e * (m + s + 0.5) / (m * HDR_SCALE). Pure double arithmetic on
    exact integer inputs — engine-identical."""
    e = F.floor(o / HDR_M).cast("long")
    s = (o - e * HDR_M).cast("long")
    p = F.pow(F.lit(2.0), e)
    return (p * (s + F.lit(HDR_M + 0.5)) / F.lit(float(HDR_M * HDR_SCALE)))


def hdr_build(values: DataFrame, value_col: str) -> DataFrame:
    """Histogram grid (o, c): at most HDR_M*64 rows no matter the corpus
    size. Merging two grids is UNION ALL + groupBy-sum — same
    re-aggregation contract as countmin_merge."""
    return hdr_build_grouped(values, [], value_col)


def hdr_merge(*grids: DataFrame) -> DataFrame:
    """Merge grids built with the same m/scale: buckets add."""
    out = grids[0]
    for g in grids[1:]:
        out = out.unionByName(g)
    return out.groupBy("o").agg(F.sum("c").alias("c"))


def hdr_quantiles(grid: DataFrame, qs: tuple[float, ...]) -> DataFrame:
    """Quantile estimates from the grid: for each q, the midpoint of
    the bucket containing the ceil(q*N)-th smallest value (rank
    semantics of percentile_disc). Output (q, est, n_total). The
    cumulative walk is over the <=m*64-row grid — driver-trivial at
    any corpus size, and the grid itself came from a merge, not a
    rescan."""
    from pyspark.sql import Window
    w = Window.orderBy("o").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    cum = grid.select("o", "c", F.sum("c").over(w).alias("cum"))
    total = grid.agg(F.sum("c").alias("n_total"))
    qf = total.select(
        "n_total",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"))
    hits = (cum.join(F.broadcast(qf),
                     F.col("cum") >= F.ceil(F.col("q") * F.col("n_total")))
            .groupBy("q", "n_total").agg(F.min("o").alias("o")))
    return hits.select(
        "q", hdr_bucket_value(F.col("o")).alias("est"),
        F.col("n_total").cast("long").alias("n_total"))


# --- Bloom filter: mergeable MEMBERSHIP --------------------------------------
#
# The fourth mergeable tier: HLL answers "how many distinct", count-min
# "how often", HDR "what quantile" — the Bloom filter answers "have I
# seen this item AT ALL" from fixed-size state that merges by bitwise
# OR (here: UNION + DISTINCT over set bit positions). The contract is
# one-sided like count-min's: NO false negatives ever (an inserted
# item's k bits are all set by construction), false positives bounded
# by (1 - e^(-k*n/bits))^k. The 100 TB use case is membership tests
# that exact anti-joins make expensive to repeat: "is this training
# n-gram in the eval set" probed per-partition against a broadcast
# bit set instead of shuffling the corpus against the eval corpus on
# every refresh — per-day bloom grids of new eval material merge into
# the standing filter without rescanning history.
#
# Same portable hash family as cm_bucket (32-bit md5 prefix), so the
# bit-set frame itself is DuckDB-oracled, sketch internals included.

BLOOM_K = 4         # hash functions per item
BLOOM_BITS = 32768  # bit-space size; frame holds only SET bits


def bloom_build(items: DataFrame, item_col: str,
                k: int = BLOOM_K, bits: int = BLOOM_BITS) -> DataFrame:
    """Bit-set frame (bit,) — the distinct bit positions set by the
    items. At most min(k*n_distinct, bits) rows regardless of corpus
    size; an absent row means bit 0. Merging two filters built with
    the same k/bits is UNION + DISTINCT (bitwise OR) — pinned by the
    half-vs-whole merge test."""
    b = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: cm_bucket(F.col(item_col), i, bits)))
    return items.select(b.alias("bit")).distinct()


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """OR together filters built with the same k/bits: union of set
    bits."""
    out = blooms[0]
    for s in blooms[1:]:
        out = out.unionByName(s)
    return out.distinct()


def bloom_contains(bloom: DataFrame, probes: DataFrame, item_col: str,
                   k: int = BLOOM_K, bits: int = BLOOM_BITS) -> DataFrame:
    """Membership verdict per probe item: might_contain = all k probed
    bits are set. TRUE may be a false positive (bounded rate); FALSE
    is definitive. The filter side is broadcast (<= bits rows by
    construction) so the probe scan never shuffles — the property
    that makes per-partition decontamination probes free at scale.
    Output: (item_col, might_contain)."""
    cells = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: cm_bucket(F.col(item_col), i, bits)))
    probe_bits = probes.select(item_col, cells.alias("bit"))
    return (probe_bits
            .join(F.broadcast(bloom.withColumn("hit", F.lit(1))),
                  ["bit"], "left")
            .groupBy(item_col)
            .agg((F.count("hit") == k).alias("might_contain")))


def hdr_build_grouped(values: DataFrame, group_cols: list[str],
                      value_col: str) -> DataFrame:
    """Per-group histogram grids in one aggregate: (group_cols..., o,
    c), at most HDR_M*64 rows PER GROUP. The grouped form of hdr_build —
    same bucketing, same merge-by-addition contract per group."""
    return (values
            .filter(F.floor(F.col(value_col) * HDR_SCALE) >= 1)
            .select(*group_cols,
                    hdr_bucket(F.col(value_col)).alias("o"))
            .groupBy(*group_cols, "o")
            .agg(F.count("*").alias("c")))


def hdr_quantiles_grouped(grid: DataFrame, group_cols: list[str],
                          qs: tuple[float, ...]) -> DataFrame:
    """Per-group quantile estimates from a grouped grid: the same
    cumulative-walk rule as hdr_quantiles, windowed per group — so
    ONE pass answers every group's p50/p99 from bounded state
    (groups × m*64 rows), where exact per-group percentiles would
    re-sort every group's full history."""
    from pyspark.sql import Window
    w = (Window.partitionBy(*group_cols).orderBy("o")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = grid.select(*group_cols, "o", "c",
                      F.sum("c").over(w).alias("cum"))
    totals = grid.groupBy(*group_cols).agg(F.sum("c").alias("n_total"))
    qf = totals.select(
        *group_cols, "n_total",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"))
    hits = (cum.join(qf, group_cols)
            .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n_total")))
            .groupBy(*group_cols, "q", "n_total")
            .agg(F.min("o").alias("o")))
    return hits.select(
        *group_cols, "q", hdr_bucket_value(F.col("o")).alias("est"),
        F.col("n_total").cast("long").alias("n_total"))


def countmin_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Equi-join SIZE estimate from two count-min grids (AMS-style:
    |A ⋈ B on k| = sum_v fA(v)*fB(v), estimated per hash row by the
    bucket-wise inner product, min over rows). One-sided like the
    point query: estimate >= true join size always (colliding keys
    only ADD cross terms), error bounded by e * N_a * N_b / width
    per row. The 100 TB use: join-size forecasting from per-day
    mergeable grids BEFORE running the join — shuffle sizing, skew
    alerts, AQE hints — without touching either fact table again.
    Input frames are (row_id, bucket, c) grids built by
    countmin_build on the JOIN KEY with identical depth/width (the
    grids carry the geometry — no parameters needed here).
    Output 1 row: (est_join_size). Hash rows with zero bucket overlap
    contribute ip=0 (disjoint key sets → est 0), so the min is taken
    over ALL depth rows, not just the overlapping ones — an inner
    join alone would return NULL/inflated for disjoint grids."""
    # tracked_persist (r12 recompute audit): each grid feeds BOTH the
    # row-id union and the product join — unpersisted, an in-plan
    # grid (countmin_build over a fact table) re-scanned its fact
    # table twice. Grids are bounded at depth x width rows by
    # construction, the canonical cache candidate; grids loaded from
    # storage just cache their (tiny) scan. The _if_cold guard
    # (ADVICE r12 low): these are CALLER-provided frames — a grid the
    # caller already persisted (possibly at another storage level)
    # must be neither re-persisted (raises) nor entered into the
    # tracked registry (a harness release would drop the caller's
    # blocks).
    from ..caching import tracked_persist_if_cold
    a, b = tracked_persist_if_cold(a), tracked_persist_if_cold(b)
    rows = (a.select("row_id").union(b.select("row_id")).distinct())
    prod = (a.alias("a").join(b.alias("b"), ["row_id", "bucket"])
            .groupBy("row_id")
            .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("ip")))
    full = (rows.join(prod, "row_id", "left")
            .select(F.coalesce("ip", F.lit(0)).alias("ip")))
    return full.agg(F.min("ip").cast("long").alias("est_join_size"))


# --- portable HyperLogLog: ORACLED distinct-count grids ----------------------
#
# lang_distinct_token_sketch (text_queries) already provides the HLL
# tier via Spark's Datasketches functions — but its binary sketch is
# engine-private, so the driver can only rows-only it. This section is
# the PORTABLE dual: the register grid is built from the same
# md5-prefix hash family as cm_bucket/bloom, so the sketch STATE itself
# is DuckDB-oracled like the count-min/HDR/Bloom grids — every one of
# the four mergeable tiers now has a hash-certifiable representation.
#
# Register math, engine-portable by construction:
#     reg = first 32-bit md5 word  % m          (which register)
#     w   = second 32-bit md5 word              (rho source)
#     rho = 33 - bit_length(w), or 33 if w = 0  (leading zeros + 1)
# bit_length via length(bin(w)): BOTH Spark and DuckDB bin() strip
# leading zeros, so the expression is identical in the oracle. The
# grid (reg, max_rho) merges by groupBy-MAX — the HLL merge rule —
# giving per-partition/day distinct-sketches that re-aggregate without
# rescans, exactly like the other three tiers.
#
# The ESTIMATE (alpha*m^2 / sum 2^-rho with linear-counting fallback)
# involves ln() for the small-range correction — libm-bound, so it
# stays test-pinned (error band vs exact) rather than hash-oracled,
# same disposition as hll_sketch_estimate.

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers -> ~6.5% standard error


def _hll_cell(item: Column) -> tuple[Column, Column]:
    """(register, rho) of one item under the portable hash."""
    h = F.md5(item.cast("string").cast("binary"))
    reg = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
           % HLL_M).cast("int")
    w = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    rho = (F.when(w == 0, F.lit(33))
           .otherwise(F.lit(33) - F.length(F.bin(w)))).cast("int")
    return reg, rho


def hll_build_grouped(items: DataFrame, group_cols: list[str],
                      item_col: str) -> DataFrame:
    """Per-group register grids (group_cols..., reg, max_rho): at most
    HLL_M rows PER GROUP no matter how many distinct items. A register
    no item hashed into is absent (implicit rho 0). Merging grids is
    UNION ALL + groupBy-MAX (hll_merge)."""
    reg, rho = _hll_cell(F.col(item_col))
    return (items.select(*group_cols, reg.alias("reg"), rho.alias("rho"))
            .groupBy(*group_cols, "reg")
            .agg(F.max("rho").alias("max_rho")))


def hll_build(items: DataFrame, item_col: str) -> DataFrame:
    """Ungrouped register grid (reg, max_rho)."""
    return hll_build_grouped(items, [], item_col)


def hll_merge(*grids: DataFrame) -> DataFrame:
    """Merge ungrouped grids built with the same m: registers MAX —
    the HLL union rule (distinct sets union; registers take the max
    observed rho)."""
    out = grids[0]
    for g in grids[1:]:
        out = out.unionByName(g)
    return out.groupBy("reg").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate_grouped(grid: DataFrame, group_cols: list[str]) -> DataFrame:
    """Cardinality estimate per group from a register grid: the
    standard HLL estimator with the linear-counting small-range
    correction. Output (group_cols..., est_distinct). Runs entirely
    on the <= m-rows-per-group grid (m = HLL_M) — no corpus rescans;
    libm ln() confines this to the test-pinned tier (grid stays
    oracled)."""
    m = HLL_M
    alpha = 0.7213 / (1.0 + 1.079 / m)
    per = (grid.groupBy(*group_cols) if group_cols else grid.groupBy())
    agg = per.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("s_hit"),
        F.count("*").alias("n_present"))
    zeros = F.lit(m) - F.col("n_present")
    # absent registers carry rho 0 -> 2^0 = 1 each
    raw = (F.lit(alpha * m * m)
           / (F.col("s_hit") + zeros.cast("double")))
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)
    return agg.select(*group_cols, est.alias("est_distinct"))


def hll_estimate(grid: DataFrame) -> DataFrame:
    """Ungrouped estimate: 1 row (est_distinct)."""
    return hll_estimate_grouped(grid, [])


def hll_intersection_estimate(a: DataFrame, b: DataFrame) -> DataFrame:
    """Distinct-overlap estimate between two register grids via
    inclusion-exclusion: |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B),
    where the union grid is just hll_merge (register MAX — exact
    for the union sketch, the property intersections lack a direct
    sketch for). The error compounds (three estimates), so the band
    is wider than a single estimate's and can go slightly NEGATIVE
    for near-disjoint sets — callers clamp at 0; the test pins the
    band at overlap fractions where the signal is real. 100 TB use:
    "how many users/tokens do these two days share" from stored
    per-day grids, no rescan of either day.
    Output 1 row: (est_a, est_b, est_union, est_intersection)."""
    ea = hll_estimate(a).select(F.col("est_distinct").alias("est_a"))
    eb = hll_estimate(b).select(F.col("est_distinct").alias("est_b"))
    eu = hll_estimate(hll_merge(a, b)).select(
        F.col("est_distinct").alias("est_union"))
    return (ea.crossJoin(eb).crossJoin(eu)
            .select("est_a", "est_b", "est_union",
                    (F.col("est_a") + F.col("est_b")
                     - F.col("est_union")).alias("est_intersection")))
