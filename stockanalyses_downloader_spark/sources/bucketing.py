"""Bucketed-table layout: pre-shuffled storage so repeated joins and
aggregations on the same key run with ZERO exchanges.

At 100 TB the dominant cost of orders⋈lineitem is shuffling both
facts on the join key — every query, every day. Bucketing pays that
shuffle ONCE at write time: rows are hash-partitioned into a fixed
number of buckets by key and each bucket lands in its own file set;
any later equi-join or groupBy on the bucket key reads co-located
buckets and Catalyst drops the Exchange on both sides (pinned in
tests/test_bucketing.py — the physical plan's SortMergeJoin has no
shuffle under it). This is the at-rest equivalent of the
repartition-reuse pattern in operators/skew.py, and the batch
counterpart of Kafka's keyed partitions.

Spark specifics encoded here:

* bucketed writes go through ``saveAsTable`` (the bucket metadata
  lives in the catalog, not the parquet footers) — a plain
  ``parquet(path)`` write silently drops the bucket spec;
* both join sides must agree on bucket COUNT and key for the
  exchange-free plan; a mismatched count falls back to a normal
  shuffle (correct, just not free) — so the bucket count is a module
  constant, not a per-call knob;
* ``sortBy`` within buckets additionally removes the per-task Sort
  before SortMergeJoin, leaving a pure zip-merge — Spark only trusts
  the write-time sort when each bucket is ONE file (SPARK-19256:
  several files per bucket interleave unsorted), so the writer
  repartitions by the bucket key first (one writer task per bucket =>
  one file per bucket), AND since Spark 3.0 the planner only consumes
  the stored ordering under
  ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``
  (SPARK-28595) — worth enabling for scan-heavy merge-join workloads,
  pinned in the test either way;
* AQE leaves bucketed joins alone (no runtime re-partitioning to
  undo the layout).

Cited parity: the reference re-fetches and re-joins the same
jobs×currency shape every poll cycle (reference main.py:265-306);
bucketing is how the batch engine makes the recurring join free.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

N_BUCKETS = 8


def write_bucketed(df: DataFrame, table: str, keys: Sequence[str],
                   sort_cols: Sequence[str] | None = None,
                   n_buckets: int = N_BUCKETS) -> None:
    """Persist ``df`` as a catalog table bucketed by ``keys`` (and
    optionally sorted within buckets). ``table`` may be
    ``db.table``; create the database with an explicit LOCATION first
    to control where files land."""
    one_file_per_bucket = df.repartition(n_buckets, *[df[k] for k in keys])
    writer = (one_file_per_bucket.write.format("parquet")
              .mode("overwrite").bucketBy(n_buckets, *keys))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read back a bucketed table. MUST go through the catalog
    (``spark.table``): reading the table's files with
    ``spark.read.parquet`` loses the bucket spec and re-introduces
    the shuffle."""
    return spark.table(table)


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: Sequence[str]) -> None:
    """Directory-partitioned parquet layout — the OTHER at-rest
    lever, orthogonal to bucketing: bucketing co-locates a JOIN key
    across files, directory partitioning prunes FILTER keys before a
    single byte is read (the scan's PartitionFilters run against
    directory names, not data). At 100 TB the standard layout is
    both: partition by the dominant filter (e.g. event date), bucket
    by the dominant join key within each partition.

    Low-cardinality partition columns only: every distinct value is a
    directory, and a high-cardinality partition key (user_id...)
    produces millions of tiny files — the small-files problem that
    kills listing time. Pruning is pinned in
    tests/test_bucketing.py::test_partitioned_layout_prunes_directories.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


ZORDER_BITS = 16


def zorder_value(df: DataFrame, cols: Sequence[str],
                 bits: int = ZORDER_BITS) -> DataFrame:
    """Append ``zvalue``: the Morton (Z-order) interleave of the
    numeric ``cols`` — the THIRD at-rest lever, for workloads that
    filter on SEVERAL columns. Sorting by one column gives perfect
    min/max skipping on it and none on the others; sorting by the
    Z-curve gives every interleaved column locality proportional to
    its bit share, so parquet footer min/max stats stay tight on ALL
    of them (this is exactly Delta/Databricks OPTIMIZE ZORDER BY and
    Iceberg's sort-order z-curve, built here from plain DataFrame
    ops).

    Each column is min-max scaled to a ``bits``-bit integer grid (one
    tiny agg; the two-row min/max frame is broadcast via crossJoin —
    model-sized by construction). Linear binning keeps the scan
    one-pass; heavily skewed layout keys should pre-transform (log,
    rank) before interleaving — the standard caveat, documented here
    rather than hidden behind an implicit sort. Bit interleave is a
    static fold of shifts/ORs — whole-stage-codegen'd, no UDF.

    ``bits * len(cols)`` must fit a signed long (<= 62)."""
    from pyspark.sql import functions as F

    k = len(cols)
    assert bits * k <= 62, "zvalue must fit a signed long"
    mx = F.lit((1 << bits) - 1)
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    ranges = df.agg(*aggs)
    scaled = df.crossJoin(F.broadcast(ranges))
    grid_cols = []
    for c in cols:
        mn, mxc = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        span = (mxc - mn).cast("double")
        g = F.when(span > 0,
                   F.floor((F.col(c) - mn) / span * ((1 << bits) - 1)))\
             .otherwise(F.lit(0)).cast("long")
        grid_cols.append(F.least(g, mx.cast("long")))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, g in enumerate(grid_cols):
            bit = F.shiftright(g, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + (k - 1 - j)))
    out = scaled.withColumn("zvalue", z)
    drop = [f"__mn_{c}" for c in cols] + [f"__mx_{c}" for c in cols]
    return out.drop(*drop)


def write_zordered(df: DataFrame, path: str, cols: Sequence[str],
                   n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned on
    the Z-curve: each file covers one contiguous z-range, so its
    footer min/max on EVERY interleaved column is a tight box and a
    reader filtering on any of them skips most files/row-groups
    (measured, not assumed: tests/test_bucketing.py reads the footer
    stats back and counts overlapping files vs a single-column sort).
    ``repartitionByRange`` samples the z distribution for balanced
    file sizes — the one shuffle, paid at write time."""
    zdf = zorder_value(df, cols)
    (zdf.repartitionByRange(n_files, "zvalue")
     .sortWithinPartitions("zvalue")
     .write.mode("overwrite").parquet(path))
