"""Bucketed-table layout (sources/bucketing.py): the write-once
pre-shuffle that makes every later equi-join/groupBy on the bucket key
exchange-free. The assertions here are PLAN pins — the point of
bucketing is what does NOT appear in the physical plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stockanalyses_downloader_spark.sources import bucketing
from stockanalyses_downloader_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    """orders + lineitem written bucketed by the join key into a
    throwaway database (explicit LOCATION keeps files out of the
    repo's spark-warehouse)."""
    loc = tmp_path_factory.mktemp("bucketed_db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{loc}'")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bucketing.write_bucketed(o, "bktest.orders_b", ["o_orderkey"],
                             sort_cols=["o_orderkey"])
    bucketing.write_bucketed(li, "bktest.lineitem_b", ["l_orderkey"],
                             sort_cols=["l_orderkey"])
    yield "bktest.orders_b", "bktest.lineitem_b"
    spark.sql("DROP DATABASE IF EXISTS bktest CASCADE")


def _with_smj(spark):
    """Force SortMergeJoin so the exchange-free claim is tested on the
    join strategy bucketing targets (broadcast would trivially have no
    shuffle)."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    return saved, saved_aqe


def _restore(spark, saved, saved_aqe):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    if saved_aqe is None:
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    else:
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                       saved_aqe)


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    """The headline: orders_b ⋈ lineitem_b on the bucket key plans a
    SortMergeJoin with ZERO Exchange nodes — both sides stream their
    co-located buckets. The same join on the raw parquet tables
    shuffles both sides (sanity leg: the pin isn't vacuous)."""
    ob, lb = bucketed_tables
    saved = _with_smj(spark)
    try:
        j = (bucketing.read_bucketed(spark, ob)
             .join(bucketing.read_bucketed(spark, lb),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .select("o_orderkey", "l_linenumber", "o_totalprice"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan

        raw = (load_table(spark, sf_dir, "orders")
               .join(load_table(spark, sf_dir, "lineitem"),
                     F.col("o_orderkey") == F.col("l_orderkey"))
               .select("o_orderkey", "l_linenumber", "o_totalprice"))
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in raw_plan

        # and the exchange-free plan is still CORRECT: row counts match
        assert j.count() == raw.count()
    finally:
        _restore(spark, *saved)


def test_bucketed_join_sorted_buckets_skip_sort(spark, bucketed_tables):
    """sortBy at write time removes the per-task Sort before the
    merge join: with the one-file-per-bucket layout the writer
    guarantees and the (Spark>=3.0 opt-in) legacy.outputOrdering
    flag, the executed plan reads pre-sorted buckets — no Exchange
    AND no Sort."""
    ob, lb = bucketed_tables
    saved = _with_smj(spark)
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        j = (bucketing.read_bucketed(spark, ob)
             .join(bucketing.read_bucketed(spark, lb),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .select("o_orderkey", "l_linenumber"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan
        assert "Sort " not in plan.replace("SortMergeJoin", "SMJ")
    finally:
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
        _restore(spark, *saved)


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    """Aggregation on the bucket key also skips the shuffle: the
    partial/final HashAggregate pair collapses onto the bucket
    layout."""
    _, lb = bucketed_tables
    agg = (bucketing.read_bucketed(spark, lb)
           .groupBy("l_orderkey").agg(F.count("*").alias("n")))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_raw_parquet_read_loses_bucket_spec(spark, bucketed_tables):
    """The documented trap: bypassing the catalog re-introduces the
    shuffle — the bucket metadata lives in the catalog, not the
    files."""
    ob, lb = bucketed_tables
    loc_o = spark.sql(f"DESCRIBE FORMATTED {ob}").filter(
        F.col("col_name") == "Location").collect()[0]["data_type"]
    loc_l = spark.sql(f"DESCRIBE FORMATTED {lb}").filter(
        F.col("col_name") == "Location").collect()[0]["data_type"]
    saved = _with_smj(spark)
    try:
        j = (spark.read.parquet(loc_o)
             .join(spark.read.parquet(loc_l),
                   F.col("o_orderkey") == F.col("l_orderkey")))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
    finally:
        _restore(spark, *saved)


def test_partitioned_layout_prunes_directories(spark, sf_dir, tmp_path):
    """Directory partitioning: a filter on the partition column shows
    up as a PartitionFilter (pruned from directory NAMES, before any
    read) and the scan's input files are exclusively the matching
    partition's — plus values survive the layout roundtrip."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_type")
    bucketing.write_partitioned(ev, path, ["event_type"])

    back = spark.read.parquet(path)
    clicks = back.filter(F.col("event_type") == "click")
    plan = clicks._jdf.queryExecution().executedPlan().toString()
    # the filter lands in PartitionFilters (evaluated on directory
    # names during listing), NOT in PushedFilters/data filters
    pf_segment = plan.split("PartitionFilters")[1].split("]")[0]
    assert "event_type" in pf_segment and "click" in pf_segment
    # and the pruned scan's file-level metric confirms only the one
    # partition's files were read: numFiles(pruned) < numFiles(full)
    def num_files(df):
        # execute THIS dataframe's own query execution (df.count()
        # would plan a separate aggregate query whose metrics live
        # elsewhere), then read the scan leaf's numFiles metric
        qe = df._jdf.queryExecution()
        qe.toRdd().count()
        node = qe.executedPlan()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        leaf = node.collectLeaves().apply(0)
        return leaf.metrics().apply("numFiles").value()
    assert num_files(clicks) < num_files(back)

    # correctness across the layout roundtrip (partition col moves
    # into the directory name and back)
    assert clicks.count() == ev.filter(
        F.col("event_type") == "click").count()


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """Format breadth: the engine's tables round-trip through ORC
    (Spark's second columnar format — some warehouses standardize on
    it) with identical values, and filters push into the ORC scan
    the same way they do for parquet."""
    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    o.write.mode("overwrite").orc(path)

    back = spark.read.orc(path)
    assert back.schema == o.schema
    a = o.agg(F.count("*"), F.sum("o_totalprice").cast("decimal(30,2)"),
              F.min("o_orderdate"), F.max("o_orderkey")).collect()[0]
    b = back.agg(F.count("*"), F.sum("o_totalprice").cast("decimal(30,2)"),
                 F.min("o_orderdate"), F.max("o_orderkey")).collect()[0]
    assert tuple(a) == tuple(b)

    filtered = back.filter(F.col("o_orderkey") == 42).select("o_custkey")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    seg = plan.split("PushedFilters")[1][:160]
    assert "o_orderkey" in seg and "EqualTo" in seg


def test_schema_evolution_merge_and_defaults(spark, tmp_path):
    """Schema evolution across parquet batches: day 2 adds a column;
    mergeSchema unifies the read, day-1 rows surface NULL for the
    new column (no rewrite of history), and the scan stays
    vectorized. The at-rest reality of any long-lived ingest."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, payload string") \
        .write.mode("append").parquet(path)
    spark.createDataFrame(
        [(3, "c", 0.9), (4, "d", 0.1)],
        "id long, payload string, quality double") \
        .write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "payload", "quality"}
    rows = {r["id"]: r["quality"] for r in merged.collect()}
    assert rows[1] is None and rows[2] is None
    assert rows[3] == 0.9 and rows[4] == 0.1
    # default read (no mergeSchema) picks ONE footer's schema —
    # documented trap; coalesce-with-default is the query-side fix
    patched = merged.withColumn(
        "quality", F.coalesce("quality", F.lit(0.5)))
    assert patched.filter(F.col("quality") == 0.5).count() == 2


def test_zorder_layout_skips_on_both_columns(spark, tmp_path):
    """Z-order vs single-column sort, measured from the actual parquet
    footer min/max stats (what any stats-aware reader prunes with):
    two independent uniform columns, 16 output files.

    * sorted-by-x layout: a narrow y predicate overlaps ~EVERY file
      (y min/max spans the full range in each file);
    * z-ordered (x, y) layout: the same y predicate overlaps only the
      files whose z-range maps to that y slab — strictly fewer, and
      an x predicate also skips (the both-columns property neither
      single sort has)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from stockanalyses_downloader_spark.sources import bucketing

    n, files = 4096, 16
    # deterministic pseudo-uniform pair derived from the row id
    df = (spark.range(n)
          .withColumn("x", (F.conv(F.substring(F.md5(
              F.concat(F.lit("x"), F.col("id").cast("string"))), 1, 6),
              16, 10).cast("long") % 1000).cast("double"))
          .withColumn("y", (F.conv(F.substring(F.md5(
              F.concat(F.lit("y"), F.col("id").cast("string"))), 1, 6),
              16, 10).cast("long") % 1000).cast("double")))

    p_sorted = str(tmp_path / "sorted_x")
    (df.repartitionByRange(files, "x").sortWithinPartitions("x")
     .write.mode("overwrite").parquet(p_sorted))
    p_z = str(tmp_path / "zorder")
    bucketing.write_zordered(df, p_z, ["x", "y"], n_files=files)

    def overlapping(path, col, lo, hi):
        import glob
        total, hit = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cmin = min(md.row_group(i).column(
                [md.schema.column(j).name
                 for j in range(md.num_columns)].index(col)).statistics.min
                for i in range(md.num_row_groups))
            cmax = max(md.row_group(i).column(
                [md.schema.column(j).name
                 for j in range(md.num_columns)].index(col)).statistics.max
                for i in range(md.num_row_groups))
            total += 1
            if cmax >= lo and cmin <= hi:
                hit += 1
        return hit, total

    y_hit_sorted, y_tot_sorted = overlapping(p_sorted, "y", 100.0, 160.0)
    y_hit_z, y_tot_z = overlapping(p_z, "y", 100.0, 160.0)
    x_hit_z, _ = overlapping(p_z, "x", 100.0, 160.0)

    assert y_tot_sorted == files and y_tot_z == files
    assert y_hit_sorted == files            # single sort: y stats useless
    assert y_hit_z < files // 2             # z-order: y skips most files
    assert x_hit_z < files // 2             # ... and x still skips too


def test_zorder_value_interleaves_bits(spark):
    """The Morton contract on a known 2-bit grid: corners map to the
    canonical interleave order (0,0)->0 (1,0)->2 (0,1)->1 (1,1)->3
    scaled to the bit width, and zvalue is deterministic."""
    from pyspark.sql import functions as F

    from stockanalyses_downloader_spark.sources import bucketing

    df = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)], "x double, y double")
    out = bucketing.zorder_value(df, ["x", "y"], bits=1)
    got = {(r["x"], r["y"]): r["zvalue"] for r in out.collect()}
    assert got == {(0.0, 0.0): 0, (1.0, 0.0): 2, (0.0, 1.0): 1,
                   (1.0, 1.0): 3}


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Dynamic partition pruning: a partitioned FACT joined to a dim
    whose filter only exists at runtime gets its partition list
    narrowed by a dynamicpruning subquery fed from the dim's
    broadcast — the mechanism that makes star-schema scans at 100 TB
    read only the qualifying date/type directories even when the
    qualifying set is data-dependent (vs the STATIC PartitionFilters
    of test_partitioned_layout_prunes_directories). Pinned in the
    plan text; result equality vs a pre-filtered read pinned too."""
    from pyspark.sql import functions as F

    fact = (spark.range(2000)
            .withColumn("k", (F.col("id") % 20).cast("int"))
            .withColumn("v", F.col("id") * 2))
    p = str(tmp_path / "fact_part")
    fact.write.mode("overwrite").partitionBy("k").parquet(p)

    dim = spark.createDataFrame(
        [(i, "keep" if i < 3 else "drop") for i in range(20)],
        "k int, tag string")

    f = spark.read.parquet(p)
    joined = (f.join(dim.filter(F.col("tag") == "keep"), "k")
              .groupBy("k").agg(F.sum("v").alias("s")))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()

    got = {(r["k"], r["s"]) for r in joined.collect()}
    want = {(r["k"], r["s"]) for r in
            (f.filter(F.col("k") < 3).groupBy("k")
             .agg(F.sum("v").alias("s")).collect())}
    assert got == want and len(got) == 3
