"""SparkSession factory.

Defaults are tuned so the same code runs on ``local[N]`` for tests and
on a large cluster unchanged:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion) — the primary scale lever.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a
  real cluster AQE's coalescing makes the static number a ceiling, not
  a tuning burden.
- UTC session timezone so timestamp semantics are stable across the
  DuckDB oracle, parquet footers, and executors in any locale.
- Arrow enabled for the pandas interchange used by the vectorized UDF
  operators (similarity, multimodal).
- A generated-class cache of 10000 entries
  (``spark.sql.codegen.cache.maxEntries``, default 100). One pass of
  the nine dedup/similarity queries compiles ~280 whole-stage classes
  and the 190-entry registry ~3200, so at 100 entries the LRU evicts
  every class before its next use and each warm pass recompiled them
  all. The cap is set from the census in PERF.md ("Generated-class
  cache"): about three times the registry's working set, for 23 MB
  more Metaspace and 21 MB more code heap after a warm registry sweep.
  The conf is static: it takes effect only when this factory starts
  the JVM's SQL context, and a session built elsewhere (such as one
  handed to ``entry(spark)``) keeps its own value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def local_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(app_name: str = "stockanalyses_downloader_spark",
                master: str | None = None,
                shuffle_partitions: int | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Runtime bloom-filter semi-join reduction: on a selective
        # fact⋈fact join the build side's keys prune the probe side's
        # SCAN before the shuffle — at 100 TB this is the difference
        # between shuffling the full probe table and shuffling only
        # rows that can match. No-op on broadcast joins (already
        # pruned) and local toy sizes (injection needs the probe scan
        # past applicationSideScanSizeThreshold=10GB); free to leave
        # on. The rewrite is pinned in tests/test_plans.py with the
        # thresholds lowered to fixture scale.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
