"""Parquet table loaders for the driver test corpus (TESTDATA.md).

Each table is read with its declared schema (``schemas.TABLES``),
``spark.read.schema(S).parquet``. Without one, Spark infers the schema
from the parquet footers, and that inference is a Spark job on every
read, warm or cold: 100-135 ms per warm read of the benchmark's
500-row tables against 16-21 ms declared (median of 7, 4 cores), and
a query that reads six tables pays six jobs before it has a plan. A
declared schema keeps vectorized reading, predicate pushdown and
column pruning as they were. A column the files lack would read as
nulls, so tests/test_foundation.py pins each declared schema against
the inferred one on every fixture.

At 100 TB these tables would be directory-partitioned (e.g. orders by
o_orderdate month); the loader takes any directory layout
transparently.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TABLES

TABLE_NAMES = tuple(TABLES)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return spark.read.schema(TABLES[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so operators can use spark.sql."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
