"""Seeded inputs for the benchmark workloads.

The base tables in ``data/`` are the repository's sf0.01 test corpus
(events 10k rows, documents 500, embeddings 500). A seed picks one
disjoint copy ``c`` of them, built with the scale tier's own recipes
(imported, so the benchmark and the 10x/30x tier cannot drift apart):

- events: the moduli-preserving key and time shifts of
  ``tools/bench_headline_scale.py``. Every derivation in
  ``sources/synthetic.py`` (status, zero ids, actions, ISINs,
  exchanges) and every epoch-week bucket is unchanged, so each seed
  has the same jobs, messages and candles under other keys.
- documents: half the (lang, source) dedup blocks as they are, the
  other half as copy ``c`` of ``tools/scale_common.blow_up_docs``
  (per-copy word tags, source suffixes and doc ids). Untagged blocks
  stay because ``bm25_search_topk`` pins its query terms by literal.
- embeddings: ``vec_id`` shifted by the copy, except the query ids
  that the similarity queries pin by literal.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bench_headline_scale import (_EVENT_SHIFT, _KEY_SHIFT, _TS_SHIFT_DAYS,
                                  _USER_SHIFT)
from scale_common import DOC_KEY_SHIFT, blow_up_docs
from stockanalyses_downloader_spark.queries.similarity_queries import (
    _QUERY_IDS)
from stockanalyses_downloader_spark.sources.tables import load_table

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Copies 1..N_COPIES; a seed maps onto one of them. Bounded so that
# time shifts stay within a few years and the blow-up that builds the
# copy stays small.
N_COPIES = 64
UNTAGGED_SOURCES = [f"src{i}" for i in range(10)]


def copy_of(seed: int) -> int:
    return 1 + seed % N_COPIES


def events(spark: SparkSession, c: int) -> DataFrame:
    ev = load_table(spark, BASE_DIR, "events")
    return ev.select(
        (F.col("event_id") + c * _EVENT_SHIFT).alias("event_id"),
        (F.col("ts") + F.make_interval(days=F.lit(c * _TS_SHIFT_DAYS)))
        .alias("ts"),
        (F.col("user_id") + c * _USER_SHIFT).alias("user_id"),
        "event_type", "value", "props")


def documents(spark: SparkSession, c: int) -> DataFrame:
    """Every base document once: sources src0-src9 as copy 0 (the
    within-block near-dup pair lives in src7), src10-src19 as copy
    ``c``. The corpus keeps the base size for every seed."""
    base = load_table(spark, BASE_DIR, "documents")
    untagged = F.col("source").isin(UNTAGGED_SOURCES)
    tagged = blow_up_docs(base.where(~untagged), c + 1)
    return base.where(untagged).unionByName(
        tagged.where(F.col("doc_id") >= c * DOC_KEY_SHIFT))


def embeddings(spark: SparkSession, c: int) -> DataFrame:
    emb = load_table(spark, BASE_DIR, "embeddings")
    vec_id = F.col("vec_id")
    return emb.select(
        F.when(vec_id.isin(_QUERY_IDS), vec_id)
        .otherwise(vec_id + c * _KEY_SHIFT).alias("vec_id"),
        "embedding", "label")


def write(df: DataFrame, path: str, files: int = 1) -> None:
    """One parquet file at ``path``, like the base tables (DuckDB
    reads it as a file), or a directory of ``files`` files holding the
    rows round-robin (deterministic for a given input)."""
    if files > 1:
        df.repartition(files).write.parquet(path)
        return
    parts = path + ".parts"
    df.coalesce(1).write.parquet(parts)
    (part,) = glob.glob(os.path.join(parts, "part-*.parquet"))
    os.rename(part, path)
    shutil.rmtree(parts)
