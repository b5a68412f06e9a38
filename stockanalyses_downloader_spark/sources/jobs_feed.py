"""Job-queue feed over data at rest (reference S1/S2: the job API's
JSON responses, main.py:108-140).

The reference GETs one job per poll; the engine reads a whole feed —
JSON lines or parquet — with the explicit JOB schema (action normalized
to int: the reference mixes int and string action codes, main.py:277 vs
:308). The polling loop itself is the streaming trigger: bind the same
directory with ``spark.readStream`` for continuous claim/process/ack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import JOB


def read_jobs_json(spark: SparkSession, path: str) -> DataFrame:
    """Batch jobs feed from JSON lines; malformed action strings become
    NULL then 0 (never silently misroute a job)."""
    raw = (spark.read.schema(
        "downloader_jq_id long, action string, value string, type_idtype string")
        .json(path))
    return raw.select(
        F.coalesce("downloader_jq_id", F.lit(0)).alias("downloader_jq_id"),
        F.coalesce(F.col("action").try_cast("int"), F.lit(0)).alias("action"),
        "value",
        F.col("type_idtype").try_cast("int").alias("type_idtype"))


def empty_jobs(spark: SparkSession) -> DataFrame:
    """The 'no job' sentinel response (downloader_jq_id == 0) as an
    empty typed frame."""
    return spark.createDataFrame([], JOB)
