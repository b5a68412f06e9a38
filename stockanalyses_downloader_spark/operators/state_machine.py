"""Job state machine as set-oriented column transitions.

The reference drives each job through int-coded actions with one HTTP
PUT per transition (README.md:5-10; transitions at main.py:293,308,329,
340,344,348,353):

    1000 current-data requested
    1100 claimed / in processing
    1200 data downloaded
    1300 published to import queue
    1900 error

Here a whole micro-batch of jobs transitions in one ``when()`` chain —
a single projection, no per-row writeback. Claim idempotence comes from
the micro-batch id (checkpointed by Structured Streaming), replacing
the reference's eager claim-then-work PUT protocol.

The action column is normalized to int everywhere (the reference
compares int at main.py:277 but writes back strings at main.py:308 —
documented inconsistency we do not replicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REQUESTED, CLAIMED, DOWNLOADED, PUBLISHED, ERROR = 1000, 1100, 1200, 1300, 1900


def claim(jobs: DataFrame) -> DataFrame:
    """1000 -> 1100 for every actionable job in the batch (main.py:308)."""
    return jobs.withColumn(
        "action",
        F.when((F.col("downloader_jq_id") != 0) & (F.col("action") == REQUESTED),
               CLAIMED).otherwise(F.col("action")))


def apply_outcomes(jobs: DataFrame, outcomes: DataFrame) -> DataFrame:
    """Merge per-job fetch/publish outcomes into the action column.

    ``outcomes``: (key, fetch_ok boolean, publish_ok boolean). Jobs with
    no outcome row keep their action (left join). Transition logic per
    reference main.py:328-353:
        fetch ok            -> 1200
        fetch+publish ok    -> 1300
        any failure         -> 1900
    """
    # outcomes is fact-sized (one row per attempted job) — a plain
    # shuffle join on the job key; AQE picks the physical strategy.
    o = outcomes.select("downloader_jq_id", "fetch_ok", "publish_ok")
    joined = jobs.join(o, "downloader_jq_id", "left")
    return joined.withColumn(
        "action",
        F.when(F.col("fetch_ok").isNull(), F.col("action"))
         .when(~F.col("fetch_ok"), ERROR)
         .when(F.col("publish_ok").isNull() | ~F.col("publish_ok"), ERROR)
         .otherwise(PUBLISHED)
    ).drop("fetch_ok", "publish_ok")


def transition_counts(jobs: DataFrame) -> DataFrame:
    """Operational metric: jobs per action state."""
    return jobs.groupBy("action").agg(F.count("*").alias("n_jobs"))
