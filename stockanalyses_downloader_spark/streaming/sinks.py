"""Streaming sinks (reference K1/K2/ST4).

The reference opens a fresh TCP connection to RabbitMQ *per message*
(main.py:210,229-230) — the anti-pattern this module exists to fix.
``foreach_batch_publish`` publishes each micro-batch with ONE
connection per partition, reused across the partition's rows; with
checkpointing that is at-least-once end-to-end (durable queue semantics
of main.py:219-222), and ``dedup_for_effective_exactly_once`` upgrades
it by dropping redundant deliveries on a message key within the
watermark horizon.

``MessageQueueClient`` is the connector seam: tests inject a
file-backed fake; a real AMQP/Kafka client implements the same three
methods. No network code ships here — the container has no broker, and
the engine's contract is the partition-level protocol, not a vendored
driver.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import swap

JOB_KEY = "downloader_jq_id"   # the jobs table key


class MessageQueueClient:
    """Connector seam: open once per partition, publish per row."""

    def open(self) -> None: ...
    def publish(self, message: str) -> None: ...
    def close(self) -> None: ...


class FileQueueClient(MessageQueueClient):
    """Durable file-backed fake queue: one file per (partition,
    connection), one line per message — lets tests assert both message
    content and the connections-opened count."""

    def __init__(self, directory: str):
        self.directory = directory
        self._fh = None

    def open(self) -> None:
        os.makedirs(self.directory, exist_ok=True)
        path = os.path.join(self.directory, f"conn-{uuid.uuid4().hex}.jsonl")
        self._fh = open(path, "w", encoding="utf-8")

    def publish(self, message: str) -> None:
        self._fh.write(message + "\n")

    def close(self) -> None:
        self._fh.flush()
        self._fh.close()


def publish_partition(rows: Iterator,
                      client_factory: Callable[[], MessageQueueClient]
                      ) -> None:
    """One connection per partition, reused for every row (the fix for
    the reference's per-message connect)."""
    client = client_factory()
    opened = False
    for row in rows:
        if not opened:
            client.open()
            opened = True
        client.publish(row["message"])
    if opened:
        client.close()


def foreach_batch_publish(df: DataFrame,
                          client_factory: Callable[[], MessageQueueClient],
                          transform: Callable[[DataFrame], DataFrame] | None = None):
    """writeStream.foreachBatch body: serialize each micro-batch to
    JSON messages and publish partition-parallel. Returns the function
    to hand to ``foreachBatch``."""
    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        msgs = out.withColumn("message", F.to_json(F.struct(*out.columns)))
        msgs.foreachPartition(
            lambda rows: publish_partition(rows, client_factory))
    return _publish


def dedup_for_effective_exactly_once(df: DataFrame, key_cols: list[str],
                                     ts_col: str = "ts",
                                     watermark: str = "10 minutes") -> DataFrame:
    """ST4 upgrade: at-least-once + key dedup within the watermark
    horizon = effective exactly-once delivery. State is bounded by the
    watermark (Spark drops dedup state older than it)."""
    return df.withWatermark(ts_col, watermark).dropDuplicates(key_cols)


def jobs_state_writeback(jobs_table_path: str):
    """K2: per-micro-batch job-state upsert. The jobs table is control
    plane (rows = in-flight jobs, not fact data), so a read-merge-
    rewrite per batch is proportionate; on a lakehouse this is a Delta
    ``MERGE`` keyed on the job id. Idempotent across batch replays:
    the merge keeps the latest action per key.

    Crash safety: the merged table is fully written to a staging
    directory FIRST (reading the still-intact source — no
    cache-eviction recompute hazard), then swapped in by
    ``sources.swap``. Each batch first recovers a table a crash left
    mid-swap, so only a genuinely missing table is treated as "first
    batch" — a read error propagates instead of silently truncating
    history to the current batch's keys."""
    def _writeback(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        updates = (batch_df.select(JOB_KEY, "action")
                   .dropDuplicates([JOB_KEY]))
        out = updates
        if swap.recover(jobs_table_path):
            current = spark.read.parquet(jobs_table_path)
            new = updates.select(JOB_KEY, F.col("action").alias("__new"))
            merged = (current.join(new, JOB_KEY, "left")
                      .withColumn("action",
                                  F.coalesce(F.col("__new"), F.col("action")))
                      .drop("__new"))
            new_keys = updates.join(current.select(JOB_KEY), JOB_KEY,
                                    "left_anti")
            out = merged.unionByName(new_keys, allowMissingColumns=True)
        swap.replace_dir(jobs_table_path, out.write.mode("overwrite").parquet)
    return _writeback


def publish_with_outcomes(messages: DataFrame,
                          client_factory: Callable[[], MessageQueueClient]
                          ) -> DataFrame:
    """Publish partition-parallel AND report per-message success —
    the feedback edge the reference wires at main.py:339-345 (publish
    ok -> 1300, failure -> 1900).

    mapInPandas with one connection per partition (Arrow-batched in,
    tiny (id, bool) frame out); a per-message publish exception marks
    that row failed instead of killing the task, so one poison message
    dead-letters itself rather than failing the batch. The returned
    frame is LAZY — evaluating it performs the publish, so the caller
    must materialize it exactly once (persist + count) before using it
    in downstream plans."""
    import pandas as pd

    def _publish(batches):
        client = client_factory()
        opened = False
        for pdf in batches:
            oks = []
            for msg in pdf["message"]:
                try:
                    if not opened:
                        client.open()
                        opened = True
                    client.publish(msg)
                    oks.append(True)
                except Exception:
                    oks.append(False)
            yield pd.DataFrame({"downloader_jq_id": pdf["downloader_jq_id"],
                                "publish_ok": oks})
        if opened:
            client.close()

    return messages.mapInPandas(
        _publish, "downloader_jq_id long, publish_ok boolean")
