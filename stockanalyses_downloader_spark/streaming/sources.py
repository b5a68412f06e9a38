"""Streaming source bindings (reference S6/ST1-ST3).

The reference drains a WSS library's in-process queue in a busy-wait
loop (main.py:391-398). Here the live feed is a Structured Streaming
source; the engine's transforms are source-agnostic DataFrame fns, so
the same pipeline binds to:

  file_tick_stream   parquet-directory source — tests and backfills
                     (availableNow=True gives the replay-everything-
                     then-stop semantics of a historical job)
  rate_tick_stream   synthetic rate source shaped like the tick schema
                     — connectivity/perf smoke without data at rest

  kafka_tick_stream  Kafka-SHAPED binding: records arrive in Kafka's
                     exact wire schema (key/value binary, topic,
                     partition, offset, timestamp) and the tick is
                     from_json-parsed out of the value column — the
                     complete S6 production path minus only the
                     ``.format("kafka")`` literal (no broker in this
                     container; swap the reader line and nothing else
                     changes).

Empty micro-batches (reference ST2 ``queue.Empty: pass``) are native
no-ops in Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TICK_WSS_RAW


def file_tick_stream(spark: SparkSession, path: str,
                     schema=TICK_WSS_RAW,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Parquet-directory tick stream. Schema is explicit (streaming
    sources never infer)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


#: Kafka source wire schema — byte-for-byte what readStream
#: .format("kafka") emits (key/value are binary; the payload schema
#: is the consumer's contract, applied via from_json).
KAFKA_WIRE = T.StructType([
    T.StructField("key", T.BinaryType(), True),
    T.StructField("value", T.BinaryType(), False),
    T.StructField("topic", T.StringType(), True),
    T.StructField("partition", T.IntegerType(), True),
    T.StructField("offset", T.LongType(), True),
    T.StructField("timestamp", T.TimestampType(), True),
    T.StructField("timestampType", T.IntegerType(), True),
])


def encode_kafka_fixture(ticks: DataFrame) -> DataFrame:
    """Encode a tick frame into Kafka's record shape (the fixture
    producer): key = partition key bytes, value = the full row as
    JSON bytes. Keying by pair mirrors the production layout where a
    pair's ticks land in one Kafka partition (per-key ordering)."""
    return ticks.select(
        F.encode(F.col("pair"), "utf-8").alias("key"),
        F.encode(F.to_json(F.struct(*ticks.columns)), "utf-8").alias("value"),
        F.lit("ticks").alias("topic"),
        (F.abs(F.xxhash64("pair")) % 8).cast("int").alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.timestamp_seconds("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"))


def kafka_tick_stream(spark: SparkSession, path: str) -> DataFrame:
    """Kafka-shaped stream over a fixture directory. In production the
    body is ``spark.readStream.format("kafka").option(...)`` — same
    output schema, so decode_kafka_ticks and everything downstream are
    identical."""
    return spark.readStream.schema(KAFKA_WIRE).parquet(path)


def decode_kafka_ticks(records: DataFrame) -> DataFrame:
    """from_json over the value column (S6's parse step,
    main.py:398-415's dict access made schema-checked): malformed
    payloads decode to NULL columns instead of killing the stream —
    filter ``pair IS NULL`` into a dead-letter branch if the topic is
    untrusted."""
    return (records
            .select(F.from_json(F.col("value").cast("string"),
                                TICK_WSS_RAW).alias("r"))
            .select("r.*"))


def rate_tick_stream(spark: SparkSession,
                     rows_per_second: int = 100) -> DataFrame:
    """Rate-source ticks: deterministic synthetic bid/ask around a
    drifting value, round-robined over four pairs — the shape of
    TICK_WSS after projection."""
    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", str(rows_per_second)).load())
    v = (F.col("value") % 1000).cast("double") + 10.0
    return rate.select(
        F.concat(F.lit("pair"), (F.col("value") % 4).cast("string"))
         .alias("pair"),
        (v * 0.999).alias("bid"),
        (v * 1.001).alias("ask"),
        v.alias("last_price"),
        F.abs(v).alias("volume"),
        F.col("timestamp").alias("ts"))
