"""Custom Python DataSource (Spark 4 DataSource API): the reference's
ticker feed as a FIRST-CLASS Spark source — ``spark.read.format(
"tickersnap")`` / ``spark.readStream.format("tickerstream")`` instead
of a driver-side helper materializing a DataFrame.

Why this tier matters at 100 TB: a real connector owns its PARTITION
PLANNING (here: one input partition per pair-chunk, so 1000 executors
fetch 1000 disjoint pair sets concurrently — the partition-parallel
fetch the reference does sequentially, reference bitstamp/client.py
one HTTP call at a time) and its FILTER PUSHDOWN (an
``exchange = 'btsp'`` predicate prunes whole partitions at PLANNING
time — the other exchange's pairs are never fetched at all, the
connector-level analogue of parquet partition pruning).

Offline determinism: the sandbox has no network (same gate as
sources/ticker.py), so rows are a deterministic md5-derived fixture
per (exchange, pair) — the connector MECHANICS (schema declaration,
partition planning, per-partition readers, pushdown negotiation,
micro-batch offset bookkeeping) are the real, tested surface, and a
live fetcher would replace only the row-yielding line.

Streaming side: ``SimpleDataSourceStreamReader`` with integer offsets
— each micro-batch yields the next ``rate`` ticks of a deterministic
sequence; offsets are committed by the engine's checkpoint, so a
restarted query resumes exactly where it stopped (ST4's contract at
the SOURCE side).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamWriter,
                                    DataSourceWriter, EqualTo, Filter,
                                    InputPartition,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType, TimestampType)

SNAP_SCHEMA = StructType([
    StructField("exchange", StringType()),
    StructField("pair", StringType()),
    StructField("status", IntegerType()),
    StructField("bid", DoubleType()),
    StructField("ask", DoubleType()),
    StructField("last", DoubleType()),
    StructField("ts", TimestampType()),
])

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _fixture_row(exchange: str, pair: str, seq: int = 0):
    """Deterministic fixture payload for one (exchange, pair): md5
    drives price level and the every-Nth bad status, mirroring the
    synthetic feed's conventions."""
    h = hashlib.md5(f"{exchange}|{pair}|{seq}".encode()).hexdigest()
    level = 10.0 + (int(h[:8], 16) % 100000) / 100.0
    status = 500 if int(h[8:12], 16) % 97 == 0 else 200
    ts = _EPOCH + timedelta(seconds=seq * 30 + int(h[12:14], 16))
    # no rounding: plain IEEE products keep the row reproducible in
    # ANY engine (Python round() is banker's — a DuckDB oracle
    # recomputing these values would diverge at ties)
    return (exchange, pair, status,
            level * 0.999, level * 1.001, level,
            ts.replace(tzinfo=None))


class _PairChunk(InputPartition):
    def __init__(self, exchange: str, pairs: list[str]):
        self.exchange = exchange
        self.pairs = pairs


class TickerSnapReader(DataSourceReader):
    def __init__(self, options):
        self.pairs = [p for p in options.get("pairs", "").split(",") if p]
        self.chunk = int(options.get("chunk", "8"))
        self.exchanges = ["btsp", "btfx"]

    def pushFilters(self, filters: list[Filter]):
        """Partition-pruning pushdown: an exchange equality restricts
        the planned partitions to that exchange — the other
        exchange's pairs are never read. Every other filter is
        returned as unsupported (Spark re-applies it post-scan, so
        semantics never depend on what we accept)."""
        unsupported = []
        for f in filters:
            if (isinstance(f, EqualTo) and f.attribute == ("exchange",)
                    and f.value in self.exchanges):
                self.exchanges = [f.value]
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        parts = []
        for ex in self.exchanges:
            for i in range(0, len(self.pairs), self.chunk):
                parts.append(_PairChunk(ex, self.pairs[i:i + self.chunk]))
        return parts or [_PairChunk(self.exchanges[0], [])]

    def read(self, partition: _PairChunk):
        for pair in partition.pairs:
            yield _fixture_row(partition.exchange, pair)


class TickerSnapDataSource(DataSource):
    @classmethod
    def name(cls):
        return "tickersnap"

    def schema(self):
        return SNAP_SCHEMA

    def reader(self, schema):
        return TickerSnapReader(self.options)


class TickerStreamReader(SimpleDataSourceStreamReader):
    """Integer-offset micro-batch source: offset n = n ticks emitted
    so far, round-robin over the configured pairs. read(start)
    returns the next ``rate`` ticks and the advanced offset; the
    engine checkpoints offsets, so restart resumes exactly at the
    committed position."""

    def __init__(self, options):
        self.pairs = [p for p in options.get("pairs", "").split(",") if p] \
            or ["btceur"]
        self.rate = int(options.get("rate", "10"))
        # optional bound: the feed stops advancing at max_n ticks —
        # tests use it to quiesce the query deterministically (a live
        # feed leaves it unset)
        self.max_n = int(options.get("max_n", "-1"))

    def initialOffset(self):
        return {"n": 0}

    def read(self, start: dict):
        begin = start["n"]
        end = begin + self.rate
        if self.max_n >= 0:
            end = min(end, self.max_n)
        rows = []
        for i in range(begin, end):
            pair = self.pairs[i % len(self.pairs)]
            ex = "btsp" if i % 2 == 0 else "btfx"
            rows.append(_fixture_row(ex, pair, seq=i))
        return rows, {"n": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows = []
        for i in range(start["n"], end["n"]):
            pair = self.pairs[i % len(self.pairs)]
            ex = "btsp" if i % 2 == 0 else "btfx"
            rows.append(_fixture_row(ex, pair, seq=i))
        return rows


class TickerStreamDataSource(DataSource):
    @classmethod
    def name(cls):
        return "tickerstream"

    def schema(self):
        return SNAP_SCHEMA

    def simpleStreamReader(self, schema):
        return TickerStreamReader(self.options)


def register(spark) -> None:
    """Register both formats on the session (idempotent). Python
    data-source filter pushdown is gated off by default
    (SPARK-50943); the reader implements pushFilters, so turn the
    gate on with the registration."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TickerSnapDataSource)
    spark.dataSource.register(TickerStreamDataSource)
    spark.dataSource.register(MqPublishDataSource)


# --- custom WRITER: the publish side of the connector (K1's dual) ----------

class _FileCommit(WriterCommitMessage):
    """WriterCommitMessage carrying the partition's temp file + row
    count (plain picklable object per the API contract)."""

    def __init__(self, tmp_name: str, n_rows: int):
        self.tmp_name = tmp_name
        self.n_rows = n_rows


class MqPublishWriter:
    """Two-phase-commit JSONL publisher: each partition writes its
    messages to a TEMP file and reports it in a commit message; only
    the DRIVER's commit() renames temps into place and writes the
    manifest. A failed/speculated task's temp is never renamed
    (abort() removes them), so retries can't double-publish — the
    file-protocol version of K1's per-message broker acks, and the
    per-file form of the staged-write-then-swap discipline of
    sources/swap.py."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mqpublish requires option 'path'")
        self.prefix = options.get("prefix", "batch")

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _FileCommit(tmp, n)

    def _finalize(self, messages, tag):
        import json
        import os

        total = 0
        finals = []
        for i, m in enumerate(messages):
            if m is None:
                continue
            final = os.path.join(self.path, f"{tag}-part{i:04d}.jsonl")
            os.rename(m.tmp_name, final)
            finals.append(os.path.basename(final))
            total += m.n_rows
        manifest = os.path.join(self.path, f"{tag}.manifest.json")
        with open(manifest, "w") as f:
            json.dump({"files": finals, "n_rows": total}, f)

    def commit(self, messages, batchId=None):
        tag = self.prefix if batchId is None else f"{self.prefix}-{batchId:06d}"
        self._finalize(messages, tag)

    def abort(self, messages, batchId=None):
        import os
        for m in messages:
            if m is not None and os.path.exists(m.tmp_name):
                os.remove(m.tmp_name)


class MqBatchWriter(MqPublishWriter, DataSourceWriter):
    pass


class MqStreamWriter(MqPublishWriter, DataSourceStreamWriter):
    pass


class MqPublishDataSource(DataSource):
    """format('mqpublish'): batch AND streaming writer over the same
    commit protocol — the streaming side gets a per-micro-batch tag,
    so each batch's publish is its own atomic manifest."""

    @classmethod
    def name(cls):
        return "mqpublish"

    def writer(self, schema, overwrite):
        return MqBatchWriter(self.options)

    def streamWriter(self, schema, overwrite):
        return MqStreamWriter(self.options)
