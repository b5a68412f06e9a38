"""The benchmark's workloads: staged inputs, a checked cold pass and
timed passes of operations.

An operation is one registry query (build plus materialize) or one
pipeline call, timed from the benchmark's side of the call. Tracked
persists are released after the timer stops, and every check runs
outside the timers. A failed check or an exception marks the
operation failed; the run goes on.
"""

from __future__ import annotations

import glob
import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
from spans import Tracer
from stockanalyses_downloader_spark import pipelines
from stockanalyses_downloader_spark.caching import release_tracked
from stockanalyses_downloader_spark.dims.currency import currency_values_sql
from stockanalyses_downloader_spark.operators.compaction import compact_parquet
from stockanalyses_downloader_spark.queries import all_queries
from stockanalyses_downloader_spark.sources import synthetic
from stockanalyses_downloader_spark.streaming import sources as stream_sources
from stockanalyses_downloader_spark.testing import (assert_matches_oracle,
                                                    duckdb_conn)


@dataclass
class Op:
    name: str
    seconds: float = 0.0
    rows: int = 0
    error: str | None = None


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)
    persists: int = 0

    @property
    def rows(self) -> int:
        return sum(op.rows for op in self.ops)


class CheckFailed(Exception):
    pass


def _check(ok: bool, message: str) -> None:
    if not ok:
        raise CheckFailed(message)


def _run_op(p: Pass, tracer: Tracer, spark, name: str, body) -> None:
    """Run one operation; ``body(op)`` fills in seconds and rows. The
    release of tracked persists follows in a caching span, with the
    cached bytes sampled just before it when tracing."""
    op = Op(name)
    try:
        body(op)
    except Exception as exc:  # noqa: BLE001 - a failed op is a result
        traceback.print_exc()
        op.error = f"{type(exc).__name__}: {str(exc)[:300]}"
    finally:
        cached = _cached_mb(spark) if tracer.enabled else 0.0
        with tracer.span("release_tracked", "caching") as sp:
            n = release_tracked()
        if sp is not None:
            sp.attrs.update(persists=n, cached_mb=cached)
        p.persists += n
    p.ops.append(op)


def _concurrently(*jobs) -> None:
    """Run independent staging writes side by side: staging is not
    measured, and overlapping its jobs shortens the run."""
    with ThreadPoolExecutor(len(jobs)) as ex:
        for fut in [ex.submit(job) for job in jobs]:
            fut.result()


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _files(path: str, pattern: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", pattern), recursive=True)


class _Collected:
    """An already collected result, in the shape
    ``testing.assert_matches_oracle`` reads (it calls ``toPandas``),
    so the oracle check costs no second execution."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802
        return self._pdf


class CorpusDedup:
    """Dedup and similarity queries over documents and embeddings:
    eager build jobs (k-means fit, persist barriers), tracked persists
    and per-query fixed cost (at this size the joins move little data)."""

    name = "corpus_dedup"
    queries = ("exact_dedup_docs", "doc_fingerprints",
               "ngram_jaccard_near_dups", "minhash_near_dups",
               "global_near_dup_pairs", "near_dup_edit_distances",
               "cosine_topk_bruteforce", "ivf_topk_trained",
               "bm25_search_topk")
    pass_s = 10.0           # nominal pass length on 4 cores
    # 27 operation samples: op_tail_s is then the 62nd percentile, set
    # by the slowest queries (the eager fits), and op_p50_s falls inside
    # a cluster of query times; at 18 it sits on the edge of one and
    # jumps between runs
    min_passes = 3

    def __init__(self, spark, work: str) -> None:
        self.spark = spark
        self.in_dir = os.path.join(work, "in")
        self.registry = all_queries()
        self.expected_rows: dict[str, int] = {}

    def stage(self, copy: int) -> None:
        _concurrently(
            lambda: inputs.write(
                inputs.documents(self.spark, copy),
                os.path.join(self.in_dir, "documents.parquet")),
            lambda: inputs.write(
                inputs.embeddings(self.spark, copy),
                os.path.join(self.in_dir, "embeddings.parquet")))

    def cold_pass(self) -> Pass:
        """Each query built and collected once, then checked against
        its DuckDB oracle; the collected row count is what every timed
        pass must materialize."""
        p, off = Pass(), Tracer()
        for name in self.queries:
            q = self.registry[name]

            def body(op: Op, q=q, name=name) -> None:
                t0 = time.perf_counter()
                pdf = q.spark(self.spark, self.in_dir).toPandas()
                op.seconds = time.perf_counter() - t0
                op.rows = len(pdf)
                assert_matches_oracle(_Collected(pdf), q.oracle,
                                      self.in_dir, require_rows=True)
                self.expected_rows[name] = op.rows
            _run_op(p, off, self.spark, name, body)
        return p

    def timed_pass(self, tracer: Tracer, k: int) -> Pass:
        p = Pass()
        for name in self.queries:
            build = self.registry[name].spark

            def body(op: Op, build=build, name=name) -> None:
                obs = Observation()
                t0 = time.perf_counter()
                with tracer.span(f"{name}.build", "queries"):
                    df = build(self.spark, self.in_dir)
                with tracer.span(f"{name}.exec", "queries"):
                    (df.observe(obs, F.count(F.lit(1)).alias("rows"))
                     .write.format("noop").mode("overwrite").save())
                op.seconds = time.perf_counter() - t0
                op.rows = obs.get["rows"]
                _check(op.rows == self.expected_rows.get(name),
                       f"{op.rows} rows, checked pass had "
                       f"{self.expected_rows.get(name)}")
            _run_op(p, tracer, self.spark, name, body)
        return p


class IngestPublish:
    """The write path of the reference pipelines: REST batch publish
    with state writeback, the WSS stream over split landing files, the
    curated corpus stream into a parquet sink, and compaction of that
    sink. Python workers, micro-batch fixed cost and small files."""

    name = "ingest_publish"
    pass_s = 6.5            # nominal pass length on 4 cores
    # a tail above the median would take six passes of four operations,
    # more than a run can afford beside corpus_dedup's three
    min_passes = 2
    wss_files = 6           # one micro-batch per file

    def __init__(self, spark, work: str) -> None:
        self.spark = spark
        self.in_dir = os.path.join(work, "in")
        self.out_dir = os.path.join(work, "out")
        self.wss_src = os.path.join(self.in_dir, "wss_src")
        self.docs_src = os.path.join(self.in_dir, "docs_src")
        self.expected: dict[str, int] = {}

    def stage(self, copy: int) -> None:
        def ticks() -> None:
            inputs.write(inputs.events(self.spark, copy),
                         os.path.join(self.in_dir, "events.parquet"))
            raw = synthetic.wss_ticks_raw(self.spark,
                                          self.in_dir).drop("isin")
            self.wss_schema = raw.schema
            inputs.write(raw, self.wss_src, files=self.wss_files)

        _concurrently(ticks, lambda: inputs.write(
            inputs.documents(self.spark, copy), self.docs_src, files=2))
        con = duckdb_conn(self.in_dir)
        try:
            self.expected["wss"] = con.execute(
                "SELECT count(*) FROM read_parquet("
                f"'{self.wss_src}/*.parquet')").fetchone()[0]
            # run_rest_batch publishes one message per actionable REST
            # job whose ISIN resolves (the fixture fetch is always 200)
            self.expected["rest"] = con.execute(f"""
                SELECT count(*) FROM {synthetic.JOBS_SQL} j
                WHERE downloader_jq_id <> 0 AND action = 1000
                  AND type_idtype = 2
                  AND split_part(value, '#', 2) IN
                      (SELECT isin FROM {currency_values_sql()})
            """).fetchone()[0]
        finally:
            con.close()

    def cold_pass(self) -> Pass:
        return self.timed_pass(Tracer(), 0)

    def timed_pass(self, tracer: Tracer, k: int) -> Pass:
        spark, out = self.spark, os.path.join(self.out_dir, f"p{k}")
        p = Pass()

        def rest(op: Op) -> None:
            queue = os.path.join(out, "rest_queue")
            table = os.path.join(out, "jobs_table")
            t0 = time.perf_counter()
            with tracer.span("run_rest_batch", "pipelines"):
                stats = pipelines.run_rest_batch(
                    spark, synthetic.jobs(spark, self.in_dir), queue, table)
            op.seconds = time.perf_counter() - t0
            published = _lines(queue)
            written = spark.read.parquet(table).count()
            _check(stats["published"] == published == self.expected["rest"],
                   f"published {stats['published']}, queue holds "
                   f"{published}, expected {self.expected['rest']}")
            _check(written == stats["actionable"],
                   f"job table {written} rows, {stats['actionable']} "
                   "actionable")
            op.rows = published + written

        def wss(op: Op) -> None:
            queue = os.path.join(out, "wss_queue")
            t0 = time.perf_counter()
            with tracer.span("run_wss_stream", "pipelines") as sp:
                stream = stream_sources.file_tick_stream(
                    spark, self.wss_src, schema=self.wss_schema,
                    max_files_per_trigger=1)
                q = pipelines.run_wss_stream(
                    spark, stream, queue, os.path.join(out, "wss_ckpt"))
                q.awaitTermination()
            op.seconds = time.perf_counter() - t0
            _check(q.exception() is None, f"stream failed: {q.exception()}")
            op.rows = _lines(queue)
            _check(op.rows == self.expected["wss"],
                   f"{op.rows} WSS messages for {self.expected['wss']} ticks")
            _record_stream(tracer, sp, q, queue, "*.jsonl")

        def corpus(op: Op) -> None:
            curated = os.path.join(out, "curated")
            t0 = time.perf_counter()
            with tracer.span("run_corpus_ingest_stream", "pipelines") as sp:
                q = pipelines.run_corpus_ingest_stream(
                    spark, self.docs_src, curated,
                    os.path.join(out, "curated_ckpt"))
                q.awaitTermination()
            op.seconds = time.perf_counter() - t0
            _check(q.exception() is None, f"stream failed: {q.exception()}")
            got = spark.read.parquet(curated).agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("fingerprint").alias("fps")).first()
            _check(got.n == got.fps > 0,
                   f"{got.n} curated rows, {got.fps} fingerprints")
            expected = self.expected.setdefault("curated", got.n)
            _check(got.n == expected,
                   f"{got.n} curated rows, cold pass had {expected}")
            op.rows = got.n
            _record_stream(tracer, sp, q, curated, "*.parquet")

        def compact(op: Op) -> None:
            curated = os.path.join(out, "curated")
            t0 = time.perf_counter()
            with tracer.span("compact_parquet", "compaction") as sp:
                stats = compact_parquet(spark, curated)
            op.seconds = time.perf_counter() - t0
            op.rows = spark.read.parquet(curated).count()
            _check(op.rows == self.expected.get("curated"),
                   f"{op.rows} rows after compaction, "
                   f"{self.expected.get('curated')} before")
            if sp is not None:
                sp.attrs["files_removed"] = (stats["files_before"]
                                             - stats["files_after"])

        for name, body in (("run_rest_batch", rest),
                           ("run_wss_stream", wss),
                           ("run_corpus_ingest_stream", corpus),
                           ("compact_parquet", compact)):
            _run_op(p, tracer, spark, name, body)
        return p


def _lines(queue_dir: str) -> int:
    n = 0
    for path in _files(queue_dir, "*.jsonl"):
        with open(path, encoding="utf-8") as fh:
            n += sum(1 for _ in fh)
    return n


def _record_stream(tracer: Tracer, sp, query, sink: str,
                   pattern: str) -> None:
    """Micro-batch child spans from the query's progress log, plus
    the bytes and files its sink holds."""
    if sp is None:
        return
    for prog in query.recentProgress:
        d = prog["durationMs"]
        start = datetime.fromisoformat(prog["timestamp"]).timestamp()
        tracer.child(sp, f"batch{prog['batchId']}", "streaming", start,
                     start + d.get("triggerExecution", 0) / 1e3,
                     planning_ms=d.get("queryPlanning", 0),
                     add_batch_ms=d.get("addBatch", 0),
                     commit_ms=d.get("walCommit", 0)
                     + d.get("commitOffsets", 0),
                     rows=prog["numInputRows"])
    files = _files(sink, pattern)
    sp.attrs.update(sink_files=len(files),
                    sink_bytes=sum(os.path.getsize(f) for f in files))


WORKLOADS = {w.name: w for w in (CorpusDedup, IngestPublish)}
