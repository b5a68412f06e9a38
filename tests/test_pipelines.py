"""End-to-end pipeline-runner tests: the full REST batch cycle and the
WSS streaming path, source to queue to job table."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from stockanalyses_downloader_spark import pipelines
from stockanalyses_downloader_spark.operators import state_machine
from stockanalyses_downloader_spark.sources import synthetic
from stockanalyses_downloader_spark.streaming import sinks
from stockanalyses_downloader_spark.streaming import sources as ssrc

SF = "/root/testdata/sf0.001"


def test_run_rest_batch_end_to_end(spark, tmp_path):
    jobs = synthetic.jobs(spark, SF).limit(300)
    queue_dir = str(tmp_path / "queue")
    jobs_table = str(tmp_path / "jobs_table")

    stats = pipelines.run_rest_batch(spark, jobs, queue_dir, jobs_table)

    assert stats["jobs_in"] == 300
    assert 0 < stats["actionable"] < 300      # filters really filtered
    # every published message is valid JSON with the enriched fields
    files = glob.glob(os.path.join(queue_dir, "conn-*.jsonl"))
    msgs = [json.loads(line) for f in files for line in open(f)]
    assert len(msgs) == stats["published"] > 0
    for m in msgs[:5]:
        assert m["mid"] and m["pair"] and m["isin"].startswith("XFC")
    # job table: claimed jobs ended 1300 (fixture fetch always 200)
    final = spark.read.parquet(jobs_table)
    states = {r["action"] for r in final.collect()}
    assert states <= {state_machine.PUBLISHED, state_machine.ERROR}
    assert final.count() == stats["actionable"]


def test_rest_batch_telemetry_is_one_action(spark, tmp_path):
    """VERDICT r3 #6: the four separate telemetry count() jobs
    collapsed into one crossJoined aggregate. With AQE off (one job
    per action, no runtime re-plan sub-jobs) the full batch cycle —
    fetch+publish+stats action, writeback, and their broadcast
    exchanges — measures 6 jobs; the pre-collapse implementation
    measured 8 on the same fixture. Pinned as a ceiling so a
    reintroduced stray count() goes red."""
    jobs = synthetic.jobs(spark, SF).limit(300)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup("rest-batch-jobs", "telemetry count")
    try:
        stats = pipelines.run_rest_batch(
            spark, jobs, str(tmp_path / "queue"), str(tmp_path / "jobs"))
        n_jobs = len(spark.sparkContext.statusTracker()
                     .getJobIdsForGroup("rest-batch-jobs"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.sparkContext.setJobGroup("post", "reset")
    assert stats["jobs_in"] == 300 and stats["published"] > 0
    assert n_jobs <= 6, f"batch cycle ran {n_jobs} jobs (stray count()?)"


def test_publish_failure_lands_1900(spark, tmp_path):
    jobs = synthetic.jobs(spark, SF).limit(300)
    queue_dir = str(tmp_path / "queue")
    jobs_table = str(tmp_path / "jobs_table")

    # defined in-function so cloudpickle ships the class by value to
    # the Python workers (module-scope test classes pickle by name,
    # which workers cannot import)
    class FlakyQueueClient(sinks.FileQueueClient):
        """Rejects every even-job-id message — publish failures must
        feed back into the state machine, not be assumed from fetch
        status."""

        def publish(self, message: str) -> None:
            if json.loads(message)["downloader_jq_id"] % 2 == 0:
                raise RuntimeError("broker rejected message")
            super().publish(message)

    stats = pipelines.run_rest_batch(
        spark, jobs, queue_dir, jobs_table,
        client_factory=lambda: FlakyQueueClient(queue_dir))

    final = {r["downloader_jq_id"]: r["action"]
             for r in spark.read.parquet(jobs_table).collect()}
    assert final, "no jobs written back"
    errs = {j for j, a in final.items() if a == state_machine.ERROR}
    pubs = {j for j, a in final.items() if a == state_machine.PUBLISHED}
    assert errs and all(j % 2 == 0 for j in errs)
    assert pubs and all(j % 2 == 1 for j in pubs)
    # telemetry counts only the messages that actually landed
    files = glob.glob(os.path.join(queue_dir, "conn-*.jsonl"))
    msgs = [json.loads(line) for f in files for line in open(f)]
    assert len(msgs) == stats["published"] == len(pubs)


def test_run_wss_stream_end_to_end(spark, tmp_path):
    raw = synthetic.wss_ticks_raw(spark, SF).drop("isin")
    src = str(tmp_path / "wss_src")
    raw.write.parquet(src)
    queue_dir = str(tmp_path / "wss_queue")

    stream = ssrc.file_tick_stream(spark, src, schema=raw.schema)
    q = pipelines.run_wss_stream(spark, stream, queue_dir,
                                 str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    q.stop()

    files = glob.glob(os.path.join(queue_dir, "conn-*.jsonl"))
    msgs = [json.loads(line) for f in files for line in open(f)]
    assert len(msgs) == raw.count()
    sample = msgs[0]
    assert abs(sample["mid"] - (sample["bid"] + sample["ask"]) / 2) < 1e-9
    assert "isin" in sample and "pair" in sample


def test_run_rest_stream_polling_loop(spark, tmp_path):
    """E2 as a polling loop: multiple micro-batches of jobs each run
    the full claim->fetch->publish->writeback cycle; the jobs table
    accumulates outcomes across batches and the queue holds every
    published message exactly once."""
    jobs = synthetic.jobs(spark, SF).limit(200)
    src = str(tmp_path / "jobs_src")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    jobs.filter(F.col("downloader_jq_id") % 2 == 0).write.parquet(src)
    jobs.filter(F.col("downloader_jq_id") % 2 == 1).write.mode(
        "append").parquet(src)
    queue_dir = str(tmp_path / "queue")
    jobs_table = str(tmp_path / "jobs_table")

    stream = (spark.readStream.schema(jobs.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = pipelines.run_rest_stream(spark, stream, queue_dir, jobs_table,
                                  str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    q.stop()

    batch_stats = pipelines.run_rest_batch(
        spark, jobs, str(tmp_path / "batch_queue"),
        str(tmp_path / "batch_table"))
    final = spark.read.parquet(jobs_table)
    assert final.count() == batch_stats["actionable"]
    states = {r["action"] for r in final.collect()}
    assert states <= {state_machine.PUBLISHED, state_machine.ERROR}
    files = glob.glob(os.path.join(queue_dir, "conn-*.jsonl"))
    msgs = [json.loads(line) for f in files for line in open(f)]
    assert len(msgs) == batch_stats["published"]


def test_kafka_shaped_stream_matches_batch(spark, tmp_path):
    """S6 parity binding: ticks encoded into Kafka's wire schema,
    streamed, from_json-decoded, and run through the SAME pipeline as
    the plain file binding — per-tick output must match the batch
    transform exactly."""
    from stockanalyses_downloader_spark.dims.currency import currency_dim
    from stockanalyses_downloader_spark.operators import pipeline as pops

    raw = synthetic.wss_ticks_raw(spark, SF).drop("isin", "tick_id")
    wire = ssrc.encode_kafka_fixture(raw)
    assert [f.name for f in wire.schema.fields] == [
        "key", "value", "topic", "partition", "offset", "timestamp",
        "timestampType"]
    src = str(tmp_path / "kafka_src")
    wire.write.parquet(src)
    queue_dir = str(tmp_path / "kafka_queue")

    stream = ssrc.decode_kafka_ticks(ssrc.kafka_tick_stream(spark, src))
    q = pipelines.run_wss_stream(spark, stream, queue_dir,
                                 str(tmp_path / "kafka_ckpt"))
    q.awaitTermination(120)
    q.stop()

    files = glob.glob(os.path.join(queue_dir, "conn-*.jsonl"))
    got = sorted(
        ((m["pair"], round(m["ts"], 6), round(m["mid"], 9))
         for f in files for m in map(json.loads, map(str.strip, open(f)))),
    )
    dim = currency_dim(spark)
    batch = pops.with_mid(pops.resolve_isin(pops.project_wss_tick(raw), dim))
    want = sorted((r["pair"], round(r["ts"], 6), round(r["mid"], 9))
                  for r in batch.collect())
    assert got == want and len(got) == raw.count()
