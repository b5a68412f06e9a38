"""Structured Streaming tests: the same operator fns bound to stream
sources (ST7), watermarked OHLC, foreachBatch publish with per-partition
connections, dedup-based effective exactly-once, job-state writeback."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from stockanalyses_downloader_spark.dims.currency import currency_dim
from stockanalyses_downloader_spark.operators import candles, pipeline
from stockanalyses_downloader_spark.sources import synthetic
from stockanalyses_downloader_spark.streaming import sinks, sources

SF = "/root/testdata/sf0.001"


def _run_available_now(writer):
    q = writer.start()
    q.awaitTermination(120)
    return q


def test_stream_matches_batch_projection(spark, tmp_path):
    """The WSS pipeline transform produces identical rows batch vs
    stream (write once, bind twice)."""
    raw = synthetic.wss_ticks_raw(spark, SF)
    src_dir = str(tmp_path / "raw")
    raw.write.parquet(src_dir)

    def transform(df):
        named = pipeline.project_wss_tick(df.drop("isin"))
        named = pipeline.resolve_isin(named, currency_dim(spark))
        return pipeline.with_mid(named)

    batch_rows = transform(spark.read.parquet(src_dir)).collect()

    stream = sources.file_tick_stream(spark, src_dir, schema=raw.schema)
    q = _run_available_now(
        transform(stream).writeStream.format("memory")
        .queryName("proj").trigger(availableNow=True))
    stream_rows = spark.sql("SELECT * FROM proj").collect()
    q.stop()

    assert sorted(map(tuple, stream_rows)) == sorted(map(tuple, batch_rows))
    assert len(batch_rows) > 0


def test_streaming_ohlc_matches_batch(spark, tmp_path):
    ticks = pipeline.validate_http(synthetic.ticks(spark, SF))
    src_dir = str(tmp_path / "ticks")
    ticks.write.parquet(src_dir)

    batch = {tuple(r) for r in candles.ohlc_candles(
        spark.read.parquet(src_dir)).collect()}

    stream = sources.file_tick_stream(spark, src_dir, schema=ticks.schema)
    agg = candles.streaming_ohlc(stream, watermark="1 minute")
    q = _run_available_now(
        agg.writeStream.format("memory").queryName("ohlc")
        .outputMode("complete").trigger(availableNow=True))
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM ohlc").collect()}
    q.stop()

    assert streamed == batch
    assert len(batch) > 0


def test_foreach_batch_publish_connection_reuse(spark, tmp_path):
    """K1 fix: connections opened = partitions with data, not messages."""
    msgs = pipeline.with_mid(
        pipeline.validate_http(synthetic.ticks(spark, SF)))
    src_dir = str(tmp_path / "msgs")
    msgs.repartition(4).write.parquet(src_dir)
    out_dir = str(tmp_path / "queue")

    stream = sources.file_tick_stream(spark, src_dir, schema=msgs.schema)
    publish = sinks.foreach_batch_publish(
        stream, lambda: sinks.FileQueueClient(out_dir))
    q = _run_available_now(
        stream.writeStream.foreachBatch(publish).trigger(availableNow=True))
    q.stop()

    files = glob.glob(os.path.join(out_dir, "conn-*.jsonl"))
    n_messages = sum(1 for f in files for _ in open(f))
    assert n_messages == msgs.count()
    # far fewer connections than messages — the reference opened one per message
    assert 0 < len(files) <= 16


def test_streaming_dedup_effective_exactly_once(spark, tmp_path):
    ticks = synthetic.ticks(spark, SF).limit(200)
    doubled = ticks.union(ticks)  # simulate redelivery
    src_dir = str(tmp_path / "dup")
    doubled.write.parquet(src_dir)

    stream = sources.file_tick_stream(spark, src_dir, schema=doubled.schema)
    deduped = sinks.dedup_for_effective_exactly_once(
        stream, ["tick_id"], ts_col="ts", watermark="0 seconds")
    q = _run_available_now(
        deduped.writeStream.format("memory").queryName("dedup")
        .outputMode("append").trigger(availableNow=True))
    n = spark.sql("SELECT count(*) AS n FROM dedup").first()["n"]
    q.stop()
    assert n == 200


def test_jobs_state_writeback_merge(spark, tmp_path):
    path = str(tmp_path / "jobs_table")
    writeback = sinks.jobs_state_writeback(path)

    b0 = spark.createDataFrame(
        [(1, 1100, "btsp#XFC000000001", 2), (2, 1100, "btfx#XFC000000002", 2)],
        "downloader_jq_id long, action int, value string, type_idtype int")
    writeback(b0, 0)
    b1 = spark.createDataFrame(
        [(1, 1300), (3, 1900)], "downloader_jq_id long, action int")
    writeback(b1, 1)

    final = {r["downloader_jq_id"]: r["action"]
             for r in spark.read.parquet(path).collect()}
    assert final == {1: 1300, 2: 1100, 3: 1900}


def test_rate_source_smoke(spark):
    stream = sources.rate_tick_stream(spark, rows_per_second=50)
    q = (stream.writeStream.format("memory").queryName("rate_smoke")
         .trigger(processingTime="1 second").start())
    try:
        import time
        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM rate_smoke").first()["n"]
            if n > 0:
                break
            time.sleep(0.5)
        assert n > 0
    finally:
        q.stop()


def test_serialize_message_roundtrip(spark):
    """P11: the queue payload is valid JSON carrying every column."""
    import json
    df = pipeline.with_mid(pipeline.validate_http(
        synthetic.ticks(spark, SF))).limit(5)
    ser = pipeline.serialize_message(df)
    for row in ser.collect():
        payload = json.loads(row["message"])
        assert payload["tick_id"] == row["tick_id"]
        assert abs(payload["mid"] - row["mid"]) < 1e-12


def test_streaming_session_windows_match_batch(spark, tmp_path):
    """Native session_window sessionization: the SAME groupBy binds to
    a stream (complete mode, bounded source) and emits sessions
    identical to the batch run — ST6/ST5 through the built-in
    stateful operator rather than hand-rolled state."""
    from stockanalyses_downloader_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select("user_id", "ts")
    src = str(tmp_path / "events_src")
    ev.write.parquet(src)

    def sessionize(df):
        return (df.groupBy("user_id",
                           F.session_window("ts", "30 minutes"))
                .agg(F.count("*").alias("n_events"))
                .select("user_id",
                        F.col("session_window.start").alias("win_start"),
                        F.col("session_window.end").alias("win_end"),
                        "n_events"))

    batch = {(r["user_id"], r["win_start"], r["win_end"], r["n_events"])
             for r in sessionize(spark.read.parquet(src)).collect()}

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (sessionize(stream.withWatermark("ts", "0 seconds"))
         .writeStream.format("memory").queryName("sess_sw")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    streamed = {(r["user_id"], r["win_start"], r["win_end"], r["n_events"])
                for r in spark.sql("select * from sess_sw").collect()}
    assert streamed == batch and len(batch) > 0


def test_corpus_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming corpus ingest == batch curation modulo dedup
    mechanism: per-row reasons identical for every surviving doc, one
    survivor per fingerprint (state-backed dropDuplicates replaces
    the batch fp_rank window), and survivors' fingerprint set equals
    the batch keeper set."""
    from stockanalyses_downloader_spark import pipelines
    from stockanalyses_downloader_spark.queries.text_queries import (
        corpus_curation_decisions)
    from stockanalyses_downloader_spark.sources.tables import load_table

    base = load_table(spark, SF, "documents").limit(40)
    dups = (base.limit(6)
            .withColumn("doc_id", F.col("doc_id") + 100000))
    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")
    base.unionByName(dups).coalesce(1).write.parquet(src)

    q = pipelines.run_corpus_ingest_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()

    # one survivor per fingerprint; planted dups collapsed
    fps = [r.fingerprint for r in got]
    assert len(fps) == len(set(fps)) == 40

    batch = {r.doc_id: r for r in
             corpus_curation_decisions(spark, SF).collect()}
    for r in got:
        b = batch.get(r.doc_id % 100000 if r.doc_id >= 100000
                      else r.doc_id)
        assert b is not None
        batch_row_reasons = ",".join(
            c for c in b.reasons.split(",") if c and c != "dup_nonkeeper")
        assert r.reasons == batch_row_reasons, (r.doc_id, r.reasons)
        assert r.keep == (batch_row_reasons == "")


def test_corpus_ingest_watermark_bounded_dedup(spark, tmp_path):
    """The unbounded-feed variant (dropDuplicatesWithinWatermark over
    ingest time): same dedup outcome on a fixture whose duplicates
    all arrive inside the TTL window, while the state store is
    watermark-evictable rather than immortal."""
    from stockanalyses_downloader_spark import pipelines
    from stockanalyses_downloader_spark.sources.tables import load_table

    base = load_table(spark, SF, "documents").limit(30)
    dups = base.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    src = str(tmp_path / "wm_src")
    base.unionByName(dups).coalesce(1).write.parquet(src)

    q = pipelines.run_corpus_ingest_stream(
        spark, src, str(tmp_path / "wm_out"), str(tmp_path / "wm_ckpt"),
        dedup_state_ttl="10 minutes")
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "wm_out")).collect()
    fps = [r.fingerprint for r in got]
    assert len(fps) == len(set(fps)) == 30
    assert "ingest_ts" not in got[0].asDict()


def test_checkpoint_resume_no_loss_replayed_batch_dedups(spark, tmp_path):
    """ST4 across a CRASH (VERDICT r4 #5): a foreachBatch sink that
    dies AFTER its side effect (write landed, checkpoint commit
    didn't) kills the query mid-stream; restarting from the same
    checkpoint must (a) replay exactly the uncommitted batch — the
    at-least-once contract, visible as one duplicated batch in the
    raw sink, (b) not re-run any committed batch, (c) lose nothing,
    and (d) collapse to exact batch semantics after keyed dedup —
    the effective-exactly-once claim, now verified across restart
    rather than within one run."""
    import pyspark.sql.utils as U

    src_dir = tmp_path / "src"
    sink_dir = tmp_path / "sink"
    ckpt = str(tmp_path / "ckpt")
    crash_marker = tmp_path / "crashed_once"

    # 12 single-file micro-batches of 10 rows each (maxFilesPerTrigger=1)
    for f in range(12):
        spark.range(f * 10, f * 10 + 10) \
            .withColumn("payload", F.concat(F.lit("m"), F.col("id"))) \
            .coalesce(1).write.mode("append").parquet(str(src_dir))

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(sink_dir))
        if batch_id == 3 and not crash_marker.exists():
            crash_marker.touch()   # fail only on the FIRST attempt
            raise RuntimeError("injected crash after side effect")

    def start():
        stream = (spark.readStream
                  .schema("id long, payload string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(src_dir)))
        return (stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    q = start()
    with pytest.raises(U.StreamingQueryException):
        q.awaitTermination(120)
    assert crash_marker.exists()   # it really did crash on batch 3

    q2 = start()                   # resume from the SAME checkpoint
    assert q2.awaitTermination(120)

    got = spark.read.parquet(str(sink_dir))
    ids = [r["id"] for r in got.collect()]
    # (c) no loss: every source row is present
    assert set(ids) == set(range(120))
    # (a)+(b) exactly the replayed batch duplicated, nothing else:
    # batch 3 carried one 10-row file -> 130 raw rows, dups all ×2
    assert len(ids) == 130
    from collections import Counter
    dup_counts = {k: c for k, c in Counter(ids).items() if c > 1}
    assert len(dup_counts) == 10 and set(dup_counts.values()) == {2}
    # (d) effective exactly-once downstream: keyed dedup == batch run
    dedup = got.dropDuplicates(["id"])
    assert dedup.count() == 120


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (r5): the same
    interval_join_streams definition bound to two FILE STREAMS with
    watermarks produces exactly the rows the static bind produces —
    each tick paired with every quote of its pair in the 60 s window
    before it. Also checks the join requires no clashing columns and
    that results arrive in append mode (inner stream-stream joins
    emit only watermark-final rows under availableNow)."""
    from datetime import datetime, timezone
    from stockanalyses_downloader_spark.streaming import joins

    def ts(minute, second=0):
        return datetime(2024, 3, 1, 10, minute, second,
                        tzinfo=timezone.utc)

    ticks = [(i, ["btceur", "etheur"][i % 2], ts(i // 2, 30), 100.0 + i)
             for i in range(10)]
    quotes = [(100 + j, ["btceur", "etheur"][j % 2], ts(j // 2, 15),
               99.5 + j)
              for j in range(10)]
    t_dir, q_dir = str(tmp_path / "ticks"), str(tmp_path / "quotes")
    spark.createDataFrame(
        ticks, "tick_id long, pair string, ts timestamp, mid double") \
        .write.parquet(t_dir)
    spark.createDataFrame(
        quotes, "quote_id long, qpair string, qts timestamp, bid double") \
        .write.parquet(q_dir)

    def bind(tdf, qdf):
        return joins.interval_join_streams(
            tdf, qdf, "pair", "qpair", "ts", "qts",
            lookback_s=60, watermark_s=30)

    batch = {tuple(r) for r in bind(
        spark.read.parquet(t_dir), spark.read.parquet(q_dir)).collect()}
    assert batch, "fixture produced no matches — test is vacuous"

    st = (spark.readStream
          .schema("tick_id long, pair string, ts timestamp, mid double")
          .parquet(t_dir))
    sq = (spark.readStream
          .schema("quote_id long, qpair string, qts timestamp, bid double")
          .parquet(q_dir))
    q = (bind(st, sq).writeStream.format("memory")
         .queryName("ssj").option("checkpointLocation",
                                  str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM ssj").collect()}
    q.stop()
    assert got == batch

    with pytest.raises(ValueError, match="clash"):
        joins.interval_join_streams(
            spark.read.parquet(t_dir), spark.read.parquet(t_dir),
            "pair", "pair", "ts", "ts")


def test_streaming_countmin_sketches_merge_to_batch(spark, tmp_path):
    """Live sketch maintenance (r5): each micro-batch's count-min
    grid is APPENDED to a sketch store (foreachBatch — the
    per-day/partition sketch pattern), and merging the stored grids
    at query time (countmin_merge IS a groupBy-sum) yields exactly
    the sketch of the whole corpus computed in one batch pass. This
    is the property that lets 100 TB of history answer frequency
    queries without rescanning: new data only appends a bounded
    grid."""
    from stockanalyses_downloader_spark.operators import sketches

    src = tmp_path / "texts"
    store = str(tmp_path / "sketch_store")
    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    for f in range(6):
        rows = [(f * 50 + i, " ".join(words[(i + j + f) % 5]
                                      for j in range(12)))
                for i in range(50)]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(str(src))

    def to_tokens(df):
        return df.select(F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                           r"\s+")).alias("token"))

    def upsert(batch_df, batch_id):
        (sketches.countmin_build(to_tokens(batch_df), "token")
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(store))

    q = (spark.readStream.schema("doc_id long, text string")
         .option("maxFilesPerTrigger", "2").parquet(str(src))
         .writeStream.foreachBatch(upsert)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)

    stored = spark.read.parquet(store)
    assert stored.select("batch_id").distinct().count() >= 2  # >1 grid
    merged = {(r["row_id"], r["bucket"]): r["c"] for r in
              sketches.countmin_merge(stored.drop("batch_id")).collect()}
    whole = {(r["row_id"], r["bucket"]): r["c"] for r in
             sketches.countmin_build(
                 to_tokens(spark.read.parquet(str(src))), "token")
             .collect()}
    assert merged == whole


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """Left-outer stream-stream join (r5): ticks with NO quote in
    their window must surface NULL-padded — but only after the
    watermark proves no partner can still arrive, so both streams
    carry a far-future flusher event that drags the watermark past
    all real data. Stream result (minus flushers) must equal the
    batch bind exactly, including the NULL rows."""
    from datetime import datetime, timezone
    from stockanalyses_downloader_spark.streaming import joins

    def ts(minute, second=0):
        return datetime(2024, 3, 1, 10, minute, second,
                        tzinfo=timezone.utc)

    # pair 'btceur' quoted; pair 'orphan' never quoted -> NULL rows
    ticks = [(i, "btceur", ts(i, 30), 100.0 + i) for i in range(6)] \
        + [(100 + i, "orphan", ts(i, 40), 50.0 + i) for i in range(4)] \
        + [(999, "flush", ts(59), 0.0)]
    quotes = [(200 + j, "btceur", ts(j, 15), 99.0 + j) for j in range(6)] \
        + [(998, "flushq", ts(59), 0.0)]
    t_dir, q_dir = str(tmp_path / "t"), str(tmp_path / "q")
    spark.createDataFrame(
        ticks, "tick_id long, pair string, ts timestamp, mid double") \
        .write.parquet(t_dir)
    spark.createDataFrame(
        quotes, "quote_id long, qpair string, qts timestamp, bid double") \
        .write.parquet(q_dir)

    def bind(t, q):
        return joins.interval_join_streams(
            t, q, "pair", "qpair", "ts", "qts",
            lookback_s=60, watermark_s=10, how="left_outer")

    real = F.col("tick_id") < 900
    batch = {tuple(r) for r in bind(
        spark.read.parquet(t_dir),
        spark.read.parquet(q_dir)).filter(real).collect()}
    assert any(r[4] is None for r in batch)      # orphan NULL rows exist
    assert any(r[4] is not None for r in batch)  # and matched rows too

    st = (spark.readStream
          .schema("tick_id long, pair string, ts timestamp, mid double")
          .parquet(t_dir))
    sq = (spark.readStream
          .schema("quote_id long, qpair string, qts timestamp, bid double")
          .parquet(q_dir))
    qy = (bind(st, sq).writeStream.format("memory")
          .queryName("ssoj").option("checkpointLocation",
                                    str(tmp_path / "ck"))
          .trigger(availableNow=True).start())
    qy.awaitTermination(120)
    got = {tuple(r) for r in
           spark.sql("SELECT * FROM ssoj").filter(real).collect()}
    qy.stop()
    assert got == batch


def test_streaming_quality_scoring_matches_batch(spark, tmp_path):
    """ST7 for the quality-model tier (r5): score_with_weights bound
    to a document STREAM produces exactly the batch scores — the
    frozen model's literals embed in the streaming plan the same way,
    so live ingest can gate on quality with zero code divergence."""
    from stockanalyses_downloader_spark.operators import quality_model as qm
    from stockanalyses_downloader_spark.queries.text_queries import (
        _QUALITY_W)

    rows = [(i, ("clean readable prose here " * (1 + i % 4)).strip()
             if i % 3 else f"99{i} 737 4459 x{i}z 00") for i in range(30)]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(src)

    def score(df):
        return qm.score_with_weights(qm.surface_features(df), _QUALITY_W)

    batch = {(r["doc_id"], r["logit"], r["prob"])
             for r in score(spark.read.parquet(src)).collect()}

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    q = (score(stream).writeStream.format("memory").queryName("qscore")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["doc_id"], r["logit"], r["prob"])
           for r in spark.sql("SELECT * FROM qscore").collect()}
    q.stop()
    assert got == batch and len(got) == 30


def test_streaming_hdr_quantile_sketch_merges_to_batch(spark, tmp_path):
    """Live QUANTILE sketch maintenance (r5, the HDR sibling of the
    count-min test above): each micro-batch appends its bounded
    histogram grid; merging the stored grids at query time equals the
    whole-corpus grid from one batch pass — so p99-over-all-history
    stays answerable without rescanning or re-sorting history."""
    from stockanalyses_downloader_spark.operators import sketches

    src = tmp_path / "vals"
    store = str(tmp_path / "hdr_store")
    for f in range(5):
        rows = [(f * 40 + i, 10.0 + ((i * 37 + f * 11) % 997) * 3.25)
                for i in range(40)]
        spark.createDataFrame(rows, "id long, price double") \
            .coalesce(1).write.mode("append").parquet(str(src))

    def upsert(batch_df, batch_id):
        (sketches.hdr_build(batch_df, "price")
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(store))

    q = (spark.readStream.schema("id long, price double")
         .option("maxFilesPerTrigger", "2").parquet(str(src))
         .writeStream.foreachBatch(upsert)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)

    stored = spark.read.parquet(store)
    assert stored.select("batch_id").distinct().count() >= 2
    merged_grid = sketches.hdr_merge(stored.drop("batch_id"))
    merged = {(r["o"], r["c"]) for r in merged_grid.collect()}
    whole = {(r["o"], r["c"]) for r in
             sketches.hdr_build(spark.read.parquet(str(src)),
                                "price").collect()}
    assert merged == whole

    # and the merged grid answers quantiles within the sketch bound
    import math
    vals = sorted(r["price"] for r in
                  spark.read.parquet(str(src)).collect())
    est = {r["q"]: r["est"] for r in
           sketches.hdr_quantiles(merged_grid, (0.5, 0.99)).collect()}
    for qq in (0.5, 0.99):
        exact = vals[max(0, math.ceil(qq * len(vals)) - 1)]
        assert abs(est[qq] - exact) <= exact / 16 + 0.01


def test_streaming_scd2_enrichment_matches_batch(spark, tmp_path):
    """Point-in-time dimension enrichment on a LIVE stream (r5b):
    each streaming event joins the SCD2 history on (key, valid_from
    <= ts < valid_to) — a stream-static join with a range condition,
    exactly the batch definition bound to a readStream. Boundary
    events (ts == a version's valid_from) land in the NEW version;
    events predating the key's first version surface NULL-padded
    (left join), not dropped. Stream result == batch result."""
    from datetime import datetime
    from stockanalyses_downloader_spark.operators import scd

    def ts(d, h=0):
        return datetime(2024, 4, d, h)

    changes = spark.createDataFrame(
        [(1, ts(1), "A"), (1, ts(10), "B"), (1, ts(20), "C"),
         (2, ts(5), "X")],
        "k long, cts timestamp, st string")
    hist = scd.history_from_events(changes, "k", "cts", "st") \
        .withColumnRenamed("cts", "valid_from")

    events = [(100, 1, ts(10)),   # boundary: exactly B's valid_from
              (101, 1, ts(9, 23)),  # last hour of A
              (102, 1, ts(25)),   # open-ended current version C
              (103, 2, ts(4)),    # predates key 2's first version
              (104, 2, ts(6)),    # inside X
              (105, 3, ts(6))]    # key never in the dim
    src = str(tmp_path / "events")
    spark.createDataFrame(
        events, "event_id long, k long, ts timestamp").write.parquet(src)

    def enrich(df):
        cond = ((df["k"] == hist["k"])
                & (hist["valid_from"] <= df["ts"])
                & (hist["valid_to"].isNull()
                   | (df["ts"] < hist["valid_to"])))
        return (df.join(hist, cond, "left")
                .select("event_id", df["k"], "ts", "st"))

    batch = {(r["event_id"], r["st"])
             for r in enrich(spark.read.parquet(src)).collect()}
    assert batch == {(100, "B"), (101, "A"), (102, "C"), (103, None),
                     (104, "X"), (105, None)}

    stream = (spark.readStream.schema("event_id long, k long, ts timestamp")
              .parquet(src))
    q = (enrich(stream).writeStream.format("memory")
         .queryName("scd2_enriched")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["event_id"], r["st"])
           for r in spark.sql("SELECT * FROM scd2_enriched").collect()}
    q.stop()
    assert got == batch


def test_rocksdb_state_store_matches_default(spark, tmp_path):
    """Production state backend: the same watermarked streaming
    dedup runs on the RocksDB state store provider (bounded JVM heap
    — the backend a 1000-executor cluster uses for large keyed
    state) and produces exactly the rows of the default HDFS-backed
    provider run. Provider is resolved per QUERY start, so flipping
    the session conf between runs is safe."""
    rows = [(i % 7, i) for i in range(60)]  # dup-heavy keys

    def run(provider_conf, name):
        src = tmp_path / f"src_{name}"
        spark.createDataFrame(rows, "k long, seq long") \
            .write.mode("overwrite").parquet(str(src))
        saved = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None)
        if provider_conf:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                provider_conf)
        try:
            q = (spark.readStream.schema("k long, seq long")
                 .parquet(str(src))
                 .dropDuplicates(["k"])
                 .writeStream.format("memory").queryName(name)
                 .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(120)
        finally:
            if saved is None:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", saved)
        return {r["k"] for r in
                spark.sql(f"SELECT * FROM {name}").collect()}

    default_keys = run(None, "dedup_default")
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    rocks_keys = run(rocks, "dedup_rocks")
    assert rocks_keys == default_keys == set(range(7))


def test_drop_duplicates_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: dedup state is EVICTED once the
    watermark passes a key's event time — the bounded-state streaming
    dedup (plain dropDuplicates keeps every key forever; at 100 TB of
    lifetime keys that state never stops growing). Semantics traded
    for boundedness: a duplicate arriving WITHIN the watermark window
    is suppressed; the same key re-arriving long after (late restated
    feed) passes again. Both halves pinned."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    # batch 1: keys 1..5 at t0, with in-batch duplicates of key 1
    rows1 = [(k, base) for k in (1, 1, 2, 3, 4, 5)]
    # batch 2: near-time duplicate of key 2 (inside 10m watermark
    # window, suppressed) + a fresh key far in the future that pushes
    # the WATERMARK past every batch-1 key's eviction horizon
    rows2 = [(2, base + timedelta(minutes=5)),
             (9, base + timedelta(hours=6))]
    # batch 3: key 1 reappears AFTER its state was evicted (the
    # watermark only advances at batch boundaries, so eviction needs
    # its own batch between first sight and reappearance)
    rows3 = [(1, base + timedelta(hours=6, minutes=5))]
    src = str(tmp_path / "dupsrc")
    out = []
    # one availableNow cycle per batch over ONE checkpoint: batch
    # boundaries (and therefore watermark advancement) are
    # deterministic, unlike maxFilesPerTrigger over unordered files
    for rows in (rows1, rows2, rows3):
        spark.createDataFrame(rows, "k long, ts timestamp") \
            .coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema("k long, ts timestamp")
                  .parquet(src)
                  .withWatermark("ts", "10 minutes")
                  .dropDuplicatesWithinWatermark(["k"]))
        q = (stream.writeStream.format("parquet")
             .option("path", str(tmp_path / "sink"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
    out = [(r["k"], r["ts"]) for r in
           spark.read.parquet(str(tmp_path / "sink")).collect()]

    ks = sorted(k for k, _ in out)
    # in-batch dup of key 1 suppressed; near-time dup of key 2
    # suppressed; far-future key 1 re-emitted after state eviction
    assert ks == [1, 1, 2, 3, 4, 5, 9]
    assert sum(1 for k, t in out if k == 1 and t == base) == 1
    assert any(k == 1 and t > base for k, t in out)
    assert sum(1 for k, _ in out if k == 2) == 1


def test_streaming_dsir_scoring_matches_batch(spark, tmp_path):
    """ST7 for the DSIR tier (r8): the frozen hashed-ngram LLR model
    (fit once in batch, broadcast) scores a document STREAM to exactly
    the batch scores — the importance-resampling filter gates live
    ingest with zero code divergence, the same contract as the
    quality-model streaming test above. The per-doc mean is a
    streaming aggregation (complete mode: every doc's grams arrive in
    one file-source micro-batch here; at scale the same plan runs per
    micro-batch with doc-complete files, or feeds foreachBatch)."""
    from stockanalyses_downloader_spark.operators import dsir

    target = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 2) for i in range(8)],
        "doc_id long, text string")
    raw_rows = [(100 + i,
                 "alpha beta gamma prose sample"
                 if i % 2 else f"zonk{i} quux blarg wibble frob")
                for i in range(20)]
    src = str(tmp_path / "raw")
    spark.createDataFrame(raw_rows, "doc_id long, text string") \
        .write.parquet(src)
    raw = spark.read.parquet(src)

    # one corpus frame; the target docs are the ids below 100
    occ = dsir.doc_gram_bucket_counts(target.unionByName(raw))
    llr = dsir.dsir_bucket_llr(occ, F.col("doc_id") < 100)
    llr = llr.localCheckpoint(eager=True)   # freeze the model

    batch = {(r["doc_id"], r["n_grams"], r["score"])
             for r in dsir.dsir_scores(raw, llr).collect()}

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    q = (dsir.dsir_scores(stream, llr)
         .writeStream.format("memory").queryName("dsir_stream")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["doc_id"], r["n_grams"], r["score"])
           for r in spark.sql("SELECT * FROM dsir_stream").collect()}
    q.stop()
    assert got == batch and len(got) == 20


def test_streaming_moment_grids_merge_to_batch(spark, tmp_path):
    """Live MOMENT-GRID maintenance (r8, the drift tier's sibling of
    the count-min/HDR merge tests above): each micro-batch appends its
    decimal-accumulated (n, sx, sxx) grid; merging the stored grids by
    addition equals the whole-corpus grid from one batch pass
    BIT-FOR-BIT (decimal sums are exact under any split) — so
    embedding-drift-over-time stays answerable from stored per-day
    grids without rescanning vectors."""
    from stockanalyses_downloader_spark.operators import pca

    rows = [(i, [float((i * 3 + d) % 7) / 3.0 for d in range(6)], i % 3)
            for i in range(90)]
    src = str(tmp_path / "emb")
    (spark.createDataFrame(rows, "vec_id long, embedding array<double>, "
                                 "label int")
     .repartition(3).write.parquet(src))

    sink = str(tmp_path / "grids")

    def emit(batch_df, _bid):
        pca.moment_grid(batch_df, ["label"]) \
            .write.mode("append").parquet(sink)

    q = (spark.readStream.schema("vec_id long, "
                                 "embedding array<double>, label int")
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.foreachBatch(emit)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    stored = spark.read.parquet(sink)
    assert stored.select("n").groupBy().sum().collect()[0][0] == 90 * 6
    merged = {(r["label"], r["pos"]): (r["n"], r["sx"], r["sxx"])
              for r in pca.merge_moment_grids(stored, ["label"]).collect()}
    one_shot = {(r["label"], r["pos"]): (r["n"], r["sx"], r["sxx"])
                for r in pca.moment_grid(spark.read.parquet(src),
                                         ["label"]).collect()}
    assert merged == one_shot and len(one_shot) == 3 * 6
