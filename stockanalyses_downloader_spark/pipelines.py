"""End-to-end pipeline runners — the engine's equivalents of the
reference's two hard-wired pipelines (SURVEY.md §3):

  run_rest_batch    E2 (main.py:264-355): jobs -> filter/claim ->
                    parse -> dim resolve -> fetch -> validate -> mid ->
                    publish -> state writeback
  run_wss_stream    E3 (main.py:357-434): wire ticks -> positional
                    projection -> reverse ISIN lookup -> mid ->
                    foreachBatch publish

Everything between source and sink is the operator library — these
runners only compose. The REST fetch defaults to the offline fixture
fetcher; pass ``fetcher=ticker.http_fetcher`` for the live path.
"""

from __future__ import annotations

from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dims.currency import currency_dim
from .operators import pipeline, state_machine
from .sources import swap, ticker
from .streaming import sinks


def run_rest_batch(spark: SparkSession, jobs: DataFrame,
                   queue_dir: str, jobs_table_path: str,
                   fetcher: Callable[[DataFrame], DataFrame] | None = None,
                   client_factory: Callable[[], sinks.MessageQueueClient]
                   | None = None,
                   batch_id: int = 0,
                   ) -> dict[str, int]:
    """One batch cycle over a jobs frame. Returns row-count telemetry.

    State semantics per reference main.py:328-353: fetch ok -> publish
    -> 1300; fetch failed OR publish failed -> 1900; never-attempted
    jobs keep their action. ``client_factory`` builds the queue client
    per partition (default: file-backed queue at ``queue_dir``)."""
    fetcher = fetcher or ticker.fixture_fetcher
    client_factory = client_factory or (
        lambda: sinks.FileQueueClient(queue_dir))
    dim = currency_dim(spark)

    actionable = pipeline.filter_actionable_jobs(jobs, rest_only=True)
    claimed = state_machine.claim(actionable)
    parsed = pipeline.parse_job_value(claimed)
    resolved = pipeline.resolve_pair(parsed, dim)

    # persist: snapshots feed four consumers (publish, dead-letter,
    # outcomes, telemetry) — without the barrier each one re-runs the
    # fetcher, i.e. re-downloads (round-1 defect). The snapshot batch
    # is one row per in-flight job: always cacheable.
    snapshots = fetcher(ticker.build_ticker_urls(resolved)).persist(
        StorageLevel.MEMORY_AND_DISK)  # survive eviction: refetch = re-HTTP
    ok = pipeline.with_mid(pipeline.validate_http(snapshots))

    messages = pipeline.serialize_message(
        ok.select("downloader_jq_id", "exchange", "isin", "pair",
                  "bid", "ask", "mid", "last", "ts"))
    # publish once, capture per-message success (publish_with_outcomes
    # is lazy; the persist + the telemetry aggregate below make the
    # queue client run exactly once)
    # MEMORY_AND_DISK (ADVICE r4): the effective-exactly-once publish
    # guarantee rides on these blocks surviving from the stats action
    # to the writeback action — a memory-only block evicted under
    # pressure would recompute pub and re-fire the queue client,
    # double-publishing. Disk-backed blocks spill instead of vanish.
    pub = sinks.publish_with_outcomes(messages, client_factory).persist(
        StorageLevel.MEMORY_AND_DISK)

    # real feedback edge (main.py:339-345): fetch ok comes from the
    # HTTP status, publish ok from the queue client — a failed publish
    # lands 1900 even when the fetch succeeded.
    outcomes = (snapshots.select(
        "downloader_jq_id",
        (F.col("status") == 200).alias("fetch_ok"))
        .join(pub, "downloader_jq_id", "left")
        .withColumn("publish_ok", F.coalesce(F.col("publish_ok"),
                                             F.lit(False))))

    # ONE telemetry action (was four separate count() jobs): two
    # single-row aggregates crossJoined — input-side counts via the
    # shared P1 predicate, outcome-side counts over the per-job
    # outcomes frame (dead_letter == snapshots with status != 200,
    # same rows pipeline.dead_letter routes). Materializing this is
    # ALSO the publish action: pub is persisted, so the queue client
    # fires exactly once here and the writeback below reuses the
    # cached outcome blocks.
    cond = pipeline.actionable_job_condition(rest_only=True)
    stats_row = (jobs.agg(
        F.count("*").alias("jobs_in"),
        F.sum(cond.cast("int")).alias("actionable"))
        .crossJoin(outcomes.agg(
            F.sum(F.col("publish_ok").cast("int")).alias("published"),
            F.sum((~F.col("fetch_ok")).cast("int")).alias("dead_letter")))
        .first())

    final = state_machine.apply_outcomes(claimed, outcomes)
    sinks.jobs_state_writeback(jobs_table_path)(final, batch_id=batch_id)

    stats = {k: int(stats_row[k] or 0)
             for k in ("jobs_in", "actionable", "published", "dead_letter")}
    snapshots.unpersist()
    pub.unpersist()
    return stats


def run_rest_stream(spark: SparkSession, jobs_stream: DataFrame,
                    queue_dir: str, jobs_table_path: str, checkpoint: str,
                    fetcher: Callable[[DataFrame], DataFrame] | None = None,
                    client_factory: Callable[[], sinks.MessageQueueClient]
                    | None = None):
    """E2 as it actually runs in the reference — a POLLING LOOP: each
    micro-batch of the jobs stream goes through the full batch cycle
    (claim -> resolve -> fetch -> publish-with-outcomes -> state
    writeback). Same core as run_rest_batch (ST7: one transform,
    batch and streaming bindings); the checkpoint makes claim/replay
    idempotent per micro-batch id. Returns the StreamingQuery."""
    def _cycle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():            # ST2: empty poll -> no-op
            return
        run_rest_batch(batch_df.sparkSession, batch_df, queue_dir,
                       jobs_table_path, fetcher=fetcher,
                       client_factory=client_factory, batch_id=batch_id)

    return (jobs_stream.writeStream
            .foreachBatch(_cycle)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def run_wss_stream(spark: SparkSession, raw_stream: DataFrame,
                   queue_dir: str, checkpoint: str):
    """Bind the streaming WSS path; returns the StreamingQuery.
    ``raw_stream`` carries the wire shape (pair, tick array, ts)."""
    dim = currency_dim(spark)

    def transform(df: DataFrame) -> DataFrame:
        named = pipeline.project_wss_tick(df)
        named = pipeline.resolve_isin(named, dim)
        return pipeline.with_mid(named)

    publish = sinks.foreach_batch_publish(
        raw_stream, lambda: sinks.FileQueueClient(queue_dir),
        transform=transform)
    return (raw_stream.writeStream
            .foreachBatch(publish)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def curated_documents_stream(doc_stream: DataFrame,
                             dedup_state_ttl: str | None = None) -> DataFrame:
    """Streaming corpus ingest: the same per-row curation signals and
    rules as the batch capstone (queries.text_queries.curation_scored
    / row_rule_reasons — ST7: one set of expressions, two bindings),
    with exact dedup as state-backed ``dropDuplicates`` on the
    canonical fingerprint instead of the batch fp_rank window
    (non-time windows don't exist in streaming; per-key state does).
    First arrival of a fingerprint survives, later copies are dropped
    by state — the streaming analogue of "keeper = first".

    ``dedup_state_ttl`` is the unbounded-feed guard: when set (e.g.
    ``"10 minutes"``), dedup runs as ``dropDuplicatesWithinWatermark``
    over an ingest-time watermark, so per-fingerprint state is
    EVICTED once the watermark passes — state size is bounded by the
    TTL window's arrival rate instead of growing with corpus
    lifetime. The trade is explicit: a duplicate arriving later than
    the TTL re-enters the corpus (downstream batch dedup catches it);
    with ``None`` state is exact and lives forever — right for
    bounded backfills, wrong for a year-long feed.

    Returns the curated stream: doc_id, lang, fingerprint, n_tokens,
    quality_score, predicted_lang, keep, reasons — ``keep`` here
    means "passes every per-row rule" (dup handling already dropped
    non-keepers from the stream)."""
    from .queries.text_queries import curation_scored, row_rule_reasons
    scored = curation_scored(doc_stream)
    if dedup_state_ttl is None:
        deduped = scored.dropDuplicates(["fingerprint"])
    else:
        deduped = (scored
                   .withColumn("ingest_ts", F.current_timestamp())
                   .withWatermark("ingest_ts", dedup_state_ttl)
                   .dropDuplicatesWithinWatermark(["fingerprint"])
                   .drop("ingest_ts"))
    reasons = F.concat_ws(",", *row_rule_reasons())
    return (deduped
            .withColumn("reasons", reasons)
            .withColumn("keep", F.col("reasons") == ""))


def run_corpus_ingest_stream(spark: SparkSession, src_dir: str,
                             out_table: str, checkpoint: str,
                             dedup_state_ttl: str | None = None):
    """Bind the curated-documents transform to a parquet-directory
    document stream and append the decisions to a memory/parquet
    sink. Returns the StreamingQuery (availableNow: drain-and-stop,
    the backfill trigger)."""
    from .schemas import DOCUMENTS
    stream = (spark.readStream.schema(DOCUMENTS).parquet(src_dir))
    return (curated_documents_stream(stream, dedup_state_ttl).writeStream
            .format("parquet")
            .option("path", out_table)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def incremental_quality_refresh(spark: SparkSession, corpus: DataFrame,
                                results_path: str) -> dict[str, int]:
    """Incremental corpus re-scoring (r5b): maintain an at-rest
    per-doc quality table that each refresh brings up to date by
    processing ONLY the delta — new and changed docs are scored,
    disappeared docs' rows are removed, and unchanged docs (the
    overwhelming majority of a 100 TB corpus between runs) are never
    reprocessed OR rescanned past their digest. This is the
    composition the snapshot-diff query exists for:

        digests(new corpus) ⟗ digests(stored results)
          -> added/changed  -> quality_model scoring (the expensive
                               stage runs on the delta only)
          -> removed        -> dropped
          -> unchanged      -> carried over untouched

    Crash safety: same swap and recovery (``sources.swap``) as the
    streaming writeback sinks. Returns telemetry counts (three
    model-sized aggregate actions — documented driver work, the
    numbers every incremental job logs).

    The scoring stage is quality_model with the frozen prior
    ``_QUALITY_W`` from text_queries."""
    from .operators import quality_model as qm
    from .queries.text_queries import _QUALITY_W

    new = corpus.select("doc_id", "text",
                        F.md5("text").alias("digest"))

    def _score(docs_with_digest: DataFrame) -> DataFrame:
        # surface_features keeps only (doc_id, x); carry the digest
        # back in by key — it's the diff key of the NEXT refresh
        s = qm.score_with_weights(
            qm.surface_features(docs_with_digest), _QUALITY_W)
        # explicit aliases: s shares lineage with docs_with_digest
        # (self-join), so unqualified column refs are ambiguous
        dd = docs_with_digest.select("doc_id", "digest")
        return (s.alias("s")
                .join(dd.alias("d"),
                      F.col("s.doc_id") == F.col("d.doc_id"))
                .select(F.col("s.doc_id").alias("doc_id"),
                        F.col("d.digest").alias("digest"),
                        F.col("s.logit").alias("logit"),
                        F.col("s.prob").alias("prob")))

    if not swap.recover(results_path):
        swap.replace_dir(results_path,
                         _score(new).write.mode("overwrite").parquet)
        n = spark.read.parquet(results_path).count()
        return {"n_scored": n, "n_removed": 0, "n_carried": 0}

    stored = spark.read.parquet(results_path)
    old_digests = stored.select("doc_id",
                                F.col("digest").alias("old_digest"))
    joined = new.join(old_digests, "doc_id", "full_outer")
    to_score = (joined.filter(
        F.col("digest").isNotNull()
        & (F.col("old_digest").isNull()
           | (F.col("digest") != F.col("old_digest"))))
        .select("doc_id", "text", "digest"))
    removed_keys = joined.filter(F.col("digest").isNull()) \
        .select("doc_id")
    scored = _score(to_score)
    scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
    n_scored = scored.count()
    n_removed = removed_keys.count()

    carried = (stored
               .join(removed_keys, "doc_id", "left_anti")
               .join(scored.select("doc_id"), "doc_id", "left_anti"))
    merged = carried.unionByName(scored)

    swap.replace_dir(results_path, merged.write.mode("overwrite").parquet)
    scored.unpersist()
    n_total = spark.read.parquet(results_path).count()
    return {"n_scored": n_scored, "n_removed": n_removed,
            "n_carried": n_total - n_scored}
