"""Whole-registry ANALYSIS smoke (VERDICT r2 #4).

Round 2 lost its entire bench to one AnalysisException
(TIMESTAMP_NTZ) that only surfaced when queries were EXECUTED.
Analysis is cheap: building every registry entry's plan and forcing
resolution (``df.schema``) catches type/resolution breakage across
all 190 queries in seconds. Any environment shift that changes source
types (the NTZ incident's shape) goes red here first. The same sweep
pins each entry's optimized plan by digest and its build's job count.
"""

from __future__ import annotations

import json
import os

from conftest import SF_SMALL

from stockanalyses_downloader_spark.caching import tracked_scope
from stockanalyses_downloader_spark.plans import plan_digest
from stockanalyses_downloader_spark.queries import all_queries

_ALL = all_queries()

_DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plan_digests.json")

# Entries whose optimized plan text is not a function of the code:
# with two or more distinct aggregates, Spark's RewriteDistinctAggregates
# orders the Expand's groups by a hash of expression ids, which differ
# between runs. Their analysis and build jobs are still checked.
_UNPINNED_PLANS = frozenset({"distinct_parts_per_brand"})

# Builders that fire Spark jobs by design while the DataFrame is built:
# model fits (k-means, PQ, PCA, BPE, unigram, langid, quality model,
# DSIR), iterative graph rounds and driver-side collects whose results
# the plan embeds. Every other entry's build is driver-side planning
# only: 0 jobs.
_EAGER_BUILDERS = frozenset({
    "ann_recall_report", "bloom_decontamination_probes",
    "bpe_merge_sequence", "doc_bpe_tokenization",
    "doc_unigram_tokenization", "dsir_selection_by_source",
    "dsir_selection_report", "embedding_pca_projection", "ivf_topk_pq",
    "ivf_topk_pq_portable", "ivf_topk_trained", "langid_nb_predictions",
    "near_dup_components", "near_dup_components_star",
    "part_entity_resolution", "pca_ivf_topk", "pyds_ticker_snapshot",
    "quality_model_weights", "retrieval_hits", "semantic_dedup_keepers",
    "supplier_purchase_pagerank"})

# The benchmark's corpus_dedup workload (perfbench/workloads.py).
_CORPUS_DEDUP = ("exact_dedup_docs", "doc_fingerprints",
                 "ngram_jaccard_near_dups", "minhash_near_dups",
                 "global_near_dup_pairs", "near_dup_edit_distances",
                 "cosine_topk_bruteforce", "ivf_topk_trained",
                 "bm25_search_topk")


def test_warm_rebuild_reuses_generated_classes(spark):
    """A second build-and-run round of the nine corpus_dedup entries
    finds its whole-stage classes in the generated-class cache
    (session.py sizes it). At Spark's default of 100 entries one round
    evicted its own classes and the second recompiled nearly all."""
    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    # AQE off for the two rounds: its run-time re-plans depend on the
    # order stages finish, and a new plan variant compiles new classes
    # (with AQE on, warm rounds recompiled 6 to 14 of 275 classes).
    # Static plans leave only what the cache itself keeps or evicts.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rounds = []
    try:
        for _ in range(2):
            before = compiles.getCount()
            for name in _CORPUS_DEDUP:
                with tracked_scope():
                    (_ALL[name].spark(spark, SF_SMALL)
                     .write.format("noop").mode("overwrite").save())
            rounds.append(compiles.getCount() - before)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert rounds[1] <= 0.05 * rounds[0], (
        f"classes compiled per round: {rounds}")


def test_every_registry_entry_analyzes(spark):
    # r14 (VERDICT r13 #2): analysis of independent plans is
    # JVM-side and thread-safe — overlap it (guide §2.6) instead of
    # resolving 190 plans one at a time. Same coverage, failures
    # still reported per name. 197 s -> ~45 s.
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    with open(_DIGESTS, encoding="utf-8") as fh:
        expected = json.load(fh)

    def one(item):
        name, q = item
        tag = f"analyze-{name}"
        sc.addJobTag(tag)   # thread-local, like the build below
        try:
            df = q.spark(spark, SF_SMALL)
            _ = df.schema  # forces full analysis/resolution, no execution
            digest = plan_digest(df)
        except Exception as exc:  # noqa: BLE001
            return name, (f"{type(exc).__name__}: "
                          f"{str(exc).splitlines()[0][:200]}"), None, 0
        finally:
            sc.removeJobTag(tag)
        # read right after the build, while the status store still
        # holds every job the build fired
        jsc.listenerBus().waitUntilEmpty(60_000)
        return name, None, digest, len(jsc.statusTracker()
                                       .getJobIdsForTag(tag))

    with ThreadPoolExecutor(max_workers=6) as pool:
        results = list(pool.map(one, sorted(_ALL.items())))
    failures = {name: err for name, err, _, _ in results if err}
    assert not failures, f"{len(failures)} queries fail analysis: {failures}"
    moved = sorted(name for name, _, digest, _ in results
                   if name not in _UNPINNED_PLANS
                   and expected.get(name) != digest)
    assert not moved, (
        f"optimized plans changed for {moved}; if on purpose, rerun "
        "tools/plan_digests.py with those names and list them in "
        "CHANGES.md")
    eager = {name: jobs for name, _, _, jobs in results
             if jobs and name not in _EAGER_BUILDERS}
    assert not eager, f"builds fired Spark jobs: {eager}"


def test_streaming_sources_analyze(spark, tmp_path):
    """Same guard for the streaming layer, which the registry doesn't
    cover: event-time ops reject TIMESTAMP_NTZ, so build a watermarked
    plan from each simulated source and force analysis."""
    from stockanalyses_downloader_spark.streaming.sources import (
        decode_kafka_ticks, file_tick_stream, kafka_tick_stream,
        rate_tick_stream)

    d = str(tmp_path)
    streams = {
        "file": file_tick_stream(spark, d),
        "kafka": decode_kafka_ticks(kafka_tick_stream(spark, d)),
        "rate": rate_tick_stream(spark),
    }
    failures: dict[str, str] = {}
    for name, s in streams.items():
        try:
            if dict(s.dtypes)["ts"] != "timestamp":
                # file/kafka carry the raw wire double-epoch ts;
                # event-time needs a real timestamp first
                import pyspark.sql.functions as F
                s = s.withColumn("ts", F.timestamp_seconds("ts"))
            _ = s.withWatermark("ts", "10 minutes").schema
        except Exception as exc:  # noqa: BLE001
            failures[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
    assert not failures, f"streaming analysis failures: {failures}"


def test_hash_embeddings_recover_exact_duplicates(spark, tmp_path):
    """Cross-tier integration: documents with identical TOKEN
    SEQUENCES get identical hashing-trick vectors (cosine exactly
    1), so the model-free text->vector bridge plugs straight into
    the dedup/ANN tier. The fixture corpus has no exact dups at
    sf0.001, so the dup structure is PLANTED into a temp sf_dir the
    query reads like any other (same loader path)."""
    from pyspark.sql import functions as F

    from stockanalyses_downloader_spark.queries.text_queries import (
        doc_hash_embeddings)

    rows = [
        (1, "spark table scan merge", "en", "s0"),
        (2, "spark  table   scan merge ", "en", "s1"),  # ws-normal dup of 1
        (3, "query window hash join filter", "en", "s0"),
        (4, "query window hash join filter", "fr", "s2"),  # dup of 3
        (5, "completely different tokens here", "en", "s0"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")         .withColumn("n_chars", F.length("text"))
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    emb = doc_hash_embeddings(spark, sf_dir)
    vecs: dict = {}
    for r in emb.collect():
        vecs.setdefault(r["doc_id"], {})[r["dim"]] = r["weight"]

    def cos(a, b):
        return sum(a.get(k, 0.0) * v for k, v in b.items())

    assert abs(cos(vecs[1], vecs[2]) - 1.0) < 1e-12
    assert abs(cos(vecs[3], vecs[4]) - 1.0) < 1e-12
    assert cos(vecs[1], vecs[5]) < 0.999
    assert cos(vecs[3], vecs[5]) < 0.999
