"""Persist-lifecycle sweep (VERDICT r3 #2).

Query-path operators persist() frames that feed multiple consumers;
the handles are tracked (caching.tracked_persist) and a harness that
runs many queries in one session releases them between queries
(caching.release_tracked — bench.py does this per headline query).
This sweep runs EVERY registry query in one session and pins the
contract: after each query's release, the session's persisted-RDD
count is back at the running floor — no cache accumulation across an
87-query sweep.

localCheckpoint blocks (graph.connected_components' lineage
truncation) are the documented exception: they HOLD the result data,
so their lifetime is the result frame's lifetime, and only the
end-of-session ``release_all`` reaches them. The sweep asserts that
exactly the known checkpointing queries raise the floor, and that
``release_all`` returns the session to zero persisted RDDs.
"""

from __future__ import annotations

from conftest import SF_SMALL

from stockanalyses_downloader_spark import caching
from stockanalyses_downloader_spark.queries import all_queries

# Queries whose operators localCheckpoint (graph.connected_components /
# dedup_keepers): the checkpoint RDD holds the component assignment and
# must survive the per-query release.
CHECKPOINTING = {
    "near_dup_components",
    "near_dup_components_star",
    "semantic_dedup_keepers",
    # BPE training localCheckpoints the vocab once per merge round
    "bpe_merge_sequence",
    "doc_bpe_tokenization",
    # PQ codebook training localCheckpoints the (model-sized) codebook
    # per Lloyd round — in ivf_topk_pq directly and inside
    # ann_recall_report's ivf_pq method row (r5)
    "ivf_topk_pq",
    "ivf_topk_pq_portable",     # r8: same per-round codebook blocks
    "ann_recall_report",
    "retrieval_hits",           # r12: composes the portable IVFADC
                                # serve (same per-round codebook +
                                # best-of-3 coarse checkpoints as
                                # ivf_topk_pq_portable) — it had
                                # ridden on GC timing: in the old
                                # registry order ContextCleaner frees
                                # of the portable run's blocks
                                # habitually offset its own, and the
                                # r12 rotation changed the adjacency
    # DSIR localCheckpoints the 4096-row LLR model once at fit (r8):
    # the block holds the model the scoring join reads
    "dsir_selection_report",
    # the per-source variant (r9) checkpoints the two model-sized
    # bucket aggregates (tc/rc) the grouped LLR derives from
    "dsir_selection_by_source",
    # PageRank localCheckpoints the rank table per power-iteration
    # round (r5b) — the checkpoint RDDs hold the final ranks
    "supplier_purchase_pagerank",
    # entity resolution runs connected components over match edges
    # (r5c) — same CC localCheckpoint blocks as near_dup_components
    "part_entity_resolution",
}


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _sweep_names() -> list[str]:
    """Which queries the lifecycle sweep materializes. Default: every
    bench-timed query (HEADLINE + EXTENDED — the 57 cells whose
    persist lifecycle the perf harness actually depends on) plus
    every CHECKPOINTING query (the documented floor-raisers must stay
    exercised or the floor logic itself rots). SPARK_GRAFT_FULL_SWEEPS=1
    restores the full 190-query sweep — the builder's closing ritual
    and CI run it; plain `pytest tests/` keeps the driver-verify wall
    bounded (r14, VERDICT r13 #2: the full sweep alone was 213 s of a
    35-min suite the driver could not finish)."""
    import os
    allq = all_queries()
    if os.environ.get("SPARK_GRAFT_FULL_SWEEPS"):
        return list(allq)
    # default subset: every CHECKPOINTING query plus one-or-two
    # representatives per tracked_persist-using operator family
    # (dedup, prefix-jaccard, bm25, bloom, forget, IVF/kmeans, ANN
    # misc, quality/AUC, sketches, co-purchase/graph, KN, splits,
    # CDC merge) — the queries that can actually leak cache blocks.
    # Window/scan-only cells carry no persist lifecycle and only cost
    # sweep wall.
    keep = [
        "minhash_near_dups", "ngram_jaccard_near_dups",
        "global_near_dup_pairs", "exact_dedup_docs",
        "doc_fingerprints", "dedup_passages_rebuild",
        "near_dup_edit_distances", "bm25_search_topk",
        "bloom_decontamination_probes", "forget_cascade_report",
        "ivf_topk_trained", "hard_negative_mining",
        "cosine_topk_bruteforce", "quality_model_auc",
        "token_countmin_sketch", "lang_token_hll_grid",
        "copurchase_lift", "copurchase_triangles",
        "split_leakage_repair", "doc_kn_perplexity",
        "bigram_kn_probs", "embedding_covariance",
        "user_profile_merged", "tick_rolling_indicators",
    ]
    # a renamed representative must fail loudly, not drop out of the
    # sweep
    missing = sorted(set(keep) - set(allq))
    assert not missing, f"sweep representatives not in registry: {missing}"
    # checkpointing representatives: every checkpoint SITE (CC loop,
    # star CC, BPE vocab rounds, DSIR model, grouped DSIR, linkage CC)
    # exercised through its cheapest query; the expensive composites
    # over the SAME sites (ann_recall_report, retrieval_hits, the
    # ivf_pq pair, pagerank — ~90 s of sf0.001 training wall between
    # them) run under SPARK_GRAFT_FULL_SWEEPS=1 only.
    gated_heavy = {"ann_recall_report", "retrieval_hits", "ivf_topk_pq",
                   "ivf_topk_pq_portable", "supplier_purchase_pagerank"}
    keep += sorted(set(CHECKPOINTING) - set(keep) - gated_heavy)
    return keep


def test_registry_sweep_cache_returns_to_baseline(spark):
    caching.release_all(spark)
    assert _n_persistent(spark) == 0

    floor = 0
    leaked: dict[str, int] = {}
    allq = all_queries()
    for name in _sweep_names():
        q = allq[name]
        q.spark(spark, SF_SMALL).write.format("noop").mode("overwrite").save()
        caching.release_tracked()
        now = _n_persistent(spark)
        if now > floor:
            if name in CHECKPOINTING:
                floor = now  # checkpoint blocks live until release_all
            else:
                leaked[name] = now - floor
                floor = now
        elif now < floor:
            floor = now  # ContextCleaner freed earlier checkpoints — fine
    assert not leaked, f"queries leaking cached blocks: {leaked}"

    # end-of-session full release reaches the checkpoint blocks too
    caching.release_all(spark)
    assert _n_persistent(spark) == 0


def test_tracked_scope_releases_only_its_own(spark):
    """ADVICE r4: tracked_scope() unpersists exactly the frames
    persisted inside its block — an outer tracked frame survives and
    stays cached; the registry shrinks back to its pre-scope length."""
    from stockanalyses_downloader_spark import caching

    outer = caching.tracked_persist(spark.range(100))
    outer.count()
    before = len(caching._TRACKED)
    with caching.tracked_scope():
        inner = caching.tracked_persist(spark.range(200))
        inner.count()
        assert len(caching._TRACKED) == before + 1
        assert inner.storageLevel.useMemory
    assert len(caching._TRACKED) == before
    assert not inner.storageLevel.useMemory     # released by the scope
    assert outer.storageLevel.useMemory          # untouched
    caching.release_tracked()
    assert not outer.storageLevel.useMemory


def test_tracked_scope_leaves_other_threads_frames(spark):
    """A scope releases only the frames its own thread registered
    inside it: a frame that another thread persists while the scope is
    open stays persisted and tracked when the scope exits, and
    concurrent scope exits lose no other thread's registration. Runs
    no Spark job (persist is lazy; unpersist of an unmaterialized
    frame only drops the registration)."""
    import threading

    b_in_scope, a_persisted = threading.Event(), threading.Event()
    b_persisted, a_exited = threading.Event(), threading.Event()
    frames, errors = {}, []

    def thread_b():
        try:
            with caching.tracked_scope():
                b_in_scope.set()
                assert a_persisted.wait(30)
                frames["b"] = caching.tracked_persist(spark.range(4))
                b_persisted.set()
                assert a_exited.wait(30)
                frames["b_level"] = frames["b"].storageLevel.useMemory
                frames["b_tracked"] = any(
                    df is frames["b"] for df in caching._TRACKED)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)
            b_persisted.set()

    tb = threading.Thread(target=thread_b)
    tb.start()
    assert b_in_scope.wait(30)
    with caching.tracked_scope():
        a = caching.tracked_persist(spark.range(3))
        a_persisted.set()
        assert b_persisted.wait(30)
    a_exited.set()
    tb.join(30)
    assert not tb.is_alive()
    assert not errors, errors
    assert not a.storageLevel.useMemory          # A's scope released it
    assert frames["b_level"] and frames["b_tracked"]
    assert not any(df is frames["b"] for df in caching._TRACKED)

    # Stress: more threads than cores, fine-grained switching. Scoped
    # threads rewrite the registry on exit while unscoped threads
    # append to it; a lost append would drop an unscoped frame.
    import sys
    scoped, unscoped = [], []

    def worker(i):
        try:
            if i % 2:
                for _ in range(3):
                    unscoped.append(caching.tracked_persist(spark.range(i)))
            else:
                with caching.tracked_scope():
                    for _ in range(3):
                        scoped.append(caching.tracked_persist(spark.range(i)))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    tracked = {id(df) for df in caching._TRACKED}
    assert all(id(df) in tracked for df in unscoped)
    assert not any(id(df) in tracked for df in scoped)
    caching.release_tracked()
