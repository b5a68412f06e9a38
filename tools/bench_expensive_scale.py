#!/usr/bin/env python3
"""Scale curves for the expensive-tier queries (VERDICT r5 #4/#6):
blow each query's input up 1x/10x/30x with DISJOINT synthetic copies
(ids offset per copy, so the workload grows in DATA VOLUME with the
same per-key density — the "would this survive 100x" axis) and record
wall + input/output volumes. Sub-linear wall growth per input row
proves the plan is stage-count-bound, not data-bound, at fixture
scale; anything super-linear flags a quadratic stage.

Covered (the >2 s tier of BENCH_r05):
  global_near_dup_pairs   PPJoin prefix+position filtered Jaccard join
                          (near-dup copies — the adversarial blow-up:
                          every copy is a real near-dup of its source,
                          so verified pair volume grows QUADRATICALLY
                          in the clique factor while wall must not)
  copurchase_triangles    support-thresholded degree-oriented wedges
  copurchase_lift         basket-blocked pair counts + lift
  token_countmin_sketch   bounded-grid frequency sketch
  part_entity_resolution  blocked Fellegi-Sunter linkage + closure

Usage:
    python tools/bench_expensive_scale.py                # all, 1 10 30
    python tools/bench_expensive_scale.py triangles 1 10 # one query
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from stockanalyses_downloader_spark.operators import dedup, graph, linkage, sketches
from stockanalyses_downloader_spark.session import get_session
from stockanalyses_downloader_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _copies(df, factor: int, shift_cols: dict[str, int],
            suffix_cols: tuple[str, ...] = ()):
    """factor-1 disjoint copies: each ``shift_cols`` column is offset
    by copy_index * its shift constant, each ``suffix_cols`` string
    column gets a per-copy ``_<i>`` suffix (disjoint key/block
    values), everything else rides along. The ONE blow-up helper —
    every scale bench routes through it (r7c review fix: three
    hand-rolled variants of this pattern had accumulated)."""
    if factor <= 1:
        return df
    c = F.col("__c")
    shifted = []
    for col in df.columns:
        if col in shift_cols:
            shifted.append((F.col(col) + c * shift_cols[col]).alias(col))
        elif col in suffix_cols:
            shifted.append(F.concat(F.col(col), F.lit("_"),
                                    c.cast("string")).alias(col))
        else:
            shifted.append(col)
    copies = (df.crossJoin(F.broadcast(
                  df.sparkSession.range(1, factor)
                  .select(F.col("id").alias("__c"))))
              .select(*shifted))
    return df.unionByName(copies)


def bench_global_near_dups(spark, factor: int) -> dict:
    from tools.bench_dedup_scale import blow_up
    base = load_table(spark, SF_DIR, "documents")
    corpus = blow_up(base, factor)
    n = corpus.count()
    t0 = time.perf_counter()
    pairs = dedup.jaccard_pairs_prefix_filter(corpus, n=3, threshold=0.5)
    n_out = pairs.count()
    return {"query": "global_near_dup_pairs", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_global_near_dups_disjoint(spark, factor: int) -> dict:
    """PPJoin on the DISJOINT blow-up axis (VERDICT r12 #5: the
    biggest bench resident re-curved at 1x/10x/100x post-recompute-
    audit). scale_common.blow_up_docs gives per-copy word prefixes, so
    shingle vocabularies are disjoint across copies: candidate volume
    and verified pairs grow LINEARLY with the corpus — the pure
    data-volume axis, complementary to bench_global_near_dups'
    adversarial clique axis (quadratic output by construction)."""
    from tools.scale_common import blow_up_docs
    base = load_table(spark, SF_DIR, "documents")
    corpus = blow_up_docs(base, factor)
    n = corpus.count()
    t0 = time.perf_counter()
    pairs = dedup.jaccard_pairs_prefix_filter(corpus, n=3, threshold=0.5)
    n_out = pairs.count()
    return {"query": "global_near_dup_pairs[disjoint]",
            "factor": factor, "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def _lineitem_copies(spark, factor: int):
    li = load_table(spark, SF_DIR, "lineitem") \
        .select("l_orderkey", "l_partkey")
    return _copies(li, factor, {"l_orderkey": 100_000_000,
                                "l_partkey": 100_000_000})


def bench_triangles(spark, factor: int) -> dict:
    op = _lineitem_copies(spark, factor).distinct()
    n = op.count()
    t0 = time.perf_counter()
    a = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pb"))
    edges = (a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
             .groupBy("pa", "pb").agg(F.count("*").alias("c"))
             .filter(F.col("c") >= 2).select("pa", "pb"))
    out = graph.triangle_counts(edges, "pa", "pb")
    n_out = out.count()
    return {"query": "copurchase_triangles", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_lift(spark, factor: int) -> dict:
    op = _lineitem_copies(spark, factor).distinct()
    n = op.count()
    t0 = time.perf_counter()
    a = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("part_b"))
    pairs = (a.join(b, "ok").filter(F.col("part_a") < F.col("part_b"))
             .groupBy("part_a", "part_b")
             .agg(F.count("*").alias("n_both"))
             .filter(F.col("n_both") >= 3))
    n_out = pairs.count()
    return {"query": "copurchase_lift", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_countmin(spark, factor: int) -> dict:
    from stockanalyses_downloader_spark.operators.dedup import spread
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = _copies(d, factor, {"doc_id": 10_000_000})
    n = corpus.count()
    t0 = time.perf_counter()
    # spread the in-plan blow-up before the CPU-heavy explode (r10:
    # production scans arrive in thousands of splits; the broadcast
    # blow-up arrives at the base file's width and would serialize
    # the token stream onto 1-2 cores — measured 187 s unspread vs
    # 8.95 s spread at the 100x cell)
    toks = spread(corpus).select(F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"))
    grid = sketches.countmin_build(toks, "token")
    n_out = grid.count()
    return {"query": "token_countmin_sketch", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_entity_resolution(spark, factor: int) -> dict:
    p = load_table(spark, SF_DIR, "part") \
        .select("p_partkey", "p_name", "p_type")
    cat = _copies(p, factor, {"p_partkey": 100_000_000})
    n = cat.count()
    t0 = time.perf_counter()
    blk = F.element_at(F.split(F.col("p_name"), " "), -1)
    out = linkage.resolve_entities(cat, "p_partkey", blk, "p_name",
                                   agree_col="p_type",
                                   threshold=0.8, w_name=0.7)
    n_out = out.count()
    return {"query": "part_entity_resolution", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_index_probe(spark, factor: int) -> dict:
    """Probe cost vs CORPUS size at a FIXED delta: build the at-rest
    LSH index on the blown-up corpus (outside the timer — that's the
    nightly build), then time probing a constant 100-doc delta. A
    delta-proportional probe shows near-flat wall as the corpus grows;
    corpus-proportional work would scale with the factor."""
    import tempfile

    from tools.bench_dedup_scale import blow_up
    base = load_table(spark, SF_DIR, "documents")
    corpus = blow_up(base, factor)
    n = corpus.count()
    path = tempfile.mkdtemp() + "/mh_idx"
    dedup.save_minhash_index(corpus, path)
    delta = (base.limit(100)
             .select((F.col("doc_id") + 500_000_000).alias("doc_id"),
                     F.concat("text", F.lit(" zz")).alias("text"),
                     "lang", "source", "n_chars"))
    t0 = time.perf_counter()
    pairs = dedup.probe_minhash_index(spark, path, delta, threshold=0.3)
    n_out = pairs.count()
    return {"query": "probe_minhash_index", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def _doc_copies_disjoint_blocks(spark, factor: int):
    """factor-1 copies of documents in DISJOINT (lang, source) blocks
    (source suffixed per copy): per-block density stays constant while
    volume grows — the clean "more data, same shape" axis for the
    block-keyed near-dup machinery (blow_up's same-block near-dup
    clique is the adversarial axis, covered by bench_global).

    spread() before returning (r10): the broadcast blow-up arrives at
    the base file's width; production corpora arrive in thousands of
    splits. Without it, consumers' gram/pretoken explodes serialize
    onto 1-2 cores and the measured slopes are the starvation's, not
    the operator's (the countmin cell measured that at 21x)."""
    from stockanalyses_downloader_spark.operators.dedup import spread
    d = load_table(spark, SF_DIR, "documents")
    return spread(_copies(d, factor, {"doc_id": 10_000_000},
                          suffix_cols=("source",)))


def bench_split_leakage(spark, factor: int) -> dict:
    # injected-corpus body of the registered query (r7c review fix:
    # a hand-inlined copy here could silently drift from the query's
    # parameters — same seam as bloom_decon_report below)
    from stockanalyses_downloader_spark.queries.similarity_queries import (
        leakage_report)
    corpus = _doc_copies_disjoint_blocks(spark, factor)
    n = corpus.count()
    t0 = time.perf_counter()
    out = leakage_report(corpus)
    n_out = out.agg(F.sum("n_near_dup_pairs")).collect()[0][0] or 0
    return {"query": "split_leakage_report", "factor": factor,
            "rows_in": n, "rows_out": int(n_out),
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_bloom_decon(spark, factor: int) -> dict:
    from stockanalyses_downloader_spark.queries.text_queries import (
        bloom_decon_report)
    from tools.bench_dedup_scale import blow_up
    base = load_table(spark, SF_DIR, "documents")
    corpus = blow_up(base, factor)
    n = corpus.count()
    t0 = time.perf_counter()
    out = bloom_decon_report(corpus)
    n_out = out.count()
    return {"query": "bloom_decontamination_probes", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_anomalies(spark, factor: int) -> dict:
    """Blown-up tick feed: factor-1 copies under DISJOINT isin keys —
    more instruments at the same per-instrument tick density, the
    shape a partitioned trailing window must scale linearly in."""
    from stockanalyses_downloader_spark.operators import indicators
    from stockanalyses_downloader_spark.queries import reference_queries
    from stockanalyses_downloader_spark.sources import synthetic

    t = reference_queries.pipeline.validate_http(
        synthetic.ticks(spark, SF_DIR))
    t = _copies(t, factor, {"tick_id": 100_000_000},
                suffix_cols=("isin",))
    n = t.count()
    t0 = time.perf_counter()
    out = indicators.with_anomaly_zscores(
        t, price_col="last_price", key="isin", ts="ts",
        tiebreak="tick_id", n=12, z_thresh=2.5)
    # count() alone lets Catalyst PRUNE the window (row count is
    # window-invariant); counting the zscore column forces the
    # trailing-frame computation the curve is supposed to measure
    row = out.agg(F.count("zscore").alias("nz"),
                  F.count("*").alias("n")).collect()[0]
    n_out = row["n"]
    return {"query": "tick_price_anomalies", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_forget(spark, factor: int) -> dict:
    """GDPR cascade audit at a blown-up 4-table graph (r13
    optimization round §11's scale leg): disjoint copies shift every
    FK consistently (custkeys by a multiple of 13, so the
    c_custkey % 13 == 0 subject density is copy-invariant; orderkeys
    by their own constant), making each copy an independent cascade —
    subjects, doomed sets and the (dropped, kept) splits all grow
    linearly in the factor. What the curve adjudicates: the audit's
    table reads are the data-bound cost; the persisted doomed sets +
    one-scan conditional-aggregate audit must hold the read count at
    O(tables), not O(tables × legs × depth)."""
    from stockanalyses_downloader_spark.operators import forget
    shifts = {
        "customer": {"c_custkey": 13_000_000},
        "orders": {"o_custkey": 13_000_000, "o_orderkey": 100_000_000},
        "lineitem": {"l_orderkey": 100_000_000},
        "events": {"user_id": 13_000_000},
    }
    tables = {n: _copies(load_table(spark, SF_DIR, n), factor, shifts[n])
              for n in shifts}
    n = sum(tables[t].count() for t in tables)
    t0 = time.perf_counter()
    subjects = (tables["customer"]
                .filter(F.col("c_custkey") % 13 == 0)
                .select("c_custkey"))
    edges = [
        forget.FkEdge("orders", "o_custkey", "customer", "c_custkey",
                      child_pk="o_orderkey"),
        forget.FkEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
        forget.FkEdge("events", "user_id", "customer", "c_custkey"),
    ]
    doomed = forget.doomed_keys(tables, "customer", "c_custkey",
                                subjects, edges)
    key_cols = {"customer": "c_custkey", "orders": "o_orderkey",
                "lineitem": "l_orderkey", "events": "user_id"}
    rep = forget.audit(tables, doomed, key_cols).collect()
    n_dropped = sum(r["n_dropped"] for r in rep)
    return {"query": "forget_cascade_report", "factor": factor,
            "rows_in": n, "rows_out": int(n_dropped),
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_trained_ivf(spark, factor: int) -> dict:
    """Full fit+serve trained-ANN path at a blown-up corpus: kmeans
    (3 Lloyd rounds — one scan each) + IVF probe/rerank for 5 queries.
    Disjoint id copies keep the same geometry, so list sizes grow with
    the corpus while the model stays 16 rows; wall should track the
    per-iteration scans (linear-ish), never the corpus^2."""
    from stockanalyses_downloader_spark.operators import similarity
    e = load_table(spark, SF_DIR, "embeddings")
    corpus = _copies(e.select("vec_id", "embedding"), factor,
                     {"vec_id": 10_000_000})
    n = corpus.count()
    t0 = time.perf_counter()
    cent = similarity.kmeans_centroids(corpus, k=16, n_iter=3)
    out = similarity.ivf_topk(corpus, [0, 1, 2, 3, 4], k=10,
                              centroids=cent)
    n_out = out.count()
    return {"query": "ivf_topk_trained", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}



def bench_dsir(spark, factor: int) -> dict:
    """DSIR fit+score at a blown-up corpus (disjoint-block copies:
    same target sources, factor-1x more raw docs to model and score),
    in the registry query's single-pass shape: one corpus gram explode
    aggregated to per-(doc, bucket) counts and persisted; the fit and
    the scoring both read it. The model is a fixed 4096-row grid
    whatever the corpus, so wall must track that one corpus pass —
    linear, never corpus^2."""
    from stockanalyses_downloader_spark.caching import tracked_persist
    from stockanalyses_downloader_spark.operators import dsir
    from stockanalyses_downloader_spark.queries.text_queries import (
        _DSIR_KEEP_FRACTION, _DSIR_TARGET_SOURCES)
    corpus = _doc_copies_disjoint_blocks(spark, factor)
    n = corpus.count()
    t0 = time.perf_counter()
    is_target = F.col("source").isin(list(_DSIR_TARGET_SOURCES))
    occ = tracked_persist(
        dsir.doc_gram_bucket_counts(corpus, carry_cols=("source",)))
    llr = dsir.dsir_bucket_llr(occ, is_target)
    scored = (dsir.dsir_scores_from_occ(occ.filter(~is_target), llr)
              .join(corpus.select("doc_id", "source"), "doc_id"))
    out = dsir.dsir_select(scored, _DSIR_KEEP_FRACTION, ["source"])
    n_out = out.filter(F.col("kept")).count()
    return {"query": "dsir_selection_report", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_dsir_by_source(spark, factor: int) -> dict:
    """Domain-conditional DSIR at a blown-up corpus: same
    disjoint-block axis and single-pass shape as bench_dsir, but the
    model is sources × 4096 rows — the copies ADD sources, so the
    model grows with the blow-up factor while staying broadcast-sized
    (30x = ~90 sources = 368k small rows); scoring stays one
    doc-keyed shuffle. Wall should track the corpus gram pass, linear
    like the pooled curve."""
    from stockanalyses_downloader_spark.caching import tracked_persist
    from stockanalyses_downloader_spark.operators import dsir
    from stockanalyses_downloader_spark.queries.text_queries import (
        _DSIR_KEEP_FRACTION, _DSIR_TARGET_SOURCES)
    corpus = _doc_copies_disjoint_blocks(spark, factor)
    n = corpus.count()
    t0 = time.perf_counter()
    is_target = F.col("source").isin(list(_DSIR_TARGET_SOURCES))
    occ = tracked_persist(
        dsir.doc_gram_bucket_counts(corpus, carry_cols=("source",)))
    llr = dsir.dsir_bucket_llr_by_group(occ, is_target, group_col="source")
    scored = dsir.dsir_scores_by_group_from_occ(
        occ.filter(~is_target), llr, group_col="source")
    out = dsir.dsir_select(scored, _DSIR_KEEP_FRACTION, ["source"])
    n_out = out.filter(F.col("kept")).count()
    return {"query": "dsir_selection_by_source", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_bpe_tokenization(spark, factor: int) -> dict:
    """BPE fit+encode at a blown-up corpus (VERDICT r8 #5): the
    trainer's 16 merge rounds are VOCAB-keyed (each round aggregates
    the distinct-pretoken table, never per-doc), and the encoder
    memoizes the merge walk over distinct pretokens then fans back to
    docs with a broadcast-ish join — so wall should track the pretoken
    scan (linear in fresh text volume), never corpus^2. Disjoint-block
    copies add NEW sources with the same text distribution; the
    distinct-pretoken table grows sub-linearly (suffixed sources share
    the vocabulary), which is exactly the production shape."""
    from stockanalyses_downloader_spark.operators import bpe
    corpus = _doc_copies_disjoint_blocks(spark, factor)
    n = corpus.count()
    t0 = time.perf_counter()
    merges = [(r["sym_left"], r["sym_right"])
              for r in bpe.learn_bpe_merges(corpus, n_merges=16).collect()]
    out = bpe.tokenize_with_merges(corpus, merges)
    n_out = out.count()
    return {"query": "doc_bpe_tokenization", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_funnel(spark, factor: int) -> dict:
    """Conversion funnel at a blown-up event log: factor-1 copies
    under DISJOINT user ids — more users at the same per-user event
    density. Every stage is a user-keyed conditional aggregate chained
    on its predecessor's timestamp, so the whole chain co-partitions
    on user_id and wall should track the event scans (flat-ish per
    unit), never users^2."""
    from stockanalyses_downloader_spark.sources.tables import load_table as lt
    ev = lt(spark, SF_DIR, "events").select("user_id", "event_type", "ts")
    ev = _copies(ev, factor, {"user_id": 100_000_000})
    n = ev.count()
    t0 = time.perf_counter()
    t1 = (ev.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min("ts").alias("signup_ts")))
    t2 = (ev.filter(F.col("event_type") == "click")
          .join(t1, "user_id")
          .filter(F.col("ts") > F.col("signup_ts"))
          .groupBy("user_id", "signup_ts")
          .agg(F.min("ts").alias("click_ts")))
    t3 = (ev.filter(F.col("event_type") == "purchase")
          .join(t2, "user_id")
          .filter(F.col("ts") > F.col("click_ts"))
          .groupBy("user_id", "click_ts")
          .agg(F.min("ts").alias("purchase_ts")))
    out = (t1.join(t2.select("user_id", "click_ts"), "user_id", "left")
           .join(t3.select("user_id", "purchase_ts"), "user_id", "left"))
    n_out = out.count()
    return {"query": "signup_conversion_funnel", "factor": factor,
            "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_ngram_exact_t03(spark, factor: int) -> dict:
    """The exact twin of bench_ngram_routed — same threshold (0.3),
    same in-plan adversarial blow-up, max_block_size OFF — so the
    routed-vs-exact comparison is apples-to-apples (the headline
    exact curve runs threshold 0.5 on MATERIALIZED copies; neither
    axis matches the routed cell)."""
    from tools.bench_dedup_scale import blow_up
    base = load_table(spark, SF_DIR, "documents")
    corpus = blow_up(base, factor)
    n = corpus.count()
    t0 = time.perf_counter()
    pairs = dedup.ngram_jaccard_pairs(corpus, ["lang", "source"], n=3,
                                      threshold=0.3)
    n_out = pairs.count()
    return {"query": "ngram_jaccard_near_dups[exact@t0.3]",
            "factor": factor, "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


def bench_ngram_routed(spark, factor: int) -> dict:
    """ngram_jaccard with max_block_size ROUTING ON (VERDICT r9 #5):
    the same adversarial near-dup blow-up as the headline scale tier,
    but blocks above the cap route to banded MinHash-LSH instead of
    the exact self-join — the production switch for hot blocks. The
    curve quantifies what the routed path's slope buys vs the exact
    path's measured 30x -> 7.75x wall."""
    from tools.bench_dedup_scale import blow_up
    base = load_table(spark, SF_DIR, "documents")
    corpus = blow_up(base, factor)
    n = corpus.count()
    t0 = time.perf_counter()
    pairs = dedup.ngram_jaccard_pairs(corpus, ["lang", "source"], n=3,
                                      threshold=0.3,
                                      max_block_size=2000)
    n_out = pairs.count()
    return {"query": "ngram_jaccard_near_dups[routed@2000]",
            "factor": factor, "rows_in": n, "rows_out": n_out,
            "wall_s": round(time.perf_counter() - t0, 2)}


BENCHES = {
    "global": bench_global_near_dups,
    # r13 (VERDICT r12 #5): the disjoint (linear-output) PPJoin axis
    "global_disjoint": bench_global_near_dups_disjoint,
    "triangles": bench_triangles,
    "lift": bench_lift,
    "countmin": bench_countmin,
    "er": bench_entity_resolution,
    "probe": bench_index_probe,
    # r7 additions (VERDICT r6 #6): the remaining >2 s bench tier
    "leakage": bench_split_leakage,
    "bloom": bench_bloom_decon,
    "anomalies": bench_anomalies,
    # r7c: the trained-ANN path promoted into the bench tier
    "trained_ivf": bench_trained_ivf,
    # r13 optimization round §11: the cascade-audit scale leg
    "forget": bench_forget,
    # r8: DSIR joins the >2 s bench tier
    "dsir": bench_dsir,
    # r9 (VERDICT r8 #5): the last never-curved >1.5 s residents
    "bpe": bench_bpe_tokenization,
    # r9: the new domain-conditional DSIR bench resident
    "dsir_by_source": bench_dsir_by_source,
    # r10 (VERDICT r9 #4/#5): the last never-curved >2 s residents +
    # the hot-block-routed ngram path
    "funnel": bench_funnel,
    "ngram_routed": bench_ngram_routed,
    "ngram_exact": bench_ngram_exact_t03,
}


def main() -> None:
    args = sys.argv[1:]
    names = [a for a in args if not a.isdigit()] or list(BENCHES)
    factors = [int(a) for a in args if a.isdigit()] or [1, 10, 30]
    # Median-of-N mode (r10, VERDICT r9 #2's telemetry lesson applied
    # here too): single-run cells on this harness carry the ±20 %
    # variance band the dsir 30x cell documented (42 vs 52 s). With
    # SPARK_GRAFT_SCALE_ITERS=N each cell runs N times and reports the
    # median wall plus the raw samples, so a curve's slope claims rest
    # on dispersion-aware numbers.
    n_iter = max(1, int(os.environ.get("SPARK_GRAFT_SCALE_ITERS", "1")))
    spark = get_session("expensive-scale")
    # canary contract (VERDICT r12 #3): one sample before every cell,
    # per-cell canary_t in the run row, the run block in the summary —
    # a curve's slope claim adjudicates its own load from the record
    from scale_common import Canary
    from stockanalyses_downloader_spark.caching import release_tracked
    canary = Canary(spark)
    results = []
    for name in names:
        for f in factors:
            c = canary.sample(f"{name}@{f}x")
            samples = []
            for _ in range(n_iter):
                samples.append(BENCHES[name](spark, f))
                release_tracked()   # each sample stands alone
            r = dict(samples[len(samples) // 2])  # carry rows from one run
            walls = sorted(s["wall_s"] for s in samples)
            r["wall_s"] = walls[len(walls) // 2] if n_iter % 2 else round(
                (walls[n_iter // 2 - 1] + walls[n_iter // 2]) / 2, 2)
            if n_iter > 1:
                r["wall_samples"] = [s["wall_s"] for s in samples]
            r["canary_t"] = c["t"]
            results.append(r)
            print(json.dumps(r))
    canary.sample("run_end")
    cmin = min(s["t"] for s in canary.samples)
    for r in results:
        r["load_factor"] = round(r["canary_t"] / cmin, 3)
    print(json.dumps({"metric": "expensive_scale_curves",
                      "runs": results, "canary": canary.block()}))


if __name__ == "__main__":
    main()
