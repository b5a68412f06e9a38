"""DSIR importance resampling (operators/dsir.py): planted-semantics
pins (target-like docs outrank off-target docs), per-partition keep
accounting, and the no-global-sort guard. The cross-engine hash
certification lives in the registry sweep (dsir_selection_report)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stockanalyses_downloader_spark.operators import dsir


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, "
                                       "text string")


def _occ(target, raw, n_buckets=dsir.N_BUCKETS):
    """One corpus frame (target + raw) as per-(doc, source, bucket)
    occurrence counts, the input every DSIR fit reads; the target rows
    are the ones whose source is "t"."""
    return dsir.doc_gram_bucket_counts(target.unionByName(raw),
                                       n_buckets=n_buckets,
                                       carry_cols=("source",))


def _is_target():
    return F.col("source") == "t"


def test_target_like_docs_score_higher(spark):
    target = _docs(spark, [
        (1, "t", "alpha beta gamma delta alpha beta"),
        (2, "t", "beta gamma alpha delta gamma"),
    ])
    raw = _docs(spark, [
        (10, "r", "alpha beta gamma delta"),          # target-like
        (11, "r", "zonk quux blarg frobnicate wibble"),  # off-target
        (12, "r", "alpha beta zonk quux"),            # mixed
    ])
    llr = dsir.dsir_bucket_llr(_occ(target, raw), _is_target())
    got = {r["doc_id"]: r["score"] for r in
           dsir.dsir_scores(raw, llr).collect()}
    assert got[10] > got[12] > got[11]


def test_select_keeps_top_fraction_per_partition(spark):
    scores = spark.createDataFrame(
        [(i, "s%d" % (i % 2), 10, float(i)) for i in range(16)],
        "doc_id long, source string, n_grams long, score double")
    sel = dsir.dsir_select(scores, 0.25, ["source"]).collect()
    kept = {r["doc_id"] for r in sel if r["kept"]}
    # 8 docs per source, keep floor(8*0.25)=2 — the 2 highest scores
    # in each parity class
    assert kept == {15, 13, 14, 12}
    for r in sel:
        assert r["kept"] == (r["rank"] <= 2)


def test_select_keeps_at_least_one(spark):
    scores = spark.createDataFrame(
        [(1, "only", 5, 0.5), (2, "only", 5, 0.4)],
        "doc_id long, source string, n_grams long, score double")
    sel = dsir.dsir_select(scores, 0.01, ["source"]).collect()
    assert sum(1 for r in sel if r["kept"]) == 1
    assert next(r for r in sel if r["kept"])["doc_id"] == 1


def test_select_refuses_global_sort(spark):
    scores = spark.createDataFrame([(1, 5, 0.5)],
                                   "doc_id long, n_grams long, score double")
    with pytest.raises(ValueError, match="partition_cols"):
        dsir.dsir_select(scores, 0.5, [])


def test_null_text_docs_score_like_empty(spark):
    """ADVICE r8: NULL-text docs must not vanish — they coalesce to ''
    and score exactly like an empty-text doc (one ''-unigram), so they
    appear in scoring AND in dsir_select's per-partition denominator."""
    target = _docs(spark, [(1, "t", "alpha beta")])
    raw = _docs(spark, [(10, "r", None), (11, "r", ""), (12, "r", "   "),
                        (13, "r", "alpha beta")])
    llr = dsir.dsir_bucket_llr(_occ(target, raw), _is_target())
    got = {r["doc_id"]: (r["n_grams"], r["score"]) for r in
           dsir.dsir_scores(raw, llr).collect()}
    assert set(got) == {10, 11, 12, 13}          # nobody dropped
    assert got[10] == got[11] == got[12]          # NULL == '' == blank
    assert got[10][0] == 1                        # the single ''-unigram


def test_per_source_model_selects_differently_from_pooled(spark):
    """The planted two-domain flip (VERDICT r8 #3): gram g1 is COMMON
    inside source A but target-preferred overall; gram g2 is rare in A.
    The pooled model ranks A's g1-docs first (g1 beats g2 globally);
    the per-source model learns that g1 is mere background inside A
    and flips the ranking — selecting a DIFFERENT doc from the same
    source under the same keep fraction."""
    # single-token docs => unigrams only, so the math is exact:
    # target: g1 x2, g2 x1.  raw A: g1 x3, g2 x1.  raw B: g2 x3, g1 x1.
    target = _docs(spark, [(1, "t", "aardvark"), (2, "t", "aardvark"),
                           (3, "t", "bobcat")])
    raw = _docs(spark, [
        (10, "A", "aardvark"), (11, "A", "bobcat"),
        (12, "A", "aardvark"), (13, "A", "aardvark"),
        (20, "B", "bobcat"), (21, "B", "bobcat"),
        (22, "B", "bobcat"), (23, "B", "aardvark"),
    ])
    occ = _occ(target, raw)
    # pooled: raw counts are g1 x4 == g2 x4, target prefers g1
    # => within A the g1-docs outrank doc 11; keep floor(4*.25)=1 => 10
    pooled = dsir.dsir_scores(raw, dsir.dsir_bucket_llr(occ, _is_target()))
    pooled = pooled.join(raw.select("doc_id", "source"), "doc_id")
    kept_pooled = {r["doc_id"] for r in
                   dsir.dsir_select(pooled, 0.25, ["source"]).collect()
                   if r["kept"] and r["source"] == "A"}
    assert kept_pooled == {10}
    # per-source: inside A, p_rawA(g1)=3/4 >> p_target(g1) => llr_A(g1)
    # < 0 < llr_A(g2); the rare-in-A g2 doc wins the same slot
    by_src = dsir.dsir_scores_by_group_from_occ(
        occ.filter(~_is_target()),
        dsir.dsir_bucket_llr_by_group(occ, _is_target()))
    kept_by_src = {r["doc_id"] for r in
                   dsir.dsir_select(by_src, 0.25, ["source"]).collect()
                   if r["kept"] and r["source"] == "A"}
    assert kept_by_src == {11}


def test_grouped_model_is_groups_x_buckets(spark):
    """The grouped model is exactly n_groups x n_buckets rows — the
    broadcast bound that keeps per-source scoring one shuffle."""
    target = _docs(spark, [(1, "t", "a b c")])
    raw = _docs(spark, [(2, "A", "x y"), (3, "B", "p q"),
                        (4, "C", "r s")])
    llr = dsir.dsir_bucket_llr_by_group(_occ(target, raw, n_buckets=32),
                                        _is_target(), n_buckets=32)
    assert llr.count() == 3 * 32
    assert llr.filter(F.col("llr").isNull()).count() == 0


def test_llr_model_is_bucket_bounded(spark):
    """The model is exactly n_buckets rows regardless of vocabulary —
    the hashing-trick bound that makes the broadcast join safe at any
    corpus size."""
    target = _docs(spark, [(1, "t", "a b c d e f g h i j")])
    raw = _docs(spark, [(2, "r", "k l m n o p q r s t u v w x y z")])
    llr = dsir.dsir_bucket_llr(_occ(target, raw, n_buckets=64),
                               _is_target(), n_buckets=64)
    assert llr.count() == 64
    assert llr.filter(F.col("llr").isNull()).count() == 0
