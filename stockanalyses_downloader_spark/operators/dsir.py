"""DSIR-style data selection: hashed n-gram importance resampling.

The standard pretraining-data selection recipe (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"): fit
two bag-of-hashed-ngrams distributions — one on a small TARGET corpus
(the domain you want more of), one on the RAW pool — and score every
raw document by its mean log-likelihood ratio under the two; keep the
top slice. It is the cheap, model-free alternative to classifier
filtering (quality_model.py) and the distribution-matching complement
to the temperature mixture (sampling.py): where the mixture rebalances
SOURCES, DSIR ranks individual DOCUMENTS by how target-like their
n-gram profile is.

Spark-first shape, and why it holds at 100 TB:
- Features are word unigrams + bigrams hashed into ``n_buckets``
  (default 4096) via the repo's md5-prefix family — the model is a
  BOUNDED bucket table regardless of vocabulary size (the hashing
  trick, same contract as the count-min/HLL grids).
- Single pass: ONE gram explode over the whole corpus (target and
  raw together) is aggregated to per-(doc, bucket) occurrence counts
  (doc_gram_bucket_counts). The fit re-aggregates those counts by
  bucket, split by a target predicate; scoring reads the same frame.
- The per-bucket log-likelihood-ratio table is model-sized and
  broadcast; per-doc scoring is one broadcast join + groupBy(doc)
  mean — a single shuffle keyed by doc_id, no iteration.
- Selection is a count + a rounded-score rank: deterministic,
  reproducible, and resumable (the kept set is a pure function of the
  corpus and the constants).

Cross-engine determinism (the oracle story): bucket ids and counts are
exact; the smoothed probabilities are single IEEE divisions; the one
libm step — ln in the per-bucket ratio, averaged per doc — follows the
doc_kn_perplexity precedent (full DuckDB oracle since r7): round to 5
decimals as the LAST op, wide enough to absorb ulp-level ln/summation
drift, tight enough to certify the feature join and the mean. The
keep decision ranks the ROUNDED score (ties broken by doc_id), so
membership is bit-stable in both engines.

Reference: no counterpart (the reference is a ticker ETL); this
operator exists for the LLM-pipeline mandate next to dedup.py,
quality_model.py and sampling.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from .dedup import spread

N_BUCKETS = 4096
ALPHA = 0.5   # additive smoothing per bucket


def _bucket(col: Column, n_buckets: int) -> Column:
    """md5-prefix hash bucket — the repo's portable hash family
    (sketches._hll_cell / sampling.hash_key), so a DuckDB oracle
    reproduces the bucketing bit-for-bit."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
            % n_buckets).cast("int")


def hashed_gram_buckets(docs: DataFrame,
                        n_buckets: int = N_BUCKETS,
                        carry_cols: tuple = ()) -> DataFrame:
    """One row per unigram/bigram OCCURRENCE: (doc_id, *carry_cols,
    bucket). Tokens are lowercased whitespace words; bigrams are
    adjacent pairs joined by one space (zip_with over two slices —
    JVM-side, no UDF). NULL text is coalesced to '' first, so a
    NULL-text doc emits the single ''-unigram an empty doc does and
    still scores (size(split(NULL)) = -1 would drop it from scoring
    AND from dsir_select's denominator). ``carry_cols`` rides extra
    doc attributes (e.g. the source) through the explode.

    spread() first: the explode amplifies every doc by ~2x its token
    count and feeds the md5 hashing — per-row CPU that would otherwise
    run at the width of a narrow upstream (single-file scan, coalesced
    stage output; PERF.md §r10 traced a 42–52 s 30x variance band to
    that starved token stream)."""
    docs = spread(docs)
    keys = ["doc_id", *carry_cols]
    ts = F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
                 r"\s+")
    t = (docs.select(*keys, ts.alias("ts"))
         .filter(F.size("ts") >= 1))
    unis = t.select(*keys, F.explode("ts").alias("g"))
    bis = (t.filter(F.size("ts") >= 2)
           .select(*keys,
                   F.explode(F.zip_with(
                       F.slice(F.col("ts"), F.lit(1), F.size("ts") - 1),
                       F.slice(F.col("ts"), F.lit(2), F.size("ts") - 1),
                       lambda a, b: F.concat(a, F.lit(" "), b)))
                   .alias("g")))
    return (unis.unionByName(bis)
            .select(*keys, _bucket(F.col("g"), n_buckets).alias("bucket")))


def dsir_bucket_llr(occ: DataFrame, target_pred: Column,
                    n_buckets: int = N_BUCKETS) -> DataFrame:
    """Per-bucket log-likelihood ratio ln(p_target / p_raw) with
    additive smoothing — the DSIR importance model — fitted from ONE
    occurrence-count frame (doc_gram_bucket_counts) covering BOTH
    corpora: ``target_pred`` marks the target rows, and a single
    groupBy(bucket) sums n_occ into n_target and n_raw together (the
    corpora partition the frame, so the conditional sums are the
    exact per-side counts). Output (bucket, n_target, n_raw, llr):
    n_buckets rows, broadcast-sized by construction. Buckets unseen in
    BOTH corpora still get a row (llr from the smoothing alone) so
    scoring never drops a feature."""
    w = F.col("n_occ")
    cnt = (occ.groupBy("bucket")
           .agg(F.sum(F.when(target_pred, w).otherwise(F.lit(0)))
                .alias("n_target"),
                F.sum(F.when(target_pred, F.lit(0)).otherwise(w))
                .alias("n_raw")))
    spark = occ.sparkSession
    grid = spark.range(n_buckets).select(F.col("id").cast("int")
                                         .alias("bucket"))
    joined = (grid.join(cnt, "bucket", "left")
              .select("bucket",
                      F.coalesce("n_target", F.lit(0)).alias("n_target"),
                      F.coalesce("n_raw", F.lit(0)).alias("n_raw"))
              # the model is n_buckets rows; checkpointing it reads the
              # corpus frame exactly ONCE (the model is read twice
              # below — totals + ratios) and keeps every downstream
              # plan flat (kmeans/bpe rationale)
              .localCheckpoint(eager=True))
    # corpus totals are the SUMS of the already-aggregated bucket
    # counts — computed from the model-sized checkpoint (broadcast
    # 1-row crossJoin), not by re-counting the corpus
    tot = joined.agg(F.sum("n_target").alias("__tt"),
                     F.sum("n_raw").alias("__rt"))
    pt = ((F.col("n_target") + F.lit(ALPHA))
          / (F.col("__tt") + F.lit(ALPHA * n_buckets)))
    pr = ((F.col("n_raw") + F.lit(ALPHA))
          / (F.col("__rt") + F.lit(ALPHA * n_buckets)))
    return (joined.crossJoin(F.broadcast(tot))
            .select("bucket", "n_target", "n_raw",
                    (F.log(pt) - F.log(pr)).alias("llr")))


def dsir_bucket_llr_by_group(occ: DataFrame, target_pred: Column,
                             group_col: str = "source",
                             n_buckets: int = N_BUCKETS) -> DataFrame:
    """Domain-conditional DSIR model: one LLR table per raw GROUP
    (source/shard) against the SHARED target distribution — llr_g =
    ln(p_target / p_raw_g), p_raw_g fitted WITHIN group g — so a gram
    merely common in one source stops distorting scores in every
    other source, and selection within each domain ranks against that
    domain's own background.

    Same single-frame fit as dsir_bucket_llr: one groupBy(group,
    bucket) sum over doc_gram_bucket_counts (``group_col`` carried),
    checkpointed model-sized, feeds the pooled target distribution
    (the groups ``target_pred`` marks) AND every raw group's proposal.
    ``target_pred`` must be a predicate over ``group_col``. Output
    (group_col, bucket, n_target, n_raw, llr): raw groups × n_buckets
    rows, broadcast-sized for any real source count (1,000 sources ×
    4096 buckets ≈ 4M rows of ints)."""
    cnt = (occ.groupBy(group_col, "bucket")
           .agg(F.sum("n_occ").alias("__c"))
           .localCheckpoint(eager=True))
    tc = (cnt.filter(target_pred).groupBy("bucket")
          .agg(F.sum("__c").alias("n_target")))
    rc = (cnt.filter(~target_pred)
          .select(group_col, "bucket", F.col("__c").alias("n_raw")))
    spark = occ.sparkSession
    buckets = spark.range(n_buckets).select(F.col("id").cast("int")
                                            .alias("bucket"))
    # groups come from the checkpointed aggregate, not a corpus
    # rescan; the grid crossJoin is model-sized on both sides
    grid = rc.select(group_col).distinct().crossJoin(buckets)
    tot_t = tc.agg(F.sum("n_target").alias("__tt"))
    tot_r = rc.groupBy(group_col).agg(F.sum("n_raw").alias("__rt"))
    pt = ((F.col("n_target") + F.lit(ALPHA))
          / (F.col("__tt") + F.lit(ALPHA * n_buckets)))
    pr = ((F.col("n_raw") + F.lit(ALPHA))
          / (F.col("__rt") + F.lit(ALPHA * n_buckets)))
    return (grid.join(tc, "bucket", "left")
            .join(rc, [group_col, "bucket"], "left")
            .select(group_col, "bucket",
                    F.coalesce("n_target", F.lit(0)).alias("n_target"),
                    F.coalesce("n_raw", F.lit(0)).alias("n_raw"))
            .crossJoin(F.broadcast(tot_t))
            .join(F.broadcast(tot_r), group_col)
            .select(group_col, "bucket", "n_target", "n_raw",
                    (F.log(pt) - F.log(pr)).alias("llr")))


def doc_gram_bucket_counts(docs: DataFrame,
                           n_buckets: int = N_BUCKETS,
                           carry_cols: tuple = ()) -> DataFrame:
    """hashed_gram_buckets aggregated to (doc_id, *carry_cols, bucket,
    n_occ) — the input of both fits and both ``_from_occ`` scorers:
    ONE corpus gram explode feeds BOTH the model fit (re-aggregate
    n_occ over docs: sums of exact counts are the exact counts) and
    per-doc scoring (weighted mean over the doc's buckets), so a
    fit+score pipeline that persists this frame scans and hashes the
    corpus once. The aggregate's map side runs at
    full gram width but ships one row per (doc, bucket) — bounded by
    min(doc grams, n_buckets) per doc at any corpus size."""
    grams = hashed_gram_buckets(docs, n_buckets, carry_cols)
    return (grams.groupBy("doc_id", *carry_cols, "bucket")
            .agg(F.count("*").alias("n_occ")))


def dsir_scores_by_group_from_occ(occ: DataFrame,
                                  llr_by_group: DataFrame,
                                  group_col: str = "source") -> DataFrame:
    """Score each doc against ITS OWN group's LLR model
    (dsir_bucket_llr_by_group) from the pre-aggregated occurrence
    counts (doc_gram_bucket_counts carrying ``group_col``); the model
    join is a broadcast on (group, bucket), one doc-keyed shuffle.
    n_grams is the sum of exact integer counts (= the occurrence
    count exactly); the mean LLR is the weighted form
    Σ(llr·n_occ)/Σ(n_occ), whose double differs from per-occurrence
    repeated addition (dsir_scores) only at the summation-order ulp
    level the round-5-last protocol already absorbs (the same
    argument that lets the two engines' ln()/sum orders differ).
    Output (doc_id, group_col, n_grams, score)."""
    model = F.broadcast(llr_by_group.select(group_col, "bucket", "llr"))
    return (occ.join(model, [group_col, "bucket"])
            .groupBy("doc_id", group_col)
            .agg(F.sum("n_occ").alias("n_grams"),
                 F.round(F.sum(F.col("llr") * F.col("n_occ"))
                         / F.sum("n_occ"), 5).alias("score")))


def dsir_scores_from_occ(occ: DataFrame, llr: DataFrame) -> DataFrame:
    """dsir_scores from pre-aggregated occurrence counts — pooled-
    model twin of dsir_scores_by_group_from_occ (same exactness and
    round-5-last arguments). Output (doc_id, n_grams, score)."""
    return (occ.join(F.broadcast(llr.select("bucket", "llr")), "bucket")
            .groupBy("doc_id")
            .agg(F.sum("n_occ").alias("n_grams"),
                 F.round(F.sum(F.col("llr") * F.col("n_occ"))
                         / F.sum("n_occ"), 5).alias("score")))


def dsir_scores(docs: DataFrame, llr: DataFrame) -> DataFrame:
    """Score each doc: mean llr over its hashed-gram occurrences,
    rounded to 5 decimals LAST (the doc_kn_perplexity determinism
    protocol). Output (doc_id, n_grams, score). Docs with zero tokens
    after trim still emit their unigram of '' — every doc scores."""
    grams = hashed_gram_buckets(docs)
    return (grams.join(F.broadcast(llr.select("bucket", "llr")), "bucket")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"),
                 F.round(F.avg("llr"), 5).alias("score")))


def dsir_select(scores: DataFrame, keep_fraction: float,
                partition_cols: list[str]) -> DataFrame:
    """Keep the top ``keep_fraction`` of scored docs WITHIN each
    partition (shard/source) by (rounded score desc, id asc) — a
    deterministic in-plan rank against an in-plan per-partition
    count: no collect, no global single-task sort (the partitioned
    window is the scale-correct form; selecting within sources is
    also what DSIR's authors do to avoid one domain monopolizing the
    budget). Output: scores + (rank, kept); every partition keeps at
    least one doc."""
    if not partition_cols:
        raise ValueError("dsir_select: partition_cols must be "
                         "non-empty (a global top-k is a single-task "
                         "sort at scale — select within shards)")
    pw = Window.partitionBy(*partition_cols)
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col("score").desc(), F.col("doc_id"))
    n_keep = F.greatest(
        F.lit(1),
        F.floor(F.count("*").over(pw) * F.lit(keep_fraction))
        .cast("long"))
    return (scores.withColumn("rank", F.row_number().over(w))
            .withColumn("kept", F.col("rank") <= n_keep))
