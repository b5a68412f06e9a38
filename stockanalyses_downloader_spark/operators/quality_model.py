"""Model-based quality filtering (X4 extension, round 5): the
fastText-/CCNet-style tier of a training-data pipeline — a LINEAR
classifier over cheap surface features, trained distributively,
applied in-plan.

Reference scope note: the reference has no ML surface; this extends
the LLM-pipeline tier (like BPE/PCA/kmeans) where heuristic quality
signals (text_queries.doc_quality_scores) get an upgrade: a trained
model combines them with weights learned from labels instead of
hand-tuned thresholds.

Scale shape — the same contract as kmeans/PCA/BPE:
  * features: pure in-plan expressions (one scan, whole-stage codegen,
    no shuffle);
  * training: batch gradient descent where each iteration is ONE scan
    producing a (d+1)-row gradient via posexplode + DECIMAL partial
    sums (map-side combined; wire cost executors × d, corpus-size-
    independent) and ONE model-sized driver collect — the documented
    iterative-convergence action (kmeans' count(), BPE's argmax);
  * apply: the learned weights embed as literals (broadcast-by-
    construction), scoring is one fold per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: feature names in array order (index = position in the vector)
FEATURE_NAMES = ["bias", "len_k", "alpha_frac", "digit_frac",
                 "mean_tok_len", "space_frac"]


def surface_features(docs: DataFrame) -> DataFrame:
    """(doc_id, x array<double>): bias, capped length (kchars), alpha
    fraction, digit fraction, mean token length (deca-chars), space
    fraction — all single-scan JVM expressions over the canonicalized
    text, each roughly unit-scaled so one learning rate fits all
    dimensions. The exact expressions are mirrored in
    text_queries._QUALITY_LOGITS_SQL — change both together.

    spread() first (r11 rollout, beyond the verdict's eight): the
    canonicalizing regexp + char-class counts per row, pure map-side
    with no exchange until the trainer's gradient aggregate — the
    exact narrow-upstream exposure the guard exists for.

    r14 (guide §4.1 — cheapest equivalent expression per row, VALUES
    unchanged): on the canonicalized c (trimmed, \\s+ collapsed to
    single spaces) three features reduce to exact integer identities
    — token chars = len - (ntok-1) separator spaces, space count =
    ntok - 1 — which kills the interpreted per-token
    transform+aggregate fold AND one full regexp pass; the alpha and
    digit class counts move from the regex engine
    (regexp_replace("[^a-z]")) to O(1)-per-char translate deletion.
    Every replaced expression produced an exact integer-valued double
    (< 2^53), so each feature is bit-identical and the mirrored
    DuckDB logits (text_queries._QUALITY_LOGITS_SQL, unchanged)
    still hash-match — pinned by the quality-model oracle tests."""
    from .dedup import spread
    docs = spread(docs)
    c = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    ln = F.length(c).cast("double")
    safe = F.greatest(ln, F.lit(1.0))
    toks = F.split(c, " ")
    ntok = F.greatest(F.size(toks).cast("double"), F.lit(1.0))
    # c is trimmed with single separators: every token is non-empty
    # and spaces = ntok - 1 exactly (split counts literal ' ' even
    # for exotic non-\s whitespace tokens — still ntok - 1)
    n_spaces = F.size(toks).cast("double") - F.lit(1.0)
    tok_chars = ln - n_spaces
    alpha = ln - F.length(
        F.translate(c, "abcdefghijklmnopqrstuvwxyz", "")).cast("double")
    digit = ln - F.length(F.translate(c, "0123456789", "")).cast("double")
    x = F.array(
        F.lit(1.0),
        F.least(ln / 1000.0, F.lit(10.0)),
        alpha / safe,
        digit / safe,
        tok_chars / ntok / 10.0,
        n_spaces / safe,
    )
    return docs.select("doc_id", x.alias("x"))


def logit(x: Column, weights: list[float]) -> Column:
    """dot(weights, x) as a sequential left-to-right sum —
    deterministic, and exactly reproducible by the DuckDB oracle's
    list_reduce.

    r14 (guide §4.1): unrolled to an explicit left-associated chain
    of codegen'd multiply-adds instead of an interpreted
    zip_with + aggregate fold per row. Identical IEEE evaluation
    order ((((0 + x0·w0) + x1·w1) + ...), so the same doubles to the
    last ulp; a length-mismatched x yields NULL exactly like the old
    null-padded zip_with did (guarded explicitly)."""
    if isinstance(x, str):
        x = F.col(x)
    z = F.lit(0.0)
    for i, w in enumerate(weights):
        z = z + x[i] * F.lit(w)
    return F.when(F.size(x) == len(weights), z) \
            .otherwise(F.lit(None).cast("double"))


def train_logistic(features: DataFrame, label_col: str,
                   n_iter: int = 20, lr: float = 1.0) -> list[float]:
    """Batch gradient descent on logistic loss: w <- w - lr * mean of
    (sigmoid(w·x) - y)·x. Returns the learned weights (model-sized,
    driver-held — like kmeans centroids before broadcast).

    Each iteration is one distributed scan: the per-row residual
    (sigmoid - y) multiplies the feature vector, posexplode keys the
    products by position, and DECIMAL partial sums make the gradient
    partitioning/order-independent — so the learned weights are
    bit-reproducible run to run and pinnable against a single-threaded
    numpy reference (tests/test_quality_model.py)."""
    d = features.select(
        F.col("x").alias("x"),
        F.col(label_col).cast("double").alias("y")).persist()
    n = d.count()   # one materialization; also the GD denominator
    w = [0.0] * len(FEATURE_NAMES)
    for _ in range(n_iter):
        z = logit(F.col("x"), w)
        resid = (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) - F.col("y")
        grad_rows = (d.select(F.posexplode(
                        F.transform("x", lambda xi: xi * resid))
                        .alias("pos", "g"))
                     .groupBy("pos")
                     .agg(F.sum(F.col("g").cast("decimal(30,15)"))
                          .cast("double").alias("g"))
                     .collect())
        grad = [0.0] * len(w)
        for r in grad_rows:
            grad[r["pos"]] = r["g"] / n
        w = [wi - lr * gi for wi, gi in zip(w, grad)]
    d.unpersist()
    return w


def score_with_weights(features: DataFrame,
                       weights: list[float]) -> DataFrame:
    """(doc_id, logit double, prob double): apply a (learned or
    pinned) weight vector in-plan. ``logit`` is the oracle-stable
    output (monotone in prob; exp's last ulp differs across libm
    implementations, plain folds don't)."""
    z = logit(F.col("x"), weights)
    return features.select(
        "doc_id", z.alias("logit"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("prob"))


def roc_auc(scored: DataFrame, score_col: str = "logit",
            label_col: str = "y",
            n_buckets: int = 4096) -> DataFrame:
    """Exact ROC-AUC without a global row sort OR a single-partition
    window: scores collapse to DISTINCT values (one groupBy), then the
    Mann-Whitney cumulative negative count runs as a TWO-LEVEL prefix
    sum (the pack_sequences pattern):

      1. distinct scores range-bucket into ``n_buckets`` equal-width
         bins of [min, max] (the min/max come from a broadcast 1-row
         aggregate — no driver action, the binning stays lazy);
      2. WITHIN each bucket a partitioned cumulative window computes
         the strictly-below negative count (shuffle width =
         |distinct scores| spread over the buckets — distributed);
      3. ACROSS buckets an exclusive prefix over the per-bucket
         totals supplies each bucket's offset. That frame is
         bounded at ``n_buckets`` rows by construction, so its
         partition-less window is a model-sized frame like the
         centroid/sizes tables — never |rows|-cardinality.

    Ties are exact midranks: AUC = sum_v P(v)*(N_below(v) + N(v)/2)
    / (P*N) — bucketing only reorganizes the summation, every
    contribution is the same decimal value, so the result is
    bit-identical to the single-window form (parity-pinned at 0 ulp
    in tests/test_quality_model.py). Decimal accumulation; one final
    double division. Output 1 row: (n_pos, n_neg, auc)."""
    from pyspark.sql import Window

    y = F.col(label_col).cast("int")
    # tracked_persist (r12 audit): the distinct-score frame feeds the
    # min/max broadcast, the bucketed window leg AND the per-bucket
    # totals — unpersisted, each subtree re-ran the caller's whole
    # scoring upstream (for quality_model_auc: the docs scan + regex
    # feature extraction, 3x). |distinct scores| rows by construction.
    from ..caching import tracked_persist
    by_v = tracked_persist(
        scored.select(F.col(score_col).alias("s"), y.alias("y"))
        .groupBy("s")
        .agg(F.count("*").alias("n"), F.sum("y").alias("p")))
    stats = by_v.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    span = F.col("hi") - F.col("lo")
    bucket = F.when(
        span > 0,
        F.least(F.floor((F.col("s") - F.col("lo")) / span * n_buckets),
                F.lit(n_buckets - 1))).otherwise(F.lit(0)).cast("int")
    neg = (F.col("n") - F.col("p")).cast("decimal(38,1)")
    bv = (by_v.crossJoin(F.broadcast(stats))
          .select("s", "n", "p", bucket.alias("b"), neg.alias("neg")))
    w_in = (Window.partitionBy("b").orderBy("s")
            .rowsBetween(Window.unboundedPreceding, -1))
    within = F.coalesce(F.sum("neg").over(w_in),
                        F.lit(0).cast("decimal(38,1)"))
    # per-bucket totals: <= n_buckets rows by construction, so the
    # partition-less exclusive prefix below is over a bounded frame
    totals = bv.groupBy("b").agg(F.sum("neg").alias("bn"))
    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "b", F.coalesce(F.sum("bn").over(w_b),
                        F.lit(0).cast("decimal(38,1)")).alias("off"))
    cum_neg_below = F.col("off") + F.col("within")
    contrib = (F.col("p").cast("decimal(38,1)")
               * (cum_neg_below + F.col("neg") / 2)).cast("decimal(38,2)")
    return (bv.withColumn("within", within)
            .join(F.broadcast(offsets), "b")
            .select("n", "p", contrib.alias("c"))
            .agg(F.sum("p").cast("long").alias("n_pos"),
                 (F.sum("n") - F.sum("p")).cast("long").alias("n_neg"),
                 F.sum("c").alias("num"))
            .select("n_pos", "n_neg",
                    (F.col("num").cast("double")
                     / (F.col("n_pos") * F.col("n_neg"))).alias("auc")))
