"""Interpolated Kneser-Ney bigram language model — the classic
count-based LM (Chen & Goodman 1998) as a distributed derivation, and
deliberately ALL-RATIO: absolute discounting + continuation-count
backoff need max/multiply/divide over exact integer aggregates, never
a log, so unlike neural or log-space LMs the trained model's
probabilities are DuckDB-hash-oracleable end to end (the same property
that keeps chi2 oracled where PSI isn't).

Why KN and not plain MLE backoff: continuation counts. "francisco"
may be frequent, but if it only ever follows "san", its UNIGRAM
backoff weight should be tiny — KN replaces raw frequency with
|distinct preceding contexts| / |distinct bigram types|, which is
exactly the signature pinned in tests (frequent-but-restricted token
scores below a rarer-but-diverse one after unseen contexts).

Model tables (all one corpus scan + token-keyed aggregates):
  bg   (w1, w2, c12)        bigram counts
  ctx  (w1, c1, n1fw)       context total + |distinct followers|
  cont (w2, n1bw)           |distinct predecessors|
  tot  (n_types,)           |distinct bigram types| (broadcast scalar)

Interpolated probability with discount d (observed-or-not):
  p(w2|w1) = max(c12 - d, 0)/c1  +  ((d * n1fw)/c1) * (n1bw/n_types)

Exactness contract: per context w1, summing p over the FULL vocabulary
(observed + unseen w2) gives exactly 1 — the discount mass d*n1fw/c1
re-enters through the continuation distribution, whose n1bw sums to
n_types. Pinned to 1e-9 in tests.

Scale shape: the model is vocab²-bounded (in practice |observed
bigrams|), shuffles are token-keyed and map-side combined, scoring is
a left join of the pairs against the broadcast-or-bucketed model —
history is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KN_DISCOUNT = 0.75


def bigram_pairs(docs: DataFrame) -> DataFrame:
    """Adjacent lowercase whitespace-token pairs per doc: (id, w1,
    w2). Docs with < 2 tokens contribute nothing (no bigram exists).

    The token ARRAY is materialized in its own projection before the
    pair transform: higher-order functions are interpreted, so an
    inlined split() expression inside the lambda re-tokenizes the
    whole document once PER ELEMENT — O(tokens²) per doc (measured:
    7 s to produce 265k pairs at sf0.1; 10× less with the bound
    column). CollapseProject keeps the split separate because the
    array attribute is referenced more than once and split is
    non-cheap (SPARK-36718).

    spread() first (r11 rollout): the split + interpreted pair
    transform is the corpus-width CPU stage every KN consumer sits
    on — a narrow upstream would serialize it."""
    from .dedup import spread
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    w = spread(docs).select("doc_id", toks.alias("__ts"))
    ts = F.col("__ts")
    grams = F.when(
        F.size(ts) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(ts) - 1),
                    lambda i: F.struct(
                        F.element_at(ts, i).alias("w1"),
                        F.element_at(ts, i + 1).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return (w.select("doc_id", F.explode(grams).alias("g"))
            .select("doc_id", "g.w1", "g.w2"))


def kn_bigram_model(pairs: DataFrame,
                    ) -> tuple[DataFrame, DataFrame, DataFrame,
                               DataFrame]:
    """(bg, ctx, cont, tot) model tables from a (w1, w2) pair stream.
    ctx and cont both derive from bg — one corpus-width shuffle
    total, everything after is model-sized. bg is tracked-persisted:
    it feeds FOUR consumers (ctx, cont, tot, and the caller's
    probability/scoring join), and unpersisted Catalyst re-derives
    the corpus bigram explode once per consumer (measured: the
    perplexity query fell from 12.4 s to ~3 s at sf0.1 with the
    pin; lifecycle via the harness's tracked registry)."""
    from ..caching import tracked_persist
    bg = tracked_persist(
        pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    ctx = bg.groupBy("w1").agg(F.sum("c12").alias("c1"),
                               F.count("*").alias("n1fw"))
    cont = bg.groupBy("w2").agg(F.count("*").alias("n1bw"))
    tot = bg.agg(F.count("*").alias("n_types"))
    return bg, ctx, cont, tot


def _p_kn(c12, discount: float):
    # identical operation order to the SQL oracle: observed term,
    # then ((d * n1fw) / c1) * (n1bw / n_types)
    observed = (F.greatest(c12.cast("double") - F.lit(discount),
                           F.lit(0.0)) / F.col("c1"))
    backoff = ((F.lit(discount) * F.col("n1fw") / F.col("c1"))
               * (F.col("n1bw").cast("double") / F.col("n_types")))
    return observed + backoff


def kn_observed_probs(docs: DataFrame) -> DataFrame:
    """Train on the corpus and emit every OBSERVED bigram's
    interpolated probability: (w1, w2, c12, p_kn). The unseen-pair
    mass is reachable through kn_score_pairs; the observed table is
    the hash-oracled artifact."""
    bg, ctx, cont, tot = kn_bigram_model(
        bigram_pairs(docs))
    return (bg.join(ctx, "w1").join(cont, "w2")
            .crossJoin(F.broadcast(tot))
            .select("w1", "w2", F.col("c12").cast("long").alias("c12"),
                    _p_kn(F.col("c12"), KN_DISCOUNT).alias("p_kn")))


def kn_score_pairs(model: tuple[DataFrame, DataFrame, DataFrame,
                                DataFrame],
                   pairs: DataFrame) -> DataFrame:
    """Score arbitrary (w1, w2) pairs under the trained model —
    observed or UNSEEN (c12=0 -> pure backoff mass). Pairs whose w1
    was never a context or whose w2 was never a continuation get
    p_kn NULL (out-of-vocabulary: the bigram model genuinely has no
    estimate; the caller interpolates with a unigram floor if it
    wants one). Output: (w1, w2, p_kn)."""
    bg, ctx, cont, tot = model
    return (pairs.select("w1", "w2")
            .join(bg, ["w1", "w2"], "left")
            .join(ctx, "w1", "left")
            .join(cont, "w2", "left")
            .crossJoin(F.broadcast(tot))
            .select("w1", "w2",
                    F.when(F.col("c1").isNotNull()
                           & F.col("n1bw").isNotNull(),
                           _p_kn(F.coalesce(F.col("c12"), F.lit(0)),
                                 KN_DISCOUNT))
                    .alias("p_kn")))
