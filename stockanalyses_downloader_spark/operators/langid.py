"""Trained character-n-gram Naive Bayes language ID — the learned
upgrade of the stopword-marker heuristic (`doc_language_scores`):
fastText-style langid reduced to its distributable core. The
reference engine has no language surface; this belongs to the corpus
curation tier (routing, per-language mixtures, decontamination
scopes all key on a language decision trusted ABOVE the heuristic's
marker coverage).

Training is one explode + two aggregates (per-(label, gram) counts,
per-label totals) with add-alpha smoothing — the model is a
(label, gram, logp) table plus per-label priors and an unseen-gram
penalty, all broadcast-sized (labels x seen-gram vocabulary).
Scoring is a gram-keyed join + per-(doc, label) sum — map-side
combined, no UDFs (F.log is JVM-side). Rows-only verification tier:
ln's last ulp is libm-specific, so this is pinned against a
pure-Python NB (1e-9) and an accuracy floor on the held-out split
rather than a DuckDB hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist
from .dedup import spread

NB_N = 3          # character n-gram order
NB_ALPHA = 1.0    # add-alpha smoothing


def train_nb(docs: DataFrame,
             label_col: str = "lang") -> tuple[DataFrame, DataFrame]:
    """Fit the model. Returns (gram_logps, label_stats):
    gram_logps = (label, gram, logp); label_stats = (label,
    log_prior, log_unseen) where log_unseen is the smoothed
    probability mass of a gram never seen with that label — the
    constant every out-of-model gram contributes at scoring time.

    spread() on the gram explode (r11 rollout): the char-n-gram
    expression is per-row CPU over the whole corpus; a narrow
    upstream would serialize it. The doc-count aggregates below scan
    the unspread docs (column-pruned, no per-row text work)."""
    g = (with_char_grams(spread(docs))
         .select(F.col(label_col).alias("label"),
                 F.explode("__grams").alias("gram")))
    # tracked_persist (r12, found by the langid A/B re-measure): the
    # (label, gram) count table feeds THREE downstream subtrees
    # (totals, vocab, logps) — and score_nb's model-sized stats
    # collect adds a fourth materialization. Unpersisted, every one
    # of them re-ran the corpus-wide gram explode; persisted, the
    # training corpus is exploded exactly ONCE per fit. The table is
    # model-sized (labels x seen-gram vocabulary), not corpus-sized.
    counts = tracked_persist(
        g.groupBy("label", "gram").agg(F.count("*").alias("c")))
    totals = counts.groupBy("label").agg(F.sum("c").alias("total"))
    vocab = counts.select("gram").distinct().agg(
        F.count("*").alias("v"))
    lab_counts = (docs.groupBy(F.col(label_col).alias("label"))
                  .agg(F.count("*").alias("nd")))
    tot = lab_counts.agg(F.sum("nd").alias("ndocs"))
    priors = (lab_counts.crossJoin(F.broadcast(tot))
              .select("label",
                      F.log(F.col("nd") / F.col("ndocs"))
                      .alias("log_prior")))
    stats = (totals.crossJoin(F.broadcast(vocab))
             .join(priors, "label")
             .select("label", "total", "v", "log_prior",
                     F.log(F.lit(NB_ALPHA)
                           / (F.col("total") + F.lit(NB_ALPHA) * F.col("v")))
                     .alias("log_unseen")))
    logps = (counts.join(F.broadcast(stats.select("label", "total", "v")),
                         "label")
             .select("label", "gram",
                     F.log((F.col("c") + F.lit(NB_ALPHA))
                           / (F.col("total") + F.lit(NB_ALPHA) * F.col("v")))
                     .alias("logp")))
    return logps, stats.select("label", "log_prior", "log_unseen")


def char_grams_col(text: Column, n: int = NB_N) -> Column:
    """char_grams as a single in-plan expression built on the Column
    API (transform over a sequence of start offsets; F.substring
    accepts Column positions in Spark 4). NOTE the per-row cost
    caveat: inline, the lambda's substring re-evaluates the
    normalization regex once per gram POSITION (lambda bodies sit
    outside runtime subexpression elimination) — O(len²) regex per
    doc. Fine for one-off column use; corpus-wide explodes use
    with_char_grams, which hoists the normalized string into a real
    column (r13, same lambda-recompute class as dedup's
    _shingles_from_toks)."""
    c = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    ln = F.length(c)
    return F.when(ln >= n,
                  F.transform(F.sequence(F.lit(1), ln - (n - 1)),
                              lambda i: F.substring(c, i, F.lit(n)))
                  ).otherwise(
        F.array().cast("array<string>"))


def with_char_grams(docs: DataFrame, text_col: str = "text",
                    n: int = NB_N, out_col: str = "__grams") -> DataFrame:
    """char_grams with the normalized string BOUND as a real column,
    so the \\s+ regex runs once per row instead of once per gram
    position (Catalyst's CollapseProject will not inline a non-cheap
    alias referenced more than once; pinned by
    test_char_gram_normalize_once). Same grams, same order as
    char_grams_col — parity pinned in tests/test_langid.py."""
    d = docs.withColumn(
        "__cg_norm",
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")))
    norm = F.col("__cg_norm")
    ln = F.length(norm)
    grams = F.when(ln >= n,
                   F.transform(F.sequence(F.lit(1), ln - (n - 1)),
                               lambda i: F.substring(norm, i, F.lit(n)))
                   ).otherwise(F.array().cast("array<string>"))
    return d.withColumn(out_col, grams).drop("__cg_norm")


def score_nb(docs: DataFrame, gram_logps: DataFrame,
             label_stats: DataFrame) -> DataFrame:
    """Per-doc argmax label. score(label) = log_prior + Σ over gram
    OCCURRENCES of (logp if the label has seen the gram, else that
    label's log_unseen) — algebraically identical to the r11 form
    log_prior + sum(seen logps) + (n_grams - n_seen) * log_unseen.
    Deterministic argmax tie-break on label order. Output: (doc_id,
    predicted_lang, best_logp).

    r12 shrink (VERDICT r11 #3 — the 131 s single-file-30× A/B cell):
    the r11 plan joined the (label, gram, logp) model onto every gram
    occurrence, multiplying each occurrence by every label that had
    seen it (~|labels|× row blowup into a (doc, label)-keyed
    aggregate), ran the scoring explode TWICE (once for n_grams, once
    for the join), and regrouped through a collect_list. Now the
    model is DENSIFIED first — one row per gram carrying the
    k-vector of per-label contributions (logp where observed, that
    label's log_unseen where not) — so scoring is ONE explode, ONE
    no-blowup broadcast join, and ONE hash aggregate computing the k
    per-label sums per doc (k = |labels|, model-sized). n_grams
    disappears: a gram missing from the model contributes the
    per-label unseen vector per-row instead of being counted and
    multiplied at the end.

    The label table is collected driver-side to parameterize the k
    aggregate columns — model-sized by contract (the language
    inventory), the same tier as the ANN index-meta collects. A doc's
    occurrence rows stay contiguous in one explode partition, so each
    per-label sum accumulates in document order — the exact fold the
    pure-Python parity reference performs (tests/test_langid.py,
    1e-9)."""
    labs = sorted((r["label"], r["log_prior"], r["log_unseen"])
                  for r in label_stats.collect())
    if not labs:
        return docs.select(
            "doc_id", F.lit(None).cast("string").alias("predicted_lang"),
            F.lit(None).cast("double").alias("best_logp"))
    labels = [lb for lb, _, _ in labs]
    unseens = [u for _, _, u in labs]

    # dense per-gram contribution vector, aligned with the sorted
    # label order (try_element_at: the map lacks labels that never
    # saw the gram, and ANSI element_at throws on missing map keys).
    # Defensive (gram, label) pre-aggregate (ADVICE r12 low): a
    # fit_nb model is unique by construction, but an externally
    # supplied/unioned gram_logps with duplicate (gram, label) rows
    # would make map_from_entries THROW under the default
    # spark.sql.mapKeyDedupPolicy=EXCEPTION — sum them instead,
    # which is exactly what the r11 join-based scoring did silently
    # (each duplicate row joined and summed into the per-label
    # score). Model-sized shuffle, negligible.
    dense = (gram_logps.groupBy("gram", "label")
             .agg(F.sum("logp").alias("logp"))
             .groupBy("gram")
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("label", "logp"))).alias("m"))
             .select("gram", F.array(*[
                 F.coalesce(F.try_element_at("m", F.lit(lb)), F.lit(u))
                 for lb, u in zip(labels, unseens)]).alias("__vec")))

    # spread() before the scoring explode (r11 rollout): the n-gram
    # expression is per-row CPU over the whole corpus; hoisted
    # normalization (r13) keeps the regex at one run per doc
    g = (with_char_grams(spread(docs))
         .select("doc_id", F.explode("__grams").alias("gram")))
    unseen_vec = F.array(*[F.lit(u) for u in unseens])
    j = (g.join(F.broadcast(dense), "gram", "left")
         .select("doc_id", F.coalesce("__vec", unseen_vec).alias("__vec")))
    sums = (j.groupBy("doc_id")
            .agg(*[F.sum(F.element_at("__vec", i + 1)).alias(f"__s{i}")
                   for i in range(len(labs))]))

    # per-row argmax over the k scores with the same (score desc,
    # label asc) comparator as the r10 fold; gramless documents
    # (normalized text shorter than n chars) miss the left join and
    # coalesce to the prior-only score instead of vanishing
    scored = F.array(*[
        F.struct((F.lit(p) + F.coalesce(F.col(f"__s{i}"), F.lit(0.0)))
                 .alias("score"),
                 F.lit(lb).alias("label"))
        for i, (lb, p, _) in enumerate(labs)])
    best = F.aggregate(
        scored, F.element_at(scored, 1),
        lambda acc, x: F.when(
            (x["score"] > acc["score"])
            | ((x["score"] == acc["score"])
               & (x["label"] < acc["label"])), x).otherwise(acc))
    return (docs.select("doc_id").join(sums, "doc_id", "left")
            .select("doc_id", best["label"].alias("predicted_lang"),
                    best["score"].alias("best_logp")))
