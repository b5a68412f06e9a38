"""Okapi BM25 sparse retrieval (X3/X4 tier, round 5): the lexical
complement of the dense-ANN tier — "find the documents matching these
query TERMS" where similarity.py answers "find the documents near this
VECTOR". A 100 TB training-data pipeline needs both: BM25 drives
targeted corpus slicing ("pull the docs about X for this eval"),
hard-negative mining for embedding training, and retrieval-based
decontamination triage.

Index shape (all one scan + one shuffle off the corpus):
  tf    (doc_id, term, tf, dl)   term frequency + doc length
  df    (term, df)               document frequency — derived FROM the
                                 tf frame (reuse, no second scan)
  stats (n_docs, avgdl)          broadcast scalar

Scoring is the Lucene/ES BM25 variant (non-negative IDF):
  idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
  s(q, d) = sum_t idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))
(the (k1+1) numerator factor is omitted, as Lucene does: it scales
every doc's score by the same constant per term — ranking-identical.)

Scale shape: query terms are BROADCAST (a query set is model-sized),
so scoring is one semi-join-shaped probe of the tf frame — the fact
table never re-shuffles per query batch; per-query top-k is a
WindowGroupLimit, not a global sort. ln() is libm-bound, so the scored
query is rows-only for the driver with exact pure-Python parity pinned
in tests; the INDEX side (tf/df/dl/avgdl — exact integers and one IEEE
division) is DuckDB-oracled separately (bm25_doc_term_stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import tracked_persist
from .dedup import spread

BM25_K1 = 1.2
BM25_B = 0.75


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        id_col,
        F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                          r"\s+")).alias("term"))


def bm25_index(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(tf, df, stats) index frames. One explode + one (doc, term)
    aggregate; df and doc lengths derive from tf without touching the
    corpus again. All three are incrementally maintainable: tf/df add
    across corpus partitions, stats re-derives from df's parent.

    spread() on the CORPUS only (r11 rollout): the term explode +
    map-side partial agg is the corpus-width CPU stage a narrow
    upstream would serialize. The guard deliberately does NOT live in
    _tokens — bm25_topk tokenizes the model-sized QUERY frame through
    the same helper, and repartitioning a table that is immediately
    broadcast is a pure extra exchange."""
    toks = _tokens(spread(docs), "doc_id", "text")
    # tracked_persist (r12, the langid lesson generalized): tf0 is
    # the parent of EVERY index frame — dl, the dl-joined tf, df, and
    # stats all derive from it, and a consumer like bm25_topk holds
    # all of them in ONE plan. Unpersisted, each subtree re-ran the
    # corpus explode + (doc, term) aggregate (the executed
    # bm25_search_topk plan carried SIX Generate explode nodes and
    # zero reused exchanges); persisted, the corpus is tokenized
    # exactly once per index build.
    tf0 = tracked_persist(toks.groupBy("doc_id", "term")
                          .agg(F.count("*").alias("tf")))
    dl = (tf0.groupBy("doc_id")
          .agg(F.sum("tf").alias("dl")))
    tf = tf0.join(dl, "doc_id")
    df = tf0.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"))
    return tf, df, stats


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              round_scores: int | None = None) -> DataFrame:
    """Top-k docs per query: (query_id, doc_id, score, rank).
    ``queries`` is (query_id, qtext); repeated query terms count once
    (set semantics — the standard Okapi treatment for short queries).
    Ties break on doc_id for deterministic output.

    ``round_scores=d`` rounds the score to d decimals BEFORE ranking
    (ties still break on doc_id). That makes the full (score, rank)
    output portable across engines: ln() and float summation order
    differ at the ulp level between JVM and any other libm consumer,
    and rounding as the LAST operation absorbs that — the r7 recipe
    that turned this query from rows-only into fully DuckDB-oracled.
    Raw-score callers leave it None.

    r13 optimization round: scoring derives df and the dl join FROM
    THE QUERY-FILTERED tf frame instead of the full index. df of a
    query term equals the row count of the term-filtered tf (one row
    per doc containing it), so the old full-vocabulary df aggregate —
    a |vocab|-wide shuffle + broadcast build job per search — is
    replaced by a query-term-bounded aggregate that is broadcastable
    at ANY corpus size; dl attaches after the term filter, so the
    per-doc-length join runs at hit width, not corpus width. Same df
    integers, same idf/norm doubles, same scores."""
    toks = _tokens(spread(docs), "doc_id", "text")
    # tf0 persisted exactly as in bm25_index (the r12 langid lesson):
    # it feeds dl, stats, and the hit-side probe in one plan.
    # r14 (VERDICT r13 #6, guide §2.4/§3.3): tf0 is repartitioned by
    # doc id BEFORE the persist, so the cached frame's partitioning
    # satisfies every downstream doc-keyed requirement at once — the
    # dl aggregate (groupBy id), the hit0⋈dl attach (both sides
    # HashPartitioning(id): no exchange on either leg), and the final
    # (query_id, id) score aggregate (id ⊆ the clustering keys). The
    # old shape left tf0 on (id, term) and the corpus-row-count dl
    # frame met the hits through an UNHINTED join — broadcast at
    # fixture scale only because AQE's runtime stats said so; at
    # 100 TB that is a corpus-width exchange per search. Cost: one
    # tf-width exchange at index build (of (doc, term) AGGREGATED
    # rows, after the map-side partial agg — never raw occurrences);
    # saved: the dl-side corpus exchange + the hit-side exchange +
    # the score aggregate's exchange on every search.
    tf0 = tracked_persist(toks.groupBy("doc_id", "term")
                          .agg(F.count("*").alias("tf"))
                          .repartition("doc_id"))
    dl = tf0.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"))
    qterms = (_tokens(queries, "query_id", "qtext").distinct())
    terms = qterms.select("term").distinct()
    hit0 = tf0.join(F.broadcast(terms), "term")
    dfq = hit0.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    norm = (F.col("tf")
            / (F.col("tf")
               + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B)
                                   + F.lit(BM25_B) * F.col("dl")
                                   / F.col("avgdl"))))
    scored = (hit0.join(F.broadcast(dfq), "term")
              .join(dl, "doc_id")
              .join(F.broadcast(qterms), "term")
              .crossJoin(F.broadcast(stats))
              .groupBy("query_id", "doc_id")
              .agg(F.sum(idf * norm).alias("score")))
    if round_scores is not None:
        scored = scored.withColumn("score",
                                   F.round("score", round_scores))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("score"), F.col("doc_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
