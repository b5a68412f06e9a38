"""BPE merge-pair learning (X4 — VERDICT r3 #4): the tokenizer-training
step a training-data pipeline runs over the corpus.

Reference semantics: byte-pair encoding over PRETOKENS — the same
pretokenizer classes as ``doc_bpe_token_stats`` (queries/
text_queries.py: ``_BPE_RX`` = letter runs | digit runs | single
symbols), no end-of-word marker (pretokens already carry the word
boundary). Each round counts adjacent symbol pairs corpus-wide
(weighted by pretoken frequency), merges the most frequent pair
everywhere, repeats.

Scale shape — the whole point of word-count keying: the corpus is
scanned ONCE (explode pretokens -> groupBy pretoken). Every merge
round after that is one explode+agg over the DISTINCT-PRETOKEN vocab
(10^5–10^7 rows at 100 TB, independent of corpus size) plus a 1-row
argmax. The per-round ``first()`` is the same documented
iterative-convergence driver action as kmeans' ``count()`` and
connected components' fixpoint check; the merge itself is a JVM fold
expression over the symbol array. localCheckpoint per round truncates
the otherwise-stacking logical plan (graph.py:43's rationale).

``tokenize_with_merges`` is the APPLY side: encode text with a learned
merge table. Also word-count-keyed — the merge chain runs once per
DISTINCT pretoken, then a join fans results back to the corpus
(memoized tokenization, the trick every production tokenizer uses).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import spread

#: pretokenizer — MUST stay in sync with text_queries._BPE_RX
BPE_PRETOKEN_RX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def pretoken_vocab(docs: DataFrame) -> DataFrame:
    """Corpus -> (pretoken, n) word-count vocab. The ONLY corpus-wide
    scan in BPE training; shuffle key is the pretoken (bounded-width),
    map-side partial agg collapses repeats before the wire. spread()
    first (r11 rollout): the regex pretokenizer is the corpus-width
    CPU stage — a narrow upstream would serialize it."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RX), 0)
    return (spread(docs).select(F.explode(toks).alias("pretoken"))
            .groupBy("pretoken").agg(F.count("*").alias("n")))


def _chars(col: Column) -> Column:
    """Pretoken -> array of single-char symbols. split on the empty
    pattern yields one element per codepoint (pretokens contain no
    whitespace, so '.' -equivalent splitting is safe)."""
    return F.filter(F.split(col, ""), lambda c: c != "")


def adjacent_pair_counts(vocab: DataFrame) -> DataFrame:
    """One BPE counting round: corpus-weighted adjacent-pair counts
    over the vocab's symbol arrays. Output: (sym_left, sym_right,
    pair_count) — exactly the table the first merge is argmaxed from."""
    syms = F.col("syms")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(F.element_at(syms, i).alias("sym_left"),
                           F.element_at(syms, i + 1).alias("sym_right")))
    return (vocab.filter(F.size(syms) >= 2)
            .select(F.explode(pairs).alias("p"), "n")
            .groupBy("p.sym_left", "p.sym_right")
            .agg(F.sum("n").alias("pair_count")))


def first_round_pair_counts(docs: DataFrame) -> DataFrame:
    """Round-1 pair counts straight from the corpus (the SQL-oracled
    face of the learner): character bigrams within pretokens, weighted
    by pretoken frequency."""
    vocab = pretoken_vocab(docs)
    return adjacent_pair_counts(
        vocab.withColumn("syms", _chars(F.col("pretoken"))))


def _merge_once(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of one (left, right) pair inside a
    symbol array, as a JVM fold: walk the array accumulating output;
    when the accumulated tail is ``left`` and the next symbol is
    ``right``, replace the tail with the merged symbol (and, because
    the merged symbol differs from ``left``, the freshly-merged token
    never re-merges with a following ``right`` in the same round —
    standard BPE single-pass semantics)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left)) & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged)))
        ).otherwise(F.concat(acc, F.array(x))))


def learn_bpe_merges(docs: DataFrame, n_merges: int) -> DataFrame:
    """Train ``n_merges`` BPE merges over the corpus. Returns the merge
    table as a DataFrame: (merge_rank, sym_left, sym_right, merged,
    pair_count) — merge_rank 0 is the first/most-frequent merge.

    Ties break lexicographically on (sym_left, sym_right) — pinned, so
    the sequence is deterministic for any corpus. Stops early when no
    adjacent pair remains (fully merged vocab). The merge table is a
    driver-side artifact by nature (it IS the tokenizer model, a few
    hundred rows); training work stays distributed."""
    spark = docs.sparkSession
    vocab = (pretoken_vocab(docs)
             .withColumn("syms", _chars(F.col("pretoken")))
             .select("syms", "n")
             .localCheckpoint(eager=True))
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        best = (adjacent_pair_counts(vocab)
                .orderBy(F.col("pair_count").desc(),
                         F.col("sym_left"), F.col("sym_right"))
                .first())
        if best is None:
            break
        left, right = best["sym_left"], best["sym_right"]
        merges.append((rank, left, right, left + right,
                       int(best["pair_count"])))
        # localCheckpoint: without it round k's plan contains every
        # previous round's fold expression and analysis goes O(k^2)
        vocab = (vocab.withColumn("syms",
                                  _merge_once(F.col("syms"), left, right))
                 .localCheckpoint(eager=True))
    return spark.createDataFrame(
        merges, "merge_rank int, sym_left string, sym_right string, "
                "merged string, pair_count long")


def _encode_pretoken(merges: list[tuple[str, str]]) -> Column:
    """The BPE encode expression for the ``pretoken`` column: the literal
    string-replace merge chain (fast path) with the per-row fold
    fallback — exactly the r13 tokenize_with_merges body, factored
    (r14) so the counts-only apply path shares it verbatim. Returns
    array<string> of BPE tokens.

    r13 rationale: the merge chain runs as LITERAL string replaces
    over a delimited symbol string instead of n_merges interpreted
    array folds (each fold rebuilt its accumulator array per element —
    quadratic per pretoken, and F.aggregate evaluates outside codegen;
    measured 1.07 s of the 1.9 s encode cell on the fixture).
    Encoding: symbols joined by a DOUBLE delimiter with
    double-delimiter ends; each merge replaces
    D·left·DD·right·D -> D·leftright·D. Java's literal replace scans
    left-to-right and never rescans replacement text, and the
    double/single delimiter split reproduces greedy single-pass BPE
    exactly: a freshly merged token keeps only single delimiters, so
    it can never be the LEFT of another match this round (the fold's
    tail != left rule), while the following original symbol retains
    its spare delimiter and still can. Pretokens that contain the
    delimiter char itself (possible only for pathological control
    characters — the pretoken regex admits any single non-alnum char)
    fall back per row to the fold chain, so equivalence is
    unconditional (pinned by the exhaustive replace-vs-fold test)."""
    pre = F.col("pretoken")
    D = "\x00"
    state = F.concat(F.lit(D * 2),
                     F.array_join(_chars(pre), D * 2),
                     F.lit(D * 2))
    for left, right in merges:
        state = F.replace(state,
                          F.lit(D + left + D + D + right + D),
                          F.lit(D + left + right + D))
    fast = F.filter(F.split(state, D), lambda c: c != "")
    syms = _chars(pre)
    for left, right in merges:
        syms = _merge_once(syms, left, right)
    return F.when(pre.contains(D), syms).otherwise(fast)


def bpe_token_counts(docs: DataFrame,
                     merges: list[tuple[str, str]]) -> DataFrame:
    """Per-doc BPE token COUNTS under a learned merge table — the
    counts-only twin of tokenize_with_merges for consumers that never
    read the token arrays (doc_bpe_tokenization's budget output).

    r14 (guide §2.3 — shuffle fewer bytes / aggregate before you
    shuffle): the full encoder fans array<string> encodings back to
    every pretoken occurrence and collect_lists them per doc (every
    occurrence row crosses the doc-keyed wire carrying its array) just
    so the caller can take size(flatten(...)). Counting needs only
    size(bpe) per DISTINCT pretoken: the fan-back join ships one int,
    the order-restoring pos column disappears, and the per-doc
    aggregate becomes a map-side-combined SUM instead of collect_list.
    n_bpe_tokens = Σ size(bpe) over the doc's pretokens = the size of
    the flattened encoding, exactly; empty/whitespace-only docs
    surface as 0 via the same left join (= size(empty array))."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RX), 0)
    ex = spread(docs).select("doc_id", F.explode(toks).alias("pretoken"))
    encoded = (ex.select("pretoken").distinct()
               .withColumn("n_bpe",
                           F.size(_encode_pretoken(merges))))
    per_doc = (ex.join(encoded, "pretoken")
               .groupBy("doc_id")
               .agg(F.sum("n_bpe").alias("__n")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .withColumn("n_bpe_tokens",
                        F.coalesce(F.col("__n"), F.lit(0)).cast("int"))
            .drop("__n"))


def tokenize_with_merges(docs: DataFrame,
                         merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned merge table: encode each doc's pretokens into
    BPE tokens. Output: (doc_id, tokens array<string>, n_bpe_tokens).

    Memoized by pretoken: the merge chain (one fold expression per
    merge, applied in rank order — exactly the training-time greedy
    semantics) runs over DISTINCT pretokens only, then a join fans the
    encodings back to the exploded corpus and collect_list restores
    per-doc order. At 100 TB the expensive chain touches the vocab,
    not the corpus; the fan-back join is pretoken-keyed (same shuffle
    width as the vocab build)."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RX), 0)
    # spread() before the regex pretokenize + posexplode (r11): the
    # fan-back join keys on pretoken, so the corpus side's width here
    # is what the whole encode pipeline inherits
    ex = spread(docs).select("doc_id",
                             F.posexplode(toks).alias("pos", "pretoken"))
    distinct_pre = ex.select("pretoken").distinct()
    encoded = distinct_pre.withColumn("bpe", _encode_pretoken(merges))
    joined = ex.join(encoded, "pretoken")
    per_doc = (joined.groupBy("doc_id")
               .agg(F.flatten(F.transform(
                   F.array_sort(F.collect_list(F.struct("pos", "bpe"))),
                   lambda s: s["bpe"])).alias("tokens")))
    # left-join back onto the input ids: a doc whose text yields ZERO
    # pretokens (empty/whitespace-only) produces no exploded rows and
    # would silently vanish from the group-by — it must surface with
    # an empty encoding instead (ADVICE r4)
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .withColumn("tokens",
                        F.coalesce("tokens",
                                   F.array().cast("array<string>")))
            .withColumn("n_bpe_tokens", F.size("tokens")))
