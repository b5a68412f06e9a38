"""Unigram-LM tokenizer training (SentencePiece's unigram model,
Kudo 2018 — public method), distributed the same way as BPE
(operators/bpe.py): the corpus is scanned ONCE into a distinct
pretoken vocabulary with counts, and every training round works on
that word-count table — corpus-size-independent iteration, the
canonical scalable shape.

Simplifications vs the full SentencePiece trainer, stated up front:

* hard-EM (Viterbi counts) instead of full lattice forward-backward
  soft-EM — the E-step keeps only each word's best segmentation.
  Deterministic, easier to verify exactly; quality is close for the
  short-pretoken regime this corpus has.
* candidate vocabulary = all substrings of pretokens up to length 6
  with enough support, plus every single character (the coverage
  floor that guarantees every word stays segmentable).
* pruning keeps the top-K pieces by probability each round (chars
  are never pruned).

Where the compute runs: candidate extraction and usage counting are
explode+agg over the WORD table (map-side combined); the Viterbi
E-step is one Arrow-batched mapInPandas pass over distinct words
with the piece log-prob table shipped in the closure (model-sized —
K pieces).
Python is sanctioned here for the same reason as EMA: per-word
dynamic programming is inherently sequential in the word length.
Verification tier: rows-only (ln is libm-bound) + exact parity with
a pure-Python reference implementation of the same algorithm.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PIECE_LEN = 6
VOCAB_K = 512
MIN_COUNT = 2
EM_ROUNDS = 3
# Seed-vocabulary cap, as a multiple of vocab_k (VERDICT r11 #5 /
# what's-wrong #2): SentencePiece's own seed_sentencepiece_size
# discipline — the FIRST round's model is chars + the top
# SEED_FACTOR*vocab_k multi-char candidates by corpus count, capped
# IN-PLAN before the collect. Without it the seed collect pulled
# every >=min_count substring onto the driver — at 100 TB plausibly
# tens of millions of rows; later rounds always pruned to vocab_k,
# only the seed was unbounded.
SEED_FACTOR = 20


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, wc): the distinct-pretoken table every round works on.
    spread() first (r11 rollout): the tokenize explode is the only
    corpus-width stage in training — everything after works on the
    distinct-word table."""
    from .dedup import spread
    toks = F.explode(F.split(F.lower(F.trim(F.col("text"))),
                             r"\s+")).alias("word")
    return (spread(docs).select(toks).filter(F.length("word") > 0)
            .groupBy("word").agg(F.count("*").alias("wc")))


def candidate_pieces(words: DataFrame) -> DataFrame:
    """(piece, c): substring candidates of up to MAX_PIECE_LEN chars
    weighted by word frequency. Single characters bypass MIN_COUNT —
    they are the coverage floor."""
    w = words.withColumn("ln", F.length("word"))
    subs = (w.select("wc", F.explode(F.expr(
        f"flatten(transform(sequence(1, ln), i -> "
        f"transform(sequence(i, least(ln, i + {MAX_PIECE_LEN} - 1)), "
        f"j -> substring(word, i, j - i + 1))))")).alias("piece"))
        .groupBy("piece").agg(F.sum("wc").alias("c")))
    return subs.filter((F.length("piece") == 1)
                       | (F.col("c") >= MIN_COUNT))


def seed_pieces(words: DataFrame, vocab_k: int = VOCAB_K) -> DataFrame:
    """The CAPPED seed vocabulary (piece, c): chars (coverage floor,
    never capped) + the top SEED_FACTOR*vocab_k multi-char candidates
    by count, deterministic tie-break on the piece string. The cap is
    IN-PLAN (orderBy+limit compiles to TakeOrderedAndProject —
    per-partition heaps + a driver merge of the cap, no global sort),
    so the seed collect in train_unigram is bounded by
    |alphabet| + 20*vocab_k rows regardless of corpus size — at
    100 TB the uncapped seed was the trainer's one unbounded
    driver-side collect (VERDICT r11 what's-wrong #2)."""
    cands = candidate_pieces(words)
    return (cands.filter(F.length("piece") == 1)
            .unionByName(cands.filter(F.length("piece") > 1)
                         .orderBy(F.desc("c"), "piece")
                         .limit(SEED_FACTOR * vocab_k)))


def _viterbi(word: str, logp: dict, unk: float) -> list[str]:
    """Best segmentation under piece log-probs; single chars always
    available (at `unk` when unseen) so every word segments."""
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        for i in range(max(0, j - MAX_PIECE_LEN), j):
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None:
                if j - i == 1:
                    lp = unk
                else:
                    continue
            score = best[i] + lp
            if score > best[j]:
                best[j] = score
                back[j] = i
    out = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    return list(reversed(out))


def train_unigram(docs: DataFrame,
                  vocab_k: int = VOCAB_K,
                  rounds: int = EM_ROUNDS) -> list[tuple[str, float]]:
    """Fit the piece table: returns [(piece, logp)] sorted by piece.
    Each round: Viterbi-segment every DISTINCT word under the current
    model (mapInPandas — Arrow-batched, piece table shipped via
    closure, model-sized), count piece usages weighted by word frequency
    (one agg), renormalize, prune to vocab_k keeping all chars.
    The driver holds only the piece table (K rows)."""
    import pandas as pd

    words = word_counts(docs).persist()
    # seed model over the CAPPED candidates (seed_pieces): the seed
    # normalizer total0 sums over the capped seed so the seed
    # distribution stays a proper distribution over the pieces it
    # actually contains. ONE materialization: the seed is collected
    # (bounded — chars + 20*vocab_k rows) and total0 summed from the
    # collected rows, instead of a separate agg job that would re-run
    # the substring explode a second time (the langid-r12 lesson:
    # every extra action on an unpersisted derived frame re-executes
    # its corpus-width upstream).
    rows = seed_pieces(words, vocab_k).collect()
    total0 = sum(r["c"] for r in rows)
    if not rows:
        raise ValueError(
            "train_unigram: empty corpus — no candidate pieces "
            "(every document tokenized to nothing)")
    model = {r["piece"]: math.log(r["c"] / total0) for r in rows}

    for _ in range(rounds):
        logp = dict(model)
        unk = min(logp.values()) - 10.0

        def seg(batches):
            for pdf in batches:
                rows = []
                for word, wc in zip(pdf["word"], pdf["wc"]):
                    for piece in _viterbi(str(word), logp, unk):
                        rows.append((piece, int(wc)))
                yield pd.DataFrame(rows, columns=["piece", "n"])

        # mapInPandas: Arrow-batched over the word table, NO shuffle
        # before the piece aggregate (a groupBy-apply would shuffle
        # one group per distinct word first)
        usage = (words.mapInPandas(seg, "piece string, n long")
                 .groupBy("piece").agg(F.sum("n").alias("n")))
        rows = usage.collect()
        total = sum(r["n"] for r in rows)
        fresh = {r["piece"]: math.log(r["n"] / total) for r in rows}
        # prune: keep chars + top-(vocab_k) multi-char pieces by prob
        chars = {p: lp for p, lp in fresh.items() if len(p) == 1}
        multi = sorted(((p, lp) for p, lp in fresh.items()
                        if len(p) > 1),
                       key=lambda t: (-t[1], t[0]))[:vocab_k]
        model = dict(chars)
        model.update(dict(multi))
    words.unpersist()
    return sorted(model.items())


def tokenize_with_pieces(docs: DataFrame,
                         pieces: list[tuple[str, float]]) -> DataFrame:
    """Apply path (mirrors bpe.tokenize_with_merges' shape): Viterbi
    per DISTINCT pretoken (memoized by construction — each distinct
    word segments once), fan back onto the docs. Docs with zero
    pretokens survive with n_pieces = 0. Output: (doc_id, n_words,
    n_pieces)."""
    import pandas as pd

    logp = dict(pieces)
    unk = (min(logp.values()) - 10.0) if logp else -100.0

    from .dedup import spread
    # spread() before the tokenize explode (r11): the word-keyed
    # fan-back join inherits this width
    toks = (spread(docs)
            .select("doc_id",
                    F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+")).alias("word"))
            .filter(F.length("word") > 0))
    distinct = toks.select("word").distinct()

    def seg(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [(str(w), len(_viterbi(str(w), logp, unk)))
                 for w in pdf["word"]], columns=["word", "k"])

    pieces_per_word = distinct.mapInPandas(seg, "word string, k long")
    per_doc = (toks.join(pieces_per_word, "word")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_words"),
                    F.sum("k").alias("n_pieces")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_words", F.lit(0)).alias("n_words"),
                    F.coalesce("n_pieces", F.lit(0)).alias("n_pieces")))
