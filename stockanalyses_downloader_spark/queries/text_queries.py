"""Text-analysis & dedup operators over the ``documents`` table
(SURVEY.md §2.9 X1/X4 — the training-data-pipeline surface).

All hot-path expressions are JVM built-ins (split/regexp/md5/aggregate)
— no Python UDFs — so they whole-stage-codegen and scale linearly with
input bytes. Near-dup operators that need hashing families live in
``operators/dedup.py``; the SQL-expressible ones are oracled here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import Q

_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is")
_SW_ARRAY = ", ".join(f"'{w}'" for w in _STOPWORDS)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _docs_spread(spark, sf_dir):
    """Docs scan widened to cluster parallelism (r11 rollout of the
    spread() guard — VERDICT r10 #1). Used by the queries that feed a
    token/gram EXPLODE into a sketch build: the tokenizer + per-depth
    hash cells run map-side, so with a narrow upstream (single-file
    fixture scan, broadcast-enriched frame) all that CPU serializes
    BEFORE the sketch aggregate's own exchange can spread it — the
    r10 count-min lesson (187 s unspread vs 8.95 s spread at the 100×
    cell). The guard lives here, pre-explode, and NOT inside
    operators/sketches.py: a sketch build's input is an already-
    exploded item stream, and repartitioning post-explode would
    shuffle the amplified token rows instead of the docs."""
    from ..operators.dedup import spread
    return spread(load_table(spark, sf_dir, "documents"))


# --- X1: exact dedup -------------------------------------------------------

def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by full text: keep the lowest doc_id per distinct
    text, count the duplicates it absorbs. Hash-aggregate on the text
    key — at 100 TB the groupBy key would be a 128-bit text digest
    instead of the raw string to shrink shuffle width (see
    doc_fingerprints), semantics identical."""
    d = _docs(spark, sf_dir)
    return (d.groupBy("text")
             .agg(F.min("doc_id").alias("keeper_doc_id"),
                  F.count("*").alias("n_copies"))
             .select("keeper_doc_id", "n_copies"))


_DEDUP_SQL = """
SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


# --- X4: token counting ----------------------------------------------------

def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + char statistics per document."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id", "lang",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        (F.length(F.regexp_replace(F.col("text"), r"\s+", "")).cast("double")
         / F.size(toks)).alias("avg_token_len"))


_TOKEN_SQL = r"""
SELECT doc_id, lang,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       length(text) AS n_chars_actual,
       CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
         / len(string_split_regex(trim(text), '\s+')) AS avg_token_len
FROM documents
"""


# --- X4: quality scoring ---------------------------------------------------

def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: stopword ratio (fluency proxy), mean
    token length, and a length prior, combined linearly. Deterministic
    double arithmetic — identical in the oracle."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_tokens = F.size(toks)
    sw = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    sw_ratio = sw.cast("double") / n_tokens
    mean_len = F.length(F.regexp_replace("text", r"\s+", "")).cast("double") / n_tokens
    length_prior = F.least(F.length("text").cast("double") / 500.0, F.lit(1.0))
    score = sw_ratio * 0.4 + (mean_len / 10.0) * 0.3 + length_prior * 0.3
    return d.select("doc_id", "lang",
                    sw_ratio.alias("stopword_ratio"),
                    mean_len.alias("mean_token_len"),
                    score.alias("quality_score"))


_QUALITY_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang, text,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS solid_chars
  FROM documents
), s AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(toks, x -> x IN ({_SW_ARRAY}))) AS DOUBLE)
           / len(toks) AS stopword_ratio,
         solid_chars / len(toks) AS mean_token_len,
         least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS length_prior
  FROM t
)
SELECT doc_id, lang, stopword_ratio, mean_token_len,
       stopword_ratio * 0.4 + (mean_token_len / 10.0) * 0.3
         + length_prior * 0.3 AS quality_score
FROM s
"""


# --- X4: fingerprinting ----------------------------------------------------

def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form digest per document (lowercase, whitespace
    collapsed -> md5) + how many documents share each digest. The
    digest is the scale-out dedup key: 16 bytes shuffled instead of
    full text."""
    d = _docs(spark, sf_dir)
    canon = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    with_fp = d.select("doc_id", F.md5(canon.cast("binary")).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return with_fp.withColumn("n_sharing", F.count("*").over(w).cast("long"))


_FP_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
       CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_sharing
FROM fp
"""


# --- X4: language-ID heuristic ---------------------------------------------

_LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is|in|that|it)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|zu)\b",
    "fr": r"\b(le|la|les|et|est|un|une|dans)\b",
    "es": r"\b(el|la|los|las|es|y|un|una|en)\b",
}


def doc_language_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free language ID: per-language stopword-marker hit counts
    + argmax prediction (deterministic tie order en>de>fr>es)."""
    d = _docs(spark, sf_dir)
    lowered = F.lower("text")
    cols = {lang: F.size(F.regexp_extract_all(lowered, F.lit(rx), 0))
            for lang, rx in _LANG_MARKERS.items()}
    scored = d.select("doc_id", F.col("lang").alias("labeled_lang"),
                      *[c.alias(f"score_{lang}") for lang, c in cols.items()])
    s = {lang: F.col(f"score_{lang}") for lang in _LANG_MARKERS}
    best = F.greatest(*s.values())
    pred = (F.when(s["en"] == best, "en").when(s["de"] == best, "de")
             .when(s["fr"] == best, "fr").otherwise("es"))
    return scored.withColumn("predicted_lang", pred)


_LANG_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {', '.join(f"len(regexp_extract_all(lower(text), '{rx}')) AS score_{lang}"
                    for lang, rx in _LANG_MARKERS.items())}
  FROM documents
)
SELECT *,
       CASE WHEN score_en >= greatest(score_de, score_fr, score_es) THEN 'en'
            WHEN score_de >= greatest(score_fr, score_es) THEN 'de'
            WHEN score_fr >= score_es THEN 'fr'
            ELSE 'es' END AS predicted_lang
FROM scored
"""


#: BPE-style pretokenizer classes: letter runs, digit runs, single
#: non-space symbols (RE2-safe: no lookarounds, works in Spark's Java
#: regex and DuckDB's RE2 identically)
_BPE_RX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting per doc (the tokenizer-budget
    estimate a training pipeline runs before the real BPE pass):
    pretoken count, distinct pretokens, alpha/digit/symbol split."""
    d = _docs(spark, sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RX), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_pretokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_pretokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[A-Za-z]+$")))
         .alias("n_alpha"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
         .alias("n_digit"))


_BPE_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_BPE_RX}') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_pretokens,
       len(list_distinct(toks)) AS n_distinct_pretokens,
       len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z]+'))) AS n_alpha,
       len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS n_digit
FROM t
"""


def pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus (operators/textprep):
    per-doc match counts per kind and the md5 of the redacted text —
    the digest pins that both engines produced byte-identical scrubbed
    output without hauling full text through the compare."""
    from ..operators import textprep
    d = _docs(spark, sf_dir)
    out = textprep.with_pii_redaction(d)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.md5(F.col("redacted").cast("binary")).alias("redacted_md5"))


def _pii_sql() -> str:
    from ..operators.textprep import PII_PATTERNS, REDACTION_ORDER
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{rx}')) AS n_{kind}"
        for kind, rx in PII_PATTERNS.items())
    red = "text"
    for kind in REDACTION_ORDER:
        red = (f"regexp_replace({red}, '{PII_PATTERNS[kind]}', "
               f"'[{kind.upper()}]', 'g')")
    return f"""
SELECT doc_id, {counts}, md5({red}) AS redacted_md5
FROM documents
"""


def doc_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token / 48-stride chunking (operators/textprep
    .chunk_documents) — the retrieval/packing prep step. One row per
    chunk with 1-based token offsets and the chunk text."""
    from ..operators import textprep
    return textprep.chunk_documents(_docs(spark, sf_dir))


_CHUNKS_SQL = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
), n AS (
  SELECT doc_id, toks,
         greatest(1, CAST(ceil((len(toks) - 64) / 48.0) AS INT) + 1)
           AS n_chunks
  FROM t
), ex AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, n_chunks - 1)) AS i
  FROM n
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       CAST(i * 48 + 1 AS INT) AS start_token,
       CAST(len(list_slice(toks, i * 48 + 1, i * 48 + 64)) AS INT)
         AS n_chunk_tokens,
       array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ')
         AS chunk_text
FROM ex
"""


def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality signal: per-doc mean INVERSE relative token
    frequency (corpus_total / corpus_count(token)) and the rarest
    token's corpus count. High mean = out-of-distribution / noisy doc;
    the ln-free stand-in for unigram perplexity (ln's last-ulp
    behavior differs across engines — ratios are exact, same reason
    tfidf uses the plain N/df ratio).

    Shape: one corpus token agg, a broadcast scalar total, a token-
    keyed join back to the exploded stream, one doc-keyed agg. Means
    accumulate in DECIMAL (partitioning/order-independent — double
    addition isn't associative; the oracle sums in a single thread)."""
    d = _docs(spark, sf_dir)
    ex = d.select("doc_id",
                  F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                    r"\s+")).alias("tok"))
    counts = ex.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    joined = (ex.join(counts, "tok")
              .crossJoin(F.broadcast(total))
              .withColumn("inv", F.col("t").cast("double") / F.col("c")))
    return (joined.groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 (F.sum(F.col("inv").cast("decimal(30,15)")).cast("double")
                  / F.count("*")).alias("mean_inv_freq"),
                 F.min("c").alias("rarest_count")))


_SURPRISAL_SQL = r"""
WITH ex AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), counts AS (
  SELECT tok, count(*) AS c FROM ex GROUP BY tok
), total AS (
  SELECT SUM(c) AS t FROM counts
)
SELECT ex.doc_id, count(*) AS n_tokens,
       CAST(SUM(CAST(CAST(total.t AS DOUBLE) / counts.c
                     AS DECIMAL(30,15))) AS DOUBLE) / count(*)
         AS mean_inv_freq,
       MIN(counts.c) AS rarest_count
FROM ex JOIN counts USING (tok) CROSS JOIN total
GROUP BY ex.doc_id
"""


def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality signal (r5 — the conditional upgrade of
    doc_unigram_surprisal, the ln-free stand-in for the LM-perplexity
    filter of CCNet/Gopher-style curation): per adjacent token pair
    the inverse conditional probability 1/p(w2|w1) =
    corpus_bigrams_starting(w1) / corpus_count(w1, w2), averaged per
    doc, plus the most improbable transition's ratio. High mean =
    improbable transitions = shuffled/generated/noisy text that
    unigram frequencies alone can't flag (every token common, the
    SEQUENCE wrong).

    Shape: one corpus bigram agg (map-side combined; the left-count
    table derives from it, no second corpus scan), a bigram-keyed join
    back, one doc-keyed agg. Docs with < 2 tokens have no bigrams and
    are excluded by construction (documented; the curation capstone
    already floors short docs). Ratio sums accumulate in DECIMAL."""
    from ..operators import ngram_lm
    d = _docs(spark, sf_dir)
    # bound-column pair extraction (ngram_lm.bigram_pairs): an inline
    # split inside the transform lambda re-tokenizes per element —
    # O(tokens²) per doc (see the operator docstring)
    ex = ngram_lm.bigram_pairs(d)
    bg = ex.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    left = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    joined = (ex.join(bg, ["w1", "w2"]).join(left, "w1")
              .withColumn("inv",
                          F.col("c1").cast("double") / F.col("c12")))
    return (joined.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 (F.sum(F.col("inv").cast("decimal(30,15)")).cast("double")
                  / F.count("*")).alias("mean_inv_cond_prob"),
                 F.max("inv").alias("worst_transition")))


_BIGRAM_SURPRISAL_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents
), ex AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM (SELECT doc_id, ts,
               unnest(generate_series(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 2)
), bg AS (
  SELECT w1, w2, count(*) AS c12 FROM ex GROUP BY w1, w2
), lft AS (
  SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1
)
SELECT ex.doc_id, count(*) AS n_bigrams,
       CAST(SUM(CAST(CAST(lft.c1 AS DOUBLE) / bg.c12
                     AS DECIMAL(30,15))) AS DOUBLE) / count(*)
         AS mean_inv_cond_prob,
       MAX(CAST(lft.c1 AS DOUBLE) / bg.c12) AS worst_transition
FROM ex JOIN bg USING (w1, w2) JOIN lft USING (w1)
GROUP BY ex.doc_id
"""


def token_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index statistics: per token its document frequency,
    total occurrences, and the lowest containing doc_id (the head of
    the postings list). The explode+agg shape IS the distributed index
    build — at 100 TB the only shuffle is token-keyed and map-side
    combined."""
    d = _docs(spark, sf_dir)
    ex = d.select("doc_id",
                  F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                    r"\s+")).alias("token"))
    return (ex.groupBy("token")
            .agg(F.countDistinct("doc_id").alias("df"),
                 F.count("*").alias("total_tf"),
                 F.min("doc_id").alias("first_doc_id")))


_POSTINGS_SQL = r"""
SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       count(*) AS total_tf, MIN(doc_id) AS first_doc_id
FROM (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM documents)
GROUP BY token
"""


def substring_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication signal (the Lee et al. 2022
    "Deduplicating Training Data" shape, anchored instead of
    suffix-array-exact): pick CONTENT-DEFINED anchor points in the
    canonicalized text, digest the 64-char window after each anchor,
    count DISTINCT docs per digest corpus-wide, and report per doc the
    fraction of its windows that also occur in ANOTHER doc. Catches
    long verbatim overlaps that token-set Jaccard dilutes away (a
    10k-token doc embedding a 500-char boilerplate block scores
    near-zero Jaccard but ~1.0 on the shared windows).

    Anchor rule (VERDICT r4 #2 — the r4 grid-aligned windows were
    shift-sensitive: a shared block at offsets differing by a
    non-multiple of the stride produced disjoint digests): an anchor
    is a SPACE position whose following 16-char window's md5 starts
    with a hex digit in 0-3 (expected anchor gap ~= 4 word gaps,
    ~24 chars of typical prose — the old stride-32 density). Both the
    space test and the md5 test depend only on LOCAL content, so a
    verbatim block carries its anchors with it at ANY offset — the
    same cut-rule idea as multimodal.payload_cdc_chunks, specialized
    to text where word boundaries give a free cheap prefilter (md5 is
    only evaluated at the ~1/6 of positions that are spaces; Catalyst's
    And short-circuits). A head anchor at position 0 is always
    included so every doc has >= 1 window.

    Scale shape: per-row anchor scan + window explode (rows ×
    len/gap), digest-keyed agg with map-side combine (16-byte keys on
    the wire), one digest->df map join, one doc-keyed agg. No
    pairwise anything — the digest IS the bucket."""
    AW, W = 16, 64
    CAP = 1_000_000   # chars scanned per doc — see below
    from ..operators.dedup import spread
    # spread(): the anchor scan runs one md5 per space position — a
    # narrow one-split local input would serialize the whole corpus
    # scan through one task.
    # CAP (review r5): the position scan materializes a len(c)-int
    # sequence per row before the anchor filter, so a pathological
    # multi-MB document would hold a same-sized transient array in
    # the project stage; capping the scanned prefix at 1M chars
    # bounds that at ~8 MB/row while leaving the signal intact
    # (duplication fractions over the first 1M chars — the standard
    # long-doc truncation every quality signal here applies). The
    # oracle applies the identical cap.
    d = spread(_docs(spark, sf_dir))
    canon = F.substring(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), 1, CAP)
    base = d.select("doc_id", canon.alias("c"))
    # r14 (guide §4.1 — codegen built-ins over interpreted
    # higher-order lambdas): the anchor scan used to run as
    # F.filter(sequence(1, len), lambda: space & md5-prefix) plus an
    # F.transform computing the window digests — BOTH interpreted,
    # i.e. one non-codegen md5 + substr evaluation per space position
    # per row (the r13 langid/textprep lambda lesson, one level up:
    # here the lambda itself was the hot loop, not a recompute). Now
    # the position stream EXPLODES through a codegen Generate and the
    # anchor test + window digest run as whole-stage-codegen
    # expressions on (doc, pos) rows. Same anchor rule (the And still
    # short-circuits the md5 behind the space test), same digests,
    # same head-anchor row via the union, so the (doc_id, wd) multiset
    # into dropDuplicates — and the oracle hash — are unchanged.
    # sequence(1, 0) would run DESCENDING on an empty doc — guard it.
    pos = F.explode(F.when(
        F.length("c") >= 1, F.sequence(F.lit(1), F.length("c"))
    ).otherwise(F.array().cast("array<int>"))).alias("i")
    i = F.col("i")
    anchor_rows = (base.select("doc_id", "c", pos)
                   .filter((F.col("c").substr(i, F.lit(1)) == " ")
                           & F.substring(
                               F.md5(F.col("c").substr(i + 1, F.lit(AW))
                                     .cast("binary")),
                               1, 1).isin("0", "1", "2", "3"))
                   .select("doc_id",
                           F.md5(F.col("c").substr(i + 1, F.lit(W))
                                 .cast("binary")).alias("wd")))
    head_rows = base.select(
        "doc_id",
        F.md5(F.col("c").substr(F.lit(1), F.lit(W)).cast("binary"))
        .alias("wd"))
    ex = (head_rows.unionByName(anchor_rows)
          .dropDuplicates(["doc_id", "wd"]))
    df_counts = ex.groupBy("wd").agg(F.countDistinct("doc_id").alias("ndocs"))
    return (ex.join(df_counts, "wd")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_windows"),
                 F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
                 .alias("n_shared_windows"))
            .withColumn("dup_fraction",
                        F.col("n_shared_windows").cast("double")
                        / F.col("n_windows")))


_SUBSTR_DUP_SQL = r"""
WITH base AS (
  SELECT doc_id,
         substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                   1, 1000000) AS c
  FROM documents
), anchors AS (
  SELECT doc_id, c, 0 AS a FROM base
  UNION ALL
  SELECT doc_id, c, i AS a
  FROM (SELECT doc_id, c,
               unnest(generate_series(1, length(c))) AS i
        FROM base)
  WHERE substring(c, i, 1) = ' '
    AND substring(md5(substring(c, i + 1, 16)), 1, 1)
          IN ('0', '1', '2', '3')
), ex AS (
  SELECT DISTINCT doc_id, md5(substring(c, a + 1, 64)) AS wd
  FROM anchors
), dfc AS (
  SELECT wd, count(DISTINCT doc_id) AS ndocs FROM ex GROUP BY wd
)
SELECT ex.doc_id, count(*) AS n_windows,
       CAST(SUM(CASE WHEN dfc.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_windows,
       CAST(SUM(CASE WHEN dfc.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_fraction
FROM ex JOIN dfc USING (wd)
GROUP BY ex.doc_id
"""


def lang_distinct_token_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token cardinality per language via the TWO-LEVEL
    mergeable-sketch path on the PORTABLE HLL grid: per-(lang,
    source) register grids first, then re-merged up to lang by
    register MAX — the 100 TB pattern where sketches are materialized
    per partition/day and re-aggregated at query time WITHOUT
    rescanning tokens (exact count_distinct cannot merge: distinct
    sets don't add). Fully DuckDB-oracled: register MAX is
    associative, so the two-level merge provably (and
    hash-certifiably) equals the single-pass grid — the mergeability
    contract itself is what the oracle certifies. Binary
    Datasketches state is engine-private, so it could not be
    oracled."""
    from ..operators import sketches
    d = _docs_spread(spark, sf_dir)
    ex = d.select("lang", "source",
                  F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                    r"\s+")).alias("token"))
    per_source = sketches.hll_build_grouped(ex, ["lang", "source"],
                                            "token")
    merged = (per_source.groupBy("lang", "reg")
              .agg(F.max("max_rho").alias("max_rho")))
    est = sketches.hll_estimate_grouped(merged, ["lang"])
    vol = ex.groupBy("lang").agg(F.count("*").alias("n_tokens"))
    return (est.join(vol, "lang")
            .select("lang",
                    F.round("est_distinct", 6)
                    .alias("approx_distinct_tokens"),
                    "n_tokens"))


def _sketch_two_level_sql() -> str:
    """Oracle for the portable two-level sketch: cells are grouped to
    per-(lang, source) grids first, then re-merged to lang — the same
    two hops the Spark side takes, so the SQL certifies the merge
    path, not just the final numbers."""
    from ..operators.sketches import HLL_M
    m = HLL_M
    alpha_m2 = repr((0.7213 / (1.0 + 1.079 / m)) * m * m)
    return rf"""
WITH toks AS (
  SELECT lang, source,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
), cells AS (
  SELECT lang, source,
         CAST(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {m}
              AS INT) AS reg,
         CAST(CASE WHEN CAST('0x' || substr(md5(token), 9, 8) AS BIGINT) = 0
                   THEN 33
                   ELSE 33 - length(bin(CAST('0x' || substr(md5(token), 9, 8)
                                             AS BIGINT)))
              END AS INT) AS rho
  FROM toks
), per_source AS (
  SELECT lang, source, reg, MAX(rho) AS max_rho
  FROM cells GROUP BY lang, source, reg
), grid AS (
  SELECT lang, reg, MAX(max_rho) AS max_rho
  FROM per_source GROUP BY lang, reg
), agg AS (
  SELECT lang,
         SUM(pow(2.0, -max_rho)) AS s_hit,
         count(*) AS n_present
  FROM grid GROUP BY lang
), est AS (
  SELECT lang,
         {alpha_m2} / (s_hit + CAST({m} - n_present AS DOUBLE)) AS raw,
         {m} - n_present AS zeros
  FROM agg
), vol AS (
  SELECT lang, count(*) AS n_tokens FROM toks GROUP BY lang
)
SELECT est.lang,
       round(CASE WHEN raw <= 2.5 * {m} AND zeros > 0
                  THEN {float(m)!r} * ln({float(m)!r} / zeros)
                  ELSE raw END, 6) AS approx_distinct_tokens,
       vol.n_tokens
FROM est JOIN vol ON est.lang = vol.lang
"""


def ingest_dead_letter_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-rate by source (VERDICT r3 #8) — the dead-letter
    frames of sources/formats.py surfaced as a query, the ops
    companion to corpus_datacard: an ingest owner watches which feed
    is rotting.

    The query exercises the REAL line-ingest machinery end-to-end on
    a deterministic fixture derived from the documents table: rows
    serialize to JSON lines (to_json), every doc_id % 97 == 0 line is
    corrupted (prepended junk — invalid JSON), the lines go through
    formats.parse_jsonl_lines' PERMISSIVE split, and dead lines have
    their source SALVAGED from the raw text by regexp (dead-letter
    triage: the parse failed but the evidence line still names its
    feed). The oracle computes the same report from the corruption
    rule directly — any from_json false positive/negative or salvage
    miss breaks the hash match."""
    from ..sources import formats
    d = load_table(spark, sf_dir, "documents")
    line = F.to_json(F.struct("doc_id", "lang", "source", "text"))
    corrupted = F.when(F.col("doc_id") % 97 == 0,
                       F.concat(F.lit("###"), line)).otherwise(line)
    lines = d.select(corrupted.alias("value"))
    schema = ("doc_id long, lang string, source string, text string")
    from pyspark.sql.types import _parse_datatype_string
    good, dead = formats.parse_jsonl_lines(
        lines, _parse_datatype_string(schema))
    g = good.groupBy("source").agg(F.count("*").alias("n_good"))
    salvaged = dead.select(
        F.regexp_extract(F.col(formats.CORRUPT_COL),
                         r'"source":"([^"]*)"', 1).alias("source"))
    b = salvaged.groupBy("source").agg(F.count("*").alias("n_dead"))
    return (g.join(b, "source", "full_outer")
            .select("source",
                    F.coalesce("n_good", F.lit(0)).alias("n_good"),
                    F.coalesce("n_dead", F.lit(0)).alias("n_dead"))
            .withColumn("malformed_rate",
                        F.col("n_dead").cast("double")
                        / (F.col("n_good") + F.col("n_dead"))))


_DEAD_RATE_SQL = """
SELECT source,
       CAST(SUM(CASE WHEN doc_id % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dead,
       CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS malformed_rate
FROM documents GROUP BY source
"""


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training round 1, the SQL-oracled face of the learner:
    corpus-weighted adjacent character-pair counts over pretokens
    (operators/bpe.first_round_pair_counts — same pretokenizer classes
    as doc_bpe_token_stats). The argmax of this table is the first
    merge the tokenizer learns."""
    from ..operators import bpe
    return bpe.first_round_pair_counts(_docs(spark, sf_dir))


_BPE_PAIRS_SQL = rf"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '{_BPE_RX}')) AS pretoken
  FROM documents
), vocab AS (
  SELECT pretoken, count(*) AS n FROM toks GROUP BY pretoken
), chars AS (
  SELECT n, regexp_extract_all(pretoken, '.') AS cs FROM vocab
), idx AS (
  SELECT n, cs, unnest(generate_series(1, len(cs) - 1)) AS i
  FROM chars WHERE len(cs) >= 2
)
SELECT cs[i] AS sym_left, cs[i + 1] AS sym_right,
       CAST(SUM(n) AS BIGINT) AS pair_count
FROM idx GROUP BY sym_left, sym_right
"""


def bpe_merge_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer model: 16 greedy BPE merge rounds over
    the documents corpus (operators/bpe.learn_bpe_merges). Fully
    DuckDB-oracled since r7c: BPE training is ALL-INTEGER and
    tie-pinned (argmax by count desc then lexicographic pair), so the
    16 fixed rounds unroll as chained CTEs — each round one
    adjacent-pair count + a LIMIT-1 argmax + a greedy left-to-right
    list fold (list_reduce with a list accumulator) that replays
    _merge_once's exact single-pass semantics. The driver hash
    certifies the TRAINED TOKENIZER itself; the pure-Python parity
    pin in pytest stays as the third engine."""
    from ..operators import bpe
    return bpe.learn_bpe_merges(_docs(spark, sf_dir), n_merges=16)


def _bpe_rounds_cte(n_merges: int = 16) -> str:
    """Shared CTE chain replaying learn_bpe_merges: vocab0 is the
    pretoken word-count table with char symbols; round r computes
    corpus-weighted adjacent-pair counts (p{r}), the tie-pinned argmax
    (b{r}), and the greedily merged vocab (vocab{r+1}). The fold seeds
    an empty VARCHAR[] accumulator by prepending it to the
    singleton-wrapped symbol list (DuckDB list_reduce has no init
    arg); acc[-1]=left AND x=right replaces the tail with the merged
    symbol — bit-for-bit _merge_once.

    Early exhaustion matches learn_bpe_merges' early stop: if a round
    has no adjacent pair left, b{r} emits a single all-NULL sentinel
    (instead of going empty, which would annihilate every later vocab
    CTE through the cross join), the fold's NULL comparison keeps the
    vocab unchanged, and the merge-sequence SELECT filters sentinel
    rows out — so both engines return exactly the merges that
    happened."""
    parts = [f"""toks AS (
  SELECT unnest(regexp_extract_all(text, '{_BPE_RX}')) AS pretoken
  FROM documents
), vocab0 AS MATERIALIZED (
  SELECT pretoken, regexp_extract_all(pretoken, '.') AS syms,
         CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY pretoken
)"""]
    for r in range(n_merges):
        parts.append(f""", p{r} AS MATERIALIZED (
  SELECT syms[i] AS sym_left, syms[i + 1] AS sym_right,
         CAST(SUM(n) AS BIGINT) AS pair_count
  FROM (SELECT syms, n, unnest(generate_series(1, len(syms) - 1)) AS i
        FROM vocab{r} WHERE len(syms) >= 2)
  GROUP BY sym_left, sym_right
), b{r} AS MATERIALIZED (
  (SELECT sym_left, sym_right, sym_left || sym_right AS merged,
          pair_count
   FROM p{r} ORDER BY pair_count DESC, sym_left, sym_right LIMIT 1)
  UNION ALL
  (SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
          CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
   WHERE (SELECT count(*) FROM p{r}) = 0)
), vocab{r + 1} AS MATERIALIZED (
  SELECT pretoken,
         list_reduce(
           list_concat([CAST([] AS VARCHAR[])],
                       list_transform(syms, s -> [s])),
           (acc, x) -> CASE WHEN len(acc) > 0
                             AND acc[-1] = b.sym_left
                             AND x[1] = b.sym_right
                       THEN list_concat(acc[:len(acc) - 1], [b.merged])
                       ELSE list_concat(acc, x) END) AS syms,
         n
  FROM vocab{r}, b{r} b
)""")
    return "".join(parts)


def _bpe_merge_sequence_sql(n_merges: int = 16) -> str:
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS merge_rank, sym_left, sym_right,"
        f" merged, pair_count FROM b{r} WHERE sym_left IS NOT NULL"
        for r in range(n_merges))
    return f"WITH {_bpe_rounds_cte(n_merges)}\n{rows}"


def _bpe_tokenization_sql(n_merges: int = 16) -> str:
    return f"""WITH {_bpe_rounds_cte(n_merges)}
, dtoks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{_BPE_RX}')) AS pretoken
  FROM documents
), per_doc AS (
  SELECT d.doc_id, CAST(sum(len(v.syms)) AS INT) AS n_bpe_tokens
  FROM dtoks d JOIN vocab{n_merges} v USING (pretoken)
  GROUP BY d.doc_id
)
SELECT doc_id, coalesce(per_doc.n_bpe_tokens, 0) AS n_bpe_tokens
FROM documents LEFT JOIN per_doc USING (doc_id)
"""


# Learned-merge-table memo, keyed by (sf_dir, n_merges). The merge
# table is a MODEL ARTIFACT (VERDICT r4 #3): it is fit once per corpus
# — in production, persisted next to the dataset like any tokenizer
# file — and every encode pass after that is pure apply. Caching it
# here gives the registered query exactly that shape: the first
# invocation trains (16 bounded vocab-sized rounds), every later one
# (bench warm-up + timed runs, repeated driver calls) applies a fixed
# model with a small bounded job count (pinned in
# tests/test_bpe.py::test_bpe_apply_is_bounded_jobs).
_BPE_MODEL_CACHE: dict[tuple[str, int], list[tuple[str, str]]] = {}


def _bpe_merges_for(spark: SparkSession, sf_dir: str,
                    n_merges: int = 16) -> list[tuple[str, str]]:
    key = (sf_dir, n_merges)
    if key not in _BPE_MODEL_CACHE:
        from ..operators import bpe
        _BPE_MODEL_CACHE[key] = [
            (r["sym_left"], r["sym_right"])
            for r in bpe.learn_bpe_merges(
                _docs(spark, sf_dir), n_merges=n_merges).collect()]
    return _BPE_MODEL_CACHE[key]


def doc_bpe_tokenization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the learned 16-merge model (operators/
    bpe.tokenize_with_merges — merge chain memoized over distinct
    pretokens, fan-back join to docs). Output (doc_id, n_bpe_tokens):
    the per-doc token budget under the learned vocab, i.e. what the
    packing/costing stages consume. The model is fit ONCE per corpus
    (module memo above — VERDICT r4 #3: fit/apply split); the
    fit+apply composition stays covered end-to-end by
    tests/test_bpe.py. Rows-only (merge table is data-dependent);
    encode semantics pinned vs pure-Python in pytest.

    r14: counts-only apply path (bpe.bpe_token_counts) — this query
    never reads the token arrays, so the fan-back join ships one int
    per occurrence instead of array<string> and the per-doc
    collect_list becomes a map-side-combined SUM. Same (doc_id,
    n_bpe_tokens) rows and schema; parity with the full encoder
    pinned in tests/test_bpe.py."""
    from ..operators import bpe
    d = _docs(spark, sf_dir)
    merges = _bpe_merges_for(spark, sf_dir)
    return bpe.bpe_token_counts(d, merges)


def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode/unnest + aggregate + deterministic top-k: the corpus
    vocabulary histogram (generator -> shuffle on token -> top 50)."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return (d.select(F.explode(toks).alias("token"))
             .groupBy("token")
             .agg(F.count("*").alias("n_occurrences"))
             .orderBy(F.col("n_occurrences").desc(), F.col("token"))
             .limit(50))


_TOP_TOKENS_SQL = r"""
SELECT token, count(*) AS n_occurrences
FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM documents)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 50
"""


# --- X4: TF-IDF ------------------------------------------------------------

def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by TF-IDF: explode ->
    (doc, token) counts -> token document frequency -> score -> window
    top-k. Two shuffles (token agg, per-doc top-k) + one broadcast
    scalar (corpus size).

    idf is the plain ratio N/df, not ln(N/df): multiplication and
    division are IEEE-correctly-rounded so Spark and DuckDB produce
    bit-identical doubles, while Math.log vs libm log may differ in
    the last ulp and break the value hash. Ordering/ranking is
    identical either way (ln is monotonic)."""
    d = _docs(spark, sf_dir)
    toks = (d.select("doc_id",
                     F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                       r"\s+")).alias("token")))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(df_, "token")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("tfidf",
                          F.col("tf")
                          * (F.col("n_docs").cast("double") / F.col("df"))))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 5)
            .select("doc_id", "token", "tf", "df", "tfidf", "rank"))


_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         tf.tf * (CAST((SELECT count(*) FROM documents) AS DOUBLE) / df.df)
           AS tfidf
  FROM tf JOIN df USING (token)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rank
  FROM scored
)
SELECT doc_id, token, tf, df, tfidf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


# --- X4: collocations ------------------------------------------------------

def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 word-pair collocations by lift — PMI's ratio form
    P(ab) / (P(a)P(b)) without the log (exp/log differ in the last
    ulp between Math and libm; the ratio is pure IEEE mul/div so the
    oracle hash-matches bit-for-bit, and log is monotonic so ranking
    is identical). Bigram + unigram counts are two explode
    aggregates; totals ride along as broadcast scalars."""
    from ..caching import tracked_persist
    from ..operators import ngram_lm
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # bound-column pair extraction — see ngram_lm.bigram_pairs on why
    # the inline-split transform is O(tokens²) per doc
    # tracked_persist (r12 audit): bg feeds the totals AND the scored
    # join; uni feeds the totals and BOTH unigram join legs —
    # unpersisted, this one plan exploded the corpus FIVE times (2x
    # bigram, 3x unigram). Both frames are vocab-sized aggregates.
    bg = tracked_persist(ngram_lm.bigram_pairs(d)
                         .groupBy("w1", "w2").agg(F.count("*").alias("n_ab")))
    uni = tracked_persist(d.select(F.explode(toks).alias("w"))
                          .groupBy("w").agg(F.count("*").alias("n")))
    tot = (bg.agg(F.sum("n_ab").cast("double").alias("tb"))
           .crossJoin(F.broadcast(
               uni.agg(F.sum("n").cast("double").alias("tu")))))
    scored = (bg
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("n").alias("n_a")), "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("n").alias("n_b")), "w2")
              .crossJoin(F.broadcast(tot))
              .filter(F.col("n_ab") >= 5)
              .withColumn(
                  "lift",
                  (F.col("n_ab").cast("double") / F.col("tb"))
                  / ((F.col("n_a").cast("double") / F.col("tu"))
                     * (F.col("n_b").cast("double") / F.col("tu")))))
    w = Window.orderBy(F.col("lift").desc(), "w1", "w2")
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 30)
            .select("w1", "w2", "n_ab", "lift", "rank"))


_COLLOC_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents
), big AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> {'w1': t[i], 'w2': t[i + 1]})) AS bg
  FROM toks WHERE len(t) >= 2
), bgc AS (
  SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS n_ab FROM big GROUP BY 1, 2
), uni AS (
  SELECT w, count(*) AS n
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), tot AS (
  SELECT (SELECT CAST(sum(n_ab) AS DOUBLE) FROM bgc) AS tb,
         (SELECT CAST(sum(n) AS DOUBLE) FROM uni) AS tu
), scored AS (
  SELECT bgc.w1, bgc.w2, bgc.n_ab,
         (CAST(bgc.n_ab AS DOUBLE) / tot.tb)
           / ((CAST(a.n AS DOUBLE) / tot.tu)
              * (CAST(b.n AS DOUBLE) / tot.tu)) AS lift
  FROM bgc
  JOIN uni a ON bgc.w1 = a.w
  JOIN uni b ON bgc.w2 = b.w
  CROSS JOIN tot
  WHERE bgc.n_ab >= 5
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rank
  FROM scored
)
SELECT w1, w2, n_ab, lift, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 30
"""


# --- X4: repetition signals -------------------------------------------------

def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher/C4-style quality
    filters a curation pass thresholds on): duplicate-bigram fraction
    (1 - distinct/total) and the doc's most-repeated-token share
    (count of the doc's most frequent token / token count).

    The bigram stats are per-row array expressions (no shuffle). The
    top-token count used to be a per-row O(tokens²) nested array scan
    — fine under an upstream length cap, fatal without one. It is now
    explode → groupBy(doc_id, token) → max per doc: linear in tokens,
    partial-aggregated map-side so the shuffle carries one row per
    distinct (doc, token) per map partition, and a doc of any length
    is handled. Null texts produce no exploded rows; the left join
    keeps their top_token_frac null, matching the array semantics."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = d.select("doc_id", toks.alias("toks"))
    top = (base.select("doc_id", F.explode("toks").alias("tok"))
           .groupBy("doc_id", "tok").agg(F.count("*").alias("__c"))
           .groupBy("doc_id").agg(F.max("__c").alias("__top")))
    n = F.size("toks")
    bigrams = F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat_ws(" ", F.element_at("toks", i),
                                          F.element_at("toks", i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    n_big = F.size(bigrams)
    dup_frac = F.when(
        n_big > 0,
        1.0 - F.size(F.array_distinct(bigrams)).cast("double") / n_big
    ).otherwise(F.lit(0.0))
    return (base.join(top, "doc_id", "left")
            .select(
                "doc_id",
                n.alias("n_tokens"),
                n_big.alias("n_bigrams"),
                dup_frac.alias("dup_bigram_frac"),
                (F.col("__top").cast("double") / n).alias("top_token_frac")))


_REPETITION_SQL = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
), b AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])
         ELSE [] END AS bigrams
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(bigrams) AS INT) AS n_bigrams,
       CASE WHEN len(bigrams) > 0 THEN
         1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
       ELSE 0.0 END AS dup_bigram_frac,
       CAST(list_max(list_transform(
              toks, t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
         / len(toks) AS top_token_frac
FROM b
"""


# --- corpus curation capstone ----------------------------------------------

#: Languages the marker-based lang-ID can actually predict; anything
#: else (e.g. zh in the test corpus) is "unsupported" rather than
#: "mispredicted".
_SUPPORTED_LANGS = ("en", "de", "fr", "es")

#: Reason-code order is part of the contract: ``reasons`` is the
#: comma-join of fired codes in THIS order, so the column is stable
#: across engines and reruns.
_CURATION_RULES = ("dup_nonkeeper", "too_short", "low_quality",
                   "unsupported_lang", "lang_mismatch")

_MIN_TOKENS = 20          # ~p08 of the sf0.01 token-count distribution
_MIN_QUALITY = 0.25       # ~p20 of the sf0.01 quality-score distribution


def curation_scored(d: DataFrame) -> DataFrame:
    """Per-row curation signals (no window/state — binds to batch AND
    streaming unchanged): fingerprint, token count, quality score,
    predicted language. The dedup rank on top is the only stateful
    part and differs by mode: batch uses a fingerprint window
    (corpus_curation_decisions), streaming uses state-backed
    dropDuplicates (pipelines.run_corpus_ingest_stream)."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_tokens = F.size(toks)
    sw = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    sw_ratio = sw.cast("double") / n_tokens
    mean_len = (F.length(F.regexp_replace("text", r"\s+", "")).cast("double")
                / n_tokens)
    length_prior = F.least(F.length("text").cast("double") / 500.0, F.lit(1.0))
    quality = sw_ratio * 0.4 + (mean_len / 10.0) * 0.3 + length_prior * 0.3

    lowered = F.lower("text")
    s = {lang: F.size(F.regexp_extract_all(lowered, F.lit(rx), 0))
         for lang, rx in _LANG_MARKERS.items()}
    best = F.greatest(*s.values())
    pred = (F.when(s["en"] == best, "en").when(s["de"] == best, "de")
             .when(s["fr"] == best, "fr").otherwise("es"))

    canon = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return d.select(
        "doc_id", "lang",
        F.md5(canon.cast("binary")).alias("fingerprint"),
        n_tokens.alias("n_tokens"),
        quality.alias("quality_score"),
        pred.alias("predicted_lang"))


def row_rule_reasons() -> list:
    """The per-row (stateless) subset of the curation rules, one
    fires-or-NULL column per rule in _CURATION_RULES order — shared
    by the batch capstone and the streaming ingest (which adds dup
    handling via state instead of the fp_rank window). Callers splat
    these into one concat_ws (NULLs vanish, order is preserved)."""
    fired = {
        "too_short": F.col("n_tokens") < _MIN_TOKENS,
        "low_quality": F.col("quality_score") < _MIN_QUALITY,
        "unsupported_lang": ~F.col("lang").isin(*_SUPPORTED_LANGS),
        "lang_mismatch": (F.col("lang").isin(*_SUPPORTED_LANGS)
                          & (F.col("predicted_lang") != F.col("lang"))),
    }
    return [F.when(fired[r], r).otherwise(None)
            for r in _CURATION_RULES if r in fired]


def corpus_curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop decision per document with explicit reason codes — the
    curation pass a training-data pipeline runs before tokenization.

    Composes the individual analysis operators into one plan:

    - ``dup_nonkeeper``  — not the min-doc_id holder of its canonical
      fingerprint (lowercased, whitespace-collapsed md5; cf.
      doc_fingerprints)
    - ``too_short``      — fewer than ``_MIN_TOKENS`` whitespace tokens
    - ``low_quality``    — heuristic quality score (identical
      arithmetic to doc_quality_scores) below ``_MIN_QUALITY``
    - ``unsupported_lang`` — labeled language outside the lang-ID
      marker set
    - ``lang_mismatch``  — supported label but the marker argmax
      (cf. doc_language_scores) disagrees

    One linear scan plus a single 16-byte-digest window shuffle for
    the dup rank — every other rule is per-row and codegens. At
    100 TB the digest shuffle is the only exchange and its width is
    independent of document length. The thresholds are calibrated so
    every rule fires on the test corpus (dup_nonkeeper needs sf0.1,
    where the generator plants canonical dups)."""
    scored = curation_scored(_docs(spark, sf_dir))

    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    ranked = scored.withColumn("fp_rank", F.row_number().over(w))

    reasons = F.concat_ws(
        ",",
        F.when(F.col("fp_rank") > 1, "dup_nonkeeper").otherwise(None),
        *row_rule_reasons())
    return (ranked
            .withColumn("reasons", reasons)
            .withColumn("keep", F.col("reasons") == "")
            .select("doc_id", "lang", "n_tokens", "quality_score",
                    "predicted_lang", "keep", "reasons"))


def _curation_sql() -> str:
    lang_scores = ", ".join(
        f"len(regexp_extract_all(lower(text), '{rx}')) AS score_{lang}"
        for lang, rx in _LANG_MARKERS.items())
    supported = ", ".join(f"'{x}'" for x in _SUPPORTED_LANGS)
    reason_cases = {
        "dup_nonkeeper": "fp_rank > 1",
        "too_short": f"n_tokens < {_MIN_TOKENS}",
        "low_quality": f"quality_score < {_MIN_QUALITY}",
        "unsupported_lang": f"lang NOT IN ({supported})",
        "lang_mismatch":
            f"lang IN ({supported}) AND predicted_lang <> lang",
    }
    reason_list = ", ".join(
        f"CASE WHEN {cond} THEN '{code}' END"
        for code, cond in ((c, reason_cases[c]) for c in _CURATION_RULES))
    return rf"""
WITH t AS (
  SELECT doc_id, lang, text,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
           AS solid_chars,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
           AS fingerprint,
         {lang_scores}
  FROM documents
), s AS (
  SELECT doc_id, lang, fingerprint,
         len(toks) AS n_tokens,
         (CAST(len(list_filter(toks, x -> x IN ({_SW_ARRAY}))) AS DOUBLE)
            / len(toks)) * 0.4
           + ((solid_chars / len(toks)) / 10.0) * 0.3
           + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
           AS quality_score,
         CASE WHEN score_en >= greatest(score_de, score_fr, score_es)
                THEN 'en'
              WHEN score_de >= greatest(score_fr, score_es) THEN 'de'
              WHEN score_fr >= score_es THEN 'fr'
              ELSE 'es' END AS predicted_lang,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id)
           AS fp_rank
  FROM t
), flagged AS (
  SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens, quality_score,
         predicted_lang,
         list_aggregate(
           list_filter([{reason_list}], x -> x IS NOT NULL),
           'string_agg', ',') AS reasons_raw
  FROM s
)
SELECT doc_id, lang, n_tokens, quality_score, predicted_lang,
       coalesce(reasons_raw, '') = '' AS keep,
       coalesce(reasons_raw, '') AS reasons
FROM flagged
"""


_CURATION_SQL = _curation_sql()


# --- deterministic sampling / split assignment -----------------------------

def doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment (80/10/10), decided per doc_id by an
    md5-prefix hash — run- and engine-stable (the oracle recomputes
    the identical assignment in DuckDB; a hash match certifies splits
    never drift between engines, the leakage guard a training
    pipeline needs)."""
    from ..operators import sampling
    d = _docs(spark, sf_dir)
    return sampling.assign_splits(d, key="doc_id").select(
        "doc_id", "lang", "split")


def _split_case_sql() -> str:
    from ..operators.sampling import _threshold_hex
    h = "substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8)"
    return (f"CASE WHEN {h} < '{_threshold_hex(0.8)}' THEN 'train' "
            f"WHEN {h} < '{_threshold_hex(0.9)}' THEN 'val' "
            f"ELSE 'test' END")


_SPLIT_SQL = f"""
SELECT doc_id, lang, {_split_case_sql()} AS split
FROM documents
"""


def stratified_docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20-doc sample per language (hash-ordered top-n
    per stratum — class-balanced subset whose membership survives
    reruns and repartitioning)."""
    from ..operators import sampling
    d = _docs(spark, sf_dir)
    return (sampling.stratified_sample(d, stratum_col="lang",
                                       n_per_stratum=20, key="doc_id")
            .select("doc_id", "lang"))


_STRATIFIED_SQL = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8),
                    doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 20
"""


def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing of the corpus into 128-token training
    sequences (sampling.pack_sequences over whitespace token counts):
    deterministic hash order, two-pass bucket prefix sum — no
    single-partition global window. The oracle recomputes the same
    global layout with one window; hash-match certifies the
    distributed prefix-sum decomposition is exactly the sequential
    semantics."""
    from ..operators import sampling
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    counted = d.select("doc_id", F.size(toks).alias("n_toks"))
    return sampling.pack_sequences(counted, count_col="n_toks",
                                   budget=128, key="doc_id")


_PACKING_SQL = r"""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8) AS h
  FROM documents
), o AS (
  SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       CAST(floor(start_offset / 128) AS BIGINT) AS bin_id,
       CAST(start_offset % 128 AS BIGINT) AS offset_in_bin,
       (start_offset % 128) + n_tokens > 128 AS spans_boundary
FROM o
"""


def novel_docs_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus building: which incoming documents are NEW
    against an existing reference corpus? Membership is by canonical
    fingerprint (the dedup key), decided with a left-anti join —
    digest-width shuffle, no payload comparison. The fixture splits
    one table by doc_id parity (evens = existing corpus, odds =
    incoming batch); production swaps the reference side for the
    corpus's fingerprint index, which is exactly what
    doc_fingerprints materializes."""
    d = _docs(spark, sf_dir)
    canon = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    fp = d.select("doc_id", "lang",
                  F.md5(canon.cast("binary")).alias("fingerprint"))
    existing = fp.filter(F.col("doc_id") % 2 == 0).select("fingerprint")
    incoming = fp.filter(F.col("doc_id") % 2 == 1)
    return incoming.join(existing, "fingerprint", "left_anti")


_NOVEL_SQL = r"""
WITH fp AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
           AS fingerprint
  FROM documents
)
SELECT fingerprint, doc_id, lang
FROM fp
WHERE doc_id % 2 = 1
  AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 2 = 0)
"""


_DECON_N = 5  # token n-gram width for contamination matching
# Eval-gram broadcast budget for bloom_decon_report's fused exact leg
# (ADVICE r13 medium): distinct eval 5-grams up to this count ride a
# forced broadcast (~60 B/gram => well under the 8 GB / 512M-row
# relation cap with driver headroom); a larger eval suite falls back
# to the unhinted join inside the SAME fused aggregate.
_DECON_EV_BROADCAST_MAX = 4_000_000


def eval_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-eval n-gram decontamination — the pretraining hygiene
    pass that flags training documents sharing verbatim n-grams with a
    held-out eval set (here: the deterministic 'test' split standing
    in for a benchmark suite).

    Per contaminated train doc: how many distinct 5-grams it shares
    with the eval set, plus the lexicographically-smallest shared gram
    as a deterministic exhibit. Grams are whitespace 5-grams of the
    lowercased text (``transform(sequence(...))`` + ``slice`` —
    codegen'd, no UDF). The join runs on the md5 digest of the gram
    (16 fixed bytes) rather than the gram text, so shuffle width is
    independent of gram length; the eval side is DISTINCT gram digests
    — in production a benchmark suite, i.e. broadcast-sized (the
    fixture's 10% split is deliberately too big to force-broadcast, so
    the plan is left to AQE).

    The ``nt >= n`` guard is semantics, not just perf: Spark's
    ``sequence(1, k)`` turns DESCENDING for k < 1 and would fabricate
    grams at negative indices."""
    from ..operators import sampling
    d = _docs(spark, sf_dir)
    n = _DECON_N
    s = sampling.assign_splits(d.select("doc_id", "text"), key="doc_id")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = (s.select("doc_id", "split", toks.alias("t"))
         .withColumn("nt", F.size("t")))
    grams = (t.filter(F.col("nt") >= n)
             .select("doc_id", "split",
                     F.explode(F.transform(
                         F.sequence(F.lit(1), F.col("nt") - n + 1),
                         lambda i: F.concat_ws(" ", F.slice("t", i, n)),
                     )).alias("gram")))
    ev = (grams.filter(F.col("split") == "test")
          .select(F.unhex(F.md5("gram")).alias("gk")).distinct())
    tr = (grams.filter(F.col("split") == "train")
          .select("doc_id", "gram").distinct()
          .withColumn("gk", F.unhex(F.md5("gram"))))
    return (tr.join(ev, "gk")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared_grams"),
                 F.min("gram").alias("example_gram")))


def _decon_sql() -> str:
    return rf"""
WITH s AS (
  SELECT doc_id, {_split_case_sql()} AS split,
         string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
), g AS (
  SELECT doc_id, split,
         array_to_string(t[i:i+{_DECON_N - 1}], ' ') AS gram
  FROM s, UNNEST(generate_series(1, len(t) - {_DECON_N - 1})) AS u(i)
  WHERE len(t) >= {_DECON_N}
), ev AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
   tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE split = 'train')
SELECT tr.doc_id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_shared_grams,
       min(tr.gram) AS example_gram
FROM tr JOIN ev USING (gram)
GROUP BY tr.doc_id
"""


def lang_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain rebalancing at temperature 2 over the language column
    (en is ~40% of the corpus at every SF): keep rate per lang is
    sqrt(n_min)/sqrt(n_lang), membership per doc_id by md5 order.
    Returns the per-lang mixture report (total, kept, rate); the
    driver hash certifies Spark and DuckDB agree on every kept key —
    the engine-portability guarantee that makes the sampled corpus
    reproducible (see operators/sampling.temperature_mixture for why
    the exponent is pinned to the correctly-rounded sqrt)."""
    from ..operators import sampling
    d = _docs(spark, sf_dir)
    kept = sampling.temperature_mixture(d, "lang", "doc_id")
    return (kept.groupBy("lang", "n_total", "keep_rate")
            .agg(F.count("*").alias("n_kept"))
            .select("lang", "n_total", "n_kept", "keep_rate"))


_MIXTURE_SQL = """
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_total
  FROM documents GROUP BY lang
), floor_n AS (
  SELECT min(n_total) AS n_min FROM counts
), rates AS (
  SELECT lang, n_total,
         sqrt(CAST(n_min AS DOUBLE)) / sqrt(CAST(n_total AS DOUBLE))
           AS keep_rate
  FROM counts, floor_n
), thr AS (
  SELECT lang, n_total, keep_rate,
         printf('%08x',
                CAST(least(floor(keep_rate * 4294967296.0),
                           4294967295.0) AS BIGINT)) AS t
  FROM rates
)
SELECT d.lang AS lang, thr.n_total AS n_total,
       CAST(count(*) AS BIGINT) AS n_kept,
       thr.keep_rate AS keep_rate
FROM documents d JOIN thr ON d.lang = thr.lang
WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || ''), 1, 8) < thr.t
GROUP BY d.lang, thr.n_total, thr.keep_rate
"""


def corpus_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-build composition a pretraining pipeline runs:
    curation keep/drop -> keep only -> train-split membership ->
    concat-then-chunk packing of the surviving documents into
    128-token sequences. Every stage is an already-oracled operator
    (corpus_curation_decisions, assign_splits, pack_sequences); this
    query certifies their COMPOSITION end to end — the layout is
    sensitive to every upstream keep/drop decision, so one flipped
    rule anywhere breaks the hash."""
    from ..operators import sampling
    dec = corpus_curation_decisions(spark, sf_dir)
    kept = dec.filter(F.col("keep")).select("doc_id", "n_tokens")
    train = (sampling.assign_splits(kept, key="doc_id")
             .filter(F.col("split") == "train")
             .select("doc_id", "n_tokens"))
    return sampling.pack_sequences(train, count_col="n_tokens",
                                   budget=128, key="doc_id")


def _trainseq_sql() -> str:
    return rf"""
WITH curated AS ({_CURATION_SQL}),
kept AS (
  SELECT doc_id, n_tokens FROM curated
  WHERE keep AND {_split_case_sql()} = 'train'
), h AS (
  SELECT doc_id, n_tokens,
         substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8) AS hh
  FROM kept
), o AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY hh, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_offset
  FROM h
)
SELECT doc_id, n_tokens, start_offset,
       CAST(floor(start_offset / 128) AS BIGINT) AS bin_id,
       CAST(start_offset % 128 AS BIGINT) AS offset_in_bin,
       (start_offset % 128) + n_tokens > 128 AS spans_boundary
FROM o
"""


def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) dataset report card — the rollup a corpus
    owner publishes alongside a release: volume (docs/tokens/chars),
    mean quality, and the exact-duplicate fraction (share of docs
    whose text digest occurs more than once corpus-wide).

    Scale shape: one digest-width groupBy for corpus-wide dup counts
    (16-byte keys, map-side combined), one broadcast-back join, one
    (lang, source) aggregate — all shuffle keys are narrow, nothing
    is document-width after the first projection. Float discipline:
    mean_quality accumulates in DECIMAL then casts to double, so the
    group mean is partitioning-order-independent and hash-matches the
    oracle; the other means divide exact integer sums."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    q = doc_quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    base = d.select("doc_id", "lang", "source",
                    F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("__dig"),
                    F.size(toks).alias("__nt"),
                    F.length("text").alias("__nc"))
    dupn = base.groupBy("__dig").agg(F.count("*").alias("__dn"))
    j = base.join(dupn, "__dig").join(q, "doc_id")
    n = F.count("*")
    return (j.groupBy("lang", "source")
            .agg(n.alias("n_docs"),
                 F.sum("__nt").cast("long").alias("total_tokens"),
                 (F.sum(F.col("quality_score").cast("decimal(30,15)"))
                   .cast("double") / n).alias("mean_quality"),
                 (F.sum(F.when(F.col("__dn") > 1, 1).otherwise(0))
                   .cast("double") / n).alias("dup_frac"),
                 (F.sum("__nc").cast("double") / n).alias("mean_chars")))


_DATACARD_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang, source,
         md5(coalesce(text, '')) AS dig,
         len(string_split_regex(lower(trim(text)), '\s+')) AS nt,
         length(text) AS nc
  FROM documents
),
c AS (SELECT dig, count(*) AS dn FROM t GROUP BY dig),
q AS ({_QUALITY_SQL.strip()}),
j AS (
  SELECT t.lang, t.source, t.nt, t.nc, c.dn, q.quality_score
  FROM t JOIN c USING (dig) JOIN q USING (doc_id)
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       CAST(sum(CAST(quality_score AS DECIMAL(30,15))) AS DOUBLE)
         / count(*) AS mean_quality,
       CAST(sum(CASE WHEN dn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_frac,
       CAST(sum(nc) AS DOUBLE) / count(*) AS mean_chars
FROM j
GROUP BY lang, source
"""


QUERIES: dict[str, Q] = {
    "corpus_datacard": Q(corpus_datacard, _DATACARD_SQL),
    "corpus_curation_decisions": Q(corpus_curation_decisions, _CURATION_SQL),
    "top_tokens": Q(top_tokens, _TOP_TOKENS_SQL),
    "doc_tfidf_top_terms": Q(doc_tfidf_top_terms, _TFIDF_SQL),
    "bigram_collocations": Q(bigram_collocations, _COLLOC_SQL),
    "doc_split_assignment": Q(doc_split_assignment, _SPLIT_SQL),
    "stratified_docs_by_lang": Q(stratified_docs_by_lang, _STRATIFIED_SQL),
    "doc_bpe_token_stats": Q(doc_bpe_token_stats, _BPE_SQL),
    "bpe_pair_counts": Q(bpe_pair_counts, _BPE_PAIRS_SQL),
    "ingest_dead_letter_rates": Q(ingest_dead_letter_rates, _DEAD_RATE_SQL),
    "pii_redaction_report": Q(pii_redaction_report, _pii_sql()),
    "doc_rag_chunks": Q(doc_rag_chunks, _CHUNKS_SQL),
    "doc_unigram_surprisal": Q(doc_unigram_surprisal, _SURPRISAL_SQL),
    "doc_bigram_surprisal": Q(doc_bigram_surprisal, _BIGRAM_SURPRISAL_SQL),
    "token_postings": Q(token_postings, _POSTINGS_SQL),
    "lang_distinct_token_sketch": Q(lang_distinct_token_sketch,
                                    _sketch_two_level_sql()),
    "substring_dup_fraction": Q(substring_dup_fraction, _SUBSTR_DUP_SQL),
    "bpe_merge_sequence": Q(bpe_merge_sequence, _bpe_merge_sequence_sql()),
    "doc_bpe_tokenization": Q(doc_bpe_tokenization,
                              _bpe_tokenization_sql()),
    "exact_dedup_docs": Q(exact_dedup_docs, _DEDUP_SQL),
    "doc_token_stats": Q(doc_token_stats, _TOKEN_SQL),
    "doc_quality_scores": Q(doc_quality_scores, _QUALITY_SQL),
    "doc_fingerprints": Q(doc_fingerprints, _FP_SQL),
    "doc_repetition_stats": Q(doc_repetition_stats, _REPETITION_SQL),
    "doc_sequence_packing": Q(doc_sequence_packing, _PACKING_SQL),
    "corpus_training_sequences": Q(corpus_training_sequences,
                                   _trainseq_sql()),
    "novel_docs_vs_corpus": Q(novel_docs_vs_corpus, _NOVEL_SQL),
    "doc_language_scores": Q(doc_language_scores, _LANG_SQL),
    "eval_ngram_decontamination": Q(eval_ngram_decontamination,
                                    _decon_sql()),
    "lang_temperature_mixture": Q(lang_temperature_mixture, _MIXTURE_SQL),
}


def doc_quality_logits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (r5 — the fastText/CCNet-style
    tier): apply a FROZEN linear quality model over in-plan surface
    features (operators/quality_model.surface_features). The weights
    here are a hand-calibrated quality prior — rewarding alphabetic,
    normally-word-lengthed, well-spaced text and penalizing digit
    soup — i.e. the shipped model artifact; training its replacement
    is quality_model_weights below. Output logit (not sigmoid):
    monotone in the probability and exactly engine-portable (exp's
    last ulp is libm-specific, folds aren't)."""
    from ..operators import quality_model as qm
    d = _docs(spark, sf_dir)
    feats = qm.surface_features(d)
    return (qm.score_with_weights(feats, _QUALITY_W)
            .select("doc_id", "logit"))


#: frozen quality prior (see doc_quality_logits); mirrored in the SQL
_QUALITY_W = [-2.0, 0.3, 3.0, -2.0, 0.8, 1.5]

_QUALITY_LOGITS_SQL = r"""
WITH canon AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS c
  FROM documents
), f AS (
  SELECT doc_id,
         [1.0,
          least(CAST(length(c) AS DOUBLE) / 1000.0, 10.0),
          CAST(length(regexp_replace(c, '[^a-z]', '', 'g')) AS DOUBLE)
            / greatest(CAST(length(c) AS DOUBLE), 1.0),
          CAST(length(regexp_replace(c, '[^0-9]', '', 'g')) AS DOUBLE)
            / greatest(CAST(length(c) AS DOUBLE), 1.0),
          list_reduce(list_transform(string_split(c, ' '),
                                     t -> CAST(length(t) AS DOUBLE)),
                      (a, b) -> a + b)
            / greatest(CAST(len(string_split(c, ' ')) AS DOUBLE), 1.0)
            / 10.0,
          (CAST(length(c) AS DOUBLE)
           - length(regexp_replace(c, ' ', '', 'g')))
            / greatest(CAST(length(c) AS DOUBLE), 1.0)
         ] AS x
  FROM canon
)
SELECT doc_id,
       list_reduce(list_transform(
           list_zip(x, [-2.0, 0.3, 3.0, -2.0, 0.8, 1.5]),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
         (a, b) -> a + b) AS logit
FROM f
"""


def quality_model_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality model distributively (operators/
    quality_model.train_logistic — decimal-accumulated batch GD, one
    scan + one model-sized collect per iteration) on the lang=='en'
    label and return (pos, feature, weight). Rows-only (iterative
    optimization isn't SQL-expressible); the trainer is pinned against
    a pure-numpy GD reference in tests/test_quality_model.py."""
    from ..operators import quality_model as qm
    d = _docs(spark, sf_dir)
    feats = qm.surface_features(d).join(
        d.select("doc_id", (F.col("lang") == "en").alias("y")), "doc_id")
    w = qm.train_logistic(feats, "y", n_iter=10)
    return spark.createDataFrame(
        [(i, name, float(wi)) for i, (name, wi) in
         enumerate(zip(qm.FEATURE_NAMES, w))],
        "pos int, feature string, weight double")


QUERIES.update({
    "doc_quality_logits": Q(doc_quality_logits, _QUALITY_LOGITS_SQL),
    "quality_model_weights": Q(quality_model_weights, None),
})


def source_level_split_assignment(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """GROUP-leakage-safe splits (r5): assignment keyed on SOURCE, not
    doc_id — every doc from one source/domain lands in the same split,
    so near-duplicates and templated siblings within a domain can
    never straddle train/test (the leakage mode per-doc splitting
    can't prevent: two near-identical pages from the same site drawn
    into different splits). Same md5-prefix machinery as
    doc_split_assignment — one linear scan, engine-stable."""
    from ..operators import sampling
    d = _docs(spark, sf_dir)
    return (sampling.assign_splits(d, key="source")
            .select("doc_id", "source", "split"))


def _source_split_case_sql() -> str:
    from ..operators.sampling import _threshold_hex
    h = "substr(md5(CAST(source AS VARCHAR) || ''), 1, 8)"
    return (f"CASE WHEN {h} < '{_threshold_hex(0.8)}' THEN 'train' "
            f"WHEN {h} < '{_threshold_hex(0.9)}' THEN 'val' "
            f"ELSE 'test' END")


_SOURCE_SPLIT_SQL = f"""
SELECT doc_id, source, {_source_split_case_sql()} AS split
FROM documents
"""

QUERIES.update({
    "source_level_split_assignment": Q(source_level_split_assignment,
                                       _SOURCE_SPLIT_SQL),
})


def token_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch GRID over the corpus token stream (operators/
    sketches — the mergeable-frequency tier next to the HLL distinct
    tier): at most depth×width rows regardless of vocabulary size.
    Fully DuckDB-oracled — the md5-prefix bucket hash is engine-
    portable, so even the sketch internals hash-match (the HLL row
    can't: Datasketches internals aren't portable)."""
    from ..operators import sketches
    d = _docs_spread(spark, sf_dir)
    toks = d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+")).alias("token"))
    return sketches.countmin_build(toks, "token")


_CM_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
), cells AS (
  SELECT i AS row_id,
         CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || token),
                                  1, 8) AS BIGINT) % 1024 AS INT) AS bucket
  FROM toks, (SELECT unnest(generate_series(0, 3)) AS i)
)
SELECT row_id, bucket, count(*) AS c
FROM cells GROUP BY row_id, bucket
"""


def countmin_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-query the sketch for a deterministic ~20% probe sample
    of the vocabulary (md5-prefix membership, the sampling.py
    primitive — the rate is sized to the synthetic corpus's tiny
    31-token vocabulary so the probe set is never vacuously empty;
    a web-scale vocab would probe a far smaller fraction):
    (token, est). est >= true count always; the error-vs-exact band is
    pinned in pytest. Oracled end-to-end — build + probe + estimate
    all recomputed by DuckDB."""
    from ..operators import sampling, sketches
    d = _docs_spread(spark, sf_dir)
    toks = d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+")).alias("token"))
    sketch = sketches.countmin_build(toks, "token")
    probes = (toks.distinct()
              .filter(sampling.hash_key(F.col("token"), "cmprobe")
                      < sampling._threshold_hex(0.2)))
    return sketches.countmin_estimate(sketch, probes, "token")


_CM_EST_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
), sketch AS (
  SELECT row_id, bucket, count(*) AS c FROM (
    SELECT i AS row_id,
           CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || token),
                                    1, 8) AS BIGINT) % 1024 AS INT) AS bucket
    FROM toks, (SELECT unnest(generate_series(0, 3)) AS i)
  ) GROUP BY row_id, bucket
), probes AS (
  SELECT DISTINCT token FROM toks
  WHERE substr(md5(token || 'cmprobe'), 1, 8) < '33333333'
), probe_cells AS (
  SELECT token, i AS row_id,
         CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || token),
                                  1, 8) AS BIGINT) % 1024 AS INT) AS bucket
  FROM probes, (SELECT unnest(generate_series(0, 3)) AS i)
)
SELECT token, MIN(COALESCE(c, 0)) AS est
FROM probe_cells LEFT JOIN sketch USING (row_id, bucket)
GROUP BY token
"""

QUERIES.update({
    "token_countmin_sketch": Q(token_countmin_sketch, _CM_SQL),
    "countmin_token_estimates": Q(countmin_token_estimates, _CM_EST_SQL),
})


def token_bloom_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter BIT SET over the corpus token stream (operators/
    sketches — the mergeable-MEMBERSHIP tier completing the sketch
    family: HLL distinct / count-min frequency / HDR quantile / Bloom
    membership): at most BLOOM_BITS rows regardless of vocabulary
    size, merges across partitions/days by UNION+DISTINCT (bitwise
    OR). Fully DuckDB-oracled — same engine-portable md5-prefix hash
    family as the count-min grid."""
    from ..operators import sketches
    d = _docs_spread(spark, sf_dir)
    toks = d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+")).alias("token"))
    return sketches.bloom_build(toks, "token")


_BLOOM_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
)
SELECT DISTINCT
  CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || token), 1, 8)
            AS BIGINT) % 32768 AS INT) AS bit
FROM toks, (SELECT unnest(generate_series(0, 3)) AS i)
"""


def bloom_decontamination_probes(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Bloom-filtered decontamination — the SCALE path for
    eval_ngram_decontamination's exact digest join: build a Bloom
    filter over the eval split's distinct 5-grams ONCE (a broadcast
    bit set, <= BLOOM_BITS rows no matter how large the eval suite),
    then probe every training doc's distinct 5-grams against it with
    zero shuffle on the training side. Per train doc the report
    carries the bloom verdict count NEXT TO the exact join count, so
    the one-sided contract is driver-certified on real data:
    n_bloom_hits >= n_exact_hits for every doc (no false negatives),
    with the surplus = bounded false positives. At 100 TB the exact
    leg runs once per release; the bloom leg runs per ingest batch
    against the standing merged filter without rescanning the eval
    corpus. Output: (doc_id, n_probe_grams, n_bloom_hits,
    n_exact_hits)."""
    return bloom_decon_report(_docs(spark, sf_dir))


def bloom_decon_report(d: "DataFrame") -> "DataFrame":
    """bloom_decontamination_probes' body on an injected corpus —
    shared with tools/bench_expensive_scale.py so the scale curve
    exercises the identical machinery."""
    from ..operators import sampling, sketches
    from ..operators.dedup import spread
    n = _DECON_N
    # spread() pre-explode (r11): the n-gram transform amplifies every
    # doc by its token count before any exchange can widen the stage
    s = sampling.assign_splits(spread(d).select("doc_id", "text"),
                               key="doc_id")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = (s.select("doc_id", "split", toks.alias("t"))
         .withColumn("nt", F.size("t")))
    grams = (t.filter(F.col("nt") >= n)
             .select("doc_id", "split",
                     F.explode(F.transform(
                         F.sequence(F.lit(1), F.col("nt") - n + 1),
                         lambda i: F.concat_ws(" ", F.slice("t", i, n)),
                     )).alias("gram")))
    # persisted (r13 optimization round, second session): ev feeds the
    # bloom bit build AND the exact-flag broadcast join; without the
    # persist each consumer re-ran the full eval gram pipeline
    # (scan -> spread -> explode -> distinct) because the consumers'
    # pushed projections/filters make the subtrees non-identical, so
    # exchange reuse never fires. The frame is the EVAL side — bounded
    # by the eval suite at any corpus size (the same contract that
    # lets the exact leg broadcast it).
    from ..caching import tracked_persist
    ev = tracked_persist(
        grams.filter(F.col("split") == "test").select("gram").distinct())
    tr = (grams.filter(F.col("split") == "train")
          .select("doc_id", "gram").distinct())
    bloom = sketches.bloom_build(ev, "gram")
    k, bits = sketches.BLOOM_K, sketches.BLOOM_BITS
    # r13 optimization round: probe against a DENSE membership array
    # (one broadcast row, bits booleans) instead of exploding every
    # train gram into k bit rows and re-aggregating them back
    # (guide §2.3 "aggregate before you shuffle" / §2.4): the bit
    # explode tripled the probe frame (k=4 rows per gram) through a
    # broadcast join and a (doc, gram) hash aggregate whose only
    # purpose was reassembling what a per-row expression can compute
    # directly. The verdict per gram — ALL k probed bits set — is the
    # same boolean the count(hit) == k aggregate produced, so
    # n_bloom_hits is identical. The dense array is bits-bounded
    # (BLOOM_BITS booleans, a few KB) regardless of corpus size.
    spark = d.sparkSession
    grid = spark.range(bits).select(F.col("id").cast("int").alias("bit"))
    dense = (grid.join(bloom.withColumn("h", F.lit(True)), "bit", "left")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct(
                     F.col("bit"),
                     F.coalesce("h", F.lit(False)).alias("h")))),
                 lambda s: s["h"]).alias("__bloom_arr")))
    hits = [F.element_at(
                F.col("__bloom_arr"),
                sketches.cm_bucket(F.col("gram"), F.lit(i), bits)
                + F.lit(1))
            for i in range(k)]
    all_hit = hits[0]
    for h in hits[1:]:
        all_hit = all_hit & h
    # fused probe + exact leg (r13 optimization round, second session):
    # the pre-fusion exact verdict joined ev onto tr UNHINTED (AQE
    # typically chose broadcast at bench scale, but it was not forced)
    # as its own subtree — and because that join pushes an extra
    # isnotnull(gram) filter below tr's distinct, the optimizer cannot
    # reuse the per_doc leg's exchange, so the WHOLE train gram
    # pipeline (scan -> spread -> n-gram explode -> (doc, gram)
    # distinct) ran twice, and a third aggregate + join zipped the two
    # legs back together (plan: 4 gram pipelines / 8 scans). The ex
    # flag now rides the same tr subtree as the bloom probe: one train
    # pipeline, one (doc) aggregate, no final join. ev is distinct by
    # construction, so the left join cannot duplicate rows —
    # n_probe_grams still counts exactly the tr rows, and
    # n_bloom_hits / n_exact_hits sum the same per-gram booleans the
    # split legs produced (guide §1.2/§2.4: don't compute the same
    # subtree twice).
    #
    # r14 (ADVICE r13 medium): the fusion REQUIRES a broadcast of the
    # raw distinct eval grams, which is capped (8 GB / 512M rows) and
    # heavier than the BLOOM_BITS-bounded bit set this function's
    # scale contract promises to broadcast. Gate it: count ev (one
    # model-sized job against the tracked persist the plan was going
    # to materialize anyway) and drop the hint past the budget — the
    # fused expression is hint-independent, so the oversized-eval
    # fallback is the SAME aggregate with the join left to the
    # planner (sort-merge at true scale), not a second code path.
    evx = ev.withColumn("ex", F.lit(1))
    ev_side = (F.broadcast(evx)
               if ev.count() <= _DECON_EV_BROADCAST_MAX else evx)
    per_doc = (tr.crossJoin(F.broadcast(dense))
               .join(ev_side, ["gram"], "left")
               .select("doc_id", all_hit.cast("int").alias("might"),
                       F.coalesce("ex", F.lit(0)).alias("ex"))
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_probe_grams"),
                    F.sum("might").cast("long").alias("n_bloom_hits"),
                    F.sum("ex").cast("long").alias("n_exact_hits")))
    return per_doc.select("doc_id", "n_probe_grams", "n_bloom_hits",
                          "n_exact_hits")


def _bloom_decon_sql() -> str:
    return rf"""
WITH s AS (
  SELECT doc_id, {_split_case_sql()} AS split,
         string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
), g AS (
  SELECT doc_id, split,
         array_to_string(t[i:i+{_DECON_N - 1}], ' ') AS gram
  FROM s, UNNEST(generate_series(1, len(t) - {_DECON_N - 1})) AS u(i)
  WHERE len(t) >= {_DECON_N}
), ev AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
   tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE split = 'train'),
   bloom AS (
     SELECT DISTINCT
       CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || gram),
                                1, 8) AS BIGINT) % 32768 AS INT) AS bit,
       1 AS hit
     FROM ev, (SELECT unnest(generate_series(0, 3)) AS i)
   ), probe_bits AS (
     SELECT doc_id, gram,
       CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || gram),
                                1, 8) AS BIGINT) % 32768 AS INT) AS bit
     FROM tr, (SELECT unnest(generate_series(0, 3)) AS i)
   ), verdicts AS (
     SELECT doc_id, gram,
            CASE WHEN count(hit) = 4 THEN 1 ELSE 0 END AS might
     FROM probe_bits LEFT JOIN bloom USING (bit)
     GROUP BY doc_id, gram
   ), per_doc AS (
     SELECT doc_id, CAST(count(*) AS BIGINT) AS n_probe_grams,
            CAST(sum(might) AS BIGINT) AS n_bloom_hits
     FROM verdicts GROUP BY doc_id
   ), exact AS (
     SELECT tr.doc_id AS doc_id,
            CAST(sum(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_exact_hits
     FROM tr LEFT JOIN ev ON tr.gram = ev.gram
     GROUP BY tr.doc_id
   )
SELECT doc_id, n_probe_grams, n_bloom_hits, n_exact_hits
FROM per_doc JOIN exact USING (doc_id)
"""


QUERIES.update({
    "token_bloom_sketch": Q(token_bloom_sketch, _BLOOM_SQL),
    "bloom_decontamination_probes": Q(bloom_decontamination_probes,
                                      _bloom_decon_sql()),
})


def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (r5 — Schleimer/Wilkerson/Aiken's MOSS
    selection rule, the canonical local fingerprinting algorithm; the
    deterministic-guarantee sibling of substring_dup_fraction's
    anchor heuristic): hash every k-gram (k=8), slide a window of
    w=16 consecutive hashes, keep each window's MINIMUM value,
    dedupe. Guarantees: any substring shared between two docs
    of length >= w + k - 1 = 23 chars contributes at least one
    IDENTICAL fingerprint to both (the window spanning it picks the
    same minimum), and fingerprint density is ~2/(w+1) — bounded
    output per input char, position-independent.

    The k-gram hash is the count-min trick: 32-bit md5 prefix via
    conv/CAST — engine-portable, so the fingerprint SET itself is
    DuckDB-oracled. Cost: one md5 per character position — heavier
    per char than the anchor heuristic (which hashes only at spaces)
    but with a provable recall floor; at 100 TB pick by contract:
    guarantee -> winnowing, cheapest scan -> anchors. Output one row
    per distinct (doc_id, fingerprint): (doc_id, fp, n_positions)."""
    K, W = 8, 16
    from ..operators.dedup import spread
    d = spread(_docs(spark, sf_dir))
    canon = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    base = d.select("doc_id", canon.alias("c")).filter(
        F.length("c") >= K)
    n_grams = F.length("c") - (K - 1)
    hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(
            F.substring(F.md5(F.col("c").substr(i, F.lit(K))
                              .cast("binary")), 1, 8), 16, 10)
        .cast("long"))
    base = base.select("doc_id", hashes.alias("hs"))
    n_win = F.greatest(F.size("hs") - (W - 1), F.lit(1))
    wmin = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda j: F.array_min(F.slice("hs", j, W)))
    ex = base.select("doc_id", F.explode(wmin).alias("fp"))
    return (ex.groupBy("doc_id", "fp")
            .agg(F.count("*").alias("n_positions")))


_WINNOW_SQL = r"""
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS c
  FROM documents
), g AS (
  SELECT doc_id, c, length(c) - 7 AS n_grams
  FROM base WHERE length(c) >= 8
), hs AS (
  SELECT doc_id,
         list_transform(generate_series(1, n_grams),
           i -> CAST('0x' || substr(md5(substring(c, i, 8)), 1, 8)
                     AS BIGINT)) AS hs
  FROM g
), wins AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(1, greatest(len(hs) - 15, 1)),
             j -> list_min(hs[j : j + 15]))) AS fp
  FROM hs
)
SELECT doc_id, fp, count(*) AS n_positions
FROM wins GROUP BY doc_id, fp
"""

QUERIES.update({
    "doc_winnow_fingerprints": Q(doc_winnow_fingerprints, _WINNOW_SQL),
})


# --- X1/X4: repeated-passage removal with text rebuild (r5) ----------------

def dedup_passages_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-passage removal that REBUILDS the cleaned
    text (r5): segment every doc into 10-word passages, keep only the
    globally FIRST occurrence of each distinct passage (order: doc_id,
    then position), and reassemble each doc from its surviving
    passages in order. Unlike the detection-only signals
    (substring_dup_fraction, winnowing), this is the TRANSFORMING
    dedup a training-corpus build actually applies before
    tokenization — boilerplate that recurs across the corpus survives
    exactly once, in its earliest host doc.

    Output: (doc_id, clean_text, n_kept, n_dropped); fully-deduped
    docs surface with clean_text = '' and n_kept = 0 rather than
    vanishing.

    Scale shape: words explode linearly; passages re-aggregate by
    (doc, position-block) with map-side combine; the first-occurrence
    decision is ONE window over the passage string (key-width
    shuffle — at 100 TB the partition key would be the passage's
    128-bit digest to shrink shuffle width, semantics identical);
    the rebuild shuffles passage-width rows by doc. No pairwise
    stage anywhere."""
    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word"))
    passages = (words
                .withColumn("grp", F.floor(F.col("pos") / 10))
                .groupBy("doc_id", "grp")
                .agg(F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("pos", "word"))),
                        lambda s: s["word"])).alias("passage")))
    w = Window.partitionBy("passage").orderBy("doc_id", "grp")
    ranked = passages.withColumn("rn", F.row_number().over(w))
    return (ranked
            .groupBy("doc_id")
            .agg(F.concat_ws(
                     " ",
                     F.transform(
                         F.array_sort(F.collect_list(F.when(
                             F.col("rn") == 1,
                             F.struct("grp", "passage")))),
                         lambda s: s["passage"])).alias("clean_text"),
                 F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
                 F.sum((F.col("rn") > 1).cast("long")).alias("n_dropped")))


_PASSAGE_DEDUP_SQL = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), packed AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(1, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
             j -> struct_pack(grp := j - 1,
                              passage := array_to_string(
                                  ws[(j-1)*10+1 : j*10], ' ')))) AS p
  FROM d
), passages AS (
  SELECT doc_id, CAST(p.grp AS BIGINT) AS grp, p.passage AS passage
  FROM packed
), ranked AS (
  SELECT doc_id, grp, passage,
         row_number() OVER (PARTITION BY passage
                            ORDER BY doc_id, grp) AS rn
  FROM passages
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN passage END, ' '
                           ORDER BY grp), '') AS clean_text,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked
GROUP BY doc_id
"""

QUERIES.update({
    "dedup_passages_rebuild": Q(dedup_passages_rebuild,
                                _PASSAGE_DEDUP_SQL),
})


# --- incremental ingest: snapshot diff (r5b) -------------------------------

def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff (r5b) — the first step of any
    INCREMENTAL pipeline run: classify every doc_id across two corpus
    snapshots as added / removed / changed / unchanged, comparing
    md5 digests (16 bytes/doc crosses the wire, never the text — the
    same digest-not-payload discipline as the dedup tier). Downstream
    stages then process `added`+`changed` only, instead of rescanning
    100 TB of `unchanged`.

    The two snapshots are deterministic derivations of the fixture
    (old: every 7th doc missing = later additions, every 5th text
    uppercased = later edits, an extra id-range = later removals) so
    the classification is oracle-checkable end-to-end."""
    d = _docs(spark, sf_dir)
    old = (d.filter(F.col("doc_id") % 7 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 5 == 0,
                          F.upper(F.col("text")))
                   .otherwise(F.col("text")).alias("text"))
           .unionByName(
               d.filter(F.col("doc_id") % 11 == 0)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                       "text")))
    new = d.select("doc_id", "text")
    o = old.select("doc_id", F.md5("text").alias("old_digest"))
    n = new.select("doc_id", F.md5("text").alias("new_digest"))
    j = o.join(n, "doc_id", "full_outer")
    status = (F.when(F.col("old_digest").isNull(), "added")
              .when(F.col("new_digest").isNull(), "removed")
              .when(F.col("old_digest") != F.col("new_digest"),
                    "changed")
              .otherwise("unchanged"))
    return j.select("doc_id", status.alias("status"))


_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 11 = 0
), o AS (SELECT doc_id, md5(text) AS old_digest FROM old),
n AS (SELECT doc_id, md5(text) AS new_digest FROM documents)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_digest IS NULL THEN 'added'
            WHEN n.new_digest IS NULL THEN 'removed'
            WHEN o.old_digest <> n.new_digest THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""

QUERIES.update({
    "corpus_snapshot_diff": Q(corpus_snapshot_diff, _SNAPSHOT_DIFF_SQL),
})


def quality_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the frozen quality prior against the lang=='en'
    label — the eval leg every model-based filter needs before its
    scores gate a corpus. Computed WITHOUT a global row sort: scores
    collapse to DISTINCT logit values first (groupBy), then the
    Mann-Whitney midrank formula runs as one cumulative window over
    the distinct-value frame — the shuffle carries |distinct scores|
    rows, not |corpus| (at 100 TB, bin scores to fixed precision
    first and the frame is constant-sized; here logits are already
    few per text shape). Ties handled exactly via midranks:
    AUC = sum_v P(v) * (N_below(v) + N(v)/2) / (P_total * N_total).
    Decimal accumulation end to end; the single division happens
    last. Output: (n_pos, n_neg, auc)."""
    from ..operators import quality_model as qm
    d = _docs(spark, sf_dir)
    feats = qm.surface_features(d)
    scored = (qm.score_with_weights(feats, _QUALITY_W)
              .select("doc_id", "logit")
              .join(d.select("doc_id",
                             (F.col("lang") == "en").cast("int").alias("y")),
                    "doc_id"))
    return qm.roc_auc(scored)


def _auc_sql() -> str:
    return f"""
WITH scored AS (
  SELECT s.doc_id, s.logit,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM ({_QUALITY_LOGITS_SQL.strip()}) s
  JOIN documents d ON s.doc_id = d.doc_id
), by_v AS (
  SELECT logit, count(*) AS n, sum(y) AS p FROM scored GROUP BY logit
), cum AS (
  SELECT logit, n, p,
         CAST(coalesce(SUM(CAST(n - p AS DECIMAL(38,1))) OVER
              (ORDER BY logit ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS DECIMAL(38,1)) AS cum_neg_below
  FROM by_v
), contrib AS (
  SELECT n, p,
         CAST(CAST(p AS DECIMAL(38,1))
              * (cum_neg_below + CAST(n - p AS DECIMAL(38,1)) / 2)
              AS DECIMAL(38,2)) AS c
  FROM cum
)
SELECT CAST(sum(p) AS BIGINT) AS n_pos,
       CAST(sum(n) - sum(p) AS BIGINT) AS n_neg,
       CAST(sum(c) AS DOUBLE) / (sum(p) * (sum(n) - sum(p))) AS auc
FROM contrib
"""


def quality_calibration_deciles(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Calibration curve for the frozen quality prior: docs bucketed
    into 10 equal-width logit bands between the corpus min and max
    (equal-WIDTH, not ntile — rank-based deciles need a global row
    sort and tie-break contract; width bands are one broadcast
    min/max scalar and engine-exact), with per-band volume and
    positive rate. A well-calibrated score is monotone in pos_rate
    across bands. Output: (band, n_docs, n_pos, pos_rate)."""
    from ..operators import quality_model as qm
    d = _docs(spark, sf_dir)
    feats = qm.surface_features(d)
    scored = (qm.score_with_weights(feats, _QUALITY_W)
              .select("doc_id", "logit")
              .join(d.select("doc_id",
                             (F.col("lang") == "en").cast("int").alias("y")),
                    "doc_id"))
    rng = scored.agg(F.min("logit").alias("lo"), F.max("logit").alias("hi"))
    banded = (scored.crossJoin(F.broadcast(rng))
              .withColumn(
                  "band",
                  F.least(F.floor((F.col("logit") - F.col("lo"))
                                  / ((F.col("hi") - F.col("lo")) / 10)),
                          F.lit(9)).cast("int")))
    return (banded.groupBy("band")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("y").cast("long").alias("n_pos"))
            .withColumn("pos_rate",
                        F.col("n_pos") / F.col("n_docs").cast("double")))


def _calibration_sql() -> str:
    return f"""
WITH scored AS (
  SELECT s.doc_id, s.logit,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM ({_QUALITY_LOGITS_SQL.strip()}) s
  JOIN documents d ON s.doc_id = d.doc_id
), rng AS (
  SELECT min(logit) AS lo, max(logit) AS hi FROM scored
), banded AS (
  SELECT CAST(least(floor((logit - lo) / ((hi - lo) / 10)), 9) AS INT)
           AS band, y
  FROM scored, rng
)
SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(y) AS BIGINT) / CAST(count(*) AS DOUBLE) AS pos_rate
FROM banded GROUP BY band
"""


QUERIES.update({
    "quality_model_auc": Q(quality_model_auc, _auc_sql()),
    "quality_calibration_deciles": Q(quality_calibration_deciles,
                                     _calibration_sql()),
})


def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters from the count-min sketch: tokens whose
    estimated frequency clears phi = 1/50 of the stream. The
    guarantee chain is the point-query's: est >= exact ALWAYS, so
    every TRUE heavy hitter is captured (no false dismissals — the
    property a sampled histogram can't give); false admissions are
    bounded by the e*N/width band and carry their exact count here
    for the driver to certify. At scale the candidate enumeration is
    the DISTINCT vocab (vocab << corpus) against the broadcast grid;
    the exact column rides along fixture-side as contract evidence.
    Output: (token, est, exact)."""
    from ..operators import sketches
    d = _docs_spread(spark, sf_dir)
    toks = d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+")).alias("token"))
    sketch = sketches.countmin_build(toks, "token")
    thr = toks.agg((F.count("*") / 50).cast("long").alias("t"))
    est = sketches.countmin_estimate(sketch, toks.distinct(), "token")
    exact = toks.groupBy("token").agg(F.count("*").alias("exact"))
    return (est.crossJoin(F.broadcast(thr))
            .filter(F.col("est") >= F.col("t"))
            .join(exact, "token")
            .select("token", "est", "exact"))


_HH_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
), sketch AS (
  SELECT row_id, bucket, count(*) AS c FROM (
    SELECT i AS row_id,
           CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || token),
                                    1, 8) AS BIGINT) % 1024 AS INT) AS bucket
    FROM toks, (SELECT unnest(generate_series(0, 3)) AS i)
  ) GROUP BY row_id, bucket
), probe_cells AS (
  SELECT token, i AS row_id,
         CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || token),
                                  1, 8) AS BIGINT) % 1024 AS INT) AS bucket
  FROM (SELECT DISTINCT token FROM toks),
       (SELECT unnest(generate_series(0, 3)) AS i)
), est AS (
  SELECT token, MIN(COALESCE(c, 0)) AS est
  FROM probe_cells LEFT JOIN sketch USING (row_id, bucket)
  GROUP BY token
), exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact
  FROM toks GROUP BY token
), thr AS (
  SELECT CAST(count(*) AS BIGINT) // 50 AS t FROM toks
)
SELECT e.token AS token, e.est AS est, x.exact AS exact
FROM est e JOIN exact x ON e.token = x.token, thr
WHERE e.est >= thr.t
"""

QUERIES.update({
    "token_heavy_hitters": Q(token_heavy_hitters, _HH_SQL),
})


def langid_nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained char-trigram Naive Bayes language ID (operators/
    langid): fit on the deterministic train split's (text, lang),
    score the test split. Fully DuckDB-oracled since r7 on the
    ARGMAX output (doc_id, predicted_lang): the oracle retrains the
    whole model in SQL (same split, same trigram extraction, same
    add-1 smoothing) and takes the same prior+likelihood argmax —
    ln() enters only the score ORDER, which ulp-level libm drift
    cannot flip except on exact ties (broken by label in both
    engines). The raw best_logp stays reachable via langid.score_nb;
    the pure-Python 1e-9 parity and the 0.95 planted-corpus accuracy
    floor stay pinned in tests/test_langid.py. NOTE the fixture's
    lang labels are independent of its text BY CONSTRUCTION (every
    doc draws the same token pool), so predictions here certify the
    machinery, not fixture accuracy — the honest caveat is part of
    the contract."""
    from ..operators import langid, sampling
    d = _docs(spark, sf_dir)
    s = sampling.assign_splits(d.select("doc_id", "text", "lang"),
                               key="doc_id")
    train = s.filter(F.col("split") == "train")
    test = s.filter(F.col("split") == "test")
    logps, stats = langid.train_nb(train)
    return (langid.score_nb(test, logps, stats)
            .select("doc_id", "predicted_lang"))


def _langid_nb_sql() -> str:
    """DuckDB twin of train_nb + score_nb over the deterministic
    80/10/10 split: same normalization (lower, collapse whitespace,
    trim), same trigram offsets, same add-alpha=1 smoothing, same
    score = log_prior + sum(seen logp) + (n_grams - n_seen) *
    log_unseen, same (score DESC, label) argmax."""
    return rf"""
WITH base AS (
  SELECT doc_id, lang,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS c,
         {_split_case_sql()} AS split
  FROM documents
), traing AS (
  SELECT lang AS label, substring(c, i, 3) AS gram
  FROM base, UNNEST(range(1, length(c) - 1)) AS u(i)
  WHERE split = 'train' AND length(c) >= 3
), counts AS (
  SELECT label, gram, count(*) AS cnt FROM traing GROUP BY label, gram
), totals AS (
  SELECT label, SUM(cnt) AS total FROM counts GROUP BY label
), vocab AS (
  SELECT count(DISTINCT gram) AS v FROM counts
), labc AS (
  SELECT lang AS label, count(*) AS nd FROM base
  WHERE split = 'train' GROUP BY lang
), ndocs AS (
  SELECT SUM(nd) AS ndocs FROM labc
), stats AS (
  SELECT t.label,
         ln(labc.nd / CAST(n.ndocs AS DOUBLE)) AS log_prior,
         ln(1.0 / (t.total + 1.0 * vocab.v)) AS log_unseen
  FROM totals t JOIN labc USING (label), vocab, ndocs n
), logps AS (
  SELECT c.label, c.gram,
         ln((c.cnt + 1.0) / (t.total + 1.0 * vocab.v)) AS logp
  FROM counts c JOIN totals t USING (label), vocab
), testg AS (
  SELECT doc_id, substring(c, i, 3) AS gram
  FROM base, UNNEST(range(1, length(c) - 1)) AS u(i)
  WHERE split = 'test' AND length(c) >= 3
), per_doc AS (
  SELECT b.doc_id, COALESCE(g.n_grams, 0) AS n_grams
  FROM (SELECT doc_id FROM base WHERE split = 'test') b
  LEFT JOIN (SELECT doc_id, count(*) AS n_grams FROM testg
             GROUP BY doc_id) g USING (doc_id)
), seen AS (
  SELECT t.doc_id, l.label,
         SUM(l.logp) AS sum_logp, count(*) AS n_seen
  FROM testg t JOIN logps l USING (gram)
  GROUP BY t.doc_id, l.label
), scored AS (
  SELECT p.doc_id, s.label,
         s.log_prior + COALESCE(se.sum_logp, 0.0)
           + (p.n_grams - COALESCE(se.n_seen, 0)) * s.log_unseen
           AS score
  FROM per_doc p CROSS JOIN stats s
  LEFT JOIN seen se ON p.doc_id = se.doc_id AND s.label = se.label
), ranked AS (
  SELECT doc_id, label,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label) AS rn
  FROM scored
)
SELECT doc_id, label AS predicted_lang FROM ranked WHERE rn = 1
"""


QUERIES.update({
    "langid_nb_predictions": Q(langid_nb_predictions, _langid_nb_sql()),
})


def doc_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free document vectors via the hashing trick (Weinberger
    et al. 2009 — feature hashing): token -> md5-bucket in a d=32
    grid, signed by one hash bit (the sign trick keeps collisions
    mean-zero), counts L2-normalized LAST. The text -> vector bridge
    that makes the whole ANN/dedup tier (cosine, IVF, SemDeDup)
    applicable to corpora with no embedding model in sight — and
    unlike a model, fully engine-portable: the VECTORS themselves
    hash-match the oracle. One explode + one (doc, bucket) aggregate
    + one per-doc assembly; d is a constant, so state per doc is 32
    doubles. Output: (doc_id, dim, weight) in long form (doc_id x
    occupied dims — sparse rows; assemble arrays downstream if the
    consumer wants them dense)."""
    d = _docs(spark, sf_dir)
    toks = (d.select("doc_id",
                     F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                       r"\s+")).alias("token")))
    h = F.md5(F.col("token").cast("binary"))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
              % 32).cast("int")
    sign = F.when(F.conv(F.substring(h, 9, 1), 16, 10).cast("int")
                  % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    raw = (toks.select("doc_id", bucket.alias("dim"),
                       sign.alias("s"))
           .groupBy("doc_id", "dim")
           .agg(F.sum(F.col("s").cast("decimal(30,10)"))
                .cast("double").alias("w")))
    norm = (raw.groupBy("doc_id")
            .agg(F.sqrt(F.sum((F.col("w") * F.col("w"))
                              .cast("decimal(38,6)")).cast("double"))
                 .alias("nrm")))
    return (raw.join(norm, "doc_id")
            .filter(F.col("nrm") > 0)
            .select("doc_id", "dim",
                    (F.col("w") / F.col("nrm")).alias("weight")))


_HASH_EMB_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
), cells AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 32
              AS INT) AS dim,
         CASE WHEN CAST(CAST('0x' || substr(md5(token), 9, 1) AS BIGINT)
                        AS INT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM toks
), raw AS (
  SELECT doc_id, dim,
         CAST(SUM(CAST(s AS DECIMAL(30,10))) AS DOUBLE) AS w
  FROM cells GROUP BY doc_id, dim
), nrm AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE)) AS nrm
  FROM raw GROUP BY doc_id
)
SELECT r.doc_id, r.dim, r.w / n.nrm AS weight
FROM raw r JOIN nrm n ON r.doc_id = n.doc_id
WHERE n.nrm > 0
"""

QUERIES.update({
    "doc_hash_embeddings": Q(doc_hash_embeddings, _HASH_EMB_SQL),
})


_UNIGRAM_MODEL_CACHE: dict[tuple[str, int], list] = {}


def _unigram_pieces_for(spark: SparkSession, sf_dir: str,
                        vocab_k: int = 256) -> list:
    key = (sf_dir, vocab_k)
    if key not in _UNIGRAM_MODEL_CACHE:
        from ..operators import unigram
        _UNIGRAM_MODEL_CACHE[key] = unigram.train_unigram(
            _docs(spark, sf_dir), vocab_k=vocab_k, rounds=2)
    return _UNIGRAM_MODEL_CACHE[key]


def unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the unigram-LM tokenizer (operators/unigram — the
    SentencePiece-family sibling of the BPE trainer: hard-EM over the
    distinct-pretoken table, corpus-size-independent rounds) and
    return the piece table (piece, logp). Rows-only (ln is
    libm-bound); the trainer is pinned EXACTLY against a pure-Python
    reference of the same algorithm in tests/test_unigram.py. Fit
    once per corpus (module memo, same fit/apply split as BPE)."""
    pieces = _unigram_pieces_for(spark, sf_dir)
    return spark.createDataFrame(
        [(p, float(lp)) for p, lp in pieces], "piece string, logp double")


def doc_unigram_tokenization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the learned unigram model (Viterbi per
    distinct pretoken via one Arrow-batched mapInPandas, fan-back
    join): (doc_id, n_words, n_pieces). Rows-only; segmentation
    invariants (>= 1 piece per word, zero-token docs survive,
    compression vs chars) pinned in tests/test_unigram.py."""
    from ..operators import unigram
    d = _docs(spark, sf_dir)
    return unigram.tokenize_with_pieces(
        d, _unigram_pieces_for(spark, sf_dir))


QUERIES.update({
    "unigram_vocab": Q(unigram_vocab, None),
    "doc_unigram_tokenization": Q(doc_unigram_tokenization, None),
})


def lang_token_hll_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HLL register grids per language (operators/sketches
    hll_build_grouped): (lang, reg, max_rho), at most 256 rows per
    language no matter the vocabulary size, merging by groupBy-MAX —
    the DISTINCT-count sibling of the oracled count-min/HDR/Bloom
    grids. Unlike lang_distinct_token_sketch's Datasketches binary,
    this sketch's STATE is engine-portable (md5-prefix register +
    bin()-length rho), so the grid itself is DuckDB-oracled; the
    estimator (libm ln) stays test-pinned next to it."""
    from ..operators import sketches
    d = _docs_spread(spark, sf_dir)
    toks = d.select("lang",
                    F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+")).alias("token"))
    return sketches.hll_build_grouped(toks, ["lang"], "token")


def lang_distinct_token_estimates(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The ESTIMATE over the portable-HLL grid, fully DuckDB-oracled
    (r7) — completing the claim the grid oracle started: not just the
    sketch STATE but the cardinality it decodes to hash-matches
    cross-engine. Why this is sound where most estimators aren't:
    the raw harmonic-mean path is EXACT dyadic arithmetic (2^-rho
    terms with rho <= 33 sum inside double's 53-bit window in any
    order; the alpha*m^2 literal is the same Python double on both
    sides; IEEE division is deterministic), so even the
    raw-vs-linear-counting BRANCH decision is bit-identical in both
    engines; the linear-counting branch's single ln() is absorbed by
    rounding to 6 decimals as the LAST op. Output: (lang,
    est_distinct, n_tokens) — the estimate next to the exact token
    volume it summarizes."""
    from ..operators import sketches
    d = _docs_spread(spark, sf_dir)
    toks = d.select("lang",
                    F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+")).alias("token"))
    grid = sketches.hll_build_grouped(toks, ["lang"], "token")
    est = sketches.hll_estimate_grouped(grid, ["lang"])
    vol = toks.groupBy("lang").agg(F.count("*").alias("n_tokens"))
    return (est.join(vol, "lang")
            .select("lang", F.round("est_distinct", 6)
                    .alias("est_distinct"), "n_tokens"))


_SHARED_SOURCES = ("src0", "src1", "src2", "src3")


def source_shared_token_estimates(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA, fully DuckDB-oracled (r7): distinct-token
    overlap between source pairs via inclusion-exclusion over the
    portable register grids — |A∩B| ≈ est(A) + est(B) − est(A∪B),
    union grid = register MAX (exact as a sketch op). This is the
    stored-sketch workflow at 100 TB ("how many tokens do these two
    feeds share") executed entirely on model-sized grids, and the
    r7 estimator argument (exact dyadic raw path, deterministic
    branch, round LAST) makes even the three-estimate composition
    hash-match cross-engine. Fixture scope: the 6 unordered pairs of
    four sources. Output: (src_a, src_b, shared_est) — can go
    slightly negative for near-disjoint sets (compounded error,
    documented on the operator); not clamped, so the oracle certifies
    the raw algebra."""
    from ..caching import tracked_persist
    from ..operators import sketches
    d = _docs_spread(spark, sf_dir)
    toks = (d.filter(F.col("source").isin(list(_SHARED_SOURCES)))
            .select("source",
                    F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+")).alias("token")))
    # tracked_persist (r12 audit): the grid is model-sized (sources x
    # HLL_M registers) but feeds THREE subtrees (both union-grid legs
    # + the single-source estimates) — unpersisted, each one re-ran
    # the corpus token explode
    g = tracked_persist(sketches.hll_build_grouped(toks, ["source"],
                                                   "token"))
    pairs = [(a, b) for i, a in enumerate(_SHARED_SOURCES)
             for b in _SHARED_SOURCES[i + 1:]]
    pdf = spark.createDataFrame(pairs, "src_a string, src_b string")
    ga = g.select(F.col("source").alias("src_a"), "reg", "max_rho")
    gb = g.select(F.col("source").alias("src_b"), "reg", "max_rho")
    ug = (pdf.join(ga, "src_a").unionByName(pdf.join(gb, "src_b"))
          .groupBy("src_a", "src_b", "reg")
          .agg(F.max("max_rho").alias("max_rho")))
    est_u = sketches.hll_estimate_grouped(ug, ["src_a", "src_b"]) \
        .withColumnRenamed("est_distinct", "eu")
    est_s = sketches.hll_estimate_grouped(g, ["source"])
    ea = est_s.select(F.col("source").alias("src_a"),
                      F.col("est_distinct").alias("ea"))
    eb = est_s.select(F.col("source").alias("src_b"),
                      F.col("est_distinct").alias("eb"))
    return (est_u.join(ea, "src_a").join(eb, "src_b")
            .select("src_a", "src_b",
                    F.round(F.col("ea") + F.col("eb") - F.col("eu"), 6)
                    .alias("shared_est")))


def _shared_tokens_sql() -> str:
    from ..operators.sketches import HLL_M
    m = HLL_M
    alpha_m2 = repr((0.7213 / (1.0 + 1.079 / m)) * m * m)
    srcs = ", ".join(f"'{s}'" for s in _SHARED_SOURCES)
    pair_rows = ", ".join(
        f"('{a}', '{b}')"
        for i, a in enumerate(_SHARED_SOURCES)
        for b in _SHARED_SOURCES[i + 1:])
    est = (f"{alpha_m2} / (s_hit + CAST({m} - n_present AS DOUBLE))")
    lin = (f"CASE WHEN {est} <= 2.5 * {m} AND {m} - n_present > 0 "
           f"THEN {float(m)!r} * ln({float(m)!r} / ({m} - n_present)) "
           f"ELSE {est} END")
    return rf"""
WITH toks AS (
  SELECT source,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents WHERE source IN ({srcs})
), cells AS (
  SELECT source,
         CAST(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {m}
              AS INT) AS reg,
         CAST(CASE WHEN CAST('0x' || substr(md5(token), 9, 8) AS BIGINT) = 0
                   THEN 33
                   ELSE 33 - length(bin(CAST('0x' || substr(md5(token), 9, 8)
                                             AS BIGINT)))
              END AS INT) AS rho
  FROM toks
), grid AS (
  SELECT source, reg, MAX(rho) AS max_rho FROM cells GROUP BY source, reg
), pairs(src_a, src_b) AS (
  VALUES {pair_rows}
), ug AS (
  SELECT p.src_a, p.src_b, g.reg, MAX(g.max_rho) AS max_rho
  FROM pairs p JOIN grid g ON g.source IN (p.src_a, p.src_b)
  GROUP BY p.src_a, p.src_b, g.reg
), agg_u AS (
  SELECT src_a, src_b, SUM(pow(2.0, -max_rho)) AS s_hit,
         count(*) AS n_present
  FROM ug GROUP BY src_a, src_b
), est_u AS (
  SELECT src_a, src_b, {lin} AS eu FROM agg_u
), agg_s AS (
  SELECT source, SUM(pow(2.0, -max_rho)) AS s_hit,
         count(*) AS n_present
  FROM grid GROUP BY source
), est_s AS (
  SELECT source, {lin} AS es FROM agg_s
)
SELECT u.src_a, u.src_b,
       round(a.es + b.es - u.eu, 6) AS shared_est
FROM est_u u
JOIN est_s a ON u.src_a = a.source
JOIN est_s b ON u.src_b = b.source
"""


def _hll_estimate_sql() -> str:
    from ..operators.sketches import HLL_M
    m = HLL_M
    alpha_m2 = repr((0.7213 / (1.0 + 1.079 / m)) * m * m)
    return rf"""
WITH toks AS (
  SELECT lang,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
), cells AS (
  SELECT lang,
         CAST(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {m}
              AS INT) AS reg,
         CAST(CASE WHEN CAST('0x' || substr(md5(token), 9, 8) AS BIGINT) = 0
                   THEN 33
                   ELSE 33 - length(bin(CAST('0x' || substr(md5(token), 9, 8)
                                             AS BIGINT)))
              END AS INT) AS rho
  FROM toks
), grid AS (
  SELECT lang, reg, MAX(rho) AS max_rho FROM cells GROUP BY lang, reg
), agg AS (
  SELECT lang,
         SUM(pow(2.0, -max_rho)) AS s_hit,
         count(*) AS n_present
  FROM grid GROUP BY lang
), est AS (
  SELECT lang,
         {alpha_m2} / (s_hit + CAST({m} - n_present AS DOUBLE)) AS raw,
         {m} - n_present AS zeros
  FROM agg
), vol AS (
  SELECT lang, count(*) AS n_tokens FROM toks GROUP BY lang
)
SELECT est.lang,
       round(CASE WHEN raw <= 2.5 * {m} AND zeros > 0
                  THEN {float(m)!r} * ln({float(m)!r} / zeros)
                  ELSE raw END, 6) AS est_distinct,
       vol.n_tokens
FROM est JOIN vol ON est.lang = vol.lang
"""


_HLL_GRID_SQL = r"""
WITH toks AS (
  SELECT lang,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
), cells AS (
  SELECT lang,
         CAST(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 256
              AS INT) AS reg,
         CAST('0x' || substr(md5(token), 9, 8) AS BIGINT) AS w
  FROM toks
)
SELECT lang, reg,
       MAX(CASE WHEN w = 0 THEN 33
                ELSE 33 - length(bin(w)) END) AS max_rho
FROM cells
GROUP BY lang, reg
"""

QUERIES.update({
    "lang_token_hll_grid": Q(lang_token_hll_grid, _HLL_GRID_SQL),
    "lang_distinct_token_estimates": Q(lang_distinct_token_estimates,
                                       _hll_estimate_sql()),
    "source_shared_token_estimates": Q(source_shared_token_estimates,
                                       _shared_tokens_sql()),
})


_BM25_PROBE_TERMS = ("scan", "column", "window", "join", "merge",
                     "stream", "customer", "data", "filter")
_BM25_QUERIES = [(0, "scan column window"),
                 (1, "join merge stream"),
                 (2, "customer data filter")]


def bm25_doc_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 INDEX side (operators/bm25.bm25_index), hash-oracled:
    per (probe term, doc) exact term frequency, doc length, document
    frequency, corpus size, and average doc length — every number the
    scorer consumes except the libm ln(). The probe set is the fixed
    query vocabulary bm25_search_topk uses, so the oracled surface
    covers exactly the scored path's inputs."""
    from ..operators import bm25
    d = _docs(spark, sf_dir)
    tf, df, stats = bm25.bm25_index(d)
    return (tf.filter(F.col("term").isin(*_BM25_PROBE_TERMS))
            .join(F.broadcast(df), "term")
            .crossJoin(F.broadcast(stats))
            .select("term", "doc_id",
                    F.col("tf").cast("long").alias("tf"),
                    F.col("dl").cast("long").alias("dl"),
                    F.col("df").cast("long").alias("df"),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("avgdl").cast("double").alias("avgdl")))


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_PROBE_TERMS)

_BM25_STATS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT count(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
)
SELECT term, doc_id,
       CAST(tf AS BIGINT) AS tf,
       CAST(dl AS BIGINT) AS dl,
       CAST(df AS BIGINT) AS df,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(avgdl AS DOUBLE) AS avgdl
FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats
WHERE term IN ({_BM25_TERMS_SQL})
"""


def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for three fixed queries over the corpus
    (operators/bm25.bm25_topk): (query_id, doc_id, score, rank).
    Fully DuckDB-oracled since r7: scores are rounded to 6 decimals
    as the LAST operation and the ranking runs on the ROUNDED score
    (doc_id tiebreak) in both engines, so the ulp-level ln()/summation
    differences between JVM and DuckDB libm are absorbed before any
    value is hashed or any rank assigned. Raw-score parity (1e-9 vs
    pure Python) stays pinned in tests/test_bm25.py; the index side
    has its own hash oracle (bm25_doc_term_stats)."""
    from ..operators import bm25
    d = _docs(spark, sf_dir)
    q = spark.createDataFrame(_BM25_QUERIES, "query_id int, qtext string")
    return bm25.bm25_topk(d, q, round_scores=6)


def _bm25_topk_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of bm25_topk(round_scores=6): same tokenization,
    same Lucene-variant formula with the identical literal constants,
    same round-then-rank order."""
    values = ", ".join(f"({qid}, '{qtext}')"
                       for qid, qtext in _BM25_QUERIES)
    return rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT count(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), qt AS (
  SELECT DISTINCT query_id,
         unnest(string_split_regex(lower(trim(qtext)), '\s+')) AS term
  FROM (VALUES {values}) AS q(query_id, qtext)
), scored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf / (tf.tf + {k1} * ({1.0 - b!r}
                                         + {b} * dl.dl / s.avgdl))))
           AS raw
  FROM tf
  JOIN qt USING (term)
  JOIN dfreq USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id, stats s
  GROUP BY qt.query_id, tf.doc_id
), ranked AS (
  SELECT query_id, doc_id, round(raw, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 6) DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {k}
"""


QUERIES.update({
    "bm25_doc_term_stats": Q(bm25_doc_term_stats, _BM25_STATS_SQL),
    "bm25_search_topk": Q(bm25_search_topk, _bm25_topk_sql()),
})


def bigram_kn_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM trained on the corpus
    (operators/ngram_lm) — every observed bigram's discounted +
    continuation-backoff probability, ALL-RATIO arithmetic so the
    trained model itself is hash-oracled (the count-based-LM sibling
    of the rows-only neural-ish tiers). Per-context normalization to
    exactly 1 over the full vocabulary (the interpolation guarantee)
    and the continuation-count signature are pinned in
    tests/test_ngram_lm.py."""
    from ..operators import ngram_lm
    return ngram_lm.kn_observed_probs(_docs(spark, sf_dir))


_KN_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents
), ex AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2
  FROM (SELECT doc_id, ts,
               unnest(generate_series(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 2)
), bg AS (
  SELECT w1, w2, count(*) AS c12 FROM ex GROUP BY w1, w2
), ctx AS (
  SELECT w1, SUM(c12) AS c1, count(*) AS n1fw FROM bg GROUP BY w1
), cont AS (
  SELECT w2, count(*) AS n1bw FROM bg GROUP BY w2
), tot AS (
  SELECT count(*) AS n_types FROM bg
)
SELECT bg.w1, bg.w2, CAST(bg.c12 AS BIGINT) AS c12,
       GREATEST(CAST(bg.c12 AS DOUBLE) - 0.75, 0.0) / ctx.c1
         + ((0.75 * ctx.n1fw) / ctx.c1)
           * (CAST(cont.n1bw AS DOUBLE) / tot.n_types) AS p_kn
FROM bg JOIN ctx USING (w1) JOIN cont USING (w2), tot
"""

QUERIES.update({
    "bigram_kn_probs": Q(bigram_kn_probs, _KN_SQL),
})


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (sampling.weighted_sample,
    Efraimidis-Spirakis priorities from the portable md5 uniform):
    64 docs drawn without replacement with probability tracking
    n_chars — the length-weighted corpus subsample a mixture builder
    draws. Fully DuckDB-oracled since r7: the md5 uniform is
    engine-portable by construction and the OUTPUT carries only the
    exact integer columns (doc_id, n_chars) — pow() enters only the
    priority ORDER, which ulp-level libm drift cannot flip except on
    ties the keyed-md5 uniform doesn't produce. Exact pure-Python
    selection parity stays pinned in tests/test_sampling_weighted.py."""
    from ..operators import sampling
    d = _docs(spark, sf_dir)
    return (sampling.weighted_sample(d, 64, "n_chars", "doc_id")
            .select("doc_id", "n_chars"))


_WEIGHTED_SAMPLE_SQL = """
WITH pri AS (
  SELECT doc_id, n_chars,
         pow((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) + 1.0)
             / 4294967296.0,
             1.0 / n_chars) AS p
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, n_chars FROM pri ORDER BY p DESC, doc_id LIMIT 64
"""

QUERIES.update({
    "weighted_doc_sample": Q(weighted_doc_sample, _WEIGHTED_SAMPLE_SQL),
})


def doc_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram perplexity under the corpus-trained Kneser-Ney
    model — the CCNet/Gopher-style LM-filter signal with a REAL
    smoothed LM behind it (doc_bigram_surprisal's MLE ratios assign
    unseen transitions nothing; KN assigns them proper backoff mass).
    Output: (doc_id, n_transitions, log2_perplexity) where
    log2_perplexity = mean -log2 p(w2|w1) over the doc's transitions
    (perplexity itself is 2^log2_perplexity — monotone-equivalent for
    filtering, and log-space is where LM filters threshold anyway).
    Fully DuckDB-oracled since r7: the per-transition p values are
    the bit-identical ratios certified by bigram_kn_probs' hash
    oracle, and the one libm-bound step (log2+avg) is rounded to 5
    decimals as the LAST operation — wide enough to absorb ulp-level
    log2/summation-order drift (~1e-12 abs), precise enough that the
    match still certifies the scoring join and the per-doc mean.
    Docs with < 2 tokens have no transitions and are absent (the
    curation capstone floors short docs already); the shuffled-text
    discrimination test stays as the semantic pin."""
    from ..operators import ngram_lm
    d = _docs(spark, sf_dir)
    pairs = ngram_lm.bigram_pairs(d)
    model = ngram_lm.kn_bigram_model(pairs)
    bg, ctx, cont, tot = model
    scored = (pairs
              .join(bg, ["w1", "w2"])
              .join(ctx, "w1").join(cont, "w2")
              .crossJoin(F.broadcast(tot))
              .withColumn("p", ngram_lm._p_kn(F.col("c12"),
                                              ngram_lm.KN_DISCOUNT)))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_transitions"),
                 F.round(-F.avg(F.log2("p")), 5)
                 .alias("log2_perplexity")))


_KN_PERPLEXITY_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents
), ex AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM (SELECT doc_id, ts,
               unnest(generate_series(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 2)
), bg AS (
  SELECT w1, w2, count(*) AS c12 FROM ex GROUP BY w1, w2
), ctx AS (
  SELECT w1, SUM(c12) AS c1, count(*) AS n1fw FROM bg GROUP BY w1
), cont AS (
  SELECT w2, count(*) AS n1bw FROM bg GROUP BY w2
), tot AS (
  SELECT count(*) AS n_types FROM bg
), probs AS (
  SELECT bg.w1, bg.w2,
         GREATEST(CAST(bg.c12 AS DOUBLE) - 0.75, 0.0) / ctx.c1
           + ((0.75 * ctx.n1fw) / ctx.c1)
             * (CAST(cont.n1bw AS DOUBLE) / tot.n_types) AS p
  FROM bg JOIN ctx USING (w1) JOIN cont USING (w2), tot
)
SELECT ex.doc_id,
       count(*) AS n_transitions,
       round(-avg(log2(p.p)), 5) AS log2_perplexity
FROM ex JOIN probs p USING (w1, w2)
GROUP BY ex.doc_id
"""

QUERIES.update({
    "doc_kn_perplexity": Q(doc_kn_perplexity, _KN_PERPLEXITY_SQL),
})


def source_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch schedule per source (r7): the data-scheduling
    step a pretraining run publishes in its datacard — given the
    per-source token counts, a sqrt-temperature target mixture, and a
    token budget of 2x the corpus, how many EPOCHS of each source the
    run consumes, with upsampling capped at 4 epochs (the standard
    repetition guard). Complements lang_temperature_mixture (which
    SUBSAMPLES docs to the target); this computes the repeat factors a
    sampler feeds from, without touching the data.

    Cross-engine determinism: sqrt is correctly rounded (IEEE), token
    totals are exact BIGINTs, and the one order-sensitive reduction —
    the weight normalizer summed over sources — folds a
    source-ORDERED list sequentially in both engines (model-sized: a
    corpus has dozens of sources, not millions), so every double in
    the output is bit-identical and the driver hash certifies the
    schedule itself."""
    d = _docs(spark, sf_dir)
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    per_src = (d.groupBy("source")
               .agg(F.count("*").alias("n_docs"),
                    F.sum(toks).alias("n_tokens"))
               .withColumn("sq", F.sqrt(F.col("n_tokens"))))
    norm = (per_src
            .agg(F.array_sort(F.collect_list(F.struct("source", "sq")))
                 .alias("rows"))
            .select(F.aggregate("rows", F.lit(0.0),
                                lambda acc, r: acc + r["sq"]).alias("z"),
                    F.lit(1).alias("__one")))
    total = (per_src.agg(F.sum("n_tokens").alias("corpus_tokens"))
             .withColumn("__one", F.lit(1)))
    out = (per_src.withColumn("__one", F.lit(1))
           .join(F.broadcast(norm), "__one")
           .join(F.broadcast(total), "__one")
           .withColumn("weight", F.col("sq") / F.col("z"))
           .withColumn("budget_tokens", 2 * F.col("corpus_tokens"))
           .withColumn("target_tokens",
                       F.col("weight") * F.col("budget_tokens"))
           .withColumn("epochs_uncapped",
                       F.col("target_tokens") / F.col("n_tokens"))
           .withColumn("epochs", F.least("epochs_uncapped", F.lit(4.0)))
           .withColumn("effective_tokens",
                       F.col("epochs") * F.col("n_tokens")))
    return out.select("source", "n_docs", "n_tokens", "weight",
                      "target_tokens", "epochs", "effective_tokens")


_SOURCE_SCHEDULE_SQL = r"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\s+')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), sq AS (
  SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS sqv FROM per_src
), norm AS (
  SELECT list_reduce(list(sqv ORDER BY source),
                     (a, b) -> a + b) AS z
  FROM sq
), total AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM per_src
)
SELECT source, n_docs, n_tokens,
       sqv / z AS weight,
       (sqv / z) * (2 * corpus_tokens) AS target_tokens,
       least((sqv / z) * (2 * corpus_tokens) / n_tokens,
             CAST(4 AS DOUBLE)) AS epochs,
       least((sqv / z) * (2 * corpus_tokens) / n_tokens,
             CAST(4 AS DOUBLE)) * n_tokens AS effective_tokens
FROM sq, norm, total
"""


QUERIES.update({
    "source_mixture_schedule": Q(source_mixture_schedule,
                                 _SOURCE_SCHEDULE_SQL),
})


_DSIR_TARGET_SOURCES = ("src0", "src1")
_DSIR_KEEP_FRACTION = 0.25


def dsir_selection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py — hashed-ngram
    importance resampling, Xie et al. 2023): fit target (src0+src1)
    vs raw bucket distributions, score every raw doc by its mean
    log-likelihood ratio, keep the top 25% WITHIN each source
    (partitioned rank — no global sort). Fully DuckDB-oracled: exact
    bucket counts, IEEE-division probabilities, the ln/avg step
    rounded to 5 decimals LAST (doc_kn_perplexity's protocol), and a
    keep decision ranked on the ROUNDED score with doc_id ties.
    Output: (doc_id, source, n_grams, score, rank, kept)."""
    from ..caching import tracked_persist
    from ..operators import dsir
    d = _docs(spark, sf_dir)
    is_target = F.col("source").isin(list(_DSIR_TARGET_SOURCES))
    # single corpus gram pass: the explode is aggregated once to
    # (doc, source, bucket, n_occ) and PERSISTED; the fit's
    # model-sized checkpoint materializes that cache as a side
    # effect, and scoring reads it back instead of re-running the
    # split+md5 explode. Fit counts are sums of exact integers; the
    # scoring mean is the weighted form, absorbed by the round-5-last
    # protocol (see dsir_scores_from_occ).
    occ = tracked_persist(
        dsir.doc_gram_bucket_counts(d, carry_cols=("source",)))
    llr = dsir.dsir_bucket_llr(occ, is_target)
    scored = (dsir.dsir_scores_from_occ(occ.filter(~is_target), llr)
              .join(d.select("doc_id", "source"), "doc_id"))
    sel = dsir.dsir_select(scored, _DSIR_KEEP_FRACTION, ["source"])
    return sel.select("doc_id", "source", "n_grams", "score",
                      "rank", "kept")


def _dsir_sql() -> str:
    from ..operators.dsir import ALPHA, N_BUCKETS
    b = N_BUCKETS
    srcs = ", ".join(f"'{t}'" for t in _DSIR_TARGET_SOURCES)
    frac = repr(_DSIR_KEEP_FRACTION)

    def grams(rel: str) -> str:
        return rf"""
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % {b} AS INT)
           AS bucket
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(coalesce(text, ''))),
                                     '\s+')) AS g
    FROM {rel}
    UNION ALL
    SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS g
    FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
          FROM (SELECT doc_id,
                       string_split_regex(lower(trim(coalesce(text, ''))),
                                          '\s+') AS ts
                FROM {rel})
          WHERE len(ts) >= 2)
  )"""

    return rf"""
WITH tgt AS (
  SELECT doc_id, text FROM documents WHERE source IN ({srcs})
), raw AS (
  SELECT doc_id, text FROM documents WHERE source NOT IN ({srcs})
), tg AS ({grams('tgt')}
), rg AS ({grams('raw')}
), grid AS (
  SELECT CAST(unnest(generate_series(0, {b} - 1)) AS INT) AS bucket
), tc AS (
  SELECT bucket, count(*) AS n_t FROM tg GROUP BY bucket
), rc AS (
  SELECT bucket, count(*) AS n_r FROM rg GROUP BY bucket
), tt AS (SELECT count(*) AS c FROM tg
), rt AS (SELECT count(*) AS c FROM rg
), llr AS (
  SELECT grid.bucket,
         ln((COALESCE(n_t, 0) + {ALPHA!r}) / (tt.c + {ALPHA!r} * {b}))
         - ln((COALESCE(n_r, 0) + {ALPHA!r}) / (rt.c + {ALPHA!r} * {b}))
           AS llr
  FROM grid LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tt, rt
), scores AS (
  SELECT rg.doc_id, count(*) AS n_grams, round(avg(llr.llr), 5) AS score
  FROM rg JOIN llr USING (bucket)
  GROUP BY rg.doc_id
), sel AS (
  SELECT s.doc_id, d.source, s.n_grams, s.score,
         CAST(row_number() OVER (PARTITION BY d.source
                                 ORDER BY s.score DESC, s.doc_id) AS INT)
           AS rank,
         count(*) OVER (PARTITION BY d.source) AS n_src
  FROM scores s JOIN documents d USING (doc_id)
)
SELECT doc_id, source, n_grams, score, rank,
       rank <= GREATEST(1, CAST(floor(n_src * {frac}) AS BIGINT)) AS kept
FROM sel
"""


def dsir_selection_by_source(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Domain-conditional DSIR (operators/dsir.py
    dsir_bucket_llr_by_group — VERDICT r8 #3): the SHARED target
    (src0+src1) scored against each raw source's OWN proposal
    distribution, so a gram that is merely common in one source stops
    distorting every other source's ranking. Same determinism
    protocol as the pooled report (exact bucket counts, IEEE
    divisions, round-5-last, rank on the rounded score); keep the top
    25% within each source. Output: (doc_id, source, n_grams, score,
    rank, kept)."""
    from ..caching import tracked_persist
    from ..operators import dsir
    d = _docs(spark, sf_dir)
    is_target = F.col("source").isin(list(_DSIR_TARGET_SOURCES))
    # single corpus gram pass, as in dsir_selection_report: one
    # explode, aggregated to (doc, source, bucket, n_occ) and
    # persisted; the grouped fit's checkpoint materializes the cache
    # and scoring reads it back (see dsir_scores_by_group_from_occ).
    occ = tracked_persist(
        dsir.doc_gram_bucket_counts(d, carry_cols=("source",)))
    llr = dsir.dsir_bucket_llr_by_group(occ, is_target)
    scored = dsir.dsir_scores_by_group_from_occ(
        occ.filter(~is_target), llr)
    sel = dsir.dsir_select(scored, _DSIR_KEEP_FRACTION, ["source"])
    return sel.select("doc_id", "source", "n_grams", "score",
                      "rank", "kept")


def _dsir_by_source_sql() -> str:
    from ..operators.dsir import ALPHA, N_BUCKETS
    b = N_BUCKETS
    srcs = ", ".join(f"'{t}'" for t in _DSIR_TARGET_SOURCES)
    frac = repr(_DSIR_KEEP_FRACTION)

    def grams(rel: str, extra: str = "") -> str:
        cols = f"doc_id{', ' + extra if extra else ''}"
        return rf"""
  SELECT {cols},
         CAST(CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % {b} AS INT)
           AS bucket
  FROM (
    SELECT {cols},
           unnest(string_split_regex(lower(trim(coalesce(text, ''))),
                                     '\s+')) AS g
    FROM {rel}
    UNION ALL
    SELECT {cols}, ts[i] || ' ' || ts[i + 1] AS g
    FROM (SELECT {cols}, ts, unnest(generate_series(1, len(ts) - 1)) AS i
          FROM (SELECT {cols},
                       string_split_regex(lower(trim(coalesce(text, ''))),
                                          '\s+') AS ts
                FROM {rel})
          WHERE len(ts) >= 2)
  )"""

    return rf"""
WITH tgt AS (
  SELECT doc_id, text FROM documents WHERE source IN ({srcs})
), raw AS (
  SELECT doc_id, source, text FROM documents WHERE source NOT IN ({srcs})
), tg AS ({grams('tgt')}
), rg AS ({grams('raw', 'source')}
), tc AS (
  SELECT bucket, count(*) AS n_t FROM tg GROUP BY bucket
), rc AS (
  SELECT source, bucket, count(*) AS n_r FROM rg GROUP BY source, bucket
), tt AS (SELECT count(*) AS c FROM tg
), rt AS (SELECT source, count(*) AS c FROM rg GROUP BY source
), grid AS (
  SELECT s.source, g.bucket
  FROM (SELECT DISTINCT source FROM rg) s,
       (SELECT CAST(unnest(generate_series(0, {b} - 1)) AS INT)
          AS bucket) g
), llr AS (
  SELECT grid.source, grid.bucket,
         ln((COALESCE(tc.n_t, 0) + {ALPHA!r}) / (tt.c + {ALPHA!r} * {b}))
         - ln((COALESCE(rc.n_r, 0) + {ALPHA!r}) / (rt.c + {ALPHA!r} * {b}))
           AS llr
  FROM grid
  LEFT JOIN tc USING (bucket)
  LEFT JOIN rc ON rc.source = grid.source AND rc.bucket = grid.bucket
  JOIN rt ON rt.source = grid.source, tt
), scores AS (
  SELECT rg.doc_id, rg.source, count(*) AS n_grams,
         round(avg(llr.llr), 5) AS score
  FROM rg JOIN llr ON llr.source = rg.source AND llr.bucket = rg.bucket
  GROUP BY rg.doc_id, rg.source
), sel AS (
  SELECT doc_id, source, n_grams, score,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY score DESC, doc_id) AS INT)
           AS rank,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM scores
)
SELECT doc_id, source, n_grams, score, rank,
       rank <= GREATEST(1, CAST(floor(n_src * {frac}) AS BIGINT)) AS kept
FROM sel
"""


QUERIES.update({
    "dsir_selection_report": Q(dsir_selection_report, _dsir_sql()),
    "dsir_selection_by_source": Q(dsir_selection_by_source,
                                  _dsir_by_source_sql()),
})
