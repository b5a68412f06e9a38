"""Text-preparation operators for LLM training/RAG pipelines (X4
extensions, round 4): PII detection/redaction and overlapping-window
document chunking.

Both are pure per-row JVM expressions (regexp / slice arithmetic — no
UDFs, no shuffles of their own), so they ride inside whole-stage
codegen on the corpus scan: at 100 TB these cost exactly one pass over
the text bytes, and Catalyst is free to pipeline them under any
downstream agg/join.

Regexes stay in the Java-regex ∩ RE2 compatible subset (no
lookarounds, no backreferences) so the DuckDB oracles evaluate the
IDENTICAL pattern — same contract as the lang-ID markers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: PII patterns (detection-grade, not validation-grade: a corpus
#: scrubber prefers false positives over leaked PII)
PII_PATTERNS = {
    # local@domain.tld — the common e-mail shape
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # dotted-quad IPv4 (word-bounded so version strings don't match)
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    # phone: optional +country, then 3 digit groups of 2-4 / 3-4 / 3-4
    # with single separators — structure, not raw length, so dates
    # (2024-01-01: middle group only 2 digits) don't false-positive.
    # Kept last in the redaction chain: it must not eat the digits of
    # an IP already redacted.
    "phone": (r"(\+[0-9]{1,3}[-.\s]?)?\(?[0-9]{2,4}\)?"
              r"[-.\s]?[0-9]{3,4}[-.\s]?[0-9]{3,4}\b"),
}

#: redaction order matters: specific before generic (an IPv4's digit
#: runs would otherwise be half-eaten by the phone pattern)
REDACTION_ORDER = ("email", "ipv4", "phone")


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts — regexp_extract_all + size, one scan."""
    return {kind: F.size(F.regexp_extract_all(text, F.lit(rx), 0))
            for kind, rx in PII_PATTERNS.items()}


def redact_pii(text: Column) -> Column:
    """Replace every PII match with ``[KIND]``. Chained
    regexp_replace (global by default in Spark; the oracle passes the
    'g' flag) in REDACTION_ORDER."""
    out = text
    for kind in REDACTION_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind],
                               f"[{kind.upper()}]")
    return out


def with_pii_redaction(docs: DataFrame) -> DataFrame:
    """Adds n_<kind> count columns and ``redacted`` text. spread()
    first (r11 rollout): one regexp scan per PII kind plus the
    chained redaction replaces — pure per-row CPU a narrow upstream
    would serialize."""
    from .dedup import spread
    text = F.col("text")
    counts = pii_counts(text)
    out = spread(docs)
    for kind in REDACTION_ORDER:
        out = out.withColumn(f"n_{kind}", counts[kind])
    return out.withColumn("redacted", redact_pii(text))


def chunk_documents(docs: DataFrame, window: int = 64,
                    stride: int = 48) -> DataFrame:
    """Overlapping token-window chunking — the RAG/packing prep step.

    Whitespace tokens; chunk i covers tokens
    ``[1 + i*stride, 1 + i*stride + window)`` (1-based);
    ``n_chunks = max(1, ceil((n_tokens - window) / stride) + 1)`` so
    the final (possibly partial) chunk always reaches the last token
    and every token belongs to >= 1 chunk. Output one row per chunk:
    (doc_id, chunk_id, start_token, n_chunk_tokens, chunk_text).

    Per-row explode of slice arithmetic — no shuffle; chunk count per
    doc is data-proportional, so the explode's row amplification is
    bounded by total tokens / stride."""
    if not 0 < stride <= window:
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    # tokens BOUND as a real column (r13): inline, the lambda's slice
    # re-evaluated the split once per CHUNK (lambda bodies sit outside
    # runtime subexpression elimination — the shingle /
    # char_grams lambda-recompute class); a non-cheap alias referenced
    # more than once survives CollapseProject, so the split runs once
    # per row
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1),
        (F.ceil((n - window) / F.lit(float(stride))) + 1).cast("int"))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            (i * stride + 1).cast("int").alias("start_token"),
            F.slice(toks, i * stride + 1, window).alias("toks")))
    # spread() before the chunk explode (r11): tokenization + the
    # per-chunk slice/join expressions are the per-row CPU stage
    from .dedup import spread
    ex = (spread(docs)
          .withColumn("__toks", F.split(F.trim(F.col("text")), r"\s+"))
          .select("doc_id", F.explode(chunks).alias("c")))
    return ex.select(
        "doc_id", "c.chunk_id", "c.start_token",
        F.size("c.toks").alias("n_chunk_tokens"),
        F.array_join("c.toks", " ").alias("chunk_text"))
