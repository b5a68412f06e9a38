"""textprep operators: planted-PII detection/redaction and chunking
coverage invariants (the oracle proves engine parity; these prove the
semantics are the INTENDED ones)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from stockanalyses_downloader_spark.operators import textprep


def test_pii_detection_and_redaction(spark):
    rows = [
        (0, "contact alice.smith+spam@example.co.uk for details"),
        (1, "server at 192.168.1.254 timed out, retry 10.0.0.1"),
        (2, "call +1 (555) 123-4567 now"),
        (3, "clean text with numbers 42 and a date 2024-01-01"),
        (4, "mail bob@corp.io or ring 555-867-5309 from 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textprep.with_pii_redaction(df).collect()}

    assert out[0]["n_email"] == 1 and "[EMAIL]" in out[0]["redacted"]
    assert "alice" not in out[0]["redacted"]
    assert out[1]["n_ipv4"] == 2
    assert out[1]["redacted"].count("[IPV4]") == 2
    assert "192.168" not in out[1]["redacted"]
    assert out[2]["n_phone"] >= 1 and "[PHONE]" in out[2]["redacted"]
    assert "4567" not in out[2]["redacted"]
    assert out[3]["n_email"] == out[3]["n_ipv4"] == 0
    assert out[3]["redacted"] == rows[3][1]  # clean text untouched
    assert (out[4]["n_email"], out[4]["n_ipv4"]) == (1, 1)
    assert out[4]["n_phone"] >= 1
    for kind in ("EMAIL", "IPV4", "PHONE"):
        assert f"[{kind}]" in out[4]["redacted"]


@pytest.mark.parametrize("W,S", [(64, 48), (16, 16), (8, 5)])
@pytest.mark.parametrize("n_tokens", [1, 30, 63, 64, 65, 100, 200])
def test_chunk_coverage_invariants(spark, n_tokens, W, S):
    """Every token lands in >= 1 chunk; chunk starts advance by the
    stride; the final chunk reaches the last token; chunk count equals
    the closed form max(1, ceil((n - W)/S) + 1). Covers the
    overlapping default, the stride==window (disjoint) case, and a
    small odd pair."""
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = sorted(textprep.chunk_documents(df, W, S).collect(),
                  key=lambda r: r["chunk_id"])
    expected_chunks = max(1, math.ceil((n_tokens - W) / S) + 1)
    assert len(rows) == expected_chunks
    covered = set()
    for i, r in enumerate(rows):
        assert r["chunk_id"] == i
        assert r["start_token"] == 1 + i * S
        toks = r["chunk_text"].split(" ")
        assert r["n_chunk_tokens"] == len(toks) <= W
        assert toks[0] == f"t{r['start_token'] - 1}"
        covered.update(range(r["start_token"],
                             r["start_token"] + r["n_chunk_tokens"]))
    assert covered == set(range(1, n_tokens + 1))


def test_chunk_overlap_is_window_minus_stride(spark):
    W, S = 8, 5
    text = " ".join(str(i) for i in range(20))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = sorted(textprep.chunk_documents(df, W, S).collect(),
                  key=lambda r: r["chunk_id"])
    a, b = rows[0], rows[1]
    a_toks = a["chunk_text"].split(" ")
    b_toks = b["chunk_text"].split(" ")
    assert a_toks[S:] == b_toks[:W - S]  # 3-token overlap, identical


def test_chunk_rejects_bad_stride(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        textprep.chunk_documents(df, window=4, stride=5)
    with pytest.raises(ValueError):
        textprep.chunk_documents(df, window=4, stride=0)


def _write_docs(spark, rows):
    import tempfile
    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string") \
        .withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")) \
        .withColumn("n_chars", F.length("text")) \
        .write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_substring_dup_flags_planted_boilerplate(spark):
    """Two docs sharing one long verbatim block must both show shared
    windows; a doc with unique text shows zero; token-set Jaccard
    would barely register the overlap."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        substring_dup_fraction)

    # varied (non-repeating) boilerplate: a repeated phrase collapses
    # to a handful of DISTINCT window digests after the per-doc dedup
    boiler = ("this dataset is released under the terms of the creative "
              "commons attribution license version four point zero and "
              "any redistribution must preserve this exact notice along "
              "with the original authorship and citation metadata block "
              "including checksums and provenance identifiers")
    uniq1 = " ".join(f"alpha{i}" for i in range(60))
    uniq2 = " ".join(f"beta{i}" for i in range(60))
    rows = [(0, boiler + " " + uniq1),
            (1, boiler + " " + uniq2),
            (2, " ".join(f"gamma{i}" for i in range(80)))]
    out = {r["doc_id"]: r for r in
           substring_dup_fraction(spark, _write_docs(spark, rows))
           .collect()}
    assert out[0]["n_shared_windows"] >= 3  # boiler spans >= 3 anchors
    assert out[1]["n_shared_windows"] >= 3
    assert out[2]["n_shared_windows"] == 0
    assert out[2]["dup_fraction"] == 0.0
    assert 0 < out[0]["dup_fraction"] < 1


@pytest.mark.parametrize("off_a,off_b", [(0, 7), (3, 50), (13, 31)])
def test_substring_dup_is_shift_resilient(spark, off_a, off_b):
    """VERDICT r4 #2: the SAME boilerplate planted at offsets
    differing by a NON-multiple of any grid (7/47/18 chars apart —
    none a multiple of the r4 stride 32) must still be flagged in
    BOTH docs, because anchors are content-defined (carried by the
    block), not offset-aligned."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        substring_dup_fraction)

    boiler = ("every downstream consumer of this corpus must retain "
              "the license header and acknowledge the upstream data "
              "sources in full as described in the accompanying card "
              "which lists collection dates filtering rules and known "
              "limitations of the sampling procedure used here")
    pre_a = " ".join(f"xq{i}" for i in range(40))[:off_a]
    pre_b = " ".join(f"zk{i}" for i in range(40))[:off_b]
    tail_a = " " + " ".join(f"alpha{i}" for i in range(50))
    tail_b = " " + " ".join(f"beta{i}" for i in range(50))
    rows = [(0, (pre_a + " " + boiler + tail_a).strip()),
            (1, (pre_b + " " + boiler + tail_b).strip()),
            (2, " ".join(f"gamma{i}" for i in range(80)))]
    out = {r["doc_id"]: r for r in
           substring_dup_fraction(spark, _write_docs(spark, rows))
           .collect()}
    assert out[0]["n_shared_windows"] >= 2, out[0]
    assert out[1]["n_shared_windows"] >= 2, out[1]
    assert out[2]["n_shared_windows"] == 0


def test_hll_sketch_union_tracks_exact(spark, sf_dir):
    """The two-level sketch path (per-source portable HLL grids ->
    register-MAX merge at lang level) must track exact count_distinct
    within the grid's error band (m = 256 registers -> ~6.5% relative
    stderr; 3 sigma is ~20%), and the merge must estimate the UNION of
    the parts, not their sum."""
    from stockanalyses_downloader_spark.operators import sketches
    from stockanalyses_downloader_spark.queries.text_queries import (
        lang_distinct_token_sketch)
    from stockanalyses_downloader_spark.sources.tables import load_table

    band = 3 * 1.04 / math.sqrt(sketches.HLL_M)
    got = {r["lang"]: r["approx_distinct_tokens"] for r in
           lang_distinct_token_sketch(spark, sf_dir).collect()}
    d = load_table(spark, sf_dir, "documents")
    exact = {r["lang"]: r["x"] for r in
             d.select("lang", F.explode(F.split(F.lower(F.trim(
                 F.col("text"))), r"\s+")).alias("t"))
             .groupBy("lang").agg(F.countDistinct("t").alias("x"))
             .collect()}
    assert set(got) == set(exact)
    for lang, x in exact.items():
        assert abs(got[lang] - x) <= band * x, (lang, got[lang], x)

    # 30k distinct tokens over 7 "sources", each token in two of them:
    # the parts sum to ~60k, the union is 30k
    big = spark.range(60_000).select(
        (F.col("id") % 7).cast("string").alias("source"),
        F.concat(F.lit("tok"), F.col("id") % 30_000).alias("token"))
    per_source = sketches.hll_build_grouped(big, ["source"], "token")
    merged = per_source.groupBy("reg").agg(
        F.max("max_rho").alias("max_rho"))
    est = sketches.hll_estimate(merged).first()["est_distinct"]
    assert abs(est - 30_000) / 30_000 < band, est
    # register MAX is associative: the merge equals the one-pass grid
    whole = sketches.hll_build(big, "token")
    assert sorted(merged.collect()) == sorted(whole.collect())


def test_surprisal_flags_rare_tokens(spark):
    """A doc of hapaxes must score a higher mean inverse frequency
    than a doc of corpus-dominant tokens."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        doc_unigram_surprisal)
    import tempfile
    rows = [(0, "common common common common common common"),
            (1, "common common common common"),
            (2, "zephyr quixotic brouhaha")]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")).withColumn(
        "source", F.lit("t")).withColumn(
        "n_chars", F.length("text")).write.mode(
        "overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in doc_unigram_surprisal(spark, d).collect()}
    assert out[2]["mean_inv_freq"] > out[0]["mean_inv_freq"]
    assert out[2]["rarest_count"] == 1
    assert out[0]["rarest_count"] == 10  # 'common' appears 10x


def test_bigram_surprisal_flags_shuffled_text(spark):
    """The bigram signal's reason to exist: two docs with the SAME
    token multiset — one in natural repeated order, one shuffled —
    are indistinguishable to unigram frequencies, but the shuffled
    doc's transitions are rarer corpus-wide, so its mean inverse
    conditional probability must come out strictly higher. Docs with
    fewer than two tokens are excluded by construction."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        doc_bigram_surprisal, doc_unigram_surprisal)

    phrase = "the quick brown fox jumps over the lazy dog"
    natural = " ".join([phrase] * 8)
    toks = natural.split(" ")
    # deterministic shuffle: reverse + interleave halves
    half = len(toks) // 2
    shuffled = " ".join(x for p in zip(toks[:half][::-1], toks[half:])
                        for x in p)
    rows = [(0, natural), (1, shuffled), (2, "solo"), (3, "")]
    d = _write_docs(spark, rows)
    bi = {r["doc_id"]: r for r in doc_bigram_surprisal(spark, d).collect()}
    uni = {r["doc_id"]: r for r in doc_unigram_surprisal(spark, d).collect()}
    assert set(bi) == {0, 1}          # <2-token docs have no bigrams
    assert bi[1]["mean_inv_cond_prob"] > bi[0]["mean_inv_cond_prob"]
    assert bi[1]["worst_transition"] >= bi[0]["worst_transition"]
    # unigram signal is blind to the difference (same token multiset)
    assert abs(uni[0]["mean_inv_freq"] - uni[1]["mean_inv_freq"]) < 1e-9


def test_substring_dup_unicode_engine_parity(spark):
    """Engine-parity guard for the content-defined anchor rule on
    NON-ASCII text: Spark's substring/md5-of-binary operates on
    characters then UTF-8 bytes, DuckDB's on characters then UTF-8
    bytes — multi-byte chars (accents, CJK, emoji) must produce the
    SAME anchors and digests in both engines or the driver's value
    hash would diverge on any real multilingual corpus."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        substring_dup_fraction, _SUBSTR_DUP_SQL)
    from stockanalyses_downloader_spark.testing import assert_matches_oracle

    boiler = ("les données doivent être citées avec café naïveté et "
              "日本語 の テキスト 中文 文本 处理 емоџи тест "
              "😀 🚀 données élaborées über größe straße")
    rows = [(0, boiler + " " + " ".join(f"α{i} β{i}" for i in range(30))),
            (1, boiler + " " + " ".join(f"γ{i} δ{i}" for i in range(30))),
            (2, " ".join(f"uniq{i} 独自{i}" for i in range(40)))]
    # single parquet FILE (not a Spark part-dir): DuckDB's view in the
    # oracle harness reads the path directly, like the real testdata
    import tempfile
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp()
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": ["xx"] * len(rows),
        "source": ["t"] * len(rows),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }), f"{d}/documents.parquet")
    assert_matches_oracle(substring_dup_fraction(spark, d),
                          _SUBSTR_DUP_SQL, d)


@pytest.mark.parametrize("off_b", [0, 5, 13, 37])
def test_winnowing_guarantee_on_shared_runs(spark, off_b):
    """Winnowing's detection guarantee: ANY substring of length
    >= w + k - 1 = 23 chars shared between two docs yields at least
    one identical fingerprint in both — at ANY relative offset
    (position-independence is the algorithm's point). A doc with no
    shared run of that length shares nothing."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        doc_winnow_fingerprints)

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 51 ch
    pre_b = "z" * off_b + (" " if off_b else "")
    rows = [(0, "aaa " + shared + " bbb"),
            (1, pre_b + "ccc " + shared + " ddd"),
            (2, " ".join(f"q{i}w" for i in range(40)))]
    d = _write_docs(spark, rows)
    fps = {}
    for r in doc_winnow_fingerprints(spark, d).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[0] & fps[1], "guaranteed fingerprint collision missing"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_winnowing_matches_python_reference(spark, seed):
    """doc_winnow_fingerprints against a pure-Python winnowing
    implementation (same k=8 md5-prefix hash, same w=16 min-window
    rule) on pseudo-random word-ish text: identical fingerprint
    multisets per doc."""
    import hashlib
    import random
    from stockanalyses_downloader_spark.queries.text_queries import (
        doc_winnow_fingerprints)

    rng = random.Random(seed)
    words = ["data", "spark", "query", "join", "merge", "scan", "row"]
    rows = [(i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 60))))
            for i in range(6)]
    d = _write_docs(spark, rows)

    def py_winnow(text, k=8, w=16):
        import re
        c = re.sub(r"\s+", " ", text.lower()).strip()
        if len(c) < k:
            return {}
        hs = [int(hashlib.md5(c[i:i + k].encode()).hexdigest()[:8], 16)
              for i in range(len(c) - k + 1)]
        n_win = max(len(hs) - w + 1, 1)
        fps = [min(hs[j:j + w]) for j in range(n_win)]
        out = {}
        for fp in fps:
            out[fp] = out.get(fp, 0) + 1
        return out

    got = {}
    for r in doc_winnow_fingerprints(spark, d).collect():
        got.setdefault(r["doc_id"], {})[r["fp"]] = r["n_positions"]
    for doc_id, text in rows:
        assert got.get(doc_id, {}) == py_winnow(text), doc_id


def test_passage_dedup_rebuild_semantics(spark):
    """Planted corpus for dedup_passages_rebuild's core claims: the
    globally FIRST occurrence of a repeated passage survives (in its
    earliest doc), later hosts lose exactly that passage but keep
    their unique content in order, and a fully-duplicate doc comes
    back as an empty string instead of vanishing."""
    from pyspark.sql import functions as F
    from stockanalyses_downloader_spark.queries.text_queries import (
        dedup_passages_rebuild)

    boiler = " ".join(f"b{i}" for i in range(10))    # one exact passage
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_c = " ".join(f"c{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(0, uniq_a + " " + boiler),       # first host: keeps boiler
         (1, boiler + " " + uniq_c),       # later host: loses boiler
         (2, uniq_a + " " + boiler)],      # exact dup of doc 0: empty
        "doc_id long, text string")
    docs.createOrReplaceTempView("documents")

    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        out = {r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"])
               for r in dedup_passages_rebuild(spark, td).collect()}

    assert out[0] == (uniq_a + " " + boiler, 2, 0)
    assert out[1] == (uniq_c, 1, 1)          # boiler gone, order kept
    assert out[2] == ("", 0, 2)              # dup doc: empty, present


def test_source_mixture_schedule_invariants(spark, sf_dir):
    """Weights sum to 1, epochs never exceed the 4-epoch cap, an
    uncapped source's effective tokens hit its target exactly, and
    sqrt-temperature flattens the mixture (max/min epoch ratio is
    sqrt of the token ratio, so smaller sources get MORE epochs)."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        source_mixture_schedule)
    rows = source_mixture_schedule(spark, sf_dir).collect()
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-9
    total = sum(r["n_tokens"] for r in rows)
    for r in rows:
        assert 0.0 < r["epochs"] <= 4.0
        if r["epochs"] < 4.0:
            assert abs(r["effective_tokens"] - r["target_tokens"]) < 1e-6
        assert abs(r["target_tokens"]
                   - r["weight"] * 2 * total) < 1e-6
    small = min(rows, key=lambda r: r["n_tokens"])
    big = max(rows, key=lambda r: r["n_tokens"])
    if small["n_tokens"] < big["n_tokens"]:
        assert small["epochs"] >= big["epochs"]
