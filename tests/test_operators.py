"""Operator-level tests: ticker source boundary, candle invariants,
LSH recall against exact answers, property tests (hypothesis) for the
pipeline scalar ops."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stockanalyses_downloader_spark.dims.currency import currency_dim
from stockanalyses_downloader_spark.operators import (candles, dedup,
                                                      pipeline, similarity)
from stockanalyses_downloader_spark.sources import synthetic, ticker
from stockanalyses_downloader_spark.sources.tables import load_table

from conftest import SF_SMALL

SF = "/root/testdata/sf0.001"


# --- ticker source boundary (S4/S5) ---------------------------------------

def test_ticker_url_builder(spark):
    pairs = currency_dim(spark).limit(4).withColumn("exchange", F.lit("btsp"))
    urls = {r["pair"]: r["url"]
            for r in ticker.build_ticker_urls(pairs).collect()}
    assert urls["btceur"] == "https://www.bitstamp.net/api/v2/ticker/btceur"
    pairs_bf = currency_dim(spark).limit(1).withColumn("exchange", F.lit("btfx"))
    url = ticker.build_ticker_urls(pairs_bf).first()["url"]
    assert url.startswith("https://api.bitfinex.com/v1/pubticker/")


def test_fixture_fetcher_casts_to_typed_columns(spark):
    pairs = currency_dim(spark).withColumn("exchange", F.lit("btsp"))
    snap = ticker.fixture_fetcher(ticker.build_ticker_urls(pairs))
    dtypes = dict(snap.dtypes)
    assert dtypes["bid"] == "double" and dtypes["ask"] == "double"
    assert dtypes["ts"] == "timestamp"
    rows = snap.collect()
    assert len(rows) == 84
    for r in rows[:10]:
        assert r["bid"] < r["ask"]          # fixture spread
        assert r["status"] == 200


def test_http_fetcher_is_gated(spark):
    import pytest
    pairs = ticker.build_ticker_urls(
        currency_dim(spark).limit(1).withColumn("exchange", F.lit("btsp")))
    try:
        import requests  # noqa: F401
        pytest.skip("requests present; live path not exercised in tests")
    except ImportError:
        with pytest.raises(NotImplementedError):
            ticker.http_fetcher(pairs)


# --- candle invariants -----------------------------------------------------

def test_candle_invariants(spark):
    t = pipeline.validate_http(synthetic.ticks(spark, SF))
    c = candles.ohlc_candles(t).collect()
    assert len(c) > 0
    for row in c:
        assert row["low"] <= row["open"] <= row["high"]
        assert row["low"] <= row["close"] <= row["high"]
        assert row["volume"] >= 0
        assert row["n_ticks"] >= 1
    assert sum(r["n_ticks"] for r in c) == t.count()


# --- LSH recall vs exact ---------------------------------------------------

def test_signlsh_recall_vs_bruteforce(spark):
    e = load_table(spark, SF, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(e, qids, k=10).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in similarity.signlsh_topk(e, qids, k=10).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"sign-LSH recall collapsed: {recall}"


def test_minhash_finds_planted_near_dups(spark):
    """Plant near-identical copies (one token appended) of 20 docs;
    banded MinHash — md5_h31 signatures, raw band strings, md5 verify
    sets, the oracled minhash_near_dups pipeline — must surface every
    planted pair."""
    d = load_table(spark, SF, "documents").limit(20)
    copies = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                      F.concat("text", F.lit(" zz")).alias("text"),
                      "lang", "source", "n_chars")
    corpus = d.unionByName(copies)
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in d.collect()}
    missing = expected - found
    assert not missing, f"planted near-dups missed: {missing}"


def test_minhash_portable_mode_planted_dups_and_pair_parity(spark):
    """The engine-portable md5 LSH pipeline (the oracled
    minhash_near_dups path, formerly selected by ``portable=True`` and
    now the only family) surfaces every planted near-dup, and on this
    corpus finds the SAME pairs, with the same Jaccard, as the exact
    global prefix-filter join — the band hashing only picks
    candidates, it does not change which high-Jaccard pairs survive
    the exact verify."""
    d = load_table(spark, SF, "documents").limit(20)
    copies = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                      F.concat("text", F.lit(" zz")).alias("text"),
                      "lang", "source", "n_chars")
    corpus = d.unionByName(copies)
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.minhash_lsh_pairs(corpus, threshold=0.5).collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.jaccard_pairs_prefix_filter(corpus,
                                               threshold=0.5).collect()}
    expected = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in d.collect()}
    assert expected - set(lsh) == set(), (
        f"portable LSH missed planted dups: {expected - set(lsh)}")
    assert set(lsh) == set(exact)
    assert all(math.isclose(lsh[p], exact[p], abs_tol=1e-9) for p in lsh)


def test_minhash_index_probe_matches_one_shot(spark, tmp_path):
    """At-rest near-dup index (r6): build on the corpus, probe a delta
    containing near-dup copies of corpus docs AND of each other. Pins:
    (1) probe output == the pairs involving a delta doc that a
    ONE-SHOT minhash_lsh_pairs over (corpus ∪ delta) emits — same
    hash family, same banding, same verify, bit-equal jaccards;
    (2) every planted cross-batch dup is found; (3) appending the
    delta then probing a second delta sees the first one's docs."""
    corpus = load_table(spark, SF, "documents").limit(40)
    delta = (load_table(spark, SF, "documents").limit(20)
             .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                     F.concat("text", F.lit(" zz")).alias("text"),
                     "lang", "source", "n_chars"))
    path = str(tmp_path / "mh_idx")
    dedup.save_minhash_index(corpus, path)

    probed = dedup.probe_minhash_index(spark, path, delta, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in probed.collect()}

    union = corpus.unionByName(delta)
    one_shot = dedup.minhash_lsh_pairs(union, threshold=0.5)
    new_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
    want = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in one_shot.collect()
            if r["id_a"] in new_ids or r["id_b"] in new_ids}
    assert got == want

    planted = {(r["doc_id"], r["doc_id"] + 1_000_000)
               for r in corpus.limit(20).collect()}
    assert planted - set(got) == set(), "cross-batch planted dups missed"

    # append delta, probe a twin of delta doc 1_000_000 — must match
    # the APPENDED doc too, proving the index grew
    dedup.append_to_minhash_index(spark, path, delta)
    probe2 = (delta.limit(1)
              .select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                      "text", "lang", "source", "n_chars"))
    got2 = {(r["id_a"], r["id_b"]) for r in
            dedup.probe_minhash_index(spark, path, probe2,
                                      threshold=0.5).collect()}
    first_delta_id = min(new_ids)
    # twin id = first_delta_id + 2_000_000; it must match BOTH the
    # original corpus doc and the appended delta doc
    assert (first_delta_id, first_delta_id + 2_000_000) in got2
    assert (first_delta_id - 1_000_000,
            first_delta_id + 2_000_000) in got2


def test_simhash_planted_near_dups(spark):
    """The md5 hi/lo fingerprint family (the oracled simhash_near_pairs
    path) finds the planted near-dups."""
    d = load_table(spark, SF, "documents").limit(20)
    copies = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                      F.concat("text", F.lit(" zz")).alias("text"),
                      "lang", "source", "n_chars")
    corpus = d.unionByName(copies)
    pairs = dedup.simhash_near_pairs(corpus, max_hamming=6)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in d.collect()}
    assert len(expected & found) >= int(0.9 * len(expected)), (
        f"simhash missed too many planted dups: {len(expected & found)}/20")


def test_simhash_portable_mode_planted_dups(spark):
    """The md5 hi/lo fingerprint family (formerly selected by
    ``portable=True``, now the only one) is engine-portable: every
    fingerprint equals a pure-Python hashlib recomputation (token =
    whitespace split of the lower-cased trimmed text; bit i of the
    md5-prefix value votes +1/-1; a bit is set iff its vote sum > 0),
    and the planted near-dups keep their detection power."""
    import hashlib
    import re
    d = load_table(spark, SF, "documents").limit(20)
    copies = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                      F.concat("text", F.lit(" zz")).alias("text"),
                      "lang", "source", "n_chars")
    corpus = d.unionByName(copies)

    def py_simhash(text):
        votes = [0] * 64
        for tok in re.split(r"\s+", text.strip().lower()):
            h = hashlib.md5(tok.encode()).hexdigest()
            v = (int(h[0:8], 16) << 32) | int(h[8:16], 16)
            for b in range(64):
                votes[b] += 1 if (v >> b) & 1 else -1
        return sum(1 << b for b in range(64) if votes[b] > 0)

    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    sims = {r["doc_id"]: r["simhash"] & ((1 << 64) - 1)
            for r in dedup.simhash64(corpus).collect()}
    assert sims == {k: py_simhash(t) for k, t in texts.items()}

    pairs = dedup.simhash_near_pairs(corpus, max_hamming=6)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in d.collect()}
    assert len(expected & found) >= int(0.9 * len(expected)), (
        f"portable simhash missed planted dups: {len(expected & found)}/20")


def test_dedup_idempotence(spark):
    d = load_table(spark, SF, "documents")
    once = dedup.exact_dedup(d, ["text"])
    twice = dedup.exact_dedup(once, ["text"])
    assert once.count() == twice.count()


# --- property tests (hypothesis drives the data, one Spark job each) -------

@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["btsp", "btfx", "x"]),
                          st.text(alphabet="ABC0123456789", min_size=1,
                                  max_size=12),
                          st.booleans()),
                min_size=1, max_size=30))
def test_parse_job_value_property(spark, jobs_data):
    rows = [(i, 1000, f"{ex}#{isin}" if has_hash else ex, 2)
            for i, (ex, isin, has_hash) in enumerate(jobs_data, start=1)]
    df = spark.createDataFrame(
        rows, "downloader_jq_id long, action int, value string, type_idtype int")
    parsed = pipeline.parse_job_value(df).collect()
    for row, (ex, isin, has_hash) in zip(sorted(parsed, key=lambda r: r[0]),
                                         jobs_data):
        assert row["exchange"] == ex
        assert row["isin"] == (isin if has_hash else None)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False)),
    min_size=1, max_size=50))
def test_mid_price_property(spark, quotes):
    df = spark.createDataFrame(
        [(i, b, a) for i, (b, a) in enumerate(quotes)],
        "tick_id long, bid double, ask double")
    for row in pipeline.with_mid(df).collect():
        b, a = quotes[row["tick_id"]]
        assert math.isclose(row["mid"], (b + a) / 2, rel_tol=0, abs_tol=0)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(
    st.floats(min_value=-100, max_value=100, allow_nan=False,
              allow_infinity=False),
    st.integers(0, 1)),
    min_size=4, max_size=60).filter(
        lambda rows: 0 < sum(y for _, y in rows) < len(rows)))
def test_roc_auc_property_vs_pair_enumeration(spark, rows):
    """Hypothesis drives arbitrary score/label multisets (duplicated
    scores, both-class ties, tiny and adversarial spreads): the
    two-level bucketed AUC must equal the probabilistic pair
    definition exactly — including with a hostile bucket count that
    forces multi-score buckets."""
    from stockanalyses_downloader_spark.operators import quality_model as qm

    df = spark.createDataFrame(rows, "logit double, y int")
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    num = sum(1.0 if p > n else 0.5 if p == n else 0.0
              for p in pos for n in neg)
    want = num / (len(pos) * len(neg))
    for nb in (2, 4096):
        got = qm.roc_auc(df, "logit", "y", n_buckets=nb).collect()[0]
        assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
        assert abs(got["auc"] - want) < 1e-12, (nb, got["auc"], want)


def test_join_cardinality_one_to_one(spark):
    """Every known ISIN resolves exactly once against the 84-row dim
    (1:1 cardinality — currency.py keys are unique)."""
    t = synthetic.ticks(spark, SF)
    resolved = pipeline.resolve_pair(t, currency_dim(spark))
    known = t.filter(
        F.regexp_extract("isin", r"XFC0*(\d+)", 1).cast("int") <= 84)
    assert resolved.count() == known.count()


def test_ivf_recall_vs_bruteforce(spark):
    e = load_table(spark, SF, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(e, qids, k=10).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in similarity.ivf_topk(e, qids, k=10, n_centroids=16,
                                           n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


def test_kmeans_training_leaves_caller_cache_entry_alone(spark):
    """r13 optimization round: CacheManager dedups cache entries by
    canonicalized plan, so kmeans_centroids' old post-training
    e.unpersist() DROPPED the caller's entry whenever the caller had
    persisted the same (id, v, norm) projection — ivf_topk_pq /
    pca_ivf_topk persist ``base`` before training and were left
    running their whole lists/probes/codes build uncached, and the
    trained ivf_topk serve half re-scanned parquet to re-materialize
    the projection the fit had just built. Pin: after training, a
    caller-persisted same-plan projection still resolves to an
    InMemoryTableScan in its executed plan."""
    from stockanalyses_downloader_spark.caching import (release_tracked,
                                                        tracked_persist)
    e = load_table(spark, SF, "embeddings")
    base = tracked_persist(
        e.select("vec_id",
                 similarity.as_double(F.col("embedding")).alias("v"))
         .withColumn("norm", similarity.l2_norm(F.col("v"))))
    try:
        similarity.kmeans_centroids(e, k=4, n_iter=1)
        plan = base._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, (
            "kmeans training dropped the caller's cache entry for the "
            "shared (id, v, norm) projection")
    finally:
        release_tracked()


def test_kmeans_trained_ivf_recall(spark):
    """Lloyd-trained centroids slot into the same IVF probe/rerank;
    recall vs brute force must hold, and training must produce k
    usable centroids (no NaN/empty)."""
    e = load_table(spark, SF, "embeddings")
    cent = similarity.kmeans_centroids(e, k=8, n_iter=2)
    rows = cent.collect()
    assert len(rows) == 8
    assert all(r["cnorm"] > 0 and len(r["cv"]) > 0 for r in rows)
    qids = [0, 1, 2, 3, 4]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(e, qids, k=10).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in similarity.ivf_topk(e, qids, k=10, n_probe=4,
                                           centroids=cent).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"trained-IVF recall collapsed: {recall}"


def test_multimodal_resize_and_frame_sample(spark):
    from stockanalyses_downloader_spark.operators import multimodal
    d = load_table(spark, SF, "documents").limit(30)
    assets = multimodal.docs_to_assets(d)
    feats = multimodal.decode_stub_features(assets)
    resized = multimodal.resize_stub(feats).collect()
    assert len(resized) == 30
    for r in resized:
        assert max(r["scaled_w"], r["scaled_h"]) <= 224
        assert r["scale"] > 0
    frames = multimodal.frame_sample_plan(assets, every_ms=100)
    per_asset = frames.groupBy("asset_id").count().collect()
    assert per_asset and all(r["count"] >= 1 for r in per_asset)


def _make_png(w, h, color_type=2):
    """A COMPLETE, spec-valid PNG built with stdlib zlib (proper
    chunk CRCs, real deflate stream) — repo-generated fixture bytes,
    not a canned blob."""
    import struct
    import zlib

    def chunk(tag, payload):
        body = tag + payload
        return (struct.pack(">I", len(payload)) + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))

    n_ch = {0: 1, 2: 3, 6: 4}[color_type]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes([(x * 7 + y) % 256
                                    for x in range(w * n_ch)])
                   for y in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def _make_jpeg(w, h, n_components=3):
    """Structurally valid JPEG header stream: SOI, JFIF APP0, a DQT
    to exercise the segment walk, SOF0 with the geometry, EOI."""
    import struct
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\x00" + bytes(64)
    sof = (struct.pack(">BHHB", 8, h, w, n_components)
           + b"".join(struct.pack(">BBB", i + 1, 0x11, 0)
                      for i in range(n_components)))
    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload
    return (b"\xff\xd8" + seg(0xE0, app0) + seg(0xDB, dqt)
            + seg(0xC0, sof) + b"\xff\xd9")


def test_multimodal_decode_real_parses_png_jpeg_headers(spark):
    """VERDICT r6 #7: decode_real parses actual frame geometry from
    repo-generated PNG/JPEG container bytes in mapInPandas — same
    output schema as the stub (parity asserted), NULL geometry for
    unparseable payloads."""
    from stockanalyses_downloader_spark.operators import multimodal

    rows = [
        (1, "image", _make_png(5, 3, color_type=2)),      # RGB PNG
        (2, "image", _make_png(7, 2, color_type=6)),      # RGBA PNG
        (3, "image", _make_jpeg(320, 200, 3)),            # YCbCr JPEG
        (4, "image", _make_jpeg(64, 64, 1)),              # grayscale
        (5, "image", b"not an image at all"),             # junk
        (6, "image", None),                               # NULL payload
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, modality string, payload binary")
    real = multimodal.decode_real(assets)
    stub = multimodal.decode_stub_features(assets)
    assert real.schema == stub.schema     # stub-vs-real schema parity
    got = {r["asset_id"]: (r["width"], r["height"], r["n_channels"])
           for r in real.collect()}
    assert got[1] == (5, 3, 3)
    assert got[2] == (7, 2, 4)
    assert got[3] == (320, 200, 3)
    assert got[4] == (64, 64, 1)
    assert got[5] == (None, None, None)
    assert got[6] == (None, None, None)
    # a REAL png re-read through the whole asset pipeline keeps its
    # byte length (decode is non-destructive plumbing)
    lens = {r["asset_id"]: r["byte_len"] for r in real.collect()}
    assert lens[1] == len(rows[0][2]) and lens[6] == 0


def test_asof_null_payload_and_inner_semantics(spark):
    """The most recent right row wins ATOMICALLY: a NULL field in the
    matching row must come through as NULL (not an older row's value),
    and inner mode keeps a left row whenever ANY prior right row
    exists — even an all-NULL-payload one."""
    from stockanalyses_downloader_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [("k", 5), ("k", 15), ("j", 5)], "k string, ts int")
    right = spark.createDataFrame(
        [("k", 1, 10.0, "x"), ("k", 12, None, "y")],
        "k string, ts int, quote double, src string")
    out = {(r["k"], r["ts"]): (r["quote"], r["src"])
           for r in asof_join(left, right, on="k").collect()}
    assert out[("k", 5)] == (10.0, "x")
    # ts=15 matches the ts=12 row: quote must be NULL, not the stale 10.0
    assert out[("k", 15)] == (None, "y")
    assert ("j", 5) not in out          # no prior right row -> dropped
    left_kept = asof_join(left, right, on="k", how="left").count()
    assert left_kept == 3


def test_asof_payloadless_right_side(spark):
    """A right side carrying only (key, ts) — pure existence as-of —
    must work (round-1 version IndexError'd on payload[0])."""
    from stockanalyses_downloader_spark.operators.asof import asof_join
    left = spark.createDataFrame([("k", 5), ("k", 1)], "k string, ts int")
    right = spark.createDataFrame([("k", 3)], "k string, ts int")
    rows = asof_join(left, right, on="k").collect()
    assert [(r["k"], r["ts"]) for r in rows] == [("k", 5)]


def test_ngram_hot_block_routes_to_lsh(spark, monkeypatch):
    """max_block_size guard: a block above the cap never reaches the
    exact self-join — exactly its docs are handed to the LSH path."""
    routed = {}
    real_lsh = dedup.minhash_lsh_pairs

    def spy(docs, **kw):
        routed["ids"] = {r["doc_id"] for r in docs.select("doc_id").collect()}
        return real_lsh(docs, **kw)

    monkeypatch.setattr(dedup, "minhash_lsh_pairs", spy)
    d = load_table(spark, SF, "documents").limit(80)
    hot = d.withColumn("lang", F.lit("xx")).withColumn("source", F.lit("hot"))
    cold = (d.limit(10)
            .select((F.col("doc_id") + 500_000).alias("doc_id"), "text",
                    F.lit("yy").alias("lang"), F.lit("cold").alias("source"),
                    "n_chars"))
    corpus = hot.unionByName(cold)
    out = dedup.ngram_jaccard_pairs(corpus, ["lang", "source"], threshold=0.3,
                                    max_block_size=50)
    out.collect()
    assert routed["ids"] == {r["doc_id"] for r in hot.collect()}


def test_no_hot_blocks_skips_lsh_subtree(spark, monkeypatch):
    """r10: when no block exceeds the cap, the LSH fallback is never
    even PLANNED (the empty subtree still cost ~4 s of scheduled
    stages), and the result is identical to the plain exact path."""
    called = {"n": 0}
    real_lsh = dedup.minhash_lsh_pairs

    def spy(docs, **kw):
        called["n"] += 1
        return real_lsh(docs, **kw)

    monkeypatch.setattr(dedup, "minhash_lsh_pairs", spy)
    d = load_table(spark, SF, "documents").limit(80)
    routed = dedup.ngram_jaccard_pairs(d, ["lang", "source"],
                                       threshold=0.3,
                                       max_block_size=10_000)
    exact = dedup.ngram_jaccard_pairs(d, ["lang", "source"],
                                      threshold=0.3)
    assert called["n"] == 0
    assert ({(r["id_a"], r["id_b"], round(r["jaccard"], 9))
             for r in routed.collect()}
            == {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in exact.collect()})


def test_routed_lsh_pairs_stay_within_block(spark):
    """The hot-block LSH fallback honors the blocking key (r10): a
    NEAR-IDENTICAL twin planted in a DIFFERENT hot block never pairs
    (the exact path would not consider it), while the same text's twin
    inside the SAME hot block does — and every emitted routed pair's
    ids share one block."""
    d = load_table(spark, SF, "documents").limit(60)
    hot_a = d.withColumn("lang", F.lit("xx")) \
             .withColumn("source", F.lit("block_a"))
    # same-block twins: near-dup copies inside block_a
    twins_a = hot_a.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                           F.concat("text", F.lit(" zz")).alias("text"),
                           "lang", "source", "n_chars")
    # cross-block twins: the SAME near-dup texts, but in block_b
    twins_b = hot_a.select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                           F.concat("text", F.lit(" zz")).alias("text"),
                           "lang", F.lit("block_b").alias("source"),
                           "n_chars")
    block_b_fill = d.select((F.col("doc_id") + 3_000_000).alias("doc_id"),
                            F.reverse("text").alias("text"),
                            F.lit("xx").alias("lang"),
                            F.lit("block_b").alias("source"), "n_chars")
    corpus = hot_a.unionByName(twins_a).unionByName(twins_b) \
                  .unionByName(block_b_fill)
    out = dedup.ngram_jaccard_pairs(corpus, ["lang", "source"],
                                    threshold=0.5,
                                    max_block_size=50)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    base_ids = [r["doc_id"] for r in d.collect()]
    same_block = {(i, i + 1_000_000) for i in base_ids}
    cross_block = {(i, i + 2_000_000) for i in base_ids} \
        | {(i + 1_000_000, i + 2_000_000) for i in base_ids}
    assert same_block - pairs == set(), (
        f"same-block planted dups missed: {same_block - pairs}")
    assert pairs & cross_block == set(), (
        f"cross-block pairs leaked through the routed path: "
        f"{pairs & cross_block}")
    # block label on each routed row is consistent for BOTH ids
    blocks = {r["doc_id"]: (r["lang"], r["source"])
              for r in corpus.collect()}
    for r in out.collect():
        assert blocks[r["id_a"]] == blocks[r["id_b"]] \
            == (r["lang"], r["source"])


def test_ngram_prefilter_preserves_exactness(spark):
    """The size prefilter only removes pairs that cannot reach the
    threshold: results with and without it... the prefilter is always
    on, so pin equivalence against a threshold-0 run filtered in
    pandas instead."""
    d = load_table(spark, SF, "documents").limit(60)
    strict = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in dedup.ngram_jaccard_pairs(
                  d, ["lang"], threshold=0.3).collect()}
    loose = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(
                 d, ["lang"], threshold=0.0).collect()
             if r["jaccard"] >= 0.3}
    assert strict == loose


def test_embedding_hot_block_guard_bounded_and_finds_dups(spark):
    """cosine_near_dup_pairs with max_block_size: planted exact dups
    inside a hot block still surface through the LSH route (identical
    vectors share every band)."""
    e = load_table(spark, SF, "embeddings").limit(60)
    hot = e.withColumn("label", F.lit("hot"))
    dups = hot.limit(5).select((F.col("vec_id") + 900_000).alias("vec_id"),
                               "embedding", "label")
    corpus = hot.unionByName(dups.select("vec_id", "label", "embedding"),
                             allowMissingColumns=False)
    pairs = similarity.cosine_near_dup_pairs(
        corpus, ["label"], threshold=0.999, max_block_size=30)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(r["vec_id"], r["vec_id"] + 900_000)
                for r in hot.limit(5).collect()}
    assert expected <= found, f"missing planted dups: {expected - found}"


def test_cosine_no_hot_blocks_skips_lsh_subtree(spark):
    """r10: when no block exceeds the cap, cosine_near_dup_pairs
    never plans the sign-LSH subtree (no Generate/explode node in the
    plan) and equals the plain exact path."""
    e = load_table(spark, SF, "embeddings").limit(60) \
        .withColumn("label", F.lit("a"))
    guarded = similarity.cosine_near_dup_pairs(
        e, ["label"], threshold=0.9, max_block_size=10_000)
    exact = similarity.cosine_near_dup_pairs(e, ["label"], threshold=0.9)
    plan = guarded._jdf.queryExecution().analyzed().toString()
    assert "Generate" not in plan      # the band explode never planned
    assert ({(r["id_a"], r["id_b"], round(r["cosine"], 9))
             for r in guarded.collect()}
            == {(r["id_a"], r["id_b"], round(r["cosine"], 9))
                for r in exact.collect()})


def test_ann_construction_triggers_no_jobs(spark):
    """IVF/sign-LSH query CONSTRUCTION must be fully lazy — no
    count()/first() probes firing Spark jobs at plan-build time (they
    serialize the pipeline; at scale a stray count() is a full scan)."""
    e = load_table(spark, SF, "embeddings")
    spark.sparkContext.setJobGroup("ann-construct", "lazy check")
    try:
        similarity.ivf_topk(e, [0, 1], k=5)
        similarity.signlsh_topk(e, [0, 1], k=5)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            "ann-construct")
        assert not jobs, f"construction ran Spark jobs: {jobs}"
    finally:
        spark.sparkContext.setJobGroup("post-construct", "reset job group")


def test_simhash_radius_guarantee(spark):
    """Candidate recall 1.0 within the requested hamming radius: every
    pair with bit_count(xor) <= max_hamming appears — checked against
    a brute-force pandas cross product of the simhash values."""
    from itertools import combinations
    d = load_table(spark, SF, "documents").limit(40)
    sims = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash64(d).collect()}
    for radius in (6, 12):
        expected = {tuple(sorted((a, b)))
                    for a, b in combinations(sims, 2)
                    if bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
                    <= radius}
        got = {tuple(sorted((r["id_a"], r["id_b"])))
               for r in dedup.simhash_near_pairs(d, max_hamming=radius)
               .collect()}
        assert expected == got, (
            f"radius {radius}: missed {expected - got}, extra {got - expected}")


def test_simhash_hot_bucket_worst_case(spark):
    """The hot-bucket guard (VERDICT r2 #5): a duplicate-heavy corpus —
    the case that used to melt the chunk buckets — collapses to few
    DISTINCT fingerprints in the candidate stage, so candidate volume
    is bounded by distinct² while the output stays the exact all-pairs
    answer. Checked against a brute-force cross product of fingerprints
    (which is tiny precisely because the corpus is low-entropy)."""
    from itertools import combinations
    base = load_table(spark, SF, "documents").limit(4)
    # 4 distinct texts x 50 copies = 200 docs, 4-ish fingerprints;
    # the OLD doc-level candidate stage would generate ~9 * 200² rows
    copies = None
    for i in range(50):
        c = base.select((F.col("doc_id") + 10_000 * i).alias("doc_id"),
                        "text", "lang", "source", "n_chars")
        copies = c if copies is None else copies.unionByName(c)
    sims = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash64(copies).collect()}
    assert len(set(sims.values())) <= 8  # low-entropy premise holds
    radius = 8
    expected = {tuple(sorted((a, b)))
                for a, b in combinations(sims, 2)
                if bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
                <= radius}
    got = {tuple(sorted((r["id_a"], r["id_b"])))
           for r in dedup.simhash_near_pairs(copies, max_hamming=radius)
           .collect()}
    assert expected == got, (
        f"missed {len(expected - got)}, extra {len(got - expected)}")

    # opt-in hard cap: even with every cross-fingerprint bucket
    # suppressed, identical-fingerprint pairs survive (they never ride
    # through the bucket join), so exact duplicates are never lost
    capped = {tuple(sorted((r["id_a"], r["id_b"])))
              for r in dedup.simhash_near_pairs(copies, max_hamming=radius,
                                                max_bucket_size=1).collect()}
    same_fp = {tuple(sorted((a, b)))
               for a, b in combinations(sims, 2) if sims[a] == sims[b]}
    assert same_fp <= capped <= expected


def test_deterministic_sampling_properties(spark):
    """Rate lands near target, membership survives repartitioning
    (partition-layout independence is the whole point vs rand(seed)),
    splits are disjoint+exhaustive, different salts draw independent
    samples."""
    from stockanalyses_downloader_spark.operators import sampling
    d = load_table(spark, SF, "documents")
    n = d.count()

    s = sampling.deterministic_sample(d, 0.3, key="doc_id")
    k = s.count()
    assert abs(k / n - 0.3) < 0.15, f"sample rate off: {k}/{n}"
    ids_a = {r["doc_id"] for r in s.collect()}
    ids_b = {r["doc_id"] for r in
             sampling.deterministic_sample(d.repartition(13), 0.3,
                                           key="doc_id").collect()}
    assert ids_a == ids_b, "membership changed under repartitioning"
    ids_salted = {r["doc_id"] for r in
                  sampling.deterministic_sample(d, 0.3, "doc_id",
                                                salt="v2").collect()}
    assert ids_salted != ids_a, "salt did not change the draw"

    splits = sampling.assign_splits(d, key="doc_id")
    by_split = {r["split"]: r["n"] for r in
                splits.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(by_split) == {"train", "val", "test"}
    assert sum(by_split.values()) == n                 # exhaustive
    assert by_split["train"] > by_split["val"]         # ~80/10/10

    strat = sampling.stratified_sample(d, "lang", 5, key="doc_id")
    per = strat.groupBy("lang").agg(F.count("*").alias("n")).collect()
    assert per and all(r["n"] <= 5 for r in per)


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, C~D collapse to one component labeled with the min
    id, disjoint pairs stay separate, isolated docs keep themselves."""
    from stockanalyses_downloader_spark.operators import graph
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    comp = {r["id"]: r["component"]
            for r in graph.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)],
                                 "doc_id long")
    keep = {r["doc_id"]: (r["keeper_id"], r["is_kept"])
            for r in graph.dedup_keepers(docs, edges).collect()}
    assert keep[99] == (99, True)          # isolated doc keeps itself
    assert keep[4] == (1, False)
    assert keep[1] == (1, True)
    assert sum(1 for _, kept in keep.values() if kept) == 3  # {1,10,99}


def test_range_join_semantics(spark):
    """Containment semantics: closed-open bounds, overlapping
    intervals each match, no duplicates from the multi-bucket
    explode, unmatched left rows drop (inner)."""
    from stockanalyses_downloader_spark.operators.rangejoin import range_join
    left = spark.createDataFrame(
        [(1, "k", "2024-01-01 00:00:00"), (2, "k", "2024-01-03 12:00:00"),
         (3, "k", "2024-01-10 00:00:00"), (4, "x", "2024-01-02 00:00:00")],
        "id long, k string, ts string").withColumn(
            "ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", "2024-01-05 00:00:00", "a"),
         ("k", "2024-01-03 00:00:00", "2024-01-04 00:00:00", "b"),
         ("x", "2024-01-01 00:00:00", "2024-01-03 00:00:00", "c")],
        "k string, s string, e string, tag string").select(
            "k", F.to_timestamp("s").alias("s"),
            F.to_timestamp("e").alias("e"), "tag")
    out = range_join(left, right, left_ts="ts", right_start="s",
                     right_end="e", keys=["k"], bucket_width_s=86_400)
    got = sorted((r["id"], r["tag"]) for r in out.collect())
    # id1 in a (start boundary inclusive); id2 in a AND b (overlap);
    # id3 matches nothing; id4 in c; end boundary exclusive everywhere
    assert got == [(1, "a"), (2, "a"), (2, "b"), (4, "c")]

    kept = range_join(left, right, left_ts="ts", right_start="s",
                      right_end="e", keys=["k"], bucket_width_s=86_400,
                      how="left")
    got_left = sorted((r["id"], r["tag"]) for r in kept.collect())
    assert got_left == [(1, "a"), (2, "a"), (2, "b"), (3, None), (4, "c")]


def test_range_join_bucket_cap_guard(spark):
    import pytest
    from stockanalyses_downloader_spark.operators.rangejoin import range_join
    left = spark.createDataFrame([(1, "2024-01-01 00:00:00")],
                                 "id long, ts string").withColumn(
        "ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2030-01-01 00:00:00")],
        "s string, e string").select(F.to_timestamp("s").alias("s"),
                                     F.to_timestamp("e").alias("e"))
    guarded = range_join(left, right, "ts", "s", "e",
                         bucket_width_s=86_400,
                         max_buckets_per_interval=100)
    with pytest.raises(Exception, match="too many buckets"):
        guarded.collect()


def test_curation_reason_codes_all_fire(spark):
    """Every curation rule fires somewhere at sf0.1 (the generator
    plants canonical dups only there), keep == no-reasons, and the
    reasons string respects the documented code order."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        _CURATION_RULES, corpus_curation_decisions)
    df = corpus_curation_decisions(spark, "/root/testdata/sf0.1").cache()
    try:
        fired = set()
        for (reasons,) in df.select("reasons").distinct().collect():
            codes = reasons.split(",") if reasons else []
            fired.update(codes)
            # order within the string must follow _CURATION_RULES
            order = [c for c in _CURATION_RULES if c in codes]
            assert codes == order, f"unordered reasons: {reasons}"
        assert fired == set(_CURATION_RULES), (
            f"rules that never fired: {set(_CURATION_RULES) - fired}")
        n_keep = df.filter("keep").count()
        n_clean = df.filter("reasons = ''").count()
        assert n_keep == n_clean and 0 < n_keep < df.count()
    finally:
        df.unpersist()


def test_star_cc_matches_propagation(spark):
    """Large-star/small-star CC returns the identical (id, component)
    labeling as min-label propagation — pinned on an adversarial long
    chain (min id at the far end; the topology where propagation needs
    diameter rounds and star needs O(log n)) and on a random graph."""
    import random
    from stockanalyses_downloader_spark.operators.graph import (
        connected_components, connected_components_star)

    def labels(fn, edges, **kw):
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        return {(r.id, r.component) for r in fn(e, **kw).collect()}

    chain = [(i, i + 1) for i in range(30, 0, -1)]
    assert (labels(connected_components_star, chain)
            == labels(connected_components, chain, max_iter=40))

    rng = random.Random(7)
    rand = [(a, b) for a, b in
            ((rng.randrange(80), rng.randrange(80)) for _ in range(100))
            if a != b]
    assert (labels(connected_components_star, rand)
            == labels(connected_components, rand))

    # star converges on the 31-node chain well under the diameter bound
    e = spark.createDataFrame(chain, "id_a long, id_b long")
    got = connected_components_star(e, max_iter=8).collect()
    assert {r.component for r in got} == {1} and len(got) == 31


def test_cc_fused_convergence_schema_and_fixed_point(spark):
    """r13 optimization pin: both CC loops fused their convergence
    check into the iteration's single materializing action (min-label:
    a __chg flag counted by the checkpoint-materializing count; star:
    one signed-count symmetric difference instead of two exceptAlls).
    The internal flag/marker columns must NOT leak into the result
    schema, and the fixed point must be exact — a graph whose LAST
    round changes nothing (already-canonical star edges) must converge
    rather than loop to max_iter."""
    from stockanalyses_downloader_spark.operators.graph import (
        connected_components, connected_components_star)
    edges = spark.createDataFrame(
        [(5, 1), (4, 1), (3, 1), (2, 1)], "id_a long, id_b long")
    got = connected_components(edges, max_iter=3)
    assert got.columns == ["id", "component"]
    assert {(r.id, r.component) for r in got.collect()} == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1)}
    got_star = connected_components_star(edges, max_iter=3)
    assert got_star.columns == ["id", "component"]
    assert ({(r.id, r.component) for r in got_star.collect()}
            == {(r.id, r.component) for r in got.collect()})


def test_cdc_chunking_shift_resilience(spark):
    """The CDC property: prefix insertion preserves most tail chunk
    digests, while aligned fixed-size chunking loses all of them (the
    prefix length is not a multiple of the chunk size)."""
    from stockanalyses_downloader_spark.operators import multimodal as mm
    text = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through fields of golden wheat while the sun sets "
            "slowly over distant purple mountains casting shadows") * 2
    rows = [(1, text), (2, "INSERTED-PREFIX " + text)]
    assets = mm.docs_to_assets(
        spark.createDataFrame(rows, "doc_id long, text string"))

    cdc = mm.payload_cdc_chunks(assets).collect()
    s1 = {r.chunk_md5 for r in cdc if r.asset_id == 1}
    s2 = {r.chunk_md5 for r in cdc if r.asset_id == 2}
    fixed = mm.payload_chunk_fingerprints(assets, 32).collect()
    f1 = {r.chunk_md5 for r in fixed if r.asset_id == 1}
    f2 = {r.chunk_md5 for r in fixed if r.asset_id == 2}

    assert len(s1 & s2) >= len(s1) // 2, (len(s1 & s2), len(s1))
    assert not (f1 & f2)
    # chunks tile the payload exactly: starts are sorted, first at 0
    one = sorted((r.chunk_seq, r.chunk_start) for r in cdc
                 if r.asset_id == 1)
    assert one[0] == (0, 0)
    assert [c for c, _ in one] == list(range(len(one)))


def test_quantization_error_bound(spark):
    """int8 scalar quantization: every dimension's reconstruction
    error is within half a quantization step of that dimension's
    range ((max-min)/255 / 2), and codes stay in [0, 255]."""
    from pyspark.sql import functions as F
    from stockanalyses_downloader_spark.operators import similarity
    from stockanalyses_downloader_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = similarity.quantize_embeddings(e)
    ranges = similarity.dimension_ranges(e)
    step = (ranges.select(F.array_max(F.zip_with(
        "maxs", "mins", lambda mx, mn: mx - mn)).alias("r"))
        .collect()[0].r) / 255.0

    rows = (q.withColumn(
        "max_err", F.array_max(F.zip_with(
            "v", "recon", lambda x, r: F.abs(r - x))))
        .withColumn("cmin", F.array_min("codes"))
        .withColumn("cmax", F.array_max("codes"))
        .agg(F.max("max_err").alias("err"),
             F.min("cmin").alias("lo"), F.max("cmax").alias("hi"))
        .collect()[0])
    assert rows.err <= step / 2 * (1 + 1e-9), (rows.err, step)
    assert rows.lo >= 0 and rows.hi <= 255


def test_kmeans_best_of_picks_max_objective(spark):
    """kmeans_centroids_best_of returns the restart whose DECIMAL
    within-cluster-similarity objective is highest — verified by
    recomputing each salted run's objective independently."""
    from pyspark.sql import functions as SF_
    e = load_table(spark, SF, "embeddings")
    ev = e.select("vec_id", similarity.as_double(F.col("embedding"))
                  .alias("v"))
    ev = ev.withColumn("norm", similarity.l2_norm(F.col("v")))

    def objective(cent):
        scored = (ev.crossJoin(SF_.broadcast(cent))
                  .select("vec_id",
                          (similarity.dot(F.col("v"), F.col("cv"))
                           / (F.col("norm") * F.col("cnorm")))
                          .alias("csim")))
        return (scored.groupBy("vec_id").agg(F.max("csim").alias("m"))
                .agg(F.sum(F.col("m").cast("decimal(30,15)")))
                .collect()[0][0])
    singles = [objective(similarity.kmeans_centroids(
                   e, k=8, n_iter=2, portable=True, init_salt=s))
               for s in ("", "|r1", "|r2")]
    best = similarity.kmeans_centroids_best_of(e, k=8, n_iter=2,
                                               restarts=3, portable=True)
    assert objective(best) == max(singles)
    assert best.count() == 8


def test_map_only_assignment_matches_windowed_rank1(spark):
    """nearest_centroid / _nearest_code equal the windowed rank-1
    assignment they replaced (ADVICE r9: the docstring claimed this
    twin test existed; now it does) — including TIES, where both must
    pick the lowest centroid_id / code_id. The fixture plants an exact
    tie via two duplicate centroids / codewords."""
    from pyspark.sql import Window as W
    e = (load_table(spark, SF, "embeddings").limit(64)
         .select("vec_id", similarity.as_double(F.col("embedding"))
                 .alias("v")))
    e = e.withColumn("norm", similarity.l2_norm(F.col("v")))
    dim = len(e.first()["v"])
    # centroids: 3 distinct + 1 exact duplicate of centroid 1 (every
    # vector ties between ids 1 and 3 -> must resolve to 1)
    base = similarity.kmeans_centroids(e.withColumnRenamed("v", "embedding")
                                       .drop("norm"), k=3, n_iter=1,
                                       vec_col="embedding")
    rows = base.collect()
    dup = [(3, rows[1]["cv"], rows[1]["cnorm"])]
    cent = spark.createDataFrame(
        [(r["centroid_id"], r["cv"], r["cnorm"]) for r in rows] + dup,
        "centroid_id int, cv array<double>, cnorm double")

    got = similarity.nearest_centroid(e, cent).select(
        "vec_id", "centroid_id")
    twin = (e.crossJoin(F.broadcast(cent))
            .withColumn("csim", similarity.dot(F.col("v"), F.col("cv"))
                        / (F.col("norm") * F.col("cnorm")))
            .withColumn("__rk", F.row_number().over(
                W.partitionBy("vec_id")
                .orderBy(F.desc("csim"), F.asc("centroid_id"))))
            .filter(F.col("__rk") == 1).select("vec_id", "centroid_id"))
    g = {r["vec_id"]: r["centroid_id"] for r in got.collect()}
    t = {r["vec_id"]: r["centroid_id"] for r in twin.collect()}
    assert g == t
    assert 3 not in g.values()  # ties broke to the lower duplicate id

    # _nearest_code: per-subspace L2 argmin, with a planted duplicate
    # codeword (code 2 duplicates code 0 in sub 0 -> ties pick 0)
    half = dim // 2
    subs = e.select(
        "vec_id",
        F.explode(F.array(
            F.struct(F.lit(0).alias("sub_id"),
                     F.slice("v", 1, half).alias("sv")),
            F.struct(F.lit(1).alias("sub_id"),
                     F.slice("v", half + 1, dim - half).alias("sv"))))
        .alias("s")).select("vec_id", "s.sub_id", "s.sv")
    cb_rows = []
    for sid in (0, 1):
        vecs = [r["sv"] for r in subs.filter(F.col("sub_id") == sid)
                .limit(2).collect()]
        cb_rows += [(sid, 0, vecs[0]), (sid, 1, vecs[1]),
                    (sid, 2, vecs[0])]  # 2 duplicates 0
    cb = spark.createDataFrame(
        cb_rows, "sub_id int, code_id int, cv array<double>")
    got_c = similarity._nearest_code(subs, cb).select(
        "vec_id", "sub_id", "code_id")
    d2 = F.aggregate(F.zip_with(F.col("sv"), F.col("cv"),
                                lambda x, y: (x - y) * (x - y)),
                     F.lit(0.0), lambda acc, t2: acc + t2)
    twin_c = (subs.join(F.broadcast(cb), "sub_id")
              .withColumn("d2", d2)
              .withColumn("__rk", F.row_number().over(
                  W.partitionBy("vec_id", "sub_id")
                  .orderBy(F.asc("d2"), F.asc("code_id"))))
              .filter(F.col("__rk") == 1)
              .select("vec_id", "sub_id", "code_id"))
    gc = {(r["vec_id"], r["sub_id"]): r["code_id"]
          for r in got_c.collect()}
    tc = {(r["vec_id"], r["sub_id"]): r["code_id"]
          for r in twin_c.collect()}
    assert gc == tc
    assert all(c != 2 for (v, s), c in gc.items() if s == 0)


def test_quantized_ivf_recall(spark):
    """int8-list IVF: recall vs brute force holds, and the emitted
    cosines are EXACT (identical to brute-force scores for the pairs
    both return) — quantization may change the candidate set but
    never the reported score."""
    e = load_table(spark, SF, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact_rows = similarity.cosine_topk(e, qids, k=10).collect()
    exact = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in exact_rows}
    approx_rows = similarity.ivf_topk_quantized(e, qids, k=10).collect()
    approx = {(r["query_id"], r["neighbor_id"]): r["cosine"]
              for r in approx_rows}
    shared = exact.keys() & approx.keys()
    recall = len(shared) / len(exact)
    assert recall >= 0.3, f"quantized-IVF recall collapsed: {recall}"
    for pair in shared:
        assert abs(exact[pair] - approx[pair]) < 1e-12, pair


def test_sequence_packing_contiguity(spark):
    """Packing invariants: offsets tile the token stream exactly (each
    row starts where the previous ended, starting at 0), bin ids are
    the offset div the budget, and spans_boundary marks exactly the
    rows crossing a 128 boundary."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        doc_sequence_packing)
    rows = sorted(doc_sequence_packing(spark, SF).collect(),
                  key=lambda r: r.start_offset)
    expect = 0
    for r in rows:
        assert r.start_offset == expect
        assert r.bin_id == r.start_offset // 128
        assert r.offset_in_bin == r.start_offset % 128
        assert r.spans_boundary == (r.offset_in_bin + r.n_tokens > 128)
        expect += r.n_tokens
    assert any(r.spans_boundary for r in rows)
    assert any(not r.spans_boundary for r in rows)


def test_temperature_mixture_properties(spark):
    """sqrt-temperature rebalance: reported rate equals
    sqrt(n_min/n_d), the smallest domain is kept whole, kept counts
    track the rate, and membership survives repartitioning."""
    from stockanalyses_downloader_spark.operators import sampling
    d = load_table(spark, SF, "documents")
    mixed = sampling.temperature_mixture(d, "lang", "doc_id")
    rep = {r["lang"]: r for r in
           (mixed.groupBy("lang", "n_total", "keep_rate")
            .agg(F.count("*").alias("n_kept")).collect())}
    totals = {r["lang"]: r["n"] for r in
              d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n_min = min(totals.values())
    for lang, row in rep.items():
        assert row["n_total"] == totals[lang]
        assert abs(row["keep_rate"]
                   - (n_min / totals[lang]) ** 0.5) < 1e-12
        assert abs(row["n_kept"] / row["n_total"]
                   - row["keep_rate"]) < 0.2, lang
    smallest = min(totals, key=totals.get)
    assert rep[smallest]["n_kept"] == rep[smallest]["n_total"]
    a = {r["doc_id"] for r in mixed.select("doc_id").collect()}
    b = {r["doc_id"] for r in
         sampling.temperature_mixture(d.repartition(13), "lang",
                                      "doc_id").select("doc_id").collect()}
    assert a == b, "membership changed under repartitioning"


def test_decontamination_matches_python_oracle(spark):
    """Independent reimplementation (pure Python, no SQL engine) of
    the train-vs-eval 5-gram overlap — pins the gram construction,
    the split membership, and the distinct-count semantics against a
    third implementation."""
    import hashlib
    import re

    from stockanalyses_downloader_spark.operators.sampling import (
        _threshold_hex)
    from stockanalyses_downloader_spark.queries.text_queries import (
        _DECON_N, eval_ngram_decontamination)

    t_train, t_val = _threshold_hex(0.8), _threshold_hex(0.9)

    def split_of(doc_id):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:8]
        return ("train" if h < t_train
                else "val" if h < t_val else "test")

    def grams(text):
        t = re.split(r"\s+", text.strip().lower())
        if len(t) < _DECON_N:
            return set()
        return {" ".join(t[i:i + _DECON_N])
                for i in range(len(t) - _DECON_N + 1)}

    rows = load_table(spark, SF, "documents").select("doc_id",
                                                     "text").collect()
    ev = set()
    for r in rows:
        if split_of(r.doc_id) == "test":
            ev |= grams(r.text)
    expected = {}
    for r in rows:
        if split_of(r.doc_id) != "train":
            continue
        shared = grams(r.text) & ev
        if shared:
            expected[r.doc_id] = (len(shared), min(shared))
    got = {r["doc_id"]: (r["n_shared_grams"], r["example_gram"])
           for r in eval_ngram_decontamination(spark, SF).collect()}
    assert expected, "fixture lost its planted contamination"
    assert got == expected


def test_ann_recall_report_floors(spark):
    """The self-evaluation query returns one row per method with
    recall in [0, 1]. Floors reflect measured recall@10 on the test
    corpus: untrained IVF at the default n_probe=8 measures 0.62
    (floor 0.5); kmeans-trained IVF at the same probe depth measures
    0.84 at sf0.001 / 0.86 at sf0.01 (floor 0.7 — the production
    shape, the bar VERDICT r3 #5 set for the driver-window IVF row);
    the quantized variant must not fall behind plain IVF by more
    than the rerank oversample can explain. r5 added IVF-PQ and PCA-
    space IVF (measured 0.72/0.64 — floor 0.55, VERDICT r4 #7). r6
    (VERDICT r5 #5) rebuilt IVF-PQ on an OPQ-style variance-balanced
    rotation + a TRAINED coarse quantizer (0.72/0.80). r7 (VERDICT
    r6 #5) lifted ADC precision — ksub 16->32, shortlist oversample
    6->12, same n_probe: 0.84/0.86. r8 (VERDICT r7 #4) moved to
    RESIDUAL coding (IVFADC) with the stored-norm lists layout:
    measured 0.84/0.86 at sf0.001/sf0.01 — the trained-IVF
    exact-float ceiling, i.e. ADC now loses zero recall to
    compression — floor raised to 0.80 absolute; the rotated-raw
    comparison row (ivf_pq_raw, 0.84/0.84) must stay within the
    shortlist-boundary band of the residual row; the exact-rerank
    invariant (exact cosines on the shortlist) is unchanged."""
    from stockanalyses_downloader_spark.queries.similarity_queries import (
        ann_recall_report)
    rows = {r["method"]: r for r in ann_recall_report(spark, SF).collect()}
    assert set(rows) == {"ivf", "ivf_trained", "signlsh", "ivf_quantized",
                         "ivf_pq", "ivf_pq_raw", "ivf_pq_portable",
                         "pca_ivf"}
    for r in rows.values():
        assert 0.0 <= r["worst_query_recall"] <= r["recall_at_k"] <= 1.0
    assert rows["ivf"]["recall_at_k"] >= 0.5
    assert rows["ivf_trained"]["recall_at_k"] >= 0.7
    assert rows["ivf_quantized"]["recall_at_k"] >= rows["ivf"]["recall_at_k"] - 0.2
    assert rows["ivf_pq"]["recall_at_k"] >= 0.80
    assert rows["ivf_pq_raw"]["recall_at_k"] >= rows["ivf_pq"]["recall_at_k"] - 0.1
    # the fully-oracled unrotated+md5-init tier: r8 measured
    # 0.76/0.86 at sf0.001/sf0.01 (the single md5 draw was unlucky on
    # the 200-vector fixture); r9 (VERDICT r8 #2) added BEST-OF-3
    # coarse restart selection (DECIMAL-exact inertia argmax, still
    # fully oracled) — measured 0.82/0.84, floor raised 0.72 -> 0.80
    assert rows["ivf_pq_portable"]["recall_at_k"] >= 0.80
    assert rows["pca_ivf"]["recall_at_k"] >= 0.55


def test_spread_guard_rollout_coverage(spark, tmp_path):
    """r11 rollout regression pin: every guarded doc-consuming entry
    point must widen a ONE-file docs scan — i.e. its analyzed plan
    contains a Repartition — so a future refactor can't silently drop
    a family's guard (the pre-r10 count-min 187 s shape). Checked at
    the plan level (no execution): cheap and exact."""
    from pyspark.sql import functions as F

    from stockanalyses_downloader_spark.operators import (bm25, bpe,
                                                          dsir, langid,
                                                          ngram_lm,
                                                          quality_model,
                                                          textprep,
                                                          unigram)

    p = str(tmp_path / "sfdir" / "documents.parquet")
    (spark.range(20)
     .select(F.col("id").alias("doc_id"),
             F.concat(F.lit("alpha beta gamma delta epsilon doc "),
                      F.col("id").cast("string")).alias("text"),
             F.lit("en").alias("lang"),
             (F.col("id") % 3).cast("string").alias("source"))
     .coalesce(1).write.mode("overwrite").parquet(p))
    docs = spark.read.parquet(p)
    assert len(docs.inputFiles()) == 1

    def widened(df):
        return "Repartition" in df._jdf.queryExecution() \
            .analyzed().toString()

    gram_logps, label_stats = langid.train_nb(docs, label_col="lang")
    entry_points = {
        "dsir.hashed_gram_buckets": dsir.hashed_gram_buckets(docs),
        "bm25.bm25_index(tf)": bm25.bm25_index(docs)[0],
        "bpe.pretoken_vocab": bpe.pretoken_vocab(docs),
        "bpe.tokenize_with_merges":
            bpe.tokenize_with_merges(docs, [("a", "l")]),
        "langid.train_nb(logps)": gram_logps,
        "langid.score_nb":
            langid.score_nb(docs, gram_logps, label_stats),
        "ngram_lm.bigram_pairs": ngram_lm.bigram_pairs(docs),
        "textprep.with_pii_redaction":
            textprep.with_pii_redaction(docs),
        "textprep.chunk_documents": textprep.chunk_documents(docs),
        "unigram.word_counts": unigram.word_counts(docs),
        "quality_model.surface_features":
            quality_model.surface_features(docs),
    }
    missing = [name for name, df in entry_points.items()
               if not widened(df)]
    assert not missing, f"guard missing at: {missing}"

    # and the sketch-feeding query path widens via _docs_spread
    from stockanalyses_downloader_spark.queries.text_queries import (
        _docs_spread)
    assert widened(_docs_spread(spark, str(tmp_path / "sfdir")))


def test_spread_widens_scans_not_shuffled_frames(spark, tmp_path):
    """spread() (ADVICE r4 rewrite: logical-plan node walk, not a
    plan-string regex): a narrow one-file scan widens to the default
    parallelism; a frame already downstream of an exchange-producing
    node is untouched; and — the r4 false-skip — a narrow scan whose
    FILTER merely embeds a scalar subquery (whose plan contains an
    Aggregate) must STILL be spread, because the subquery is an
    expression, not a plan child."""
    from pyspark.sql import functions as F
    p = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism

    assert dedup.spread(df).rdd.getNumPartitions() == target

    agged = df.groupBy((F.col("id") % 7).alias("k")).count()
    assert dedup.spread(agged) is agged  # exchange already present

    spark.read.parquet(p).createOrReplaceTempView("spread_probe_t")
    sub = spark.sql("SELECT * FROM spread_probe_t "
                    "WHERE id > (SELECT avg(id) FROM spread_probe_t)")
    assert dedup.spread(sub).rdd.getNumPartitions() == target


def test_spread_sees_through_broadcast_joins(spark, tmp_path):
    """r10: a BROADCAST-hinted join is not an exchange — the probe
    side's narrow width flows through, so spread() must still widen.
    Covers the two production shapes: a narrow scan enriched via a
    broadcast dim (even one BUILT by an Aggregate — wide nodes inside
    the broadcast subtree don't widen the probe stream), and the
    blow-up harness's crossJoin(broadcast(range)). An UNHINTED join
    stays classified wide (planner may shuffle it), and a broadcast
    join over an already-shuffled probe side stays untouched."""
    from pyspark.sql import functions as F
    p = str(tmp_path / "one_file_bc")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism

    dim = spark.range(7).select(F.col("id").alias("k"),
                                F.lit("x").alias("v"))
    enriched = df.join(F.broadcast(dim), df.id % 7 == dim.k)
    assert dedup.spread(enriched).rdd.getNumPartitions() == target

    agg_dim = (spark.range(100)
               .groupBy((F.col("id") % 7).alias("k")).count())
    enriched2 = df.join(F.broadcast(agg_dim), df.id % 7 == agg_dim.k)
    assert dedup.spread(enriched2).rdd.getNumPartitions() == target

    blown = df.crossJoin(F.broadcast(
        spark.range(1, 3).select(F.col("id").alias("__c"))))
    assert dedup.spread(blown).rdd.getNumPartitions() == target

    unhinted = df.join(dim, df.id % 7 == dim.k)
    assert dedup.spread(unhinted) is unhinted

    shuffled_probe = (df.groupBy((F.col("id") % 5).alias("g")).count()
                      .join(F.broadcast(dim), F.col("g") == dim.k))
    assert dedup.spread(shuffled_probe) is shuffled_probe


def test_spread_counts_probe_side_files_only(spark, tmp_path):
    """ADVICE r10 (medium): the width probe must count input files
    from the PROBE subtree only. A 1-file scan enriched by a
    parquet-backed broadcast dim stored in >= defaultParallelism
    files used to pass the Dataset-level inputFiles() probe
    (probe 1 + dim N >= target) and the repartition was suppressed —
    the probe stream stayed serialized on one core."""
    from pyspark.sql import functions as F
    target = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "probe_one_file")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(p)
    dimp = str(tmp_path / "dim_many_files")
    (spark.range(target * 4)
     .select((F.col("id") % 7).alias("k"), F.lit("x").alias("v"))
     .repartition(target * 2).write.mode("overwrite").parquet(dimp))
    df = spark.read.parquet(p)
    dim = spark.read.parquet(dimp).dropDuplicates(["k"])
    assert len(spark.read.parquet(dimp).inputFiles()) >= target

    enriched = df.join(F.broadcast(dim), df.id % 7 == dim.k)
    assert dedup.spread(enriched).rdd.getNumPartitions() == target

    # and a probe side already stored wide stays untouched: its own
    # file count, not the dim's, is what clears the threshold
    widep = str(tmp_path / "probe_wide")
    spark.range(10000).repartition(target).write.mode("overwrite").parquet(widep)
    wide = spark.read.parquet(widep)
    wide_enriched = wide.join(F.broadcast(dim), wide.id % 7 == dim.k)
    assert dedup.spread(wide_enriched) is wide_enriched


def test_spread_ignores_unhonorable_broadcast_hints(spark, tmp_path):
    """ADVICE r10 (low): Spark silently ignores a broadcast hint the
    join type cannot honor (the preserved side of an outer join; any
    side of a full outer) and falls back to a shuffle join — the
    frame is really shuffle-width, so spread() must classify it wide
    and add no redundant repartition. Honorable placements (dim on
    the non-preserved side) still widen."""
    from pyspark.sql import functions as F
    p = str(tmp_path / "one_file_outer")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    dim = spark.range(7).select(F.col("id").alias("k"),
                                F.lit("x").alias("v"))
    target = spark.sparkContext.defaultParallelism

    # left outer, hint on the RIGHT (non-preserved) side: honorable
    ok = df.join(F.broadcast(dim), df.id % 7 == dim.k, "left")
    assert dedup.spread(ok).rdd.getNumPartitions() == target

    # left outer, hint on the LEFT (preserved) side: Spark ignores
    # it — shuffle join, already wide
    bad = F.broadcast(df).join(dim, df.id % 7 == dim.k, "left")
    assert dedup.spread(bad) is bad

    # right outer, hint on the RIGHT (preserved) side: ignored too
    bad2 = df.join(F.broadcast(dim), df.id % 7 == dim.k, "right")
    assert dedup.spread(bad2) is bad2

    # full outer: no side is broadcastable
    bad3 = df.join(F.broadcast(dim), df.id % 7 == dim.k, "full")
    assert dedup.spread(bad3) is bad3

    # left semi with a broadcast filter dim: honorable
    semi = df.join(F.broadcast(dim), df.id % 7 == dim.k, "left_semi")
    assert dedup.spread(semi).rdd.getNumPartitions() == target

    # BOTH sides hinted on a left outer join: only the right side is
    # buildable, so the probe is unambiguously the left child — a
    # many-file parquet dim on the right must not mask the 1-file
    # probe (the review follow-up to the r11 probe-subtree fix)
    dimp = str(tmp_path / "both_hint_dim")
    (spark.range(target * 4)
     .select((F.col("id") % 7).alias("k"), F.lit("y").alias("v"))
     .repartition(target * 2).write.mode("overwrite").parquet(dimp))
    fat_dim = spark.read.parquet(dimp).dropDuplicates(["k"])
    both = F.broadcast(df).join(F.broadcast(fat_dim),
                                df.id % 7 == fat_dim.k, "left")
    assert dedup.spread(both).rdd.getNumPartitions() == target


def test_spread_both_hinted_inner_join_takes_min_width(spark, tmp_path):
    """ADVICE r11 (low): a both-sides-hinted INNER join is genuinely
    ambiguous (the planner picks the build side by size), and the r11
    walk summed BOTH children's files — a many-file broadcast dim
    masked a 1-file probe scan in exactly the shape the probe-subtree
    fix addressed. The walk now takes the MIN of the two subtree
    widths, so the narrow side still triggers the repartition
    whichever child the planner ends up probing."""
    from pyspark.sql import functions as F
    target = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "bh_inner_narrow")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    dimp = str(tmp_path / "bh_inner_fat_dim")
    (spark.range(target * 4)
     .select((F.col("id") % 7).alias("k"), F.lit("z").alias("v"))
     .repartition(target * 2).write.mode("overwrite").parquet(dimp))
    fat_dim = spark.read.parquet(dimp)

    both = F.broadcast(df).join(F.broadcast(fat_dim),
                                df.id % 7 == fat_dim.k)
    assert dedup.spread(both).rdd.getNumPartitions() == target

    # both sides stored wide: min clears the threshold, no repartition
    widep = str(tmp_path / "bh_inner_wide")
    spark.range(10000).repartition(target).write.mode(
        "overwrite").parquet(widep)
    wide = spark.read.parquet(widep)
    both_wide = F.broadcast(wide).join(F.broadcast(fat_dim),
                                       wide.id % 7 == fat_dim.k)
    assert dedup.spread(both_wide) is both_wide

    # one side already exchange-partitioned (wide subtree), the other
    # a 1-file scan: the narrow side's width is the one that matters
    agged = fat_dim.groupBy("k").count()
    mixed = F.broadcast(df).join(F.broadcast(agged),
                                 df.id % 7 == agged.k)
    assert dedup.spread(mixed).rdd.getNumPartitions() == target


def test_spread_widens_dsv2_file_scans(spark, tmp_path):
    """ADVICE r11 (low): the r11 leaf probe only recognized V1
    LogicalRelation leaves — with parquet removed from
    spark.sql.sources.useV1SourceList the scan analyzes as a
    DataSourceV2Relation and contributed 0 files, so a 1-file DSv2
    scan silently stopped being widened (a regression vs the pre-r11
    Dataset.inputFiles probe, which counts DSv2 FileTable leaves).
    The probe now mirrors Dataset.inputFiles' DSv2 case."""
    p = str(tmp_path / "dsv2_one_file")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(p)
    target = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.sources.useV1SourceList")
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        df = spark.read.parquet(p)
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        assert "DataSourceV2Relation" in leaves.apply(0).nodeName(), \
            "conf did not produce a DSv2 scan — test setup is stale"
        assert dedup.spread(df).rdd.getNumPartitions() == target
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prev)


def test_pq_codebooks_and_encode(spark):
    """PQ fit/encode semantics: codebooks hold ksub entries per
    subspace with per-entry squared norms; identical vectors encode
    identically; a vector sitting ON a codebook centroid in every
    subspace encodes to that centroid's codes; codes length == m."""
    e = load_table(spark, SF, "embeddings").limit(200)
    m, ksub = 4, 8
    cb = similarity.pq_codebooks(e, m=m, ksub=ksub, n_iter=2)
    rows = cb.collect()
    assert {(r["sub_id"]) for r in rows} == set(range(m))
    per_sub = {}
    for r in rows:
        per_sub.setdefault(r["sub_id"], set()).add(r["code_id"])
        assert abs(r["sqn"] - sum(x * x for x in r["cv"])) < 1e-9
    assert all(codes == set(range(ksub)) for codes in per_sub.values())

    enc = {r["vec_id"]: r["codes"]
           for r in similarity.pq_encode(e, cb, m=m).collect()}
    assert all(len(c) == m for c in enc.values())

    # plant: a vector assembled FROM centroids must encode to them
    chosen = {s: next(r for r in rows if r["sub_id"] == s and
                      r["code_id"] == (s % ksub)) for s in range(m)}
    flat = [x for s in range(m) for x in chosen[s]["cv"]]
    probe = spark.createDataFrame(
        [(999999, flat)], "vec_id long, embedding array<double>")
    got = similarity.pq_encode(probe, cb, m=m).collect()[0]["codes"]
    assert got == [s % ksub for s in range(m)]
    from stockanalyses_downloader_spark.caching import release_tracked
    release_tracked()


def test_pq_and_pca_ivf_exact_rerank_contract(spark):
    """Both compressed-candidate paths return EXACT cosines: every
    (query, neighbor) they emit must carry the same cosine value the
    brute-force query computes for that pair (compression may change
    WHICH pairs surface, never their scores), ranks must be 1..k
    dense per query."""
    from stockanalyses_downloader_spark.operators import pca
    e = load_table(spark, SF, "embeddings")
    qids = [0, 1, 2]
    exact = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in similarity.cosine_topk(e, qids, k=50).collect()}
    for df in (similarity.ivf_topk_pq(e, qids, k=10),
               similarity.ivf_topk_pq(e, qids, k=10, rotate=False,
                                      portable=True),
               pca.pca_ivf_topk(e, qids, k=10)):
        rows = df.collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r["rank"])
            key = (r["query_id"], r["neighbor_id"])
            if key in exact:   # overlap with the exact top-50
                assert abs(r["cosine"] - exact[key]) < 1e-12, key
        for q, ranks in per_q.items():
            assert sorted(ranks) == list(range(1, 11)), q
        from stockanalyses_downloader_spark.caching import release_tracked
        release_tracked()


def test_asof_join_directions_tolerance_vs_pandas(spark):
    """asof_join's direction/tolerance semantics (r5) pinned against
    pandas.merge_asof — the de-facto reference implementation — over
    an adversarial fixture: duplicate left timestamps, exact-equality
    matches, gaps larger than the tolerance, keys with no right rows,
    and unmatched-at-the-edges rows. Checked for backward/forward ×
    with/without tolerance × inner/left."""
    import pandas as pd
    from stockanalyses_downloader_spark.operators.asof import asof_join

    lrows, rrows = [], []
    for k, key in enumerate(["aa", "bb", "cc"]):   # cc: no right rows
        for i in range(14):
            lrows.append((key, 100 + i * 7 + k, k * 100 + i))
        if key != "cc":
            for j in range(5):
                rrows.append((key, 95 + j * 20 + k, 1000 + j * 10 + k))
    ldf = spark.createDataFrame(lrows, "pair string, ts long, tick_id long")
    rdf = spark.createDataFrame(rrows, "pair string, ts long, qval long")

    lpd = pd.DataFrame(lrows, columns=["pair", "ts", "tick_id"]) \
            .sort_values("ts", kind="stable")
    rpd = pd.DataFrame(rrows, columns=["pair", "ts", "qval"]) \
            .sort_values("ts", kind="stable")

    for direction in ("backward", "forward"):
        for tol in (None, 15):
            got = asof_join(
                ldf, rdf.withColumnRenamed("ts", "qts"), on="pair",
                left_ts="ts", right_ts="qts", how="left",
                direction=direction, tolerance_s=tol)
            got_map = {r["tick_id"]: r["qval"] for r in got.collect()}
            exp = pd.merge_asof(
                lpd, rpd, on="ts", by="pair", direction=direction,
                tolerance=tol)
            exp_map = {int(r.tick_id): (None if pd.isna(r.qval)
                                        else int(r.qval))
                       for r in exp.itertuples()}
            assert got_map == exp_map, (direction, tol)

            inner = asof_join(
                ldf, rdf.withColumnRenamed("ts", "qts"), on="pair",
                left_ts="ts", right_ts="qts", how="inner",
                direction=direction, tolerance_s=tol)
            assert {r["tick_id"] for r in inner.collect()} \
                == {t for t, v in exp_map.items() if v is not None}


def test_scd2_history_compaction_and_snapshot(spark):
    """SCD2 semantics on a planted change log: consecutive duplicate
    states compact into one version, intervals chain exactly
    (valid_to == next valid_from), the last version is open-ended,
    and the point-in-time snapshot returns the one live row per key —
    absent for keys born later."""
    from datetime import datetime
    from stockanalyses_downloader_spark.operators import scd

    def ts(d):
        return datetime(2024, 1, d)

    rows = [  # user 1: A,A,B,A (dup compacts); user 2: born on day 20
        (1, ts(1), "A"), (1, ts(5), "A"), (1, ts(10), "B"),
        (1, ts(15), "A"),
        (2, ts(20), "X"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, st string")
    hist = scd.history_from_events(ev, "user_id", "ts", "st")
    h1 = sorted([r for r in hist.collect() if r["user_id"] == 1],
                key=lambda r: r["valid_from"])
    assert [(r["st"], r["valid_from"].day,
             r["valid_to"].day if r["valid_to"] else None) for r in h1] \
        == [("A", 1, 10), ("B", 10, 15), ("A", 15, None)]

    snap = {r["user_id"]: r["st"] for r in
            scd.snapshot_as_of(hist, F.lit("2024-01-12 00:00:00")
                               .cast("timestamp")).collect()}
    assert snap == {1: "B"}      # user 2 not born yet; user 1 in run B


def test_data_quality_constraints_fire_on_planted_corruption(spark):
    """Each constraint leg must count EXACTLY its planted violations:
    a duplicated order key, a NULL custkey, a negative quantity, a
    discount > 1, a dangling FK — and the clean fixture reports all
    zeros (proven by the oracled registered query; here the
    corruption side)."""
    from stockanalyses_downloader_spark.queries.relational_queries import (
        dq_report_for)

    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    cu = load_table(spark, SF, "customer")

    dup = o.limit(1)                               # duplicate pk
    nullk = o.limit(1).withColumn(
        "o_custkey", F.lit(None).cast(dict(o.dtypes)["o_custkey"]))
    dangling = o.limit(1).withColumn(
        "o_custkey", F.lit(-999999).cast(dict(o.dtypes)["o_custkey"]))
    bad_o = o.unionByName(dup).unionByName(nullk).unionByName(dangling)

    bad_qty = li.limit(1).withColumn(
        "l_quantity", F.lit(-5).cast(dict(li.dtypes)["l_quantity"]))
    bad_disc = li.limit(1).withColumn(
        "l_discount", F.lit(1.5).cast(dict(li.dtypes)["l_discount"]))
    # the two planted lineitems also duplicate their (okey, lineno) pk
    bad_li = li.unionByName(bad_qty).unionByName(bad_disc)

    base = {r["constraint"]: r["n_violations"]
            for r in dq_report_for(o, li, cu).collect()}
    got = {r["constraint"]: r["n_violations"]
           for r in dq_report_for(bad_o, bad_li, cu).collect()}
    delta = {k: got[k] - base[k] for k in got}
    # all three planted order rows clone the SAME order -> its key
    # now appears 4 times: count - countDistinct = +3. Deltas, because
    # the synthetic fixture legitimately violates some constraints on
    # its own (1401 duplicate lineitem keys at sf0.001 — the report's
    # whole point is to surface that).
    assert delta["orders_pk_unique"] == 3
    assert delta["orders_custkey_not_null"] == 1
    assert delta["orders_custkey_fk_customer"] == 1  # dangling key only
    assert delta["lineitem_pk_unique"] == 2
    assert delta["lineitem_qty_positive"] == 1
    assert delta["lineitem_discount_in_unit_range"] == 1
    assert base["orders_pk_unique"] == 0      # orders pk IS unique
    assert base["orders_custkey_fk_customer"] == 0


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.integers(1, 3),        # key
                          st.integers(0, 20),       # day offset
                          st.sampled_from("ABC")),  # state
                min_size=1, max_size=40))
def test_scd2_history_property_vs_python(spark, events):
    """history_from_events against a pure-Python SCD2 reference over
    random change logs (duplicate timestamps, re-sent states, single-
    event keys): identical version rows for every input."""
    from datetime import datetime
    from stockanalyses_downloader_spark.operators import scd

    rows = [(k, datetime(2024, 2, 1 + d), s) for k, d, s in events]
    ev = spark.createDataFrame(rows, "k long, ts timestamp, st string")
    got = {(r["k"], r["st"], r["valid_from"], r["valid_to"])
           for r in scd.history_from_events(ev, "k", "ts", "st").collect()}

    expected = set()
    by_key: dict = {}
    for k, ts, s in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_key.setdefault(k, []).append((ts, s))
    for k, seq in by_key.items():
        changed = []
        for ts, s in seq:
            if not changed or changed[-1][1] != s:
                changed.append((ts, s))
        for i, (ts, s) in enumerate(changed):
            nxt = changed[i + 1][0] if i + 1 < len(changed) else None
            expected.add((k, s, ts, nxt))
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e", "ff"]),
                min_size=1, max_size=60))
def test_countmin_one_sided_property(spark, items):
    """Count-min's one-sided guarantee on arbitrary multisets:
    estimate >= exact for EVERY item, and with width >> distinct
    items the estimate is exact (no collisions possible to force)."""
    import collections
    from stockanalyses_downloader_spark.operators import sketches

    df = spark.createDataFrame([(x,) for x in items], "item string")
    sketch = sketches.countmin_build(df, "item", depth=3, width=64)
    probes = spark.createDataFrame(
        [(x,) for x in set(items)], "item string")
    est = {r["item"]: r["est"] for r in
           sketches.countmin_estimate(sketch, probes, "item",
                                      depth=3, width=64).collect()}
    exact = collections.Counter(items)
    for item, n in exact.items():
        assert est[item] >= n
    # 6-item vocab in 64 buckets x 3 rows: a collision in EVERY row is
    # needed to overestimate; assert the total overshoot stays tiny
    assert sum(est[i] - exact[i] for i in exact) <= len(items)


@settings(max_examples=5, deadline=None)
@given(st.sets(st.text(alphabet="abcdefgh", min_size=1, max_size=6),
               min_size=1, max_size=40))
def test_bloom_no_false_negatives_property(spark, inserted):
    """Bloom's one-sided guarantee on arbitrary item sets: every
    inserted item tests might_contain=True (NEVER a false negative),
    and with the default 32768-bit space the handful of set bits makes
    a false positive on the disjoint probe set astronomically unlikely
    ((k*n/bits)^k < 1e-8 here) — so absent probes all test False."""
    from stockanalyses_downloader_spark.operators import sketches

    absent = [x + "_zz" for x in inserted]  # disjoint by construction
    df = spark.createDataFrame([(x,) for x in inserted], "item string")
    bloom = sketches.bloom_build(df, "item")
    probes = spark.createDataFrame(
        [(x,) for x in list(inserted) + absent], "item string")
    got = {r["item"]: r["might_contain"] for r in
           sketches.bloom_contains(bloom, probes, "item").collect()}
    for x in inserted:
        assert got[x] is True
    assert all(got[x] is False for x in absent)


def test_bloom_saturated_filter_stays_one_sided(spark):
    """A deliberately tiny bit space (64 bits, 80 items) saturates the
    filter: false positives MUST appear on absent probes (non-vacuous
    evidence the approximation is real), yet every inserted item still
    tests True — the contract survives saturation."""
    from stockanalyses_downloader_spark.operators import sketches

    inserted = [f"tok{i}" for i in range(80)]
    absent = [f"abs{i}" for i in range(80)]
    df = spark.createDataFrame([(x,) for x in inserted], "item string")
    bloom = sketches.bloom_build(df, "item", k=4, bits=64)
    probes = spark.createDataFrame(
        [(x,) for x in inserted + absent], "item string")
    got = {r["item"]: r["might_contain"] for r in
           sketches.bloom_contains(bloom, probes, "item",
                                   k=4, bits=64).collect()}
    assert all(got[x] for x in inserted)          # no false negatives
    assert any(got[x] for x in absent)            # saturation: FPs real


def test_bloom_merge_half_vs_whole(spark):
    """Per-partition/day filters OR together to exactly the filter of
    the union — the rescan-free maintenance contract shared with
    count-min/HDR merge."""
    from stockanalyses_downloader_spark.operators import sketches

    items = [f"w{i % 37}x{i % 11}" for i in range(200)]
    half_a = spark.createDataFrame([(x,) for x in items[:100]], "item string")
    half_b = spark.createDataFrame([(x,) for x in items[100:]], "item string")
    whole = spark.createDataFrame([(x,) for x in items], "item string")
    merged = sketches.bloom_merge(sketches.bloom_build(half_a, "item"),
                                  sketches.bloom_build(half_b, "item"))
    direct = sketches.bloom_build(whole, "item")
    assert ({r["bit"] for r in merged.collect()}
            == {r["bit"] for r in direct.collect()})


def test_bloom_decontamination_dominates_exact(spark):
    """Query-level contract on the real fixture: for EVERY train doc,
    n_bloom_hits >= n_exact_hits (one-sidedness driver-certifiable),
    and the probe universe is strictly wider than the contaminated
    subset (the query is non-vacuous)."""
    from stockanalyses_downloader_spark.queries.text_queries import (
        bloom_decontamination_probes)

    rows = bloom_decontamination_probes(spark, SF_SMALL).collect()
    assert rows
    assert all(r["n_bloom_hits"] >= r["n_exact_hits"] for r in rows)
    assert sum(r["n_probe_grams"] for r in rows) > \
        sum(r["n_exact_hits"] for r in rows)


def test_scd2_null_states_are_real_versions(spark):
    """Review r5: NULL is a legitimate state value — a transition TO
    NULL (cleared) opens a NULL version, consecutive NULLs compact,
    and a key whose FIRST event is NULL still appears."""
    from datetime import datetime
    from stockanalyses_downloader_spark.operators import scd

    def ts(d):
        return datetime(2024, 1, d)

    rows = [(1, ts(1), "A"), (1, ts(5), None), (1, ts(8), None),
            (1, ts(12), "B"),
            (2, ts(3), None), (2, ts(6), "X")]
    ev = spark.createDataFrame(rows, "k long, ts timestamp, st string")
    hist = {}
    for r in scd.history_from_events(ev, "k", "ts", "st").collect():
        hist.setdefault(r["k"], []).append(
            (r["st"], r["valid_from"].day,
             r["valid_to"].day if r["valid_to"] else None))
    hist = {k: sorted(v, key=lambda t: t[1]) for k, v in hist.items()}
    assert hist[1] == [("A", 1, 5), (None, 5, 12), ("B", 12, None)]
    assert hist[2] == [(None, 3, 6), ("X", 6, None)]


def test_hdr_quantiles_relative_error_bound(spark, sf_dir):
    """The HDR grid's whole contract: every quantile estimate lands
    within the bucket holding the exact order statistic, i.e. within
    1/m (=1/16) RELATIVE error plus the 0.01 cent-truncation floor —
    regardless of the value distribution."""
    import math
    from stockanalyses_downloader_spark.operators import sketches
    from stockanalyses_downloader_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    grid = sketches.hdr_build(o, "o_totalprice")
    qs = (0.5, 0.9, 0.99)
    est = {r["q"]: r["est"] for r in
           sketches.hdr_quantiles(grid, qs).collect()}

    vals = sorted(r["o_totalprice"] for r in
                  o.select("o_totalprice").collect())
    n = len(vals)
    for q in qs:
        exact = vals[max(0, math.ceil(q * n) - 1)]
        assert abs(est[q] - exact) <= exact / 16 + 0.01, (
            q, est[q], exact)


def test_hdr_merge_half_vs_whole(spark, sf_dir):
    """Sketches built on disjoint halves merge (bucket addition) to
    EXACTLY the whole-corpus grid — the re-aggregation property that
    makes per-day sketches answer year-level quantiles without a
    rescan."""
    from pyspark.sql import functions as F
    from stockanalyses_downloader_spark.operators import sketches
    from stockanalyses_downloader_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    whole = sketches.hdr_build(o, "o_totalprice")
    even = sketches.hdr_build(o.filter(F.col("o_orderkey") % 2 == 0),
                              "o_totalprice")
    odd = sketches.hdr_build(o.filter(F.col("o_orderkey") % 2 == 1),
                             "o_totalprice")
    merged = sketches.hdr_merge(even, odd)
    a = {(r["o"], r["c"]) for r in whole.collect()}
    b = {(r["o"], r["c"]) for r in merged.collect()}
    assert a == b
    # grid is sketch-sized: <= 64 octaves x 16 sub-buckets
    assert len(a) <= 64 * 16


@settings(max_examples=5, deadline=None)
@given(st.lists(st.floats(min_value=1.0, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=50))
def test_hdr_quantiles_property(spark, values):
    """Relative-error bound on arbitrary positive multisets
    (hypothesis): for each q, |est - exact_rank_stat| <= exact/m +
    0.01. floor-to-cents is monotone, so the rank statistic of the
    truncated values is the truncation of the rank statistic — the
    0.01 term absorbs exactly that."""
    import math
    from stockanalyses_downloader_spark.operators import sketches

    df = spark.createDataFrame([(v,) for v in values], "v double")
    grid = sketches.hdr_build(df, "v")
    qs = (0.25, 0.75, 1.0)
    est = {r["q"]: r["est"] for r in
           sketches.hdr_quantiles(grid, qs).collect()}
    vals = sorted(values)
    for q in qs:
        exact = vals[max(0, math.ceil(q * len(vals)) - 1)]
        assert abs(est[q] - exact) <= exact / 16 + 0.01, (
            q, est[q], exact)


def test_pagerank_matches_python_power_iteration(spark):
    """pagerank vs a pure-Python power iteration with the same
    formulation (damping + dangling redistribution) on a graph with a
    sink (dangling) vertex, a hub, and a cycle: per-vertex agreement
    to 1e-9, total mass exactly ~1, and the hub outranks the spokes."""
    import pytest
    from stockanalyses_downloader_spark.operators import graph

    # 1<->2 cycle feeding 3; 3 is dangling (sink); 4 points at 3 too
    edges = [(1, 2), (2, 1), (1, 3), (2, 3), (4, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["vertex"]: r["rank"] for r in
           graph.pagerank(e, n_iter=12).collect()}

    verts = sorted({v for edge in edges for v in edge})
    n, d = len(verts), 0.85
    out = {}
    for s, t in set(edges):
        out.setdefault(s, []).append(t)
    ranks = {v: 1.0 / n for v in verts}
    for _ in range(12):
        dmass = sum(r for v, r in ranks.items() if v not in out)
        recv = {v: 0.0 for v in verts}
        for s, ts in out.items():
            for t in ts:
                recv[t] += ranks[s] / len(ts)
        ranks = {v: (1 - d) / n + d * (recv[v] + dmass / n)
                 for v in verts}

    assert set(got) == set(verts)
    for v in verts:
        assert got[v] == pytest.approx(ranks[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # 3 receives from three vertices incl. the cycle pair: top rank
    assert max(got, key=got.get) == 3


def test_ivf_index_save_load_serving(spark, tmp_path):
    """IVF index persistence (r5b): build the trained index once at
    rest, serve top-k from the saved layout with queries arriving as
    their OWN frame. Pins: (1) recall@10 vs brute force holds the
    trained-IVF floor, (2) the lists scan carries a list_id partition
    filter — only probed directories are read, (3) self-query returns
    itself as the top neighbor (sanity that vectors round-tripped)."""
    from stockanalyses_downloader_spark.operators import similarity

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_index")
    similarity.save_ivf_index(e, path, n_centroids=16, kmeans_iters=3)

    qids = [0, 1, 2, 3, 4]
    queries = (e.filter(F.col("vec_id").isin(qids))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    served = similarity.ivf_topk_from_index(spark, path, queries,
                                            k=10, n_probe=4)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan.split(
        "PartitionFilters")[1][:200]

    got = {(r["query_id"], r["neighbor_id"])
           for r in served.collect()}
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(e, qids, k=10).collect()}
    # the index contains the query vectors themselves (whole-corpus
    # index); each query's top hit must be itself
    tops = {r["query_id"]: r["neighbor_id"]
            for r in served.filter(F.col("rank") == 1).collect()}
    assert all(tops[q] == q for q in qids)
    # brute-force excludes self-matches? cosine_topk keeps corpus rows
    # incl. queries — same contract, so recall compares like for like
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"served-index recall collapsed: {recall}"


def test_ivf_index_serves_the_in_memory_rows(spark, tmp_path):
    """One probe path: an index saved from a corpus serves exactly the
    (query_id, neighbor_id, cosine, rank) rows ivf_topk returns over
    that corpus with the same centroids — the k-means 16x3 fit
    save_ivf_index runs — and the same n_probe."""
    from stockanalyses_downloader_spark.operators import similarity

    e = load_table(spark, SF, "embeddings")
    qids = [0, 1, 2, 3, 4]
    corpus = e.filter(~F.col("vec_id").isin(qids))
    cent = similarity.kmeans_centroids(corpus, k=16, n_iter=3)
    in_memory = similarity.ivf_topk(e, qids, centroids=cent, n_probe=4)
    path = str(tmp_path / "ivf_parity")
    similarity.save_ivf_index(corpus, path, n_centroids=16, kmeans_iters=3)
    queries = (e.filter(F.col("vec_id").isin(qids))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    at_rest = similarity.ivf_topk_from_index(spark, path, queries,
                                             n_probe=4)

    def rows(df):
        return sorted(tuple(r) for r in df.select(
            "query_id", "neighbor_id", "cosine", "rank").collect())

    got = rows(at_rest)
    assert len(got) == 10 * len(qids)
    assert got == rows(in_memory)


def test_ivf_index_rebuild_crash_keeps_the_served_index(
        spark, tmp_path, monkeypatch):
    """A rebuild that dies while writing its lists leaves the previous
    index serving: save_ivf_index stages centroids, lists and sizes
    together and swaps them in as one, so new centroids never sit
    next to old lists, and the serve path sweeps the dead staging
    dir."""
    import os

    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from stockanalyses_downloader_spark.operators import similarity

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_rebuild")
    similarity.save_ivf_index(e.filter(F.col("vec_id") < 250), path,
                              n_centroids=16, kmeans_iters=3)
    queries = (e.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    def served():
        return sorted(tuple(r) for r in similarity.ivf_topk_from_index(
            spark, path, queries).collect())

    before = served()
    real = DataFrameWriter.parquet

    def crash_on_lists(self, p, *args, **kwargs):
        if p.rstrip("/").endswith("/lists"):
            raise RuntimeError("injected crash while writing the lists")
        return real(self, p, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_lists)
    with pytest.raises(RuntimeError, match="injected crash"):
        similarity.save_ivf_index(e.filter(F.col("vec_id") >= 250), path,
                                  n_centroids=16, kmeans_iters=3)
    monkeypatch.undo()
    assert served() == before
    parent, name = os.path.split(path)
    assert [d for d in os.listdir(parent) if d.startswith(name)] == [name]


def test_prefix_filter_join_equals_bruteforce(spark):
    """The prefix-filter lemma end-to-end: the PPJoin-style global
    similarity join returns EXACTLY the pairs an all-pairs
    brute-force scoring finds at the same threshold — candidate
    pruning must lose nothing (guaranteed recall) and verification
    must add nothing (exactness). Brute force is a deliberate
    crossJoin, affordable only because this is a 500-doc test."""
    d = load_table(spark, SF, "documents")
    got = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
           for r in dedup.jaccard_pairs_prefix_filter(
               d, n=3, threshold=0.4).collect()}

    s = (dedup.with_hashed_shingles(d, "text", 3)
         .select("doc_id", "shingles").filter(F.size("shingles") > 0))
    a = s.select(F.col("doc_id").alias("id_a"),
                 F.col("shingles").alias("sh_a"))
    b = s.select(F.col("doc_id").alias("id_b"),
                 F.col("shingles").alias("sh_b"))
    brute = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     (F.size(F.array_intersect("sh_a", "sh_b"))
                      .cast("double")
                      / F.size(F.array_union("sh_a", "sh_b")))
                     .alias("jaccard"))
             .filter(F.col("jaccard") >= 0.4))
    expected = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in brute.collect()}
    assert got == expected and len(expected) > 0


def test_prefix_filter_join_catches_cross_block_dups(spark):
    """The capability blocking can't have: two near-identical docs in
    DIFFERENT (lang, source) blocks. ngram_jaccard_pairs (blocked on
    lang+source) misses the pair by construction; the global
    prefix-filter join finds it."""
    d = load_table(spark, SF, "documents").limit(30)
    twin = (d.filter(F.col("doc_id") == 0)
            .select((F.col("doc_id") + 5_000_000).alias("doc_id"),
                    F.concat("text", F.lit(" zz")).alias("text"),
                    F.lit("xx").alias("lang"),
                    F.lit("other_src").alias("source"),
                    "n_chars"))
    corpus = d.unionByName(twin)

    blocked = dedup.ngram_jaccard_pairs(
        corpus, block_cols=["lang", "source"], n=3, threshold=0.5)
    assert blocked.filter(F.col("id_b") == 5_000_000).count() == 0

    global_pairs = dedup.jaccard_pairs_prefix_filter(
        corpus, n=3, threshold=0.5)
    hit = global_pairs.filter((F.col("id_a") == 0)
                              & (F.col("id_b") == 5_000_000))
    assert hit.count() == 1


def test_prefix_filter_join_edge_inputs(spark):
    """Degenerate inputs: docs too short for any 3-gram shingle are
    excluded without error; identical docs score jaccard 1.0; a
    single-doc corpus yields no pairs."""
    d = spark.createDataFrame(
        [(1, "one two"),            # < 3 tokens: no shingles
         (2, "alpha beta gamma delta"),
         (3, "alpha beta gamma delta"),   # exact twin of 2
         (4, "")],                  # empty text
        "doc_id long, text string")
    pairs = dedup.jaccard_pairs_prefix_filter(d, n=3, threshold=0.5) \
        .collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"],
            pairs[0]["jaccard"]) == (2, 3, 1.0)

    solo = spark.createDataFrame([(1, "just one single document here")],
                                 "doc_id long, text string")
    assert dedup.jaccard_pairs_prefix_filter(solo).count() == 0


def test_ivf_index_incremental_append(spark, tmp_path):
    """Incremental index maintenance (r5c): build on half the corpus,
    append the other half against the FROZEN centroids. Pins:
    (1) appended list content is IDENTICAL to a one-shot assignment
    of the full corpus under the same centroids (shared
    ``similarity.build``), (2) list_sizes was updated by addition and
    matches the actual per-list counts, (3) an appended vector is
    immediately searchable (self-query top-1 = itself)."""
    from stockanalyses_downloader_spark.operators import similarity

    e = load_table(spark, SF, "embeddings")
    half_a = e.filter(F.col("vec_id") < 250)
    half_b = e.filter(F.col("vec_id") >= 250)
    path = str(tmp_path / "ivf_inc")
    similarity.save_ivf_index(half_a, path, n_centroids=16,
                              kmeans_iters=3)
    similarity.append_to_ivf_index(spark, path, half_b)

    lists = spark.read.parquet(f"{path}/lists")
    cent = spark.read.parquet(f"{path}/centroids")
    got_assign = {(r["vec_id"], r["list_id"])
                  for r in lists.select("vec_id", "list_id").collect()}
    want_assign = {(r["vec_id"], r["list_id"])
                   for r in similarity.build(similarity.vectors(e), cent)[0]
                   .select("vec_id", "list_id").collect()}
    assert got_assign == want_assign
    assert len(got_assign) == e.count()

    sizes = {r["list_id"]: r["lsz"] for r in
             spark.read.parquet(f"{path}/list_sizes").collect()}
    actual = {r["list_id"]: r["n"] for r in
              lists.groupBy("list_id").agg(F.count("*").alias("n"))
              .collect()}
    assert sizes == actual

    appended_qids = [400, 401, 402]
    queries = (e.filter(F.col("vec_id").isin(appended_qids))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    served = similarity.ivf_topk_from_index(spark, path, queries,
                                            k=5, n_probe=4)
    # VERDICT r5 #8: the serve path is fully lazy — no driver-side
    # probe collect; Dynamic Partition Pruning injects the probed
    # list_ids into the lists scan at runtime (plan-pinned)
    from stockanalyses_downloader_spark.plans import explain_str
    plan = explain_str(served)
    assert "dynamicpruningexpression" in plan, (
        "lists scan lost its DPP partition filter:\n" + plan[:2000])
    tops = {r["query_id"]: r["neighbor_id"]
            for r in served.filter(F.col("rank") == 1).collect()}
    assert all(tops[q] == q for q in appended_qids)


def test_countmin_inner_product_one_sided(spark):
    """AMS join-size estimate: est >= exact on a planted dup-heavy
    key pair, and EXACT when the grid is wide enough that no two
    distinct keys share a bucket in every row (collisions only add)."""
    import collections
    from stockanalyses_downloader_spark.operators import sketches

    ka = [i % 7 for i in range(50)] + [99] * 5
    kb = [i % 5 for i in range(40)] + [99] * 3
    a = spark.createDataFrame([(k,) for k in ka], "key int")
    b = spark.createDataFrame([(k,) for k in kb], "key int")
    exact = sum(ca * collections.Counter(kb)[k]
                for k, ca in collections.Counter(ka).items())

    # tight grid: one-sided
    ga = sketches.countmin_build(a, "key", depth=3, width=8)
    gb = sketches.countmin_build(b, "key", depth=3, width=8)
    est = sketches.countmin_inner_product(
        ga, gb).collect()[0]["est_join_size"]
    assert est >= exact

    # wide grid: 8 distinct keys in 4096 buckets x 3 rows — the min
    # over rows is exact unless every row collides (p ~ 1e-9)
    ga = sketches.countmin_build(a, "key", depth=3, width=4096)
    gb = sketches.countmin_build(b, "key", depth=3, width=4096)
    est = sketches.countmin_inner_product(
        ga, gb).collect()[0]["est_join_size"]
    assert est == exact


def test_countmin_inner_product_disjoint_keys_is_zero(spark):
    """Grids over DISJOINT key sets: wide enough that no hash row has
    a bucket collision, so at least one row's inner product is 0 and
    the estimate must come back 0 — not NULL and not inflated (the
    zero-overlap rows must not be dropped by the bucket join)."""
    from stockanalyses_downloader_spark.operators import sketches

    a = spark.createDataFrame([(k,) for k in range(10)], "key int")
    b = spark.createDataFrame([(k,) for k in range(100, 110)], "key int")
    ga = sketches.countmin_build(a, "key", depth=3, width=4096)
    gb = sketches.countmin_build(b, "key", depth=3, width=4096)
    row = sketches.countmin_inner_product(ga, gb).collect()[0]
    assert row["est_join_size"] == 0


def test_hll_portable_estimate_bands(spark):
    """Portable-HLL estimator accuracy in BOTH regimes: the raw
    estimator at a cardinality (60k) far above the register count
    (m=256, RSE ~6.5% -> 3-sigma band 20%), and the linear-counting
    small-range correction at 30 distinct (most registers empty).
    The grid itself is DuckDB-oracled at the query level
    (lang_token_hll_grid); this pins what the grid's numbers MEAN."""
    from stockanalyses_downloader_spark.operators import sketches

    big = spark.range(60_000).select(
        F.concat(F.lit("tok"), F.col("id")).alias("item"))
    est = sketches.hll_estimate(
        sketches.hll_build(big, "item")).first()["est_distinct"]
    assert abs(est - 60_000) / 60_000 < 0.20, est

    small = spark.range(30).select(
        F.concat(F.lit("s"), F.col("id")).alias("item"))
    est_s = sketches.hll_estimate(
        sketches.hll_build(small, "item")).first()["est_distinct"]
    assert abs(est_s - 30) / 30 < 0.15, est_s


def test_hll_merge_half_vs_whole(spark):
    """Register grids MAX together to exactly the grid of the union —
    the distinct tier's rescan-free maintenance contract (duplicate
    items across the halves must not inflate anything: max, not
    add)."""
    from stockanalyses_downloader_spark.operators import sketches

    # overlapping halves: items 0..119 and 80..199
    a = spark.range(120).select(
        F.concat(F.lit("i"), F.col("id")).alias("item"))
    b = spark.range(80, 200).select(
        F.concat(F.lit("i"), F.col("id")).alias("item"))
    whole = spark.range(200).select(
        F.concat(F.lit("i"), F.col("id")).alias("item"))
    merged = sketches.hll_merge(sketches.hll_build(a, "item"),
                                sketches.hll_build(b, "item"))
    direct = sketches.hll_build(whole, "item")
    as_map = lambda df: {r["reg"]: r["max_rho"] for r in df.collect()}  # noqa: E731
    assert as_map(merged) == as_map(direct)


def test_triangle_counts_planted_shapes(spark):
    """K4 clique: every member sits in C(3,2)=3 triangles; a pendant
    edge and an open path contribute nothing; dirty input (directed
    duplicates, self-loops) canonicalizes away."""
    from stockanalyses_downloader_spark.operators import graph

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
             (4, 5),                                          # pendant
             (6, 7), (7, 8),                                  # open path
             (2, 1), (3, 1),                                  # dup reversed
             (9, 9)]                                          # self-loop
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"]
           for r in graph.triangle_counts(e).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_match_bruteforce_python(spark):
    """Deterministic pseudo-random graph vs itertools brute force —
    per-node counts, not just the total."""
    import hashlib
    from itertools import combinations

    from stockanalyses_downloader_spark.operators import graph

    nodes = list(range(24))
    edges = []
    for a, b in combinations(nodes, 2):
        h = hashlib.md5(f"{a}-{b}".encode()).hexdigest()
        if int(h[:4], 16) % 5 == 0:  # ~20% density
            edges.append((a, b))
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want: dict[int, int] = {}
    for x, y, z in combinations(nodes, 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                want[n] = want.get(n, 0) + 1
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"]
           for r in graph.triangle_counts(e).collect()}
    assert got == want
    assert sum(want.values()) > 0  # non-vacuous


def test_triangle_counts_hub_graph_orientation(spark):
    """A star hub with one rim edge: exactly one triangle, counted
    once — the shape where naive id-ordered wedging piles all work on
    the hub; degree orientation points rim->hub so the hub generates
    ZERO wedges itself."""
    from stockanalyses_downloader_spark.operators import graph

    hub_edges = [(0, i) for i in range(1, 12)] + [(1, 2)]
    e = spark.createDataFrame(hub_edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"]
           for r in graph.triangle_counts(e).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_ivf_index_append_survives_sizes_swap_crash(spark, tmp_path):
    """VERDICT r6 #4: the list_sizes maintenance must use the
    temp+rename swap, and a crash anywhere in it must be recoverable.
    Injected crash states: (a) a staged __tmp left behind with the
    sizes table intact, (b) the table renamed away to __old (the
    worst window: sizes directory missing entirely). In both cases
    the NEXT append must rebuild a sizes table that matches the
    actual per-list counts — never half-written, never lost."""
    import os
    import shutil

    from stockanalyses_downloader_spark.operators import similarity

    e = load_table(spark, SF, "embeddings")
    half_a = e.filter(F.col("vec_id") < 200)
    half_b = e.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 350))
    half_c = e.filter(F.col("vec_id") >= 350)
    path = str(tmp_path / "ivf_crash")
    similarity.save_ivf_index(half_a, path, n_centroids=8,
                              kmeans_iters=2)

    def sizes_on_disk():
        return {r["list_id"]: r["lsz"] for r in
                spark.read.parquet(f"{path}/list_sizes").collect()}

    def actual_counts():
        return {r["list_id"]: r["n"] for r in
                spark.read.parquet(f"{path}/lists")
                .groupBy("list_id").agg(F.count("*").alias("n"))
                .collect()}

    # (a) crash after staging the tmp, before any rename: table
    # intact, stale __tmp present
    spark.createDataFrame([(0, 999_999)], "list_id int, lsz long") \
        .coalesce(1).write.parquet(f"{path}/list_sizes.__tmp-dead1")
    similarity.append_to_ivf_index(spark, path, half_b)
    assert sizes_on_disk() == actual_counts()
    assert not [d for d in os.listdir(path) if "__tmp" in d
                or "__old" in d]

    # (b) crash between the two renames: sizes gone, only copy in
    # __old (and the staged tmp of the NEW sizes also present)
    shutil.copytree(f"{path}/list_sizes",
                    f"{path}/list_sizes.__tmp-dead2")
    os.rename(f"{path}/list_sizes", f"{path}/list_sizes.__old-dead2")
    similarity.append_to_ivf_index(spark, path, half_c)
    assert sizes_on_disk() == actual_counts()
    assert not [d for d in os.listdir(path) if "__tmp" in d
                or "__old" in d]
    # every vector ever appended is accounted for
    assert sum(sizes_on_disk().values()) == e.count()


def test_container_geometry_parsers_units_and_fuzz():
    """Pure-function coverage for the r7 container parsers: generated
    PNG/JPEG geometry round-trips for arbitrary sizes and every PNG
    color type; arbitrary byte garbage never crashes and never
    false-positives a geometry (hypothesis fuzz)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from stockanalyses_downloader_spark.operators.multimodal import (
        _jpeg_geometry, _png_geometry)

    @settings(max_examples=100, deadline=None)
    @given(st.integers(1, 48), st.integers(1, 48),
           st.sampled_from([0, 2, 6]))
    def png_roundtrip(w, h, ct):
        got = _png_geometry(_make_png(w, h, color_type=ct))
        assert got == (w, h, {0: 1, 2: 3, 6: 4}[ct])

    # 4-byte big-endian width/height decode at large values, without
    # materializing megapixel fixtures: splice the IHDR directly
    import struct
    big = bytearray(_make_png(2, 2))
    big[16:24] = struct.pack(">II", 70000, 123456)
    assert _png_geometry(bytes(big)) == (70000, 123456, 3)

    @settings(max_examples=200, deadline=None)
    @given(st.integers(1, 65535), st.integers(1, 65535),
           st.integers(1, 4))
    def jpeg_roundtrip(w, h, nc):
        assert _jpeg_geometry(_make_jpeg(w, h, nc)) == (w, h, nc)

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def fuzz_no_crash(b):
        # must never raise; may only claim a geometry if the payload
        # really starts with the right magic
        g = _png_geometry(b)
        if g is not None:
            assert b[:8] == b"\x89PNG\r\n\x1a\n"
        j = _jpeg_geometry(b)
        if j is not None:
            assert b[:2] == b"\xff\xd8"

    png_roundtrip()
    jpeg_roundtrip()
    fuzz_no_crash()

    # truncated real containers degrade to None, never crash
    png = _make_png(9, 4)
    jpg = _make_jpeg(100, 50)
    for cut in (0, 1, 7, 8, 15, 20, 25):
        assert _png_geometry(png[:cut]) is None
    for cut in (0, 1, 2, 3, 5, 10):
        assert _jpeg_geometry(jpg[:cut]) is None


def test_minhash_probe_id_collision_prefers_delta(spark, tmp_path):
    """ADVICE r6: a delta doc_id colliding with a stored id must use
    the DELTA's shingles deterministically (re-ingested text is the
    current version) — not an arbitrary dropDuplicates pick. Setup:
    store doc 1 with text A; probe a delta that re-ingests doc 1 with
    completely different text B alongside doc 900001 = near-dup of B.
    The (1, 900001) pair must verify with B-vs-B' jaccard (high);
    under the old arbitrary pick it could compute A-vs-B' (near 0)
    depending on partitioning. Run the probe twice: identical
    output."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta",
          "en", "s1", 40),
         (2, "one two three four five six seven eight nine",
          "en", "s1", 40)],
        "doc_id long, text string, lang string, source string, n_chars int")
    path = str(tmp_path / "mh_collide")
    dedup.save_minhash_index(corpus, path)

    text_b = "red orange yellow green blue indigo violet ultraviolet"
    delta = spark.createDataFrame(
        [(1, text_b, "en", "s1", 40),
         (900001, text_b + " xx", "en", "s1", 44)],
        "doc_id long, text string, lang string, source string, n_chars int")

    runs = [
        {(r["id_a"], r["id_b"]): r["jaccard"]
         for r in dedup.probe_minhash_index(spark, path, delta,
                                            threshold=0.5).collect()}
        for _ in range(2)
    ]
    assert runs[0] == runs[1], "probe output is partitioning-dependent"
    got = runs[0]
    assert (1, 900001) in got, got
    # B vs B+' share all but the boundary shingles -> jaccard well
    # above the threshold; A vs B' would share zero shingles
    assert got[(1, 900001)] >= 0.5


def test_minhash_index_rejects_foreign_hash_family(spark, tmp_path):
    """The index meta records its hash family, and append/probe refuse
    an index built on another one — its bands could never collide with
    md5_h31 bands, so mixing would silently find no pairs. Covers both
    meta layouts: an explicit ``hash_family`` column and the older
    ``portable`` flag (false = xxhash64 family: rejected; true = the
    md5_h31 family: still readable)."""
    import pytest
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta",
          "en", "s1", 40)],
        "doc_id long, text string, lang string, source string, n_chars int")
    twin = docs.select((F.col("doc_id") + 1).alias("doc_id"),
                       F.concat("text", F.lit(" zz")).alias("text"),
                       "lang", "source", "n_chars")
    path = str(tmp_path / "mh_family")
    dedup.save_minhash_index(docs, path)
    assert spark.read.parquet(f"{path}/meta").first()["hash_family"] \
        == "md5_h31"

    def write_meta(rows, schema):
        (spark.createDataFrame(rows, schema)
         .write.mode("overwrite").parquet(f"{path}/meta"))

    for rows, schema in (
            ([(64, 16, 3, False, "doc_id")],
             "n_hashes int, bands int, n int, portable boolean, "
             "id_col string"),
            ([(64, 16, 3, "xxhash64", "doc_id")],
             "n_hashes int, bands int, n int, hash_family string, "
             "id_col string")):
        write_meta(rows, schema)
        with pytest.raises(ValueError, match="xxhash64"):
            dedup.append_to_minhash_index(spark, path, twin)
        with pytest.raises(ValueError, match="xxhash64"):
            dedup.probe_minhash_index(spark, path, twin, threshold=0.5)

    write_meta([(64, 16, 3, True, "doc_id")],
               "n_hashes int, bands int, n int, portable boolean, "
               "id_col string")
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.probe_minhash_index(spark, path, twin,
                                     threshold=0.5).collect()}
    assert got == {(1, 2)}


def test_hard_negative_contract(spark):
    """Hard negatives must (a) never share the anchor's label, (b)
    never enter the near-dup band, (c) be the TOP different-label
    survivors — i.e. match a reference filter of the brute-force
    ranking recomputed at k=corpus."""
    e = load_table(spark, SF, "embeddings")
    qids = [0, 1, 2, 3, 4]
    negs = similarity.hard_negative_topk(e, qids, k=5,
                                         dup_threshold=0.95).collect()
    assert len(negs) == 5 * len(qids)
    for r in negs:
        assert r["neighbor_label"] != r["anchor_label"]
        assert r["cosine"] < 0.95
    # reference: full ranking filtered the same way, top-5 per anchor
    labels = {r["vec_id"]: r["label"]
              for r in e.select("vec_id", "label").collect()}
    n = e.count()
    full = similarity.cosine_topk(e, qids, k=n).collect()
    expected = {}
    for r in sorted(full, key=lambda r: (r["query_id"], r["rank"])):
        ql, nl = labels[r["query_id"]], labels[r["neighbor_id"]]
        if nl == ql or r["cosine"] >= 0.95:
            continue
        expected.setdefault(r["query_id"], [])
        if len(expected[r["query_id"]]) < 5:
            expected[r["query_id"]].append(r["neighbor_id"])
    got = {}
    for r in sorted(negs, key=lambda r: (r["anchor_id"], r["rank"])):
        got.setdefault(r["anchor_id"], []).append(r["neighbor_id"])
    assert got == expected


def test_retrieval_quality_metric_bounds(spark):
    """precision/recall/MRR/NDCG all in [0,1]; precision consistent
    with n_rel_at_k; MRR=0 iff no relevant hit in the top-k."""
    from stockanalyses_downloader_spark.queries.similarity_queries import (
        retrieval_quality_report)
    rows = retrieval_quality_report(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        for m in ("precision_at_k", "recall_at_k", "mrr", "ndcg_at_k"):
            assert 0.0 <= r[m] <= 1.0, (m, r)
        assert r["precision_at_k"] == r["n_rel_at_k"] / 10.0
        assert (r["mrr"] == 0.0) == (r["n_rel_at_k"] == 0)
        if r["n_rel_at_k"] == 10 and r["n_rel_total"] >= 10:
            assert r["ndcg_at_k"] == 1.0  # perfect prefix


def test_split_leakage_repair_invariants(spark):
    """Repair must (a) only move non-train docs, (b) always move them
    TO train, (c) leave everyone else untouched, and (d) fire exactly
    when the leakage report shows off-diagonal (cross-split) pairs."""
    from stockanalyses_downloader_spark.queries.similarity_queries import (
        split_leakage_repair, split_leakage_report)
    rows = split_leakage_repair(spark, SF).collect()
    repaired = [r for r in rows if r["repaired"]]
    for r in rows:
        if r["repaired"]:
            assert r["split_orig"] != "train"
            assert r["split_final"] == "train"
        else:
            assert r["split_final"] == r["split_orig"]
    off_diag = (split_leakage_report(spark, SF)
                .filter("split_a != split_b").collect())
    assert (len(repaired) > 0) == (len(off_diag) > 0)


def test_ivf_index_append_survives_no_artifact_crash(spark, tmp_path):
    """r7c review fix: a crash AFTER the lists append commits but
    BEFORE the sizes swap starts leaves no __tmp-/__old- artifact —
    only the intent marker betrays that the intact sizes table is
    stale against the lists. The next append must rebuild from the
    lists (ground truth), and a clean append must leave no marker."""
    import os

    from stockanalyses_downloader_spark.operators import similarity

    e = load_table(spark, SF, "embeddings")
    half_a = e.filter(F.col("vec_id") < 200)
    half_b = e.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 350))
    half_c = e.filter(F.col("vec_id") >= 350)
    path = str(tmp_path / "ivf_marker_crash")
    similarity.save_ivf_index(half_a, path, n_centroids=8,
                              kmeans_iters=2)

    # simulate the crashed append: marker written, lists appended,
    # process dies before the sizes swap — sizes table intact+stale
    open(os.path.join(path, ".sizes-pending-dead0001"), "w").close()
    cent = spark.read.parquet(f"{path}/centroids")
    similarity.build(similarity.vectors(half_b), cent)[0] \
        .write.mode("append").partitionBy("list_id") \
        .parquet(f"{path}/lists")
    stale = {r["list_id"]: r["lsz"] for r in
             spark.read.parquet(f"{path}/list_sizes").collect()}
    assert sum(stale.values()) == half_a.count()  # stale, as injected

    similarity.append_to_ivf_index(spark, path, half_c)
    sizes = {r["list_id"]: r["lsz"] for r in
             spark.read.parquet(f"{path}/list_sizes").collect()}
    actual = {r["list_id"]: r["n"] for r in
              spark.read.parquet(f"{path}/lists")
              .groupBy("list_id").agg(F.count("*").alias("n")).collect()}
    assert sizes == actual          # rebuilt from ground truth
    assert sum(sizes.values()) == e.count()
    assert not [f for f in os.listdir(path)
                if f.startswith(".sizes-pending-")]


def test_png_geometry_rejects_overflow_dimensions():
    """r7c review fix: a PNG IHDR with a 4-byte dimension above the
    spec's 2^31-1 cap must yield NULL geometry (the dead-letter
    signal), never an Int32-overflowing value that kills the task."""
    from stockanalyses_downloader_spark.operators.multimodal import (
        _png_geometry)
    def ihdr(w, h, color=2):
        return (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
                + w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + bytes([8, color, 0, 0, 0]))
    assert _png_geometry(ihdr(640, 480)) == (640, 480, 3)
    assert _png_geometry(ihdr(2**31 + 7, 3)) is None
    assert _png_geometry(ihdr(3, 2**32 - 1)) is None
    assert _png_geometry(ihdr(2**31 - 1, 1)) == (2**31 - 1, 1, 3)


def test_ivf_index_lists_compaction_preserves_serving(spark, tmp_path):
    """Table maintenance meets index maintenance (r7c): daily appends
    leave one-file-per-append in every list directory; compacting
    {path}/lists with operators/compaction (per-hive-partition bins,
    atomic swap) must cut the file count without changing a single
    serving result — list_id partition values survive because bins
    never cross leaf dirs."""
    from stockanalyses_downloader_spark.operators import (compaction,
                                                          similarity)

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_compact")
    similarity.save_ivf_index(e.filter(F.col("vec_id") < 200), path,
                              n_centroids=8, kmeans_iters=2)
    for lo, hi in ((200, 300), (300, 400), (400, 10**9)):
        similarity.append_to_ivf_index(
            spark, path,
            e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)))

    queries = e.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    before = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in
        similarity.ivf_topk_from_index(spark, path, queries,
                                       k=10).collect())
    n_before = len(compaction.list_data_files(f"{path}/lists"))
    stats = compaction.compact_parquet(spark, f"{path}/lists",
                                       target_bytes=64 * 1024 * 1024)
    assert stats["files_after"] < n_before
    after = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in
        similarity.ivf_topk_from_index(spark, path, queries,
                                       k=10).collect())
    assert after == before
    # sizes still match the (compacted) lists — compaction moved no row
    sizes = {r["list_id"]: r["lsz"] for r in
             spark.read.parquet(f"{path}/list_sizes").collect()}
    actual = {r["list_id"]: r["n"] for r in
              spark.read.parquet(f"{path}/lists")
              .groupBy("list_id").agg(F.count("*").alias("n")).collect()}
    assert sizes == actual


def test_multimodal_gif_and_wav_real_parsing(spark):
    """r7c: decode_real also parses GIF logical screen descriptors,
    and audio_meta_real parses genuine RIFF/WAVE headers (generated by
    the stdlib wave module — a real container, not a hand-rolled
    fixture). Unparseable/NULL payloads keep the NULL-metadata
    dead-letter contract in both."""
    import io
    import wave

    from stockanalyses_downloader_spark.operators import multimodal

    gif = (b"GIF89a" + (13).to_bytes(2, "little")
           + (9).to_bytes(2, "little") + b"\x00\x00\x00")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)           # 16-bit
        w.setframerate(44100)
        w.writeframes(b"\x00\x00" * 2 * 300)   # 300 stereo frames
    wav = buf.getvalue()

    assets = spark.createDataFrame(
        [(1, "image", gif), (2, "audio", wav),
         (3, "audio", b"RIFFjunk"), (4, "audio", None)],
        "asset_id long, modality string, payload binary")

    geo = {r["asset_id"]: (r["width"], r["height"], r["n_channels"])
           for r in multimodal.decode_real(assets).collect()}
    assert geo[1] == (13, 9, 1)  # palette-indexed: PNG color-type-3 convention

    am = {r["asset_id"]: (r["n_channels"], r["sample_rate"],
                          r["bits_per_sample"], r["n_frames"])
          for r in multimodal.audio_meta_real(assets).collect()}
    assert am[2] == (2, 44100, 16, 300)
    assert am[3] == (None, None, None, None)
    assert am[4] == (None, None, None, None)
    assert am[1] == (None, None, None, None)   # a GIF is not a WAVE


def test_multimodal_mp4_video_meta(spark):
    """r7c: video_meta_real parses the moov/mvhd presentation clock
    from hand-built ISO-BMFF boxes (public format): v0 and v1 mvhd,
    junk and NULL payloads keep the NULL-metadata contract, and an
    Int32-overflowing timescale dead-letters instead of crashing."""
    import struct

    from stockanalyses_downloader_spark.operators import multimodal

    def box(btype, payload):
        return struct.pack(">I", len(payload) + 8) + btype + payload

    def mp4_v0(ts, dur):
        mvhd = (b"\x00" + b"\x00\x00\x00" + b"\x00" * 8
                + struct.pack(">II", ts, dur) + b"\x00" * 80)
        return (box(b"ftyp", b"isom\x00\x00\x02\x00isom")
                + box(b"moov", box(b"mvhd", mvhd)))

    def mp4_v1(ts, dur):
        mvhd = (b"\x01" + b"\x00\x00\x00" + b"\x00" * 16
                + struct.pack(">IQ", ts, dur) + b"\x00" * 80)
        return (box(b"ftyp", b"isom\x00\x00\x02\x00isom")
                + box(b"moov", box(b"mvhd", mvhd)))

    assets = spark.createDataFrame(
        [(1, "video", mp4_v0(1000, 5500)),
         (2, "video", mp4_v1(90000, 90000 * 12)),
         (3, "video", mp4_v0(2**31 + 5, 10)),   # overflowing timescale
         (4, "video", b"not a video"),
         (5, "video", None)],
        "asset_id long, modality string, payload binary")
    got = {r["asset_id"]: (r["timescale"], r["duration"],
                           r["duration_ms"])
           for r in multimodal.video_meta_real(assets).collect()}
    assert got[1] == (1000, 5500, 5500.0)
    assert got[2] == (90000, 90000 * 12, 12000.0)
    for aid in (3, 4, 5):
        assert got[aid] == (None, None, None)


def test_frame_sample_plan_real_uses_parsed_clock(spark):
    """r7c: the real-duration sampling plan budgets frames against the
    mvhd presentation clock, not the byte length, and drops
    unparseable videos (the dead-letter branch)."""
    import struct

    from stockanalyses_downloader_spark.operators import multimodal

    def box(btype, payload):
        return struct.pack(">I", len(payload) + 8) + btype + payload

    mvhd = (b"\x00" + b"\x00\x00\x00" + b"\x00" * 8
            + struct.pack(">II", 1000, 5500) + b"\x00" * 80)
    mp4 = (box(b"ftyp", b"isom\x00\x00\x02\x00isom")
           + box(b"moov", box(b"mvhd", mvhd)))
    assets = spark.createDataFrame(
        [(1, "video", mp4), (2, "video", b"junk"), (3, "image", mp4)],
        "asset_id long, modality string, payload binary")
    rows = multimodal.frame_sample_plan_real(assets, every_ms=1000) \
        .collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r["frame_ts_ms"])
    # 5500 ms at 1000 ms cadence -> 0..5000 inclusive = 6 frames
    assert sorted(by_asset[1]) == [0, 1000, 2000, 3000, 4000, 5000]
    assert 2 not in by_asset        # unparseable -> no frames
    assert 3 not in by_asset        # not a video row


def test_multimodal_container_edge_cases(spark):
    """r7c review fixes, pinned: (a) a largesize (64-bit header) moov
    still parses; (b) the mvhd unknown-duration sentinel yields a real
    clock with NULL duration; (c) a corrupt-but-parseable insane clock
    is EXCLUDED from the real frame plan instead of overflowing the
    cast and killing the job; (d) WAV frame counts honor nBlockAlign
    (24-in-32 layouts) and a streaming-placeholder data size clamps to
    the bytes actually present."""
    import struct

    from stockanalyses_downloader_spark.operators import multimodal

    def box(btype, payload):
        return struct.pack(">I", len(payload) + 8) + btype + payload

    def largebox(btype, payload):
        return (struct.pack(">I", 1) + btype
                + struct.pack(">Q", len(payload) + 16) + payload)

    def mvhd_v0(ts, dur):
        return box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
                   + struct.pack(">II", ts, dur) + b"\x00" * 80)

    def mvhd_v1(ts, dur):
        return box(b"mvhd", b"\x01\x00\x00\x00" + b"\x00" * 16
                   + struct.pack(">IQ", ts, dur) + b"\x00" * 80)

    large = box(b"ftyp", b"isomisom") + largebox(b"moov", mvhd_v0(50, 100))
    sentinel = box(b"moov", mvhd_v0(1000, 0xFFFFFFFF))
    insane = box(b"moov", mvhd_v1(1, 2 ** 62))
    assert multimodal._mp4_meta(large) == (50, 100, 2000.0)
    assert multimodal._mp4_meta(sentinel) == (1000, None, None)
    ts, dur, ms = multimodal._mp4_meta(insane)
    assert ts == 1 and dur == 2 ** 62      # parses...
    assets = spark.createDataFrame(
        [(1, "video", insane), (2, "video", box(b"moov", mvhd_v0(10, 25)))],
        "asset_id long, modality string, payload binary")
    planned = {r["asset_id"] for r in
               multimodal.frame_sample_plan_real(assets).collect()}
    assert planned == {2}                  # ...but never reaches a cast

    def wav(ch, sr, bits, block_align, data):
        fmt = struct.pack("<HHIIHH", 1, ch, sr, sr * block_align,
                          block_align, bits)
        return (b"RIFF" + struct.pack("<I", 4 + 24 + 8 + len(data))
                + b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)

    w24in32 = wav(2, 48000, 24, 8, b"\x00" * 800)     # 100 frames
    assert multimodal._wav_meta(w24in32) == (2, 48000, 24, 100)
    placeholder = (b"RIFF" + struct.pack("<I", 0xFFFFFFF0) + b"WAVE"
                   + b"fmt " + struct.pack("<I", 16)
                   + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                   + b"data" + struct.pack("<I", 0xFFFFFFFF))
    assert multimodal._wav_meta(placeholder) == (1, 8000, 16, 0)


def test_countmin_inner_product_respects_caller_persisted_grids(spark):
    """ADVICE r12 low: grids are CALLER-provided — one already
    persisted (at a non-default storage level) must be neither
    re-persisted (persist() at a different level raises 'cannot
    change storage level') nor entered into the tracked registry
    (a harness release_tracked() would drop the caller's blocks).
    Pin: the call succeeds, the caller's grid stays cached after
    release_tracked, and only internally-cold frames were tracked."""
    from pyspark import StorageLevel

    from stockanalyses_downloader_spark import caching
    from stockanalyses_downloader_spark.operators import sketches

    caching.release_tracked()
    a = spark.createDataFrame([(k,) for k in range(20)], "key int")
    b = spark.createDataFrame([(k % 5,) for k in range(20)], "key int")
    ga = sketches.countmin_build(a, "key", depth=3, width=64) \
        .persist(StorageLevel.MEMORY_ONLY)
    ga.count()   # materialize the caller's cache
    gb = sketches.countmin_build(b, "key", depth=3, width=64)
    est = sketches.countmin_inner_product(
        ga, gb).collect()[0]["est_join_size"]
    assert est >= 0
    caching.release_tracked()
    lvl = ga.storageLevel
    assert lvl.useMemory and not lvl.useDisk, (
        "caller-persisted grid was unpersisted or re-leveled by the "
        "operator/harness release")
    ga.unpersist(blocking=True)
