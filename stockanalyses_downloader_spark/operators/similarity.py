"""Similarity search over embedding columns (SURVEY.md §2.9 X3).

Three tiers, all with the same output contract (query_id,
neighbor_id, cosine, rank) and exact cosines:

  brute-force top-k   exact cosine against a broadcast query set —
                      the small-query-set / full-scan baseline. The
                      fact side streams partition-parallel; the only
                      shuffle is the final per-query top-k window over
                      (n_queries x k) rows.
  sign-LSH buckets    random-hyperplane signatures bucket candidates;
                      exact rerank inside buckets. Signature build is
                      a linear scan, the bucket join replaces the
                      cross product.
  IVF                 one index shape for every variant: ``build``
                      assigns the corpus to a centroid frame (inverted
                      lists + sizes), ``probe`` picks each query's
                      lists and joins them, ``topk`` ranks. Variants
                      differ only in their centroids (hash sample,
                      k-means, best-of-N k-means) and candidate score
                      (exact, int8 recon, PQ/ADC, PCA space), the
                      approximate ones shortlisting through ``topk``
                      before an exact rerank. ``save_ivf_index`` puts
                      the same lists and sizes at rest.

Dot products use sequential double folds over the vector arrays
(F.aggregate — JVM codegen, left-to-right), which the DuckDB oracle
reproduces exactly with list_reduce.
"""

from __future__ import annotations

import math
import os
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..caching import tracked_persist, tracked_scope
from ..sources import swap

# IVF probing widens past n_probe until the probed lists hold at least
# k * PROBE_OVERSAMPLE candidates (see probe).
PROBE_OVERSAMPLE = 4
# Sign-LSH: SIGN_PLANES hyperplanes drawn from _PLANE_SEED, banded into
# SIGN_BANDS band keys.
SIGN_PLANES = 16
SIGN_BANDS = 4
_PLANE_SEED = 42


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold — deterministic."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def _cos(a: str, b: str, an: str, bn: str) -> Column:
    """Cosine of vector columns ``a`` and ``b`` with norms ``an``/``bn``."""
    return dot(F.col(a), F.col(b)) / (F.col(an) * F.col(bn))


def vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, v, norm): the embedding as doubles plus its l2 norm,
    the row shape every scorer, centroid fit and IVF list reads."""
    e = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
    return e.withColumn("norm", l2_norm(F.col("v")))


def topk(scored: DataFrame, k: int, key: str = "query_id",
         score: str = "cosine") -> DataFrame:
    """The ``k`` best rows per ``key`` by ``score`` descending, ties to
    the lower neighbor_id, numbered 1..k in ``rank``. Every top-k of
    the similarity tiers is this one window: final answers and the
    oversampled shortlists of the approximate IVF scores alike."""
    w = Window.partitionBy(key).orderBy(F.col(score).desc(),
                                        F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def cosine_topk(embeddings: DataFrame, query_ids: list[int],
                k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for each query id; queries are
    excluded from the candidate set. Output: query_id, neighbor_id,
    cosine, rank."""
    e = vectors(embeddings)
    q = (e.filter(F.col("vec_id").isin(query_ids))
          .select(F.col("vec_id").alias("query_id"),
                  F.col("v").alias("qv"), F.col("norm").alias("qnorm")))
    c = (e.filter(~F.col("vec_id").isin(query_ids))
          .select(F.col("vec_id").alias("neighbor_id"),
                  F.col("v").alias("cv"), F.col("norm").alias("cnorm")))
    scored = (c.crossJoin(F.broadcast(q))
               .select("query_id", "neighbor_id",
                       _cos("qv", "cv", "qnorm", "cnorm").alias("cosine")))
    return topk(scored, k)


def hard_negative_topk(embeddings: DataFrame, anchor_ids: list[int],
                       k: int = 10, dup_threshold: float = 0.95) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each anchor, the k most cosine-similar vectors carrying a
    DIFFERENT label — the negatives that actually move a contrastive
    loss — with the near-duplicate band (cosine >= dup_threshold)
    excluded, since a "negative" that close is almost always a
    mislabeled paraphrase that poisons the batch (the standard
    false-negative filter in hard-mining pipelines).

    Scale shape is identical to cosine_topk: the anchor set is
    model-sized and broadcast, the corpus is scanned once, and the
    per-anchor top-k is a partitioned window — no shuffle of the
    corpus beyond the window's hash partition on anchor id. No IVF
    variant ships; a corpus too large to scan per anchor set would
    swap the brute scan for the IVF ``build``/``probe`` pair (the
    neighbor labels riding the lists as an extra column, the anchor
    labels joined back on query_id) and keep the label/dup filters
    verbatim.

    Output: anchor_id, anchor_label, neighbor_id, neighbor_label,
    cosine, rank."""
    e = embeddings.select("vec_id", "label",
                          as_double(F.col("embedding")).alias("v"))
    e = e.withColumn("norm", l2_norm(F.col("v")))
    a = (e.filter(F.col("vec_id").isin(anchor_ids))
          .select(F.col("vec_id").alias("anchor_id"),
                  F.col("label").alias("anchor_label"),
                  F.col("v").alias("av"), F.col("norm").alias("anorm")))
    c = (e.filter(~F.col("vec_id").isin(anchor_ids))
          .select(F.col("vec_id").alias("neighbor_id"),
                  F.col("label").alias("neighbor_label"),
                  F.col("v").alias("cv"), F.col("norm").alias("cnorm")))
    scored = (c.crossJoin(F.broadcast(a))
               .filter(F.col("neighbor_label") != F.col("anchor_label"))
               .select("anchor_id", "anchor_label",
                       "neighbor_id", "neighbor_label",
                       _cos("av", "cv", "anorm", "cnorm").alias("cosine"))
               .filter(F.col("cosine") < dup_threshold))
    return topk(scored, k, key="anchor_id")


def kmeans_centroids(embeddings: DataFrame, k: int = 16, n_iter: int = 4,
                     vec_col: str = "embedding",
                     portable: bool = False,
                     init_salt: str = "") -> DataFrame:
    """Lloyd's k-means, DataFrame-native: cosine assignment against
    broadcast centroids (one scan per iteration), centroid update as
    an element-wise mean via posexplode + DECIMAL accumulation
    (partitioning-independent, same trick as label_centroid_components)
    — the trained upgrade of ivf_topk's sampled centroids. Empty
    clusters keep their previous centroid.
    Returns (centroid_id, cv array<double>, cnorm).

    Init seeds from a hash-ordered TakeOrdered draw (``init_salt``
    varies the draw — the restart lever of kmeans_centroids_best_of).
    Every step is exact arithmetic in portable mode, so a DuckDB
    oracle replays the whole fit."""
    spark = embeddings.sparkSession
    e = embeddings.select("vec_id", as_double(F.col(vec_col)).alias("v"))
    e = tracked_persist(e.withColumn("norm", l2_norm(F.col("v"))))
    schema = "centroid_id int, cv array<double>, cnorm double"
    # init selection is a distributed TakeOrdered (orderBy+limit)
    # collected as k model-sized driver rows (the whitelisted collect
    # class); centroid ids are the collect order, i.e. the (hash, id)
    # ordering. portable=True draws the ordering from the md5-prefix
    # family so a DuckDB oracle can replay the whole training loop
    # (every later step — assignment argmax, DECIMAL-exact means — is
    # already engine-portable); xxhash64 stays the production default.
    if portable:
        from .sampling import hash_key
        order_expr = hash_key(F.col("vec_id"), init_salt)
    elif init_salt:
        order_expr = F.xxhash64(F.lit(init_salt), F.col("vec_id"))
    else:
        order_expr = F.xxhash64(F.col("vec_id"))
    cent_rows = [(i, [float(x) for x in r["v"]], float(r["norm"]))
                 for i, r in enumerate(
                     e.orderBy(order_expr, F.col("vec_id")).limit(k)
                      .select("v", "norm").collect())]
    # The Lloyd loop runs through MODEL-SIZED driver rows (k×d floats):
    # each round is ONE job, and every consumer's plan sees a flat
    # literal centroid table. Chaining per-round persisted frames
    # instead rendered the warm trained-IVF plan at 10k lines with 616
    # Exchanges. Empty clusters keep their previous centroid via the
    # dict default. Per-element DECIMAL(30,15) sums are exact, so
    # grouping cannot change them; the oracle hash certifies the fit.
    carr_schema = ("__cents array<struct<centroid_id:int,"
                   "cv:array<double>,cnorm:double>>")
    for _ in range(n_iter):
        # assignment against the same broadcast __cents array
        # nearest_centroid builds — but the one-row frame is assembled
        # driver-side as a LocalRelation, so the broadcast build is a
        # driver-local executeCollect with no aggregate job per round
        # (the per-row argmax fold is the broadcast-column shape that
        # measured fastest; an inline literal-array expression
        # measured 2-5x WORSE and wildly dispersed)
        carr_df = spark.createDataFrame(
            [([tuple(r) for r in cent_rows],)], carr_schema)
        best = F.array_max(F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                (dot(F.col("v"), c["cv"])
                 / (F.col("norm") * c["cnorm"])).alias("csim"),
                (-c["centroid_id"]).alias("negid"))))
        assigned = (e.crossJoin(F.broadcast(carr_df))
                    .select("v", (-best["negid"]).cast("int")
                            .alias("centroid_id")))
        # exact per-(centroid, pos) DECIMAL means; the k×d mean rows
        # are model-sized, so the array assembly and the l2 norm fold
        # run on the driver (Python float ops are the same IEEE
        # doubles evaluated in the same left-to-right order as an
        # in-plan F.aggregate fold — bit-identical, oracle-pinned)
        #
        # MEASURED NEGATIVE: one k-group aggregate with d sum/count
        # column pairs (d=64 gives 128 agg expressions) in place of the
        # posexplode means took the cell from 3.56 to 6.78 s. Per Lloyd
        # round on the sf0.1 embeddings (k=16, d=64) the wide aggregate
        # costs 0.94-1.22 s against 0.30-0.37 s for posexplode, and it
        # compiles 0 generated classes after the first round at either
        # codegen cache size, so compilation is not the cost (PERF.md,
        # "Generated-class cache"). The explode's map-side aggregate
        # already keeps the shuffle at k*d rows per partition. The
        # explode shape stays.
        pe = assigned.select(
            "centroid_id", F.posexplode("v").alias("pos", "x"))
        means = (pe.groupBy("centroid_id", "pos")
                 .agg((F.sum(F.col("x").cast("decimal(30,15)"))
                       .cast("double") / F.count("*")).alias("c")))
        got: dict[int, list] = {}
        for r in means.collect():
            got.setdefault(r["centroid_id"], []).append(
                (r["pos"], r["c"]))
        new_rows = []
        for cid, cv, cn in cent_rows:
            if cid in got:
                nv = [c for _, c in sorted(got[cid])]
                acc = 0.0
                for x in nv:
                    acc += x * x
                new_rows.append((cid, nv, math.sqrt(acc)))
            else:               # empty cluster: keep previous centroid
                new_rows.append((cid, cv, cn))
        cent_rows = new_rows
    # Deliberately NOT unpersisted: CacheManager dedups cache entries
    # by canonicalized plan, so an unpersist here would DROP the
    # caller's entry too whenever the caller persisted the same
    # (id, v, norm) projection — ivf_topk_pq persists `base` before
    # its fit, and the trained ivf_topk serve reads the projection the
    # fit just built. The frame stays in the tracked registry and is
    # freed with every other query-path persist (pinned by
    # test_kmeans_training_leaves_caller_cache_entry_alone).
    return spark.createDataFrame(cent_rows, schema)


def kmeans_centroids_best_of(embeddings: DataFrame, k: int = 16,
                             n_iter: int = 4, restarts: int = 3,
                             portable: bool = False) -> DataFrame:
    """Multi-restart k-means: train ``restarts`` models from
    independently-salted init draws and keep the one with the highest
    within-cluster similarity (the cosine analogue of scikit-learn's
    n_init/inertia rule). The objective — Σ over vectors of max cosine
    to any centroid — is DECIMAL-accumulated, so the argmax (ties →
    lowest restart index) is partitioning-independent and replays
    exactly in a DuckDB oracle.

    Why this and not a cleverer init: on the 200-vector sf0.001
    fixture the portable md5 draw trains to recall@10 0.76 where the
    xxhash64 draw reaches 0.84 — pure draw luck, and each draw's
    Lloyd run converges to its own local optimum (5 or 8 rounds: still
    0.76). A farthest-point init measured WORSE (0.72 vs 0.76): it
    seeds on outliers, which 3 rounds can't repair.
    Restart selection is the standard, scale-honest answer — at
    100 TB the fit runs on a corpus sample, so 3× a sample-sized
    training loop is noise while serving is untouched. Measured
    (trained-IVF serving recall@10, sf0.001/sf0.01): best-of-3 picks
    0.82/0.84 where the single md5 draw sat at 0.76/0.86-0.88 — the
    small-fixture floor rises above 0.80 without touching the
    large-fixture regime's serving path."""
    salts = [""] + [f"|r{i}" for i in range(1, restarts)]
    candidates = [kmeans_centroids(embeddings, k, n_iter,
                                   portable=portable, init_salt=s)
                  for s in salts]
    e = vectors(embeddings)
    objs = []
    for cent in candidates:
        # per-row max csim via the broadcast centroid array (the
        # nearest_centroid shape — no k× blowup, no shuffle), then
        # one DECIMAL sum; identical values to the grouped form
        carr = cent.agg(F.collect_list(
            F.struct("cv", "cnorm")).alias("__cents"))
        m = F.array_max(F.transform(
            F.col("__cents"),
            lambda c: dot(F.col("v"), c["cv"])
            / (F.col("norm") * c["cnorm"])))
        o = (e.crossJoin(F.broadcast(carr))
             .agg(F.sum(m.cast("decimal(30,15)")))
             .collect()[0][0])          # 1-row model-sized collect
        objs.append(o)
    best = max(range(len(objs)), key=lambda i: (objs[i], -i))
    for i, cent in enumerate(candidates):
        if i != best:
            cent.unpersist()
    return candidates[best]


def nearest_centroid(frame: DataFrame, cent: DataFrame) -> DataFrame:
    """Map-only nearest-centroid assignment: ONE broadcast row carries
    the whole centroid table as an array; a per-row fold scores every
    centroid and ``array_max`` picks by (csim desc, centroid_id asc) —
    exactly a windowed rank-1's tie order, with NO row blowup and NO
    shuffle, so assignment fuses into the corpus scan's codegen stage.
    The windowed form crossJoins k copies of every corpus row and
    re-partitions them by id to keep one: a k×-corpus exchange per
    Lloyd round and per lists build. Results are identical (same csim
    expression per pair, same tie-break) — pinned by the windowed-twin
    test and every IVF oracle hash. ``frame`` must carry (v, norm);
    stays fully lazy (the centroid array is an agg transformation)."""
    carr = cent.agg(F.collect_list(
        F.struct("centroid_id", "cv", "cnorm")).alias("__cents"))
    best = F.array_max(F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            (dot(F.col("v"), c["cv"]) / (F.col("norm") * c["cnorm"]))
            .alias("csim"),
            (-c["centroid_id"]).alias("negid"))))
    return (frame.crossJoin(F.broadcast(carr))
            .withColumn("centroid_id", (-best["negid"]).cast("int"))
            .drop("__cents"))


# --- IVF: one build, one probe, one top-k ----------------------------------

def sampled_centroids(e: DataFrame, n_centroids: int = 16,
                      portable: bool = False) -> DataFrame:
    """The untrained coarse quantizer: ``n_centroids`` rows of ``e``
    (vec_id, v, norm) picked by a hash of the id — a distributed
    TakeOrdered, LAZY (no action at construction, pinned by the no-job
    test). ``portable=True`` draws the ordering from the md5-prefix
    family (sampling.hash_key) so a DuckDB oracle can recompute the
    exact same sample; xxhash64 stays the default."""
    if portable:
        from .sampling import hash_key
        order = hash_key(F.col("vec_id"))
    else:
        order = F.xxhash64(F.col("vec_id"))
    return (e.orderBy(order, F.col("vec_id"))
            .limit(n_centroids)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("v").alias("cv"), F.col("norm").alias("cnorm")))


def build(corpus: DataFrame, cent: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Assign ``corpus`` rows (vec_id, v, norm, any extra columns) to
    their nearest centroid of ``cent`` (centroid_id, cv, cnorm).
    Returns (lists, sizes): the lists are the corpus columns plus
    list_id, persisted because the candidate join and the sizes
    aggregate both read them; sizes is (list_id, lsz), n_centroids
    rows. The in-memory tiers and the at-rest index (save/append)
    all build through here, so equal centroids give equal lists."""
    lists = tracked_persist(
        nearest_centroid(corpus, cent)
        .select(*corpus.columns, F.col("centroid_id").alias("list_id")))
    return lists, lists.groupBy("list_id").agg(F.count("*").alias("lsz"))


def probe(lists: DataFrame, sizes: DataFrame, cent: DataFrame,
          queries: DataFrame, k: int, n_probe: int) -> DataFrame:
    """IVF candidates: each query (vec_id, v, norm) ranks every
    centroid by cosine and probes its nearest lists — ``n_probe`` of
    them at least, and further down its ranking while the lists it
    already probes hold fewer than k * PROBE_OVERSAMPLE rows. The rule
    reads ``sizes``, an n_centroids-row broadcast, so nothing is
    counted or collected; once every list holds more than
    k * PROBE_OVERSAMPLE rows it probes exactly n_probe lists.

    The probes are model-sized (queries × probed lists), so they are
    broadcast into the join with the corpus-sized lists: the lists
    never shuffle, and when they are read from a list_id-partitioned
    index the broadcast prunes their partitions at run time. Every
    list row holds one list_id and every probe one (query, list), so
    no (query, neighbor) pair appears twice and no dedup is needed.

    Returns the lists' rows renamed (neighbor_id, cv2, cnorm2, their
    other columns, list_id) next to the probing query's
    (query_id, qv, qnorm)."""
    scored = (queries.crossJoin(F.broadcast(cent))
              .select("vec_id", "v", "norm", "centroid_id",
                      _cos("v", "cv", "norm", "cnorm").alias("csim")))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id"))
    cum_w = (Window.partitionBy("vec_id").orderBy("__r")
             .rowsBetween(Window.unboundedPreceding, -1))
    sz = sizes.select(F.col("list_id").alias("__sz_list"),
                      F.col("lsz").alias("__lsz"))
    probes = (scored.withColumn("__r", F.row_number().over(w))
              .join(F.broadcast(sz),
                    F.col("centroid_id") == F.col("__sz_list"), "left")
              .withColumn("__sz", F.coalesce("__lsz", F.lit(0)))
              .withColumn("__cum",
                          F.coalesce(F.sum("__sz").over(cum_w), F.lit(0)))
              .filter((F.col("__r") <= n_probe)
                      | (F.col("__cum") < k * PROBE_OVERSAMPLE))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("v").alias("qv"), F.col("norm").alias("qnorm"),
                      F.col("centroid_id").alias("list_id")))
    extra = [c for c in lists.columns
             if c not in ("vec_id", "v", "norm", "list_id")]
    c = lists.select(F.col("vec_id").alias("neighbor_id"),
                     F.col("v").alias("cv2"), F.col("norm").alias("cnorm2"),
                     *extra, "list_id")
    return c.join(F.broadcast(probes), "list_id")


def _rerank(shortlist: DataFrame, base: DataFrame, queries: DataFrame,
            k: int) -> DataFrame:
    """Exact cosine top-k of a (query_id, neighbor_id) shortlist whose
    lists did not carry the float vectors: they are fetched from
    ``base`` (vec_id, v, norm) for the shortlist only. The shortlist
    (queries × k × oversample rows) is broadcast, so the corpus is
    scanned in place instead of being exchanged by neighbor_id."""
    nv = base.select(F.col("vec_id").alias("neighbor_id"),
                     F.col("v").alias("cv2"), F.col("norm").alias("cnorm2"))
    qv = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("v").alias("qv"), F.col("norm").alias("qnorm"))
    exact = (F.broadcast(shortlist).join(nv, "neighbor_id")
             .join(F.broadcast(qv), "query_id")
             .select("query_id", "neighbor_id",
                     _cos("qv", "cv2", "qnorm", "cnorm2").alias("cosine")))
    return topk(exact, k)


def ivf_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
             n_centroids: int = 16, n_probe: int = 8,
             centroids: DataFrame | None = None,
             portable: bool = False) -> DataFrame:
    """IVF approximate top-k: partition the corpus into inverted lists
    by nearest centroid, probe only the lists nearest each query,
    exact cosine inside them; per-query work is
    corpus/n_centroids * n_probe.

    Centroids default to ``sampled_centroids`` (a hash sample of the
    corpus); pass ``centroids`` (e.g. ``kmeans_centroids``) for the
    trained shape. ``n_probe`` is a floor, widened per query by the
    coverage rule in ``probe``.

    The default n_probe=8 (half the default lists) reflects UNTRAINED
    centroids: a hash-sample of the corpus partitions the space much
    worse than Lloyd's iterations, so the probe fraction must be
    higher for the same recall (measured on the test corpus:
    sample+8 probes = 0.62 recall@10 vs kmeans+4 probes = 0.56,
    sample+4 probes = 0.30). Trained centroids are what make a small
    probe fraction honest."""
    e = tracked_persist(vectors(embeddings))
    cent = (sampled_centroids(e, n_centroids, portable) if centroids is None
            else centroids.select("centroid_id", "cv", "cnorm"))
    lists, sizes = build(e.filter(~F.col("vec_id").isin(query_ids)), cent)
    pairs = probe(lists, sizes, cent,
                  e.filter(F.col("vec_id").isin(query_ids)), k, n_probe)
    return topk(pairs.select(
        "query_id", "neighbor_id",
        _cos("qv", "cv2", "qnorm", "cnorm2").alias("cosine")), k)


def _plane_dot(v: Column, plane_id: int,
               portable: bool = False) -> Column:
    """Dot(v, r_plane) where the plane's i-th component is a
    deterministic pseudo-random double in [-1, 1) derived from
    xxhash64(_PLANE_SEED, plane_id, i) — or, with ``portable=True``,
    from the 24-bit md5 prefix of '{_PLANE_SEED}|{plane_id}|{i}'
    (DuckDB-recomputable; the sequential fold matches list_reduce's
    order, so even the sign of a near-zero dot agrees bit-for-bit
    across engines).

    The plane is generated IN-EXPRESSION via the index-aware transform
    lambda, so it adapts to the vector's dimensionality per row — no
    driver-side ``.first()`` dim probe, nothing runs at plan-build
    time, and the signature stage stays a linear scan."""
    if portable:
        def comp(i):
            h = F.md5(F.concat_ws(
                "|", F.lit(str(_PLANE_SEED)), F.lit(str(plane_id)),
                i.cast("string")).cast("binary"))
            return (F.conv(F.substring(h, 1, 6), 16, 10).cast("double")
                    / F.lit(float(1 << 24)) * 2.0 - 1.0)
    else:
        def comp(i):
            h = F.xxhash64(F.lit(_PLANE_SEED), F.lit(plane_id), i)
            return (F.shiftrightunsigned(h, 40)
                    .cast("double") / F.lit(float(1 << 24)) * 2.0 - 1.0)
    prods = F.transform(v, lambda x, i: x * comp(i))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def _band_structs(bits: Column) -> Column:
    """Split the SIGN_PLANES sign bits into SIGN_BANDS band-key
    structs."""
    r = SIGN_PLANES // SIGN_BANDS
    return F.transform(
        F.sequence(F.lit(0), F.lit(SIGN_BANDS - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.concat_ws("", F.transform(F.slice(bits, b * r + 1, r),
                                        lambda v: v.cast("string")))
             .alias("band_key")))


def signlsh_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
                 portable: bool = False) -> DataFrame:
    """Approximate top-k: random-hyperplane signature, banded buckets,
    exact cosine rerank within buckets.

    SIGN_PLANES=16 sign bits split into SIGN_BANDS=4 bands of 4 bits;
    a candidate shares >=1 band with the query. Recall tested against
    cosine_topk.
    ``portable=True`` draws the hyperplanes from the md5-prefix family
    so the whole pipeline (planes, sign bits, banding, candidates,
    exact cosine rerank) is DuckDB-recomputable."""
    e = vectors(embeddings)
    bits = F.array(*[(_plane_dot(F.col("v"), j, portable=portable) >= 0)
                     .cast("int") for j in range(SIGN_PLANES)])
    bands = _band_structs(bits)
    sig = e.select("vec_id", "v", "norm", F.explode(bands).alias("band")) \
           .select("vec_id", "v", "norm", "band.band_id", "band.band_key")

    q = (sig.filter(F.col("vec_id").isin(query_ids))
            .select(F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"), F.col("norm").alias("qnorm"),
                    "band_id", "band_key"))
    c = (sig.filter(~F.col("vec_id").isin(query_ids))
            .select(F.col("vec_id").alias("neighbor_id"),
                    F.col("v").alias("cv"), F.col("norm").alias("cnorm"),
                    "band_id", "band_key"))
    # broadcast the query bands (n_queries × n_bands rows at any
    # corpus size); the dedup STAYS: banding genuinely produces the
    # same (query, neighbor) pair from multiple bands.
    cand = (c.join(F.broadcast(q), ["band_id", "band_key"])
             .select("query_id", "neighbor_id", "qv", "qnorm", "cv", "cnorm")
             .dropDuplicates(["query_id", "neighbor_id"]))
    return topk(cand.select(
        "query_id", "neighbor_id",
        _cos("qv", "cv", "qnorm", "cnorm").alias("cosine")), k)


def cosine_near_dup_pairs(embeddings: DataFrame, block_cols: list[str],
                          threshold: float,
                          max_block_size: int | None = None) -> DataFrame:
    """All pairs with cosine >= threshold, blocked on ``block_cols``.

    Exact within blocks (self-join + sequential-fold cosine — the
    oracle-matched path). ``max_block_size`` is the 100 TB guard:
    blocks larger than it are routed through sign-LSH banding —
    candidates = pairs sharing (block, band_id, band_key), then the
    SAME exact-cosine verify — capping candidate generation at
    O(block * bands * bucket_width) instead of O(block^2). Routed
    blocks trade exact recall for boundedness (documented LSH miss
    rate); the oracled query keeps the guard off. Setting the guard
    makes construction EAGER by one metadata-plane job (the
    block-count aggregate deciding the routing); when no block is hot
    the sign-LSH subtree isn't even planned.

    Output: *block_cols, id_a, id_b, cosine."""
    v = embeddings.select(*block_cols, "vec_id",
                          as_double(F.col("embedding")).alias("v"))
    v = v.withColumn("norm", l2_norm(F.col("v")))
    if max_block_size is not None:
        # metadata-plane routing decision (same as
        # ngram_jaccard_pairs): the block-size aggregate is |blocks|
        # rows — when nothing exceeds the cap, skip planning the
        # sign-LSH subtree instead of scheduling its empty stages.
        sizes = tracked_persist(embeddings.groupBy(*block_cols)
                                .agg(F.count("*").alias("__bn")))
        if not (sizes.filter(F.col("__bn") > max_block_size)
                .select(*block_cols).take(1)):
            sizes.unpersist()   # nothing hot: no downstream reuse
            max_block_size = None
    if max_block_size is not None:
        v = v.join(F.broadcast(sizes), block_cols)
        hot = v.filter(F.col("__bn") > max_block_size).drop("__bn")
        v = v.filter(F.col("__bn") <= max_block_size).drop("__bn")
        bits = F.array(*[(_plane_dot(F.col("v"), j) >= 0).cast("int")
                         for j in range(SIGN_PLANES)])
        banded = (hot.select(*block_cols, "vec_id", "v", "norm",
                             F.explode(_band_structs(bits))
                              .alias("band"))
                  .select(*block_cols, "vec_id", "v", "norm",
                          "band.band_id", "band.band_key"))
        ha = banded.select(*block_cols, "band_id", "band_key",
                           F.col("vec_id").alias("id_a"),
                           F.col("v").alias("va"), F.col("norm").alias("na"))
        hb = banded.select(*block_cols, "band_id", "band_key",
                           F.col("vec_id").alias("id_b"),
                           F.col("v").alias("vb"), F.col("norm").alias("nb"))
        hot_pairs = (ha.join(hb, [*block_cols, "band_id", "band_key"])
                     .filter(F.col("id_a") < F.col("id_b"))
                     .dropDuplicates([*block_cols, "id_a", "id_b"]))
        hot_out = (hot_pairs.select(
                       *block_cols, "id_a", "id_b",
                       _cos("va", "vb", "na", "nb").alias("cosine"))
                   .filter(F.col("cosine") >= threshold))
    a = v.select(*block_cols, F.col("vec_id").alias("id_a"),
                 F.col("v").alias("va"), F.col("norm").alias("na"))
    b = v.select(*block_cols, F.col("vec_id").alias("id_b"),
                 F.col("v").alias("vb"), F.col("norm").alias("nb"))
    pairs = a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    out = (pairs.select(*block_cols, "id_a", "id_b",
                        _cos("va", "vb", "na", "nb").alias("cosine"))
           .filter(F.col("cosine") >= threshold))
    if max_block_size is not None:
        out = out.unionByName(hot_out)
    return out


def dimension_ranges(embeddings: DataFrame) -> DataFrame:
    """Per-dimension (min, max) over the corpus as a single broadcast-
    sized row {mins: array, maxs: array} — the calibration pass of
    scalar quantization. posexplode + groupBy(pos) shuffles only
    (pos, partial-min, partial-max) pairs (map-side combined), then
    the per-dim rows collapse into two ordered arrays. min/max are
    order-independent, so the result is partitioning-stable —
    no decimal-accumulation trick needed (contrast the centroid
    mean)."""
    per_dim = (embeddings
               .select(F.posexplode(as_double(F.col("embedding")))
                       .alias("pos", "x"))
               .groupBy("pos")
               .agg(F.min("x").alias("mn"), F.max("x").alias("mx")))
    return (per_dim
            .agg(F.sort_array(F.collect_list(F.struct("pos", "mn")))
                  .alias("mns"),
                 F.sort_array(F.collect_list(F.struct("pos", "mx")))
                  .alias("mxs"))
            .select(F.transform("mns", lambda s: s["mn"]).alias("mins"),
                    F.transform("mxs", lambda s: s["mx"]).alias("maxs")))


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Scalar (per-dimension min/max) int8 quantization:
    code_i = round((x_i - min_i) / (max_i - min_i) * 255), clamped to
    [0, 255]; degenerate dims (min == max) code to 0. 4x memory cut
    for ANN candidate storage at 100 TB — the codes array replaces the
    float vector in bucket storage, the float vector is fetched only
    for rerank. Reconstruction x'_i = min_i + code_i/255*(max_i-min_i)
    bounds per-dim error by half a step.

    Output: (vec_id, v, codes array<int>, recon array<double>). The
    calibration row rides along as a broadcast cross join; quantization
    itself is a per-row linear scan."""
    ranges = dimension_ranges(embeddings)
    v = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
    withr = v.crossJoin(F.broadcast(ranges))
    idx = F.sequence(F.lit(1), F.size("v"))

    def code(i):
        mn = F.element_at("mins", i)
        mx = F.element_at("maxs", i)
        x = F.element_at("v", i)
        raw = F.round((x - mn) / (mx - mn) * 255)
        return (F.when(mx == mn, F.lit(0))
                 .otherwise(F.least(F.greatest(raw, F.lit(0.0)),
                                    F.lit(255.0)))
                 .cast("int"))

    def recon(i):
        mn = F.element_at("mins", i)
        mx = F.element_at("maxs", i)
        return mn + F.element_at("codes", i).cast("double") / 255.0 * (mx - mn)

    coded = withr.withColumn("codes", F.transform(idx, code))
    return (coded
            .withColumn("recon", F.transform(idx, recon))
            .select("vec_id", "v", "codes", "recon"))


def ivf_topk_quantized(embeddings: DataFrame, query_ids: list[int],
                       k: int = 10,
                       centroids: DataFrame | None = None) -> DataFrame:
    """IVF with int8-quantized list storage: candidates inside the
    probed lists are first scored against the query on their
    RECONSTRUCTED (dequantized) vectors — the representation the
    inverted lists would actually hold at 100 TB, 4x smaller than
    floats — then only the ``k * 3`` best per query are
    re-scored exactly on the float vectors. The expensive exact dot
    product runs on an O(k) shortlist instead of every probed
    candidate; the codes path touches all candidates but reads int8.

    Lists: ``centroids`` (default: 16 sampled), 8 probes. Same output
    contract as ivf_topk/cosine_topk: (query_id, neighbor_id, cosine,
    rank) with EXACT cosines — quantization only affects which
    candidates reach the shortlist (recall pinned vs bruteforce in
    tests)."""
    qz = quantize_embeddings(embeddings)
    e = (qz.select("vec_id", "v", "recon")
         .withColumn("norm", l2_norm(F.col("v")))
         .withColumn("rnorm", l2_norm(F.col("recon"))))
    cent = sampled_centroids(e) if centroids is None else centroids
    lists, sizes = build(e.filter(~F.col("vec_id").isin(query_ids)), cent)
    pairs = probe(lists, sizes, cent,
                  e.filter(F.col("vec_id").isin(query_ids)), k, 8)
    approx = pairs.select(
        "query_id", "neighbor_id", "qv", "qnorm", "cv2", "cnorm2",
        _cos("qv", "recon", "qnorm", "rnorm").alias("approx_cos"))
    exact = topk(approx, k * 3, score="approx_cos").select(
        "query_id", "neighbor_id",
        _cos("qv", "cv2", "qnorm", "cnorm2").alias("cosine"))
    return topk(exact, k)


# --- Product quantization ---------------------------------------------------

def _subvectors(v: Column, m: int) -> Column:
    """Split ``v`` into m contiguous subvectors (array of structs
    (sub_id, sv)). Subvector width adapts per row (ceil(d/m)), so the
    operator stays lazy — no driver-side dim probe; the tail subspace
    may be narrower when m doesn't divide d."""
    ds = F.ceil(F.size(v) / F.lit(m)).cast("int")
    return F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.struct(s.cast("int").alias("sub_id"),
                               F.slice(v, s * ds + 1, ds).alias("sv"))),
        lambda st: F.size(st["sv"]) >= 1)


def _nearest_code(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Map-only per-subspace code assignment, the L2 twin of
    nearest_centroid: per-sub_id codebook ARRAYS (m rows total)
    broadcast-join on sub_id; a per-row fold computes every code's
    squared distance and ``array_min`` picks by (d2 asc, code_id asc)
    — the windowed rank-1's exact tie order with no ksub× row blowup
    and no shuffle (a windowed form explodes every subrow into ksub
    copies and re-partitions by (id, sub) to keep one). ``subs``
    must carry (sub_id, sv); adds ``code_id``."""
    cbarr = (codebooks.groupBy("sub_id")
             .agg(F.collect_list(F.struct("code_id", "cv"))
                  .alias("__codes")))
    best = F.array_min(F.transform(
        F.col("__codes"),
        lambda c: F.struct(
            F.aggregate(F.zip_with(F.col("sv"), c["cv"],
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda acc, t: acc + t).alias("d2"),
            c["code_id"].alias("code_id"))))
    return (subs.join(F.broadcast(cbarr), "sub_id")
            .withColumn("code_id", best["code_id"])
            .drop("__codes"))


def pq_codebooks(embeddings: DataFrame, m: int = 8, ksub: int = 16,
                 n_iter: int = 3,
                 vec_col: str = "embedding",
                 portable: bool = False) -> DataFrame:
    """Train product-quantization codebooks: an L2 k-means of ``ksub``
    centroids in EACH of the ``m`` subspaces — run as ONE joint Lloyd
    loop over all subspaces (the subspace id is just another grouping
    key), so the iteration count doesn't multiply by m. Deterministic
    init (per-subspace hash-ordered corpus sample) and DECIMAL mean
    accumulation, like kmeans_centroids.

    Returns (sub_id, code_id, cv array<double>, sqn double) — sqn is
    the centroid's squared norm, precomputed because ADC scoring
    reconstructs a candidate's norm as sqrt(sum of its codes' sqn).

    Scale: the codebook is m × ksub rows (model-sized); each Lloyd
    round scans the corpus subrows once against the broadcast
    codebook — identical cost shape to kmeans_centroids with
    k = m·ksub, and like it, a few rounds on a corpus SAMPLE is the
    production fit (the apply side never iterates)."""
    from .dedup import spread
    e = spread(embeddings.select("vec_id", as_double(F.col(vec_col))
                                 .alias("v"))
               .filter(F.size("v") >= 1))
    subs = tracked_persist(
        e.select("vec_id", F.explode(_subvectors(F.col("v"), m)).alias("p"))
        .select("vec_id", "p.sub_id", "p.sv"))

    # portable=True draws the init ordering from the md5-prefix family
    # so a DuckDB oracle can replay the whole subspace-Lloyd loop
    # (kmeans_centroids' rationale); xxhash64 stays the default
    if portable:
        from .sampling import hash_key
        order_expr = hash_key(F.col("vec_id"))
    else:
        order_expr = F.xxhash64(F.col("vec_id"))
    w = Window.partitionBy("sub_id").orderBy(order_expr, F.col("vec_id"))
    cb = (subs.withColumn("__r", F.row_number().over(w))
          .filter(F.col("__r") <= ksub)
          .select("sub_id", (F.col("__r") - 1).cast("int").alias("code_id"),
                  F.col("sv").alias("cv"))
          # localCheckpoint, not persist: the codebook is MODEL-sized
          # (m × ksub rows) and each Lloyd round's plan references the
          # previous round's twice (assignment + empty-cluster merge),
          # so an un-truncated lineage doubles per round — checkpoint
          # keeps every downstream plan flat (bpe.py's rationale)
          .localCheckpoint(eager=True))
    for _ in range(n_iter):
        # map-only argmin assignment (_nearest_code): no ksub×-subrows
        # exchange per Lloyd round
        assigned = _nearest_code(subs, cb).select("sub_id", "code_id",
                                                  "sv")
        means = (assigned
                 .select("sub_id", "code_id",
                         F.posexplode("sv").alias("pos", "x"))
                 .groupBy("sub_id", "code_id", "pos")
                 .agg((F.sum(F.col("x").cast("decimal(30,15)"))
                       .cast("double") / F.count("*")).alias("c")))
        newc = (means.groupBy("sub_id", "code_id")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s["c"]).alias("cv")))
        cb = (cb.select("sub_id", "code_id",
                        F.col("cv").alias("__old"))
              .join(newc, ["sub_id", "code_id"], "left")
              .select("sub_id", "code_id",
                      F.coalesce("cv", "__old").alias("cv"))
              .localCheckpoint(eager=True))
    subs.unpersist()
    return cb.withColumn("sqn", F.aggregate(
        "cv", F.lit(0.0), lambda acc, x: acc + x * x))


def pq_encode(embeddings: DataFrame, codebooks: DataFrame, m: int = 8,
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as m small codes — nearest (L2) codebook
    entry per subspace, codes ordered by sub_id. The 16–64× ANN
    storage compression tier: an int8-per-subspace codes array
    replaces the float vector in the inverted lists. Output:
    (vec_id, codes array<int>)."""
    e = embeddings.select("vec_id", as_double(F.col(vec_col)).alias("v")) \
                  .filter(F.size("v") >= 1)
    subs = (e.select("vec_id",
                     F.explode(_subvectors(F.col("v"), m)).alias("p"))
            .select("vec_id", "p.sub_id", "p.sv"))
    # map-only argmin (_nearest_code): no ksub× blowup, no shuffle
    # before the per-doc codes aggregate
    assigned = _nearest_code(subs,
                             codebooks.select("sub_id", "code_id", "cv"))
    return (assigned.groupBy("vec_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("sub_id", "code_id"))),
                lambda s: s["code_id"]).alias("codes")))


def ivf_topk_pq(embeddings: DataFrame, query_ids: list[int], k: int = 10,
                residual: bool = True,
                rotate: bool = True,
                portable: bool = False,
                centroids: DataFrame | None = None) -> DataFrame:
    """IVF with PRODUCT-QUANTIZED inverted lists + asymmetric distance
    (ADC) scoring + exact float rerank — the standard 100 TB ANN
    compression stack (IVF-PQ): lists hold m codes per vector (vs d
    floats — 32× at d=64, m=8), candidates are scored from a per-query
    lookup table of subspace partial dots, and only the k·12 best
    reach the float fetch + exact cosine. Fixed sizes: 8 probes, m=8
    subspaces of ksub=32 codes (3 Lloyd rounds). The coarse quantizer
    is ``centroids``; by default 16 k-means centroids trained in 3
    Lloyd rounds (a sampled quantizer caps recall at the untrained-IVF
    ceiling however fine the codes, so the IVF-PQ build trains it).

    RESIDUAL encoding — the full IVFADC formulation: codes quantize
    x − c(x) (the vector minus its coarse centroid) rather than x
    itself. The residual's spread is what remains AFTER the coarse
    quantizer explains the corpus structure, so the same m×ksub code
    budget covers a tighter cell. With a trained quantizer, residual
    coding plus the stored-norm layout reaches the uncompressed
    trained-IVF ceiling: measured recall@10 0.84/0.86 at
    sf0.001/sf0.01, identical to ivf_trained's exact-float lists, vs
    0.84/0.84 rotated-raw at the same n_probe and code budget. (With
    SAMPLED centroids residuals carry ~2x the raw variance and measure
    worse.) The remaining gap to brute force is the probe stage,
    shared by every IVF tier.

    ADC under residuals: approx_dot(q, x) = dot(q, c(x)) +
    Σ_s lut[q][s][codes[s]], where the coarse term is EXACT (one dot
    per query and centroid, model-sized) and
    lut[q][s][c] = dot((Rq)_s, codebook[s][c]) reconstructs
    dot(q, residual) in the rotated basis (R orthonormal, fitted on
    residuals, so dots are preserved). The denominator uses the
    STORED exact norm: the lists hold (codes, norm) — m code bytes
    plus one float per vector, the layout ScaNN-style serving indexes
    use — so quantization error is confined to the dot term. Partial
    sums accumulate in DECIMAL so shortlist membership is
    partitioning-order-independent. ``residual=False`` codes the raw
    rotated vectors (ann_recall_report reports both).

    OPQ-style rotation: coding runs in the variance-BALANCED
    eigenbasis (pca.pca_rotation_balanced) — a pure orthonormal
    rotation, so dot products and norms in rotated space EQUAL the
    original-space ones and ADC still approximates the true cosine;
    only the quantization cells improve (no subspace is stuck with
    all the high-variance dims). ``rotate=False`` keeps the identity
    basis, with no driver-side eigh in the plan (the oracled tier).

    Same output contract as cosine_topk: (query_id, neighbor_id,
    cosine, rank) with EXACT cosines — compression only affects which
    candidates reach the shortlist (recall floor pinned in tests)."""
    from .pca import pca_rotation_balanced, project_embeddings

    base = tracked_persist(vectors(embeddings))
    cent = (kmeans_centroids(embeddings, k=16, n_iter=3, portable=portable)
            if centroids is None else centroids)
    queries = base.filter(F.col("vec_id").isin(query_ids))
    # lists are assigned on the RAW vectors; the codes join onto them
    # afterwards (residuals need the assignment first)
    lists, sizes = build(base.filter(~F.col("vec_id").isin(query_ids)),
                         cent)
    cl = F.broadcast(cent.select(F.col("centroid_id").alias("list_id"),
                                 F.col("cv").alias("lcv")))
    if residual:
        rsrc = (lists.join(cl, "list_id")
                .select("vec_id",
                        F.zip_with("v", "lcv",
                                   lambda x, c: x - c).alias("rv0")))
    else:
        rsrc = lists.select("vec_id", F.col("v").alias("rv0"))
    if rotate:
        rot = pca_rotation_balanced(rsrc, 8, "rv0")
        zero = [0.0] * len(rot)  # uncentered: rotation must preserve dots
        rx = (project_embeddings(rsrc, zero, rot, "rv0")
              .withColumnRenamed("proj", "rv"))
        # the RAW query rotated through the residual-fitted basis (R is
        # orthonormal, so dot(q, r) = dot(Rq, Rr) whatever R was
        # fitted on)
        qrot = (project_embeddings(queries, zero, rot, "v")
                .withColumnRenamed("proj", "qrv"))
    else:
        rx = rsrc.withColumnRenamed("rv0", "rv")
        qrot = queries.select("vec_id", F.col("v").alias("qrv"))
    rx = tracked_persist(rx)
    cb = tracked_persist(
        pq_codebooks(rx, ksub=32, vec_col="rv", portable=portable))
    codes = pq_encode(rx, cb, vec_col="rv")
    lut = (qrot.select(F.col("vec_id").alias("query_id"),
                       F.explode(_subvectors(F.col("qrv"), 8)).alias("p"))
           .select("query_id", "p.sub_id", "p.sv")
           .join(F.broadcast(cb), "sub_id")
           .select("query_id", "sub_id", "code_id",
                   dot(F.col("sv"), F.col("cv")).alias("pdot")))
    pairs = probe(lists.join(codes, "vec_id"), sizes, cent, queries, k, 8)
    parts = (pairs.select("query_id", "neighbor_id", "list_id", "qnorm",
                          "cnorm2",
                          F.posexplode("codes").alias("sub_id", "code_id"))
             .join(F.broadcast(lut), ["query_id", "sub_id", "code_id"])
             .groupBy("query_id", "neighbor_id", "list_id")
             .agg(F.sum(F.col("pdot").cast("decimal(25,15)"))
                  .cast("double").alias("rdot"),
                  F.first("qnorm").alias("qnorm"),
                  F.first("cnorm2").alias("cnorm2")))
    if residual:
        qc = (queries.crossJoin(cl)
              .select(F.col("vec_id").alias("query_id"), "list_id",
                      dot(F.col("v"), F.col("lcv")).alias("cdot")))
        parts = (parts.join(F.broadcast(qc), ["query_id", "list_id"])
                 .withColumn("rdot", F.col("cdot") + F.col("rdot")))
    approx = parts.select(
        "query_id", "neighbor_id",
        (F.col("rdot") / (F.col("qnorm") * F.col("cnorm2")))
        .alias("approx_cos"))
    shortlist = topk(approx, k * 12, score="approx_cos") \
        .select("query_id", "neighbor_id")
    return _rerank(shortlist, base, queries, k)


# --- IVF index at rest: build once, serve many ------------------------------

@tracked_scope()
def save_ivf_index(embeddings: DataFrame, path: str,
                   n_centroids: int = 16, kmeans_iters: int = 4) -> None:
    """Materialize a trained IVF index AT REST: Lloyd centroids,
    per-list sizes, and the inverted lists themselves, the lists
    directory-partitioned BY list_id — so a later probe of 4 lists
    reads 4 directories and the other n_centroids-4 never touch disk
    (partition pruning on the index layout; cf. write_partitioned).

    This splits index BUILD cost (one k-means + one assignment pass)
    from QUERY cost, which ivf_topk pays per call by recomputing the
    assignment. Build nightly, serve all day.

    Layout: {path}/centroids (n rows), {path}/list_sizes (n rows),
    {path}/lists/list_id=*/ (corpus rows, vector+norm per id). The
    three are written together into a staging dir and swapped in as
    one (``sources.swap``): overwriting them one by one lets a crash
    leave new centroids next to old lists, and probes would then
    return wrong neighbors without any error.

    Runs in its own ``tracked_scope()``: what the build persists (the
    k-means fit's (id, v, norm) projection, the assigned lists) is
    corpus-sized and has no reader once the index is on disk."""
    cent = kmeans_centroids(embeddings, k=n_centroids, n_iter=kmeans_iters)
    lists, sizes = build(vectors(embeddings), cent)

    def write(tmp: str) -> None:
        cent.write.parquet(f"{tmp}/centroids")
        lists.write.partitionBy("list_id").parquet(f"{tmp}/lists")
        # sizes stored separately: the probe depth rule reads them
        # WITHOUT scanning the lists
        sizes.coalesce(1).write.parquet(f"{tmp}/list_sizes")
    swap.replace_dir(path, write)


@tracked_scope()
def append_to_ivf_index(spark, path: str, new_embeddings: DataFrame) -> None:
    """Incremental index maintenance: assign NEW vectors to the
    FROZEN stored centroids and APPEND them to the partitioned lists
    — today's ingest becomes searchable without rebuilding the index
    or rescanning the corpus (the nightly-rebuild/daily-append
    cadence every 100 TB ANN deployment runs). The list_sizes table
    is updated by ADDITION (old sizes + the delta's per-list counts
    — an n_centroids-row merge, collected driver-side because the
    sizes frame is model-sized by construction and its output path
    must be overwritten while still readable).

    The deliberate trade: appended mass does NOT move centroids, so
    assignment quality degrades as the corpus drifts from the
    training snapshot — rebuild (save_ivf_index) on a cadence chosen
    by drift, append in between. Caller owns id uniqueness across
    appends (same contract as any upsert-free log). Runs in its own
    ``tracked_scope()``, so the delta's persisted lists are released
    once the append lands."""
    swap.recover(path)
    cent = spark.read.parquet(f"{path}/centroids")
    _recover_list_sizes(spark, path)
    lists, delta = build(vectors(new_embeddings), cent)
    # Intent marker BEFORE the lists append: a crash between the
    # append committing and the sizes swap completing leaves NO swap
    # artifact — the sizes table is intact but silently stale against
    # the lists. The marker makes that window detectable: recovery
    # rebuilds sizes from the lists (ground truth) whenever a marker
    # survives; it is removed only after the swap lands.
    marker = os.path.join(path, f".sizes-pending-{uuid.uuid4().hex[:8]}")
    open(marker, "w").close()
    lists.write.mode("append").partitionBy("list_id") \
        .parquet(f"{path}/lists")
    old = {r["list_id"]: r["lsz"] for r in
           spark.read.parquet(f"{path}/list_sizes").collect()}
    for r in delta.collect():
        old[r["list_id"]] = old.get(r["list_id"], 0) + r["lsz"]
    _swap_in_list_sizes(
        spark.createDataFrame([(int(k), int(v)) for k, v in old.items()],
                              "list_id int, lsz long"), path)
    os.remove(marker)


def _swap_in_list_sizes(sizes: DataFrame, path: str) -> None:
    """Atomic replacement of {path}/list_sizes via ``sources.swap``: a
    reader never observes a half-written sizes table and a crash
    mid-swap never destroys the only copy — a plain mode('overwrite')
    deletes the directory BEFORE writing, so a crash there leaves the
    index's lists appended but its sizes table gone."""
    swap.replace_dir(f"{path}/list_sizes",
                     sizes.coalesce(1).write.mode("overwrite").parquet)


def _recover_list_sizes(spark, path: str) -> None:
    """Crash recovery for the sizes swap: any leftover __tmp-/__old-
    artifact (or a missing sizes table) means a prior append died
    mid-maintenance — and because the LISTS append commits before the
    sizes swap, neither the old nor the staged sizes can be trusted
    against the lists on disk. Rebuild the model-sized table from the
    lists themselves (the ground truth — one scan of the index, paid
    only on the rare recovery path), then swap it in atomically and
    sweep the stale artifacts."""
    dest = f"{path}/list_sizes"
    # a surviving intent marker = a prior append died AFTER its lists
    # append committed but BEFORE its sizes swap landed (no swap
    # artifact exists in that window; the sizes table is intact but
    # stale against the lists)
    pending = [e for e in os.listdir(path)
               if e.startswith(".sizes-pending-")]
    if (not swap.stale_artifacts(dest) and not pending
            and os.path.exists(dest)):
        return
    rebuilt = (spark.read.parquet(f"{path}/lists")
               .groupBy("list_id").agg(F.count("*").alias("lsz")))
    _swap_in_list_sizes(rebuilt, path)
    swap.recover(dest)      # dest exists now: sweeps every artifact
    for e in pending:
        os.remove(os.path.join(path, e))


def ivf_topk_from_index(spark, path: str, queries: DataFrame,
                        k: int = 10, n_probe: int = 4) -> DataFrame:
    """Serve top-k from a saved index — queries (query_id, embedding)
    arrive as their own frame (the serving reality: they were never in
    the corpus scan). The stored centroids, sizes and lists go through
    the same ``probe`` and ``topk`` as ivf_topk, so an index saved from
    a corpus serves exactly the rows ivf_topk returns over that corpus
    with the same centroids and n_probe. The broadcast probes turn into
    a Dynamic Partition Pruning filter on the lists scan: only probed
    list_id directories are read, with no driver-side collect anywhere
    in the serve path (plan-pinned)."""
    swap.recover(path)
    q = vectors(queries.select(F.col("query_id").alias("vec_id"),
                               "embedding"))
    pairs = probe(spark.read.parquet(f"{path}/lists"),
                  spark.read.parquet(f"{path}/list_sizes"),
                  spark.read.parquet(f"{path}/centroids"), q, k, n_probe)
    return topk(pairs.select(
        "query_id", "neighbor_id",
        _cos("qv", "cv2", "qnorm", "cnorm2").alias("cosine")), k)
