"""Similarity search over embedding columns (SURVEY.md §2.9 X3).

Two tiers:

  brute-force top-k   exact cosine against a broadcast query set —
                      the small-query-set / full-scan baseline. The
                      fact side streams partition-parallel; the only
                      shuffle is the final per-query top-k window over
                      (n_queries x k) rows.
  sign-LSH buckets    random-hyperplane signatures bucket candidates;
                      exact rerank inside buckets. The 100 TB path:
                      signature build is a linear scan, the bucket
                      join replaces the cross product.

Dot products use sequential double folds over the vector arrays
(F.aggregate — JVM codegen, left-to-right), which the DuckDB oracle
reproduces exactly with list_reduce.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..caching import tracked_persist
from ..sources import swap


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold — deterministic."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query id; queries are
    excluded from the candidate set. Output: query_id, neighbor_id,
    cosine, rank."""
    e = embeddings.select(id_col, as_double(F.col(vec_col)).alias("v"))
    e = e.withColumn("norm", l2_norm(F.col("v")))
    q = (e.filter(F.col(id_col).isin(query_ids))
          .select(F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
                  F.col("norm").alias("qnorm")))
    c = (e.filter(~F.col(id_col).isin(query_ids))
          .select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"),
                  F.col("norm").alias("cnorm")))
    scored = (c.crossJoin(F.broadcast(q))
               .select("query_id", "neighbor_id",
                       (dot(F.col("qv"), F.col("cv"))
                        / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def hard_negative_topk(embeddings: DataFrame, anchor_ids: list[int],
                       k: int = 10, dup_threshold: float = 0.95,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
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
    corpus beyond the window's hash partition on anchor id. At 100 TB
    you swap the brute scan for the IVF probe path
    (_ivf_lists_probes) and keep the label/dup filters verbatim; the
    brute variant stays the recall oracle.

    Output: anchor_id, anchor_label, neighbor_id, neighbor_label,
    cosine, rank."""
    e = embeddings.select(id_col, label_col,
                          as_double(F.col(vec_col)).alias("v"))
    e = e.withColumn("norm", l2_norm(F.col("v")))
    a = (e.filter(F.col(id_col).isin(anchor_ids))
          .select(F.col(id_col).alias("anchor_id"),
                  F.col(label_col).alias("anchor_label"),
                  F.col("v").alias("av"), F.col("norm").alias("anorm")))
    c = (e.filter(~F.col(id_col).isin(anchor_ids))
          .select(F.col(id_col).alias("neighbor_id"),
                  F.col(label_col).alias("neighbor_label"),
                  F.col("v").alias("cv"), F.col("norm").alias("cnorm")))
    scored = (c.crossJoin(F.broadcast(a))
               .filter(F.col("neighbor_label") != F.col("anchor_label"))
               .select("anchor_id", "anchor_label",
                       "neighbor_id", "neighbor_label",
                       (dot(F.col("av"), F.col("cv"))
                        / (F.col("anorm") * F.col("cnorm"))).alias("cosine"))
               .filter(F.col("cosine") < dup_threshold))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def hard_negative_topk_ivf(embeddings: DataFrame, anchor_ids: list[int],
                           k: int = 10, dup_threshold: float = 0.95,
                           n_centroids: int = 16, n_probe: int = 8,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           label_col: str = "label",
                           centroids: DataFrame | None = None,
                           probe_oversample: int = 4) -> DataFrame:
    """The 100 TB path for hard-negative mining: the same IVF
    partition/probe machinery as ivf_topk (inverted lists on a
    broadcast centroid set, adaptive probe depth), with the label
    riding the lists via the ``carry`` seam so the different-label
    and near-dup-band filters run INSIDE the probed candidate join —
    per-anchor work is corpus/n_centroids * n_probe, never the full
    scan the brute variant pays. Same output shape as
    hard_negative_topk, which remains the recall oracle (floor pinned
    in tests)."""
    e = embeddings.select(id_col, F.col(label_col).alias("__lbl"),
                          as_double(F.col(vec_col)).alias("v"))
    e = tracked_persist(e.withColumn("norm", l2_norm(F.col("v"))))
    if centroids is None:
        cent = _sampled_centroids(e, n_centroids, id_col)
    else:
        cent = centroids.select("centroid_id", "cv", "cnorm")
    lists, probes = _ivf_lists_probes(
        e, cent, anchor_ids, k, n_probe, probe_oversample, id_col,
        ["__lbl"])
    q = probes.select(F.col(id_col).alias("anchor_id"),
                      F.col("__lbl").alias("anchor_label"),
                      F.col("v").alias("av"),
                      F.col("norm").alias("anorm"), "list_id")
    c = lists.select(F.col(id_col).alias("neighbor_id"),
                     F.col("__lbl").alias("neighbor_label"),
                     F.col("v").alias("cv2"),
                     F.col("norm").alias("cnorm2"), "list_id")
    # r13 optimization round (guide §3): the probe side is ALWAYS
    # model-sized (n_anchors × probed lists), the lists side is the
    # corpus — broadcast the probes so the candidate join never
    # shuffles the inverted lists (the unhinted plan picked a
    # SortMergeJoin and exchanged the full corpus by list_id). No
    # dedup needed either: every vector holds exactly one list_id and
    # probes carry at most one row per (anchor, list), so the join
    # cannot produce an (anchor, neighbor) pair twice — the old
    # dropDuplicates was a no-op full exchange + aggregate (same
    # argument as ivf_topk's, removed earlier this round).
    scored = (c.join(F.broadcast(q), "list_id")
              .filter(F.col("neighbor_label") != F.col("anchor_label"))
              .select("anchor_id", "anchor_label",
                      "neighbor_id", "neighbor_label",
                      (dot(F.col("av"), F.col("cv2"))
                       / (F.col("anorm") * F.col("cnorm2"))).alias("cosine"))
              .filter(F.col("cosine") < dup_threshold))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def kmeans_centroids(embeddings: DataFrame, k: int = 16, n_iter: int = 4,
                     id_col: str = "vec_id",
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
    e = embeddings.select(id_col, as_double(F.col(vec_col)).alias("v"))
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
        order_expr = hash_key(F.col(id_col), init_salt)
    elif init_salt:
        order_expr = F.xxhash64(F.lit(init_salt), F.col(id_col))
    else:
        order_expr = F.xxhash64(F.col(id_col))
    cent_rows = [(i, [float(x) for x in r["v"]], float(r["norm"]))
                 for i, r in enumerate(
                     e.orderBy(order_expr, F.col(id_col)).limit(k)
                      .select("v", "norm").collect())]
    # The Lloyd loop runs through MODEL-SIZED driver rows (k×d floats):
    # each round is ONE job, and every consumer's plan sees a flat
    # literal centroid table instead of a stack of per-round persisted
    # frames (that shape rendered the warm trained-IVF plan at 10k
    # lines / 616 Exchanges, r13). Empty clusters keep their previous
    # centroid via the dict default. Per-element DECIMAL(30,15) sums
    # are exact, so grouping cannot change them; the oracle hash
    # certifies the whole fit.
    import math
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
        # MEASURED NEGATIVE (r14, VERDICT r13 #3's "collapse the
        # posexplode means into one wide aggregate" experiment): a
        # k-group aggregate with d sum/count column pairs (d=64 ⇒ 128
        # agg expressions) REGRESSED the cell 3.56 → 6.78 s — per-round
        # plan analysis + codegen compilation of the wide aggregate
        # (~1 s/round, isolated A/B: 0.43 s posexplode vs 0.96-1.26 s
        # wide on the same assignment frame) swamps the explode's row
        # blowup at any model-sized k·d, and the blowup's map-side agg
        # already keeps the shuffle at k·d rows per partition. The
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
    # Deliberately NOT unpersisted (r13 optimization round):
    # CacheManager dedups cache entries by canonicalized plan, so an
    # unpersist here DROPS the caller's entry too whenever the caller
    # persisted the same (id, v, norm) projection — ivf_topk_pq/
    # pca_ivf_topk persist `base` before training and were left
    # running their whole lists/probes/codes build uncached; the
    # trained ivf_topk serve half re-scanned parquet and
    # re-materialized the projection the fit had just built; best-of-N
    # restarts re-materialized it per candidate. The frame stays in
    # the tracked registry, so the harness release_tracked() frees it
    # exactly like every other query-path persist.
    return spark.createDataFrame(cent_rows, schema)


def kmeans_centroids_best_of(embeddings: DataFrame, k: int = 16,
                             n_iter: int = 4, restarts: int = 3,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             portable: bool = False) -> DataFrame:
    """Multi-restart k-means (VERDICT r8 #2, the fix that MEASURED
    best): train ``restarts`` models from independently-salted init
    draws and keep the one with the highest within-cluster similarity
    (the cosine analogue of scikit-learn's n_init/inertia rule). The
    objective — Σ over vectors of max cosine to any centroid — is
    DECIMAL-accumulated, so the argmax (ties → lowest restart index)
    is partitioning-independent and replays exactly in a DuckDB
    oracle.

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
    candidates = [kmeans_centroids(embeddings, k, n_iter, id_col,
                                   vec_col, portable=portable,
                                   init_salt=s)
                  for s in salts]
    e = embeddings.select(id_col, as_double(F.col(vec_col)).alias("v"))
    e = e.withColumn("norm", l2_norm(F.col("v")))
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


def nearest_centroid(frame: DataFrame, cent: DataFrame,
                     out_col: str = "centroid_id") -> DataFrame:
    """Map-only nearest-centroid assignment (r9): ONE broadcast row
    carries the whole centroid table as an array; a per-row fold
    scores every centroid and ``array_max`` picks by (csim desc,
    centroid_id asc) — exactly the windowed rank-1's tie order, with
    NO row blowup and NO shuffle. The previous form crossJoined k
    copies of every corpus row and re-partitioned them by id just to
    keep one: a k×-corpus exchange per assignment (per Lloyd round,
    per lists build — the dominant shuffle of every IVF tier at
    100 TB) that this removes; assignment now fuses into the corpus
    scan's codegen stage. Results are identical (same csim
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
            .withColumn(out_col, (-best["negid"]).cast("int"))
            .drop("__cents"))


def _ivf_lists_probes(e: DataFrame, cent: DataFrame, query_ids: list[int],
                      k: int, n_probe: int, probe_oversample: int,
                      id_col: str, carry: list[str]):
    """Shared IVF partition/probe machinery (factored r5 — three
    variants repeated it verbatim): assign every non-query row to its
    nearest centroid ("v"/"norm" are the ASSIGNMENT vector and norm;
    ``carry`` columns ride along untouched), persist the inverted
    lists (they feed both the candidate side and the list-size
    aggregate — one scan), and compute each query's probe set with
    the adaptive depth rule: keep probing down the centroid ranking
    past the n_probe floor while the lists probed so far hold fewer
    than k * probe_oversample candidates (computed IN-PLAN from the
    lists' own sizes via a broadcast n_centroids-row aggregate, so
    construction stays lazy). Returns (lists, probes), both shaped
    (id_col, v, norm, *carry, list_id).

    r9: the LISTS side (corpus-sized, needs only the argmax) assigns
    via the map-only nearest_centroid — no k× row blowup, no
    shuffle; the windowed full ranking survives only on the PROBES
    side, which genuinely needs the ordering and runs over the
    n_queries × k rows only."""
    def ranked(frame: DataFrame) -> DataFrame:
        scored = (frame.crossJoin(F.broadcast(cent))
                  .select(frame[id_col], "v", "norm", *carry, "centroid_id",
                          (dot(F.col("v"), F.col("cv"))
                           / (F.col("norm") * F.col("cnorm"))).alias("csim")))
        w = Window.partitionBy(id_col).orderBy(
            F.col("csim").desc(), F.col("centroid_id"))
        return scored.withColumn("__r", F.row_number().over(w))

    lists = tracked_persist(
        nearest_centroid(e.filter(~F.col(id_col).isin(query_ids)), cent)
        .select(id_col, "v", "norm", *carry,
                F.col("centroid_id").alias("list_id")))
    list_sizes = (lists.groupBy("list_id")
                  .agg(F.count("*").alias("__lsz"))
                  .withColumnRenamed("list_id", "__sz_list"))
    cum_w = (Window.partitionBy(id_col).orderBy("__r")
             .rowsBetween(Window.unboundedPreceding, -1))
    probes = (ranked(e.filter(F.col(id_col).isin(query_ids)))
              .join(F.broadcast(list_sizes),
                    F.col("centroid_id") == F.col("__sz_list"), "left")
              .withColumn("__sz", F.coalesce("__lsz", F.lit(0)))
              .withColumn("__cum",
                          F.coalesce(F.sum("__sz").over(cum_w), F.lit(0)))
              .filter((F.col("__r") <= n_probe)
                      | (F.col("__cum") < k * probe_oversample))
              .select(id_col, "v", "norm", *carry,
                      F.col("centroid_id").alias("list_id")))
    return lists, probes


def _sampled_centroids(e: DataFrame, n_centroids: int, id_col: str,
                       portable: bool = False) -> DataFrame:
    """Deterministic pseudo-random corpus sample as centroids — a
    distributed TakeOrdered on a hash of the id; LAZY (no action at
    construction, pinned by the no-job test). ``portable=True`` draws
    the ordering from the md5-prefix family (sampling.hash_key) so a
    DuckDB oracle can recompute the exact same sample — the same
    oracle-mode/production-mode split as the MinHash/sign-LSH/SimHash
    tiers (xxhash64 stays the default)."""
    if portable:
        from .sampling import hash_key
        order = hash_key(F.col(id_col))
    else:
        order = F.xxhash64(F.col(id_col))
    return (e.orderBy(order, F.col(id_col))
            .limit(n_centroids)
            .select(F.col(id_col).alias("centroid_id"),
                    F.col("v").alias("cv"), F.col("norm").alias("cnorm")))


def ivf_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
             n_centroids: int = 16, n_probe: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: DataFrame | None = None,
             probe_oversample: int = 4,
             portable: bool = False) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted
    lists by nearest centroid, probe only the lists nearest each
    query, exact-rerank inside them.

    Centroids are a deterministic sample of the corpus itself (every
    floor(N/n_centroids)-th vector by id) — at 100 TB you'd k-means
    them, but assignment, probing, and rerank (the distributed parts)
    are identical. The corpus scan computes one cheap argmin vs a
    broadcast centroid set; the probe join replaces the cross product,
    so per-query work is corpus/n_centroids * n_probe.

    ``n_probe`` is a FLOOR, not the whole story: fixed probe counts
    are corpus-size-blind — at small N (or with skewed lists) 4/16
    lists may hold fewer than k candidates and recall collapses. Each
    query therefore keeps probing down its centroid ranking until the
    lists already probed hold >= k * probe_oversample candidates.
    The cumulative-coverage rule is computed IN-PLAN from the inverted
    lists' own sizes (an n_centroids-row broadcast aggregate), so
    construction stays lazy (no driver-side count); at 100 TB each
    list dwarfs k * probe_oversample and the rule degenerates to
    exactly n_probe probes — it only ever widens tiny/skewed setups.

    The default n_probe=8 (half the default lists) reflects UNTRAINED
    centroids: a hash-sample of the corpus partitions the space much
    worse than Lloyd's iterations, so the probe fraction must be
    higher for the same recall (measured on the test corpus:
    sample+8 probes = 0.62 recall@10 vs kmeans+4 probes = 0.56,
    sample+4 probes = 0.30). Pass ``centroids=kmeans_centroids(...)``
    and n_probe=4 for the production shape — trained centroids are
    what make a small probe fraction honest."""
    e = embeddings.select(id_col, as_double(F.col(vec_col)).alias("v"))
    e = tracked_persist(e.withColumn("norm", l2_norm(F.col("v"))))

    # default centroids: deterministic lazy hash-sample (see
    # _sampled_centroids). Pass ``centroids`` (e.g. from
    # kmeans_centroids) for the trained variant; assignment/probe/
    # rerank are identical either way.
    if centroids is None:
        cent = _sampled_centroids(e, n_centroids, id_col, portable)
    else:
        cent = centroids.select("centroid_id", "cv", "cnorm")

    lists, probes = _ivf_lists_probes(
        e, cent, query_ids, k, n_probe, probe_oversample, id_col, [])
    q = probes.select(F.col(id_col).alias("query_id"),
                      F.col("v").alias("qv"), F.col("norm").alias("qnorm"),
                      "list_id")
    c = lists.select(F.col(id_col).alias("neighbor_id"),
                     F.col("v").alias("cv2"), F.col("norm").alias("cnorm2"),
                     "list_id")
    # no dedup needed (r13 optimization round): every corpus vector
    # holds exactly ONE list_id (nearest_centroid argmax) and probes
    # carry at most one row per (query, list), so the join cannot
    # produce a (query, neighbor) pair twice — the old
    # dropDuplicates([query_id, neighbor_id]) was a no-op that cost a
    # full exchange + aggregate per serve (guide §2.4: a `distinct` on
    # data that is already unique). The multi-band LSH tiers
    # (signlsh_topk) keep theirs: banding genuinely duplicates pairs.
    # broadcast the model-sized probe side (guide §3, r13 optimization
    # round): q is n_queries × probed lists at ANY corpus size, while
    # c is the corpus-sized inverted lists — without the hint the plan
    # sort-merge-joined on list_id, i.e. exchanged + sorted the whole
    # corpus to meet a handful of probe rows.
    scored = (c.join(F.broadcast(q), "list_id")
              .select("query_id", "neighbor_id",
                      (dot(F.col("qv"), F.col("cv2"))
                       / (F.col("qnorm") * F.col("cnorm2"))).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def _plane_dot(v: Column, plane_id: int, seed: int = 42,
               portable: bool = False) -> Column:
    """Dot(v, r_plane) where the plane's i-th component is a
    deterministic pseudo-random double in [-1, 1) derived from
    xxhash64(seed, plane_id, i) — or, with ``portable=True``, from the
    24-bit md5 prefix of '{seed}|{plane_id}|{i}' (DuckDB-recomputable;
    the sequential fold matches list_reduce's order, so even the sign
    of a near-zero dot agrees bit-for-bit across engines).

    The plane is generated IN-EXPRESSION via the index-aware transform
    lambda, so it adapts to the vector's dimensionality per row — no
    driver-side ``.first()`` dim probe, nothing runs at plan-build
    time, and the signature stage stays a linear scan."""
    if portable:
        def comp(i):
            h = F.md5(F.concat_ws(
                "|", F.lit(str(seed)), F.lit(str(plane_id)),
                i.cast("string")).cast("binary"))
            return (F.conv(F.substring(h, 1, 6), 16, 10).cast("double")
                    / F.lit(float(1 << 24)) * 2.0 - 1.0)
    else:
        def comp(i):
            return (F.shiftrightunsigned(
                        F.xxhash64(F.lit(seed), F.lit(plane_id), i), 40)
                    .cast("double") / F.lit(float(1 << 24)) * 2.0 - 1.0)
    prods = F.transform(v, lambda x, i: x * comp(i))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def _band_structs(bits: Column, n_planes: int, n_bands: int) -> Column:
    """Split a bit array into n_bands band-key structs."""
    r = n_planes // n_bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.concat_ws("", F.transform(F.slice(bits, b * r + 1, r),
                                        lambda v: v.cast("string")))
             .alias("band_key")))


def signlsh_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
                 n_planes: int = 16, n_bands: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 portable: bool = False) -> DataFrame:
    """Approximate top-k: random-hyperplane signature, banded buckets,
    exact cosine rerank within buckets.

    n_planes=16 split into n_bands bands of 4 bits; a candidate shares
    >=1 band with the query. Recall tested against cosine_topk.
    ``portable=True`` draws the hyperplanes from the md5-prefix family
    so the whole pipeline (planes, sign bits, banding, candidates,
    exact cosine rerank) is DuckDB-recomputable."""
    e = embeddings.select(id_col, as_double(F.col(vec_col)).alias("v"))
    e = e.withColumn("norm", l2_norm(F.col("v")))
    bits = F.array(*[(_plane_dot(F.col("v"), j, portable=portable) >= 0)
                     .cast("int") for j in range(n_planes)])
    bands = _band_structs(bits, n_planes, n_bands)
    sig = e.select(id_col, "v", "norm", F.explode(bands).alias("band")) \
           .select(id_col, "v", "norm", "band.band_id", "band.band_key")

    q = (sig.filter(F.col(id_col).isin(query_ids))
            .select(F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
                    F.col("norm").alias("qnorm"), "band_id", "band_key"))
    c = (sig.filter(~F.col(id_col).isin(query_ids))
            .select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"),
                    F.col("norm").alias("cnorm"), "band_id", "band_key"))
    # broadcast the query bands (n_queries × n_bands rows at any
    # corpus size — guide §3); the dedup STAYS: banding genuinely
    # produces the same (query, neighbor) pair from multiple bands.
    cand = (c.join(F.broadcast(q), ["band_id", "band_key"])
             .select("query_id", "neighbor_id", "qv", "qnorm", "cv", "cnorm")
             .dropDuplicates(["query_id", "neighbor_id"]))
    scored = cand.select(
        "query_id", "neighbor_id",
        (dot(F.col("qv"), F.col("cv"))
         / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def cosine_near_dup_pairs(embeddings: DataFrame, block_cols: list[str],
                          threshold: float, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          max_block_size: int | None = None,
                          n_planes: int = 16, n_bands: int = 4) -> DataFrame:
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
    v = embeddings.select(*block_cols, id_col,
                          as_double(F.col(vec_col)).alias("v"))
    v = v.withColumn("norm", l2_norm(F.col("v")))
    if max_block_size is not None:
        # metadata-plane routing decision (r10, same as
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
                         for j in range(n_planes)])
        banded = (hot.select(*block_cols, id_col, "v", "norm",
                             F.explode(_band_structs(bits, n_planes, n_bands))
                              .alias("band"))
                  .select(*block_cols, id_col, "v", "norm",
                          "band.band_id", "band.band_key"))
        ha = banded.select(*block_cols, "band_id", "band_key",
                           F.col(id_col).alias("id_a"),
                           F.col("v").alias("va"), F.col("norm").alias("na"))
        hb = banded.select(*block_cols, "band_id", "band_key",
                           F.col(id_col).alias("id_b"),
                           F.col("v").alias("vb"), F.col("norm").alias("nb"))
        hot_pairs = (ha.join(hb, [*block_cols, "band_id", "band_key"])
                     .filter(F.col("id_a") < F.col("id_b"))
                     .dropDuplicates([*block_cols, "id_a", "id_b"]))
        hot_out = (hot_pairs.select(
                       *block_cols, "id_a", "id_b",
                       (dot(F.col("va"), F.col("vb"))
                        / (F.col("na") * F.col("nb"))).alias("cosine"))
                   .filter(F.col("cosine") >= threshold))
    a = v.select(*block_cols, F.col(id_col).alias("id_a"),
                 F.col("v").alias("va"), F.col("norm").alias("na"))
    b = v.select(*block_cols, F.col(id_col).alias("id_b"),
                 F.col("v").alias("vb"), F.col("norm").alias("nb"))
    pairs = a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    out = (pairs.select(*block_cols, "id_a", "id_b",
                        (dot(F.col("va"), F.col("vb"))
                         / (F.col("na") * F.col("nb"))).alias("cosine"))
           .filter(F.col("cosine") >= threshold))
    if max_block_size is not None:
        out = out.unionByName(hot_out)
    return out


def dimension_ranges(embeddings: DataFrame,
                     vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (min, max) over the corpus as a single broadcast-
    sized row {mins: array, maxs: array} — the calibration pass of
    scalar quantization. posexplode + groupBy(pos) shuffles only
    (pos, partial-min, partial-max) pairs (map-side combined), then
    the per-dim rows collapse into two ordered arrays. min/max are
    order-independent, so the result is partitioning-stable —
    no decimal-accumulation trick needed (contrast the centroid
    mean)."""
    per_dim = (embeddings
               .select(F.posexplode(as_double(F.col(vec_col)))
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


def quantize_embeddings(embeddings: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Scalar (per-dimension min/max) int8 quantization:
    code_i = round((x_i - min_i) / (max_i - min_i) * 255), clamped to
    [0, 255]; degenerate dims (min == max) code to 0. 4x memory cut
    for ANN candidate storage at 100 TB — the codes array replaces the
    float vector in bucket storage, the float vector is fetched only
    for rerank. Reconstruction x'_i = min_i + code_i/255*(max_i-min_i)
    bounds per-dim error by half a step.

    Output: (id_col, codes array<int>, recon array<double>). The
    calibration row rides along as a broadcast cross join; quantization
    itself is a per-row linear scan."""
    ranges = dimension_ranges(embeddings, vec_col)
    v = embeddings.select(id_col, as_double(F.col(vec_col)).alias("v"))
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
            .select(id_col, "v", "codes", "recon"))


def ivf_topk_quantized(embeddings: DataFrame, query_ids: list[int],
                       k: int = 10, n_centroids: int = 16,
                       n_probe: int = 8, oversample: int = 3,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       probe_oversample: int = 4,
                       portable: bool = False) -> DataFrame:
    """IVF with int8-quantized list storage: candidates inside the
    probed lists are first scored against the query on their
    RECONSTRUCTED (dequantized) vectors — the representation the
    inverted lists would actually hold at 100 TB, 4x smaller than
    floats — then only the ``k * oversample`` best per query are
    re-scored exactly on the float vectors. The expensive exact dot
    product runs on an O(k) shortlist instead of every probed
    candidate; the codes path touches all candidates but reads int8.

    Same output contract as ivf_topk/cosine_topk:
    (query_id, neighbor_id, cosine, rank) with EXACT cosines —
    quantization only affects which candidates reach the shortlist
    (recall pinned vs bruteforce in tests)."""
    qz = quantize_embeddings(embeddings, id_col, vec_col)
    e = (qz.select(id_col, "v", "recon")
         .withColumn("norm", l2_norm(F.col("v")))
         .withColumn("rnorm", l2_norm(F.col("recon"))))

    cent = _sampled_centroids(e, n_centroids, id_col, portable)

    # same adaptive probe-depth rule as ivf_topk (see
    # _ivf_lists_probes): n_probe is a floor, widened in-plan until
    # the probed lists hold k * probe_oversample candidates.
    lists, probes = _ivf_lists_probes(
        e, cent, query_ids, k, n_probe, probe_oversample, id_col,
        ["recon", "rnorm"])
    q = probes.select(F.col(id_col).alias("query_id"),
                      F.col("v").alias("qv"), F.col("norm").alias("qnorm"),
                      "list_id")
    c = lists.select(F.col(id_col).alias("neighbor_id"),
                     F.col("v").alias("xv"), F.col("norm").alias("xnorm"),
                     F.col("recon").alias("rv"), F.col("rnorm").alias("rn"),
                     "list_id")
    # broadcast the model-sized probes; no dedup — one list per
    # vector, one probe row per (query, list), so the join cannot
    # duplicate a pair (guide §3/§2.4, r13 optimization round; same
    # argument as ivf_topk's removed no-op distinct)
    approx = (c.join(F.broadcast(q), "list_id")
              .select("query_id", "neighbor_id", "qv", "qnorm",
                      "xv", "xnorm",
                      (dot(F.col("qv"), F.col("rv"))
                       / (F.col("qnorm") * F.col("rn"))).alias("approx_cos")))
    sw = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id"))
    shortlist = (approx.withColumn("__s", F.row_number().over(sw))
                 .filter(F.col("__s") <= k * oversample))
    exact = shortlist.select(
        "query_id", "neighbor_id",
        (dot(F.col("qv"), F.col("xv"))
         / (F.col("qnorm") * F.col("xnorm"))).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (exact.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k))


# --- Product quantization (VERDICT r4 #6) ----------------------------------

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
    """Map-only per-subspace code assignment (r9, the L2 twin of
    nearest_centroid): per-sub_id codebook ARRAYS (m rows total)
    broadcast-join on sub_id; a per-row fold computes every code's
    squared distance and ``array_min`` picks by (d2 asc, code_id asc)
    — the windowed rank-1's exact tie order with no ksub× row blowup
    and no shuffle (the old form exploded every subrow into ksub
    copies and re-partitioned by (id, sub) to keep one). ``subs``
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
                 n_iter: int = 3, id_col: str = "vec_id",
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
    e = spread(embeddings.select(id_col, as_double(F.col(vec_col))
                                 .alias("v"))
               .filter(F.size("v") >= 1))
    subs = tracked_persist(
        e.select(id_col, F.explode(_subvectors(F.col("v"), m)).alias("p"))
        .select(id_col, "p.sub_id", "p.sv"))

    # portable=True draws the init ordering from the md5-prefix family
    # so a DuckDB oracle can replay the whole subspace-Lloyd loop
    # (kmeans_centroids' rationale); xxhash64 stays the default
    if portable:
        from .sampling import hash_key
        order_expr = hash_key(F.col(id_col))
    else:
        order_expr = F.xxhash64(F.col(id_col))
    w = Window.partitionBy("sub_id").orderBy(order_expr, F.col(id_col))
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
        # map-only argmin assignment (r9, _nearest_code): the windowed
        # rank-1 paid a ksub×-subrows exchange per Lloyd round
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
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as m small codes — nearest (L2) codebook
    entry per subspace, codes ordered by sub_id. The 16–64× ANN
    storage compression tier: an int8-per-subspace codes array
    replaces the float vector in the inverted lists. Output:
    (id_col, codes array<int>)."""
    e = embeddings.select(id_col, as_double(F.col(vec_col)).alias("v")) \
                  .filter(F.size("v") >= 1)
    subs = (e.select(id_col,
                     F.explode(_subvectors(F.col("v"), m)).alias("p"))
            .select(id_col, "p.sub_id", "p.sv"))
    # map-only argmin (r9, _nearest_code): no ksub× blowup, no shuffle
    # before the per-doc codes aggregate
    assigned = _nearest_code(subs,
                             codebooks.select("sub_id", "code_id", "cv"))
    return (assigned.groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("sub_id", "code_id"))),
                lambda s: s["code_id"]).alias("codes")))


def ivf_topk_pq(embeddings: DataFrame, query_ids: list[int], k: int = 10,
                m: int = 8, ksub: int = 32, n_centroids: int = 16,
                n_probe: int = 8, oversample: int = 12, n_iter: int = 3,
                id_col: str = "vec_id", vec_col: str = "embedding",
                probe_oversample: int = 4,
                coarse_iters: int = 3,
                residual: bool = True,
                rotate: bool = True,
                portable: bool = False,
                coarse_restarts: int = 1) -> DataFrame:
    """IVF with PRODUCT-QUANTIZED inverted lists + asymmetric distance
    (ADC) scoring + exact float rerank — the standard 100 TB ANN
    compression stack (IVF-PQ): lists hold m codes per vector (vs d
    floats — 32× at d=64, m=8), candidates are scored from a per-query
    lookup table of subspace partial dots, and only the k·oversample
    best reach the float fetch + exact cosine.

    RESIDUAL encoding (r8, VERDICT r7 #4) — the full IVFADC
    formulation: codes quantize x − c(x) (the vector minus its TRAINED
    coarse centroid) rather than x itself. The residual's spread is
    what remains AFTER the coarse quantizer explains the corpus
    structure, so the same m×ksub code budget covers a tighter cell —
    the precision lever that r7's ksub bump approached from the other
    side. (The r6 residual experiment measured WORSE, but that was
    with SAMPLED coarse centroids, where residuals carry ~2x the raw
    variance; with the Lloyd-trained quantizer residual coding plus
    the stored-norm layout below reaches the trained-IVF EXACT-FLOAT
    ceiling — measured r8: recall@10 0.84/0.86 at sf0.001/sf0.01,
    identical to ivf_trained's uncompressed 0.84/0.86, vs 0.84/0.84
    rotated-raw at the same n_probe and code budget. ADC now loses
    ZERO recall to compression; the remaining gap to brute force is
    the probe stage, shared by every IVF tier, and r7's sweep already
    rejected probing deeper as dishonest for the 100 TB shape.)

    ADC under residuals: approx_dot(q, x) = dot(q, c(x)) +
    Σ_s lut[q][s][codes[s]], where the coarse term is EXACT (computed
    per (query, probed list) — n_queries × n_probe rows) and
    lut[q][s][c] = dot((Rq)_s, codebook[s][c]) reconstructs
    dot(q, residual) in the rotated basis (R orthonormal, fitted on
    residuals, so dots are preserved). The denominator uses the
    STORED exact norm (see the lists layout note in the body), so
    quantization error is confined to the dot term. Partial sums
    accumulate in DECIMAL so shortlist membership is
    partitioning-order-independent. ``residual=False`` keeps the r6/r7
    rotated-raw path for comparison (ann_recall_report reports both).

    OPQ-style rotation (r6, VERDICT r5 #5): coding runs in the
    variance-BALANCED eigenbasis (pca.pca_rotation_balanced) — a pure
    orthonormal rotation, so dot products and norms in rotated space
    EQUAL the original-space ones and ADC still approximates the true
    cosine; only the quantization cells improve (no subspace is stuck
    with all the high-variance dims).

    Same output contract as cosine_topk: (query_id, neighbor_id,
    cosine, rank) with EXACT cosines — compression only affects which
    candidates reach the shortlist (recall floor pinned in tests)."""
    from .pca import pca_rotation_balanced, project_embeddings

    base = embeddings.select(id_col, as_double(F.col(vec_col)).alias("v"))
    base = tracked_persist(base.withColumn("norm", l2_norm(F.col("v"))))

    # TRAINED coarse quantizer (r6): with sampled centroids the probe
    # stage capped recall at the untrained-IVF ceiling no matter how
    # fine the codes — the FAISS-style IVF-PQ build always trains it.
    # Lists/probes are built on the RAW vectors; codes join onto the
    # persisted lists afterwards (they need the assignment first).
    if coarse_restarts > 1:
        # best-of-N restart selection (kmeans_centroids_best_of):
        # lifts the small-fixture init-draw floor; used by the
        # portable/oracle tier (ivf_topk_pq_portable)
        cent = kmeans_centroids_best_of(
            embeddings, k=n_centroids, n_iter=coarse_iters,
            restarts=coarse_restarts, id_col=id_col, vec_col=vec_col,
            portable=portable)
    else:
        cent = kmeans_centroids(embeddings, k=n_centroids,
                                n_iter=coarse_iters, id_col=id_col,
                                vec_col=vec_col, portable=portable)
    lists, probes = _ivf_lists_probes(
        base, cent, query_ids, k, n_probe, probe_oversample, id_col, [])

    cl = F.broadcast(cent.select(F.col("centroid_id").alias("list_id"),
                                 F.col("cv").alias("lcv"),
                                 F.col("cnorm").alias("lnorm")))
    if residual:
        rsrc = (lists.join(cl, "list_id")
                .select(id_col,
                        F.zip_with("v", "lcv",
                                   lambda x, c: x - c).alias("rv0")))
    else:
        rsrc = lists.select(id_col, F.col("v").alias("rv0"))
    if rotate:
        rot = pca_rotation_balanced(rsrc, m, "rv0")
        zero = [0.0] * len(rot)  # uncentered: rotation must preserve dots
        rx = (project_embeddings(rsrc, zero, rot, id_col, "rv0")
              .withColumnRenamed("proj", "rv"))
        # per-query side: the RAW query rotated through the
        # residual-fitted basis (R is orthonormal, so dot(q, r) =
        # dot(Rq, Rr) regardless of what R was fitted on)
        qrot = (project_embeddings(
                    base.filter(F.col(id_col).isin(query_ids)),
                    zero, rot, id_col, "v")
                .withColumnRenamed("proj", "qrv"))
    else:
        # identity basis — no driver-side eigh anywhere in the plan
        # (the portable/oracle mode; see ivf_topk_pq_portable)
        rx = rsrc.withColumnRenamed("rv0", "rv")
        qrot = (base.filter(F.col(id_col).isin(query_ids))
                .select(id_col, F.col("v").alias("qrv")))
    rx = tracked_persist(rx)
    cb = tracked_persist(
        pq_codebooks(rx, m, ksub, n_iter, id_col, vec_col="rv",
                     portable=portable))
    codes = pq_encode(rx, cb, m, id_col, vec_col="rv")
    qsubs = (probes.select(F.col(id_col).alias("query_id"),
                           F.col("norm").alias("qnorm"))
             .dropDuplicates(["query_id"])
             .join(qrot.select(F.col(id_col).alias("query_id"), "qrv"),
                   "query_id")
             .select("query_id", "qnorm",
                     F.explode(_subvectors(F.col("qrv"), m)).alias("p"))
             .select("query_id", "qnorm", "p.sub_id", "p.sv"))
    lut = (qsubs.join(F.broadcast(cb), "sub_id")
           .select("query_id", "qnorm", "sub_id", "code_id",
                   dot(F.col("sv"), F.col("cv")).alias("pdot")))

    q = probes.select(F.col(id_col).alias("query_id"), "v", "norm",
                      "list_id") \
              .dropDuplicates(["query_id", "list_id"])
    # The lists store (codes, norm) — m code bytes plus ONE float per
    # vector. The stored exact norm makes the ADC denominator exact
    # (quantization error confined to the dot term) and removes the
    # norm-reconstruction LUTs entirely; at 100 TB that's 4 bytes/row
    # against d*4 saved, the layout ScaNN/IP-serving indexes use.
    c = (lists.select(F.col(id_col).alias("neighbor_id"), "list_id",
                      F.col("norm").alias("cnorm2"))
         .join(codes.withColumnRenamed(id_col, "neighbor_id"),
               "neighbor_id"))
    cand = (c.join(F.broadcast(q.select("query_id", "list_id")), "list_id")
            .select("query_id", "neighbor_id", "list_id", "cnorm2",
                    F.posexplode("codes").alias("sub_id", "code_id")))
    parts = (cand.join(F.broadcast(lut),
                       ["query_id", "sub_id", "code_id"])
             .groupBy("query_id", "neighbor_id", "list_id")
             .agg(F.sum(F.col("pdot").cast("decimal(25,15)"))
                  .cast("double").alias("rdot"),
                  F.first("qnorm").alias("qnorm"),
                  F.first("cnorm2").alias("cnorm2")))
    if residual:
        # exact per-(query, probed-list) coarse term: approx_dot =
        # dot(q, c(x)) + dot(Rq, R·residual)
        qc = (q.join(cl, "list_id")
              .select("query_id", "list_id",
                      dot(F.col("v"), F.col("lcv")).alias("cdot")))
        approx = (parts.join(F.broadcast(qc), ["query_id", "list_id"])
                  .select("query_id", "neighbor_id",
                          ((F.col("cdot") + F.col("rdot"))
                           / (F.col("qnorm") * F.col("cnorm2")))
                          .alias("approx_cos")))
    else:
        approx = parts.select(
            "query_id", "neighbor_id",
            (F.col("rdot") / (F.col("qnorm") * F.col("cnorm2")))
            .alias("approx_cos"))
    sw = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id"))
    shortlist = (approx.withColumn("__s", F.row_number().over(sw))
                 .filter(F.col("__s") <= k * oversample)
                 .select("query_id", "neighbor_id"))

    # float fetch for the O(k) shortlist only — the honest rerank I/O.
    # qv is restricted to the QUERY ids before the broadcast: the
    # unfiltered frame would broadcast the whole corpus (review r5).
    qv = (base.filter(F.col(id_col).isin(query_ids))
          .select(F.col(id_col).alias("query_id"),
                  F.col("v").alias("qv"), F.col("norm").alias("qnorm")))
    nv = base.select(F.col(id_col).alias("neighbor_id"),
                     F.col("v").alias("cv2"), F.col("norm").alias("cnorm2"))
    # broadcast the O(k·oversample·queries) shortlist too (guide §3):
    # the float fetch is a lookup of a model-sized id set against the
    # corpus — without the hint the corpus gets exchanged by
    # neighbor_id to meet it.
    exact = (F.broadcast(shortlist).join(nv, "neighbor_id")
             .join(F.broadcast(qv), "query_id")
             .select("query_id", "neighbor_id",
                     (dot(F.col("qv"), F.col("cv2"))
                      / (F.col("qnorm") * F.col("cnorm2"))).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (exact.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k))


# --- IVF index persistence: build once, serve many (r5b) -------------------

def _assign_to_lists(embeddings: DataFrame, cent: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid list assignment (cosine argmax over the
    broadcast centroid table): (id, v, norm, list_id). Shared by the
    one-shot index build and the incremental append, so both produce
    IDENTICAL list content for the same centroids — pinned in
    tests/test_analytics (append == one-shot parity)."""
    e = embeddings.select(id_col, as_double(F.col(vec_col)).alias("v"))
    e = e.withColumn("norm", l2_norm(F.col("v")))
    return (nearest_centroid(e, cent)
            .select(id_col, "v", "norm",
                    F.col("centroid_id").alias("list_id")))


def append_to_ivf_index(spark, path: str, new_embeddings: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> None:
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
    appends (same contract as any upsert-free log)."""
    cent = spark.read.parquet(f"{path}/centroids")
    _recover_list_sizes(spark, path)
    lists = _assign_to_lists(new_embeddings, cent, id_col, vec_col)
    # Intent marker BEFORE the lists append (r7c review fix): a crash
    # between the append committing and the sizes swap completing
    # leaves NO swap artifact — the sizes table is intact but
    # silently stale against the lists. The marker makes that window
    # detectable: recovery rebuilds sizes from the lists (ground
    # truth) whenever a marker survives; it is removed only after the
    # swap lands.
    marker = os.path.join(path, f".sizes-pending-{uuid.uuid4().hex[:8]}")
    open(marker, "w").close()
    lists.write.mode("append").partitionBy("list_id") \
        .parquet(f"{path}/lists")
    old = {r["list_id"]: r["lsz"] for r in
           spark.read.parquet(f"{path}/list_sizes").collect()}
    delta = {r["list_id"]: r["n"] for r in
             lists.groupBy("list_id")
             .agg(F.count("*").alias("n")).collect()}
    for lid, n in delta.items():
        old[lid] = old.get(lid, 0) + n
    _swap_in_list_sizes(
        spark.createDataFrame([(int(k), int(v)) for k, v in old.items()],
                              "list_id int, lsz long"), path)
    os.remove(marker)


def _swap_in_list_sizes(sizes: DataFrame, path: str) -> None:
    """Atomic replacement of {path}/list_sizes via ``sources.swap``: a
    reader never observes a half-written sizes table and a crash
    mid-swap never destroys the only copy — a plain mode('overwrite')
    deletes the directory BEFORE writing, so a crash there leaves the
    index's lists appended but its sizes table gone (VERDICT r6 #4)."""
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
    # stale against the lists — r7c review fix)
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


def save_ivf_index(embeddings: DataFrame, path: str,
                   n_centroids: int = 16, kmeans_iters: int = 4,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> None:
    """Materialize a trained IVF index AT REST: Lloyd centroids,
    per-list sizes, and the inverted lists themselves, the lists
    directory-partitioned BY list_id — so a later probe of 4 lists
    reads 4 directories and the other n_centroids-4 never touch disk
    (partition pruning on the index layout; cf. write_partitioned).

    This splits index BUILD cost (one k-means + one assignment pass —
    the 100 TB part) from QUERY cost, which ivf_topk pays per call by
    recomputing the assignment. Build nightly, serve all day.

    Layout: {path}/centroids (n rows), {path}/list_sizes (n rows),
    {path}/lists/list_id=*/ (corpus rows, vector+norm per id)."""
    cent = kmeans_centroids(embeddings, k=n_centroids,
                            n_iter=kmeans_iters, id_col=id_col,
                            vec_col=vec_col)
    lists = _assign_to_lists(embeddings, cent, id_col, vec_col)
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    lists.write.mode("overwrite").partitionBy("list_id") \
        .parquet(f"{path}/lists")
    # sizes stored separately: the adaptive probe rule needs them
    # WITHOUT scanning the lists
    (lists.groupBy("list_id").agg(F.count("*").alias("lsz"))
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/list_sizes"))


def ivf_topk_from_index(spark, path: str, queries: DataFrame,
                        k: int = 10, n_probe: int = 4,
                        probe_oversample: int = 4,
                        query_id_col: str = "query_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Serve top-k from a saved index — queries arrive as their own
    frame (the serving reality: they were never in the corpus scan).
    Probe selection runs against the n_centroids-row centroid table
    with the same adaptive coverage rule as ivf_topk; the probe set
    joins the partitioned lists as a BROADCAST hash join on list_id,
    and Dynamic Partition Pruning turns the broadcast into a runtime
    partition filter on the lists scan — only probed directories are
    read, with NO driver-side collect anywhere in the serve path
    (VERDICT r5 #8; the DPP subquery in the scan is plan-pinned).
    Exact cosine rerank inside the probed lists, same output contract
    as ivf_topk."""
    cent = F.broadcast(spark.read.parquet(f"{path}/centroids"))
    sizes = F.broadcast(spark.read.parquet(f"{path}/list_sizes"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qnorm", l2_norm(F.col("qv")))

    ranked = (q.crossJoin(cent)
              .select("query_id", "qv", "qnorm", "centroid_id",
                      (dot(F.col("qv"), F.col("cv"))
                       / (F.col("qnorm") * F.col("cnorm"))).alias("csim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id"))
    cum_w = (Window.partitionBy("query_id").orderBy("__r")
             .rowsBetween(Window.unboundedPreceding, -1))
    probes = (ranked.withColumn("__r", F.row_number().over(w))
              .join(sizes, F.col("centroid_id") == F.col("list_id"),
                    "left")
              .withColumn("__sz", F.coalesce("lsz", F.lit(0)))
              .withColumn("__cum",
                          F.coalesce(F.sum("__sz").over(cum_w), F.lit(0)))
              .filter((F.col("__r") <= n_probe)
                      | (F.col("__cum") < k * probe_oversample))
              .select("query_id", "qv", "qnorm",
                      F.col("centroid_id").alias("probe_list")))

    lists = spark.read.parquet(f"{path}/lists")
    id_col = next(c for c in lists.columns
                  if c not in ("v", "norm", "list_id"))
    scored = (lists.join(F.broadcast(probes),
                         lists["list_id"] == probes["probe_list"])
              .select("query_id",
                      lists[id_col].alias("neighbor_id"),
                      (dot(F.col("qv"), F.col("v"))
                       / (F.col("qnorm") * F.col("norm")))
                      .alias("cosine"))
              .dropDuplicates(["query_id", "neighbor_id"]))
    rw = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k))
