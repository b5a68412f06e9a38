"""Distributed PCA over an embedding column (X3 extension):
exact covariance via moment aggregation, driver-side eigendecomposition
of the d×d matrix (model-sized, like kmeans centroids / the BPE merge
table), in-plan projection.

Scale shape: the covariance is TWO linear scans — first moments
(posexplode -> d partial sums), second moments (upper-triangle pair
explode -> d(d+1)/2 partial sums). The pair explode amplifies each row
by d(d+1)/2, but map-side partial aggregation collapses every
partition to one d(d+1)/2-row block before the shuffle, so the wire
cost is executors × d², independent of corpus size. Means and products
accumulate in DECIMAL, so results are partitioning/order-independent
(double addition is not associative) and bit-equal to the single-
threaded DuckDB oracle.

The eigen step runs on the driver in numpy — a d×d symmetric matrix is
tokenizer-table-sized, not data-sized; distributing it would be
theater. Projection pushes the centered dot products back into JVM
expressions (one fold per component), so the corpus-sized pass stays
in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import spread
from .similarity import as_double


def moment_grid(embeddings: DataFrame, group_cols: list[str]) -> DataFrame:
    """MERGEABLE per-(group, dimension) moment grid: (group_cols...,
    pos, n, sx, sxx) with DECIMAL(30,15)-accumulated sums — the
    sufficient statistics for means/variances/covariance diagonals
    (and so for embedding_drift_report), in a representation that
    re-aggregates by ADDITION: store a grid per day/partition/
    micro-batch and merge_moment_grids() them at question time
    WITHOUT rescanning vectors, exactly like the count-min/HLL/HDR
    tiers. Decimal accumulation makes the merge EXACT — the merged
    grid equals the one-shot grid bit-for-bit regardless of how the
    corpus was split (pinned by the streaming merge test). Grid size:
    groups x d rows, model-sized by construction."""
    e = (embeddings.select(*group_cols,
                           as_double(F.col("embedding")).alias("v"))
         .filter(F.size("v") >= 1))
    pe = e.select(*group_cols, F.posexplode("v").alias("pos", "x"))
    return (pe.groupBy(*group_cols, "pos")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("x").cast("decimal(30,15)")).alias("sx"),
                 F.sum((F.col("x") * F.col("x"))
                       .cast("decimal(30,15)")).alias("sxx")))


def merge_moment_grids(grids: DataFrame,
                       group_cols: list[str]) -> DataFrame:
    """Merge stored moment grids (UNION ALL of moment_grid outputs,
    e.g. one per micro-batch/day): counts and decimal sums ADD —
    exact, partitioning- and split-independent."""
    return (grids.groupBy(*group_cols, "pos")
            .agg(F.sum("n").alias("n"),
                 F.sum("sx").alias("sx"),
                 F.sum("sxx").alias("sxx")))


def moments_from_grid(grid: DataFrame) -> DataFrame:
    """Decode a (merged) grid to per-row mean/raw-second-moment
    doubles: the division happens LAST, on the exact decimal sums, so
    a merged grid decodes to the identical doubles a one-shot pass
    produces."""
    return grid.withColumn(
        "m", F.col("sx").cast("double") / F.col("n")).withColumn(
        "m2", F.col("sxx").cast("double") / F.col("n"))


def embedding_covariance(embeddings: DataFrame,
                         vec_col: str = "embedding") -> DataFrame:
    """Upper-triangle population covariance of the embedding
    dimensions: (dim_i, dim_j, cov) with 0-based dim_i <= dim_j,
    cov = E[x_i x_j] - E[x_i] E[x_j]. Zero-length vectors are dropped
    (sequence(1, 0) runs DESCENDING, and element_at(v, 0) errors
    under ANSI mode — and a 0-d vector contributes no moments
    anyway).

    spread() first: the pair explode amplifies every row by d(d+1)/2
    (×2080 at d=64), so a narrow input (one parquet split on local
    fixtures) would grind the whole second-moment scan through ONE
    task — measured 7.4 s -> 0.4 s at sf0.1 from widening alone."""
    e = spread(embeddings.select(as_double(F.col(vec_col)).alias("v"))
               .filter(F.size("v") >= 1))

    # first moments: one posexplode, d-row aggregate
    means = (e.select(F.posexplode("v").alias("pos", "x"))
             .groupBy("pos")
             .agg((F.sum(F.col("x").cast("decimal(30,15)")).cast("double")
                   / F.count("*")).alias("mu")))

    # second moments: upper-triangle products per row, pair-keyed agg.
    # Codegen'd built-ins over interpreted higher-order functions:
    # the pair stream is produced by TWO chained posexplode
    # Generates — explode v to (i, x_i), then
    # explode slice(v, i+1, d-i) to (joff, x_j) with dim_j = i + joff
    # — instead of building a d(d+1)/2 struct array per row through
    # NESTED F.transform lambdas (interpreted, outside whole-stage
    # codegen; at d=64 that materialized 2080 three-field structs per
    # row in the interpreted evaluator before the explode even ran).
    # Same pair multiset per row — x_i·x_j over 0-based i<=j, null
    # elements produce null products in both shapes and F.sum skips
    # them identically while count(*) counts the row either way — so
    # the exact decimal sums, the counts, and every output double are
    # unchanged (oracle hash green).
    pi = e.select(F.posexplode("v").alias("i", "xi"), "v")
    sec_rows = pi.select(
        "i", "xi",
        F.posexplode(F.slice("v", F.col("i") + 1,
                             F.size("v") - F.col("i")))
        .alias("joff", "xj"))
    sec = (sec_rows
           .select(F.col("i").alias("dim_i"),
                   (F.col("i") + F.col("joff")).alias("dim_j"),
                   (F.col("xi") * F.col("xj")).alias("xy"))
           .groupBy("dim_i", "dim_j")
           .agg((F.sum(F.col("xy").cast("decimal(30,15)")).cast("double")
                 / F.count("*")).alias("exy")))

    mi = means.select(F.col("pos").alias("dim_i"), F.col("mu").alias("mu_i"))
    mj = means.select(F.col("pos").alias("dim_j"), F.col("mu").alias("mu_j"))
    return (sec.join(F.broadcast(mi), "dim_i")
            .join(F.broadcast(mj), "dim_j")
            .select("dim_i", "dim_j",
                    (F.col("exy") - F.col("mu_i") * F.col("mu_j"))
                    .alias("cov")))


def pca_model(embeddings: DataFrame, k: int):
    """Fit: collect the d×d covariance (model-sized), eigh in numpy,
    return (means: list[float], components: list[list[float]]) for the
    top-k components by eigenvalue. Component sign is normalized so
    each component's largest-|value| entry is positive — eigh's sign is
    arbitrary and the contract must be deterministic."""
    import numpy as np

    rows = embedding_covariance(embeddings).collect()
    if not rows:
        raise ValueError(
            "pca_model: no covariance rows — the embeddings frame is "
            "empty or every vector has zero length")
    d = max(r["dim_j"] for r in rows) + 1
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["dim_i"], r["dim_j"]] = r["cov"]
        cov[r["dim_j"], r["dim_i"]] = r["cov"]
    e = embeddings.select(as_double(F.col("embedding")).alias("v"))
    mu_rows = (e.select(F.posexplode("v").alias("pos", "x"))
               .groupBy("pos")
               .agg((F.sum(F.col("x").cast("decimal(30,15)")).cast("double")
                     / F.count("*")).alias("mu"))
               .collect())
    means = [0.0] * d
    for r in mu_rows:
        means[r["pos"]] = r["mu"]
    vals, vecs = np.linalg.eigh(cov)        # ascending eigenvalues
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        c = vecs[:, idx]
        if c[int(np.argmax(np.abs(c)))] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return means, comps


def pca_rotation_balanced(embeddings: DataFrame, m: int,
                          vec_col: str = "embedding") -> list[list[float]]:
    """OPQ-style rotation for product quantization (the OPQ paper's
    eigenvalue-allocation baseline): the FULL orthonormal eigenbasis
    of the covariance, permuted so the d/m consecutive slices that PQ
    will split into subspaces carry BALANCED total variance — greedy
    allocation of eigen-dims (descending eigenvalue) to the least-
    loaded non-full subspace. Because the basis is complete and
    orthonormal, projecting onto it (uncentered) is a pure rotation:
    dot products and norms are preserved exactly, so ADC scoring in
    rotated space approximates the ORIGINAL-space cosine — only the
    quantization cells change (for the better: no subspace is stuck
    with all the high-variance dims). Driver-side eigh of the d×d
    covariance — the same model-sized action as pca_model.

    When m does not divide d the greedy bucket sizes may not align
    with the consumer's ceil(d/m) subspace slicing — the result is
    STILL a valid orthonormal rotation (PQ correctness never depends
    on the allocation), only the variance-balance guarantee weakens
    to approximate; exact balance holds for the m | d case."""
    import numpy as np

    rows = embedding_covariance(embeddings, vec_col).collect()
    if not rows:
        raise ValueError("pca_rotation_balanced: empty embeddings frame")
    d = max(r["dim_j"] for r in rows) + 1
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["dim_i"], r["dim_j"]] = r["cov"]
        cov[r["dim_j"], r["dim_i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)
    order = [int(i) for i in np.argsort(vals)[::-1]]
    ds = (d + m - 1) // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = [0.0] * m
    for idx in order:
        open_b = [i for i in range(m) if len(buckets[i]) < ds]
        j = min(open_b, key=lambda i: (sums[i], i))
        buckets[j].append(idx)
        sums[j] += float(vals[idx])
    comps = []
    for b in buckets:
        for idx in b:
            c = vecs[:, idx]
            if c[int(np.argmax(np.abs(c)))] < 0:
                c = -c
            comps.append([float(x) for x in c])
    return comps


def project_embeddings(embeddings: DataFrame, means: list[float],
                       components: list[list[float]],
                       vec_col: str = "embedding") -> DataFrame:
    """Transform: (vec_id, proj array<double>) — proj[c] =
    dot(v - means, components[c]). The component/mean literals embed
    in the plan (broadcast-by-construction); the per-row work is one
    JVM fold per component over the centered vector."""
    e = embeddings.select("vec_id", as_double(F.col(vec_col)).alias("v"))
    centered = F.zip_with("v", F.array(*[F.lit(m) for m in means]),
                          lambda x, m: x - m)
    e = e.withColumn("cv", centered)
    projs = [
        F.aggregate(
            F.zip_with("cv", F.array(*[F.lit(w) for w in comp]),
                       lambda x, w: x * w),
            F.lit(0.0), lambda acc, t: acc + t).alias(f"p{c}")
        for c, comp in enumerate(components)]
    return (e.select("vec_id", *projs)
            .select("vec_id",
                    F.array(*[f"p{c}" for c in range(len(components))])
                    .alias("proj")))


def pca_ivf_topk(embeddings: DataFrame, query_ids: list[int],
                 k: int = 10) -> DataFrame:
    """IVF candidate generation in PCA space, exact full-dimension
    rerank — the classic recall/cost trade: centroid assignment,
    probing, and candidate scoring all run on 24 PCA projections (2.7×
    narrower at d=64 — proportionally less dot-product work and wire
    per candidate; measured recall@10 0.72/0.64 at sf0.001/sf0.01 vs
    untrained full-dim IVF's 0.62/0.62 at the same probe depth — the
    projection even denoises on this corpus), then only the k·5 best
    per query fetch their float vectors for exact cosine. Lists: 16
    sampled centroids, 8 probes, through similarity's ``build`` and
    ``probe``.

    The fit is ``pca_model`` (distributed moments, driver-side d×d
    eigh — a model-sized action by nature, like kmeans' convergence
    counts); the projection is IN-PLAN (one fold per component), so
    both corpus scans stay in whole-stage codegen and no join is
    needed to pair a row's projected and original vectors — they are
    two columns of the same frame.

    Output contract matches cosine_topk: (query_id, neighbor_id,
    cosine, rank), exact cosines; PCA only affects which candidates
    reach the shortlist (recall floor pinned in tests)."""
    from .similarity import (_cos, _rerank, build, l2_norm, probe,
                             sampled_centroids, topk)
    from ..caching import tracked_persist

    means, comps = pca_model(embeddings, 24)

    base = (embeddings.select("vec_id",
                              as_double(F.col("embedding")).alias("fv"))
            .filter(F.size("fv") >= 1))
    centered = F.zip_with("fv", F.array(*[F.lit(m) for m in means]),
                          lambda x, mu: x - mu)
    base = base.withColumn("cv0", centered)
    projs = [
        F.aggregate(
            F.zip_with("cv0", F.array(*[F.lit(w) for w in comp]),
                       lambda x, w: x * w),
            F.lit(0.0), lambda acc, t: acc + t)
        for comp in comps]
    e = tracked_persist(
        base.withColumn("v", F.array(*projs))
            .withColumn("norm", l2_norm(F.col("v")))
            .withColumn("fnorm", l2_norm(F.col("fv")))
            .select("vec_id", "v", "norm", "fv", "fnorm"))

    # the lists hold ONLY the projected vectors: the whole point is
    # 24-wide inverted lists, so the d-dim floats must not ride
    # through the assignment and the persisted lists — the rerank
    # fetches them by id for the O(k·5) shortlist instead
    proj = e.select("vec_id", "v", "norm")
    cent = sampled_centroids(proj)
    lists, sizes = build(proj.filter(~F.col("vec_id").isin(query_ids)), cent)
    pairs = probe(lists, sizes, cent,
                  proj.filter(F.col("vec_id").isin(query_ids)), k, 8)
    shortlist = topk(pairs.select(
        "query_id", "neighbor_id",
        _cos("qv", "cv2", "qnorm", "cnorm2").alias("approx_cos")),
        k * 5, score="approx_cos")
    full = e.select("vec_id", F.col("fv").alias("v"),
                    F.col("fnorm").alias("norm"))
    return _rerank(shortlist.select("query_id", "neighbor_id"), full,
                   full.filter(F.col("vec_id").isin(query_ids)), k)
