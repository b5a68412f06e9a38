"""Similarity-search, near-dup, and multimodal queries (SURVEY.md §2.9
X2/X3/X5) over ``embeddings`` / ``documents``.

Oracle-matched where ANSI SQL can express the math (exact cosine via
sequential list folds, n-gram Jaccard via list set ops, stub decode
arithmetic); hash-family operators (MinHash/SimHash/sign-LSH) are
rows-only for the driver and get recall/property tests instead.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..operators import dedup, multimodal, pca, similarity
from ..sources.tables import load_table
from . import Q
from .text_queries import _SW_ARRAY

_QUERY_IDS = [0, 1, 2, 3, 4]
_TOPK = 10


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    v = similarity.as_double(F.col("embedding"))
    return e.select("vec_id", "label",
                    F.size("embedding").alias("n_dims"),
                    similarity.l2_norm(v).alias("l2_norm"))


_NORMS_SQL = """
SELECT vec_id, label, len(embedding) AS n_dims,
       sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
            (a, b) -> a + b)) AS l2_norm
FROM embeddings
"""


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(e, _QUERY_IDS, k=_TOPK)


_COSINE_SQL = f"""
WITH ev AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b)) AS norm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM ev
  WHERE vec_id IN ({', '.join(map(str, _QUERY_IDS))})
), c AS (
  SELECT vec_id AS neighbor_id, v AS cv, norm AS cnorm FROM ev
  WHERE vec_id NOT IN ({', '.join(map(str, _QUERY_IDS))})
), scored AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_transform(list_zip(qv, cv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
           (a, b) -> a + b) / (qnorm * cnorm) AS cosine
  FROM c, q
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOPK}
"""


def embedding_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 over vectors: bit-identical embedding dedup (group by the
    full array value; at 100 TB the groupBy key becomes a vector digest
    — same shape as doc_fingerprints)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (e.groupBy("embedding")
             .agg(F.min("vec_id").alias("keeper_vec_id"),
                  F.count("*").alias("n_copies"))
             .select("keeper_vec_id", "n_copies"))


_EMB_DUP_SQL = """
SELECT min(vec_id) AS keeper_vec_id, count(*) AS n_copies
FROM embeddings GROUP BY embedding
"""


def signlsh_topk_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via sign-LSH buckets, fully DuckDB-oracled
    (r6): the portable mode draws the hyperplanes from the md5-prefix
    family and the sequential dot-product fold matches list_reduce's
    order, so the oracle recomputes planes, sign bits, banding,
    candidate buckets AND the exact cosine rerank — even near-zero
    plane dots keep the same sign bit-for-bit. The fourth hash-family
    tier whose internals hash-match (count-min, MinHash, SimHash,
    sign-LSH); recall vs brute force stays asserted in tests."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.signlsh_topk(e, _QUERY_IDS, k=_TOPK, portable=True)


def _signlsh_topk_sql(n_planes: int = 16, n_bands: int = 4,
                      seed: int = 42) -> str:
    """DuckDB twin of the portable sign-LSH pipeline. DuckDB lambda
    indexes are 1-based — the plane component uses i-1 to match
    Spark's 0-based transform index."""
    r = n_planes // n_bands

    def plane_dot(j):
        return ("list_reduce(list_transform(v, (x, i) -> x * "
                f"(CAST(('0x' || substr(md5('{seed}|{j}|' || "
                "CAST(i - 1 AS VARCHAR)), 1, 6)) AS BIGINT)"
                " / 16777216.0 * 2.0 - 1.0)), (a, b) -> a + b)")

    bits = ", ".join(
        f"CASE WHEN {plane_dot(j)} >= 0 THEN 1 ELSE 0 END"
        for j in range(n_planes))
    band_blocks = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, norm, {b} AS band_id, "
        + " || ".join(f"CAST(bits[{b * r + i + 1}] AS VARCHAR)"
                      for i in range(r))
        + " AS band_key FROM sig"
        for b in range(n_bands))
    qids = ", ".join(map(str, _QUERY_IDS))
    return f"""
WITH ev AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b)) AS norm
  FROM embeddings
), sig AS (
  SELECT vec_id, v, norm, [{bits}] AS bits FROM ev
), banded AS (
{band_blocks}
), q AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm, band_id, band_key
  FROM banded WHERE vec_id IN ({qids})
), c AS (
  SELECT vec_id AS neighbor_id, v AS cv, norm AS cnorm, band_id,
         band_key
  FROM banded WHERE vec_id NOT IN ({qids})
), cand AS (
  SELECT DISTINCT query_id, neighbor_id FROM c JOIN q
  USING (band_id, band_key)
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_reduce(list_transform(list_zip(qe.v, ce.v),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
           (a, b) -> a + b) / (qe.norm * ce.norm) AS cosine
  FROM cand
  JOIN ev qe ON qe.vec_id = cand.query_id
  JOIN ev ce ON ce.vec_id = cand.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOPK}
"""


def ivf_topk_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN, fully DuckDB-oracled since r7c: the portable
    mode draws the sampled centroids from the md5-prefix ordering
    (sampling.hash_key) instead of xxhash64 — the ONLY engine-bound
    step in the untrained tier — after which every stage is exact
    dyadic arithmetic both engines reproduce bit-for-bit: sequential-
    fold cosines, tie-broken assignment ranks, the inverted lists,
    the list-size cumulative-coverage probe rule (r <= n_probe OR
    probed candidates < k*oversample), and the exact rerank. The
    oracle recomputes the WHOLE pipeline — sample, assign, probe,
    rerank — so the driver hash certifies the IVF machinery itself,
    not just its output shape. Library default stays xxhash64
    (production mode); recall vs brute force stays pinned in tests."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(e, _QUERY_IDS, k=_TOPK, portable=True)


#: sequential double dot product — the SQL twin of similarity.dot
_DOTP = ("list_reduce(list_transform(list_zip({a}, {b}), "
         "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
         "(x, y) -> x + y)")

#: (vec_id, v, norm) over the embeddings table — shared scan CTE
_EV_CTE = """ev AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b)) AS norm
  FROM embeddings
)"""


def _md5_sample_cte(src: str, n_centroids: int) -> str:
    """SQL twin of _sampled_centroids(portable=True): md5-prefix
    TakeOrdered over ``src`` (which must carry vec_id, v, norm)."""
    return f"""cent AS (
  SELECT vec_id AS centroid_id, v AS cv, norm AS cnorm
  FROM {src}
  ORDER BY substr(md5(CAST(vec_id AS VARCHAR) || ''), 1, 8), vec_id
  LIMIT {n_centroids}
)"""


def _ivf_probe_ctes(src: str, cent: str, carry: tuple[str, ...] = (),
                    n_probe: int = 8, k: int = 10,
                    probe_oversample: int = 4) -> str:
    """assigned/lists/list_sizes/probe_ranked/probes — the SQL twin of
    _ivf_lists_probes, shared by every oracled IVF tier (factored r7c
    so a probe-rule fix can never desynchronize one oracle from the
    Spark machinery). ``src`` rows carry (vec_id, v, norm, *carry);
    ``carry`` columns ride into the lists, exactly like the operator's
    carry seam."""
    qids = ", ".join(map(str, _QUERY_IDS))
    cs = "".join(f", s.{c}" for c in carry)
    cl = "".join(f", {c}" for c in carry)
    return f"""assigned AS (
  SELECT s.vec_id, s.v, s.norm{cs}, c.centroid_id,
         {_DOTP.format(a='s.v', b='c.cv')} / (s.norm * c.cnorm) AS csim
  FROM {src} s, {cent} c
), lists AS (
  SELECT vec_id, v, norm{cl}, centroid_id AS list_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY csim DESC, centroid_id) AS rr
    FROM assigned WHERE vec_id NOT IN ({qids})
  ) WHERE rr = 1
), list_sizes AS (
  SELECT list_id, count(*) AS lsz FROM lists GROUP BY list_id
), probe_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY csim DESC, centroid_id) AS rr
  FROM assigned WHERE vec_id IN ({qids})
), probes AS (
  SELECT vec_id, v, norm, centroid_id AS list_id FROM (
    SELECT pr.*,
           coalesce(sum(coalesce(ls.lsz, 0)) OVER (
               PARTITION BY pr.vec_id ORDER BY pr.rr
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS cum
    FROM probe_ranked pr
    LEFT JOIN list_sizes ls ON pr.centroid_id = ls.list_id
  ) WHERE rr <= {n_probe} OR cum < {k * probe_oversample}
)"""


def _ivf_rerank_tail(k: int = 10) -> str:
    """Exact rerank + top-k over (lists ⋈ probes) — ivf_topk's tail."""
    return f""", rerank AS (
  SELECT p.vec_id AS query_id, l.vec_id AS neighbor_id,
         {_DOTP.format(a='p.v', b='l.v')} / (p.norm * l.norm) AS cosine
  FROM lists l JOIN probes p USING (list_id)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rerank
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _ivf_topk_sql(n_centroids: int = 16, n_probe: int = 8,
                  k: int = 10, probe_oversample: int = 4) -> str:
    """DuckDB twin of the portable untrained-IVF pipeline. Mirrors
    _sampled_centroids (md5-prefix TakeOrdered), _ivf_lists_probes
    (argmin assignment, adaptive probe depth over the lists' own
    sizes), and ivf_topk's exact rerank."""
    return (f"WITH {_EV_CTE}, {_md5_sample_cte('ev', n_centroids)}, "
            + _ivf_probe_ctes("ev", "cent", (), n_probe, k,
                              probe_oversample)
            + _ivf_rerank_tail(k))


def ivf_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over int8-quantized inverted lists (approx scoring on
    dequantized codes, exact float rerank of the oversampled
    shortlist) — the 4x-memory ANN storage shape at 100 TB. Fully
    DuckDB-oracled since r7c: the portable md5 centroid sample (the
    only engine-bound step) plus the already-oracled quantization
    arithmetic (embedding_quantization_error pins codes/recon
    bit-for-bit, incl. round() parity) make the WHOLE tier —
    calibrate, quantize, sample, assign, probe, ADC-approximate
    shortlist, exact rerank — hash-verifiable. Recall vs brute force
    stays pinned in tests; library default stays xxhash64."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_quantized(e, _QUERY_IDS, k=_TOPK,
                                         portable=True)


def _ivf_topk_quantized_sql(n_centroids: int = 16, n_probe: int = 8,
                            k: int = 10, oversample: int = 3,
                            probe_oversample: int = 4) -> str:
    """DuckDB twin of the portable quantized-IVF tier: _QUANT_SQL's
    calibration/code/recon arithmetic + the shared _ivf_probe_ctes
    machinery (recon/rnorm riding the carry seam) + the
    dequantized-shortlist-then-exact-rerank tail. Per-dimension
    calibration uses the range-zip unnest (any width — no
    generate_series dimension cap)."""
    return f"""WITH {_EV_CTE}, d AS (
  SELECT pos, min(x) AS mn, max(x) AS mx
  FROM (SELECT unnest(range(len(v))) AS pos, unnest(v) AS x FROM ev)
  GROUP BY pos
), r AS (
  SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS mxs
  FROM d
), qz AS (
  SELECT vec_id, v, norm,
         list_transform(range(1, len(v) + 1),
           i -> CASE WHEN mxs[i] = mins[i] THEN 0
                ELSE CAST(least(greatest(
                       round((v[i] - mins[i]) / (mxs[i] - mins[i]) * 255),
                       0.0), 255.0) AS INT) END) AS codes
  FROM ev, r
), qr AS (
  SELECT vec_id, v, norm,
         list_transform(range(1, len(v) + 1),
           i -> mins[i] + CAST(codes[i] AS DOUBLE) / 255.0
                  * (mxs[i] - mins[i])) AS recon
  FROM qz, r
), qrn AS (
  SELECT vec_id, v, norm, recon,
         sqrt(list_reduce(list_transform(recon, x -> x * x),
              (a, b) -> a + b)) AS rnorm
  FROM qr
), {_md5_sample_cte('qrn', n_centroids)}, {_ivf_probe_ctes(
        'qrn', 'cent', ('recon', 'rnorm'), n_probe, k, probe_oversample)}
, approx AS (
  SELECT p.vec_id AS query_id, l.vec_id AS neighbor_id,
         p.v AS qv, p.norm AS qnorm, l.v AS xv, l.norm AS xnorm,
         {_DOTP.format(a='p.v', b='l.recon')}
           / (p.norm * l.rnorm) AS approx_cos
  FROM lists l JOIN probes p USING (list_id)
), shortlist AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY approx_cos DESC, neighbor_id) AS s
    FROM approx
  ) WHERE s <= {k * oversample}
), exact AS (
  SELECT query_id, neighbor_id,
         {_DOTP.format(a='qv', b='xv')} / (qnorm * xnorm) AS cosine
  FROM shortlist
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def ivf_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: product-quantized inverted lists (m=8 subspaces ×
    ksub=16 codes — 32× smaller than float lists at d=64), ADC
    scoring from a broadcast per-query LUT, exact float rerank of the
    oversampled shortlist. The standard 100 TB ANN compression stack.
    Rows-only; recall floor pinned in tests (ann_recall_report row
    ``ivf_pq``)."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_pq(e, _QUERY_IDS, k=_TOPK)


def pca_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF candidate generation in PCA space (pca_k=24 of d=64),
    exact full-dimension rerank — PCA composed into the ANN tier
    (VERDICT r4 #7). Rows-only; recall floor pinned in tests
    (ann_recall_report row ``pca_ivf``)."""
    e = load_table(spark, sf_dir, "embeddings")
    return pca.pca_ivf_topk(e, _QUERY_IDS, k=_TOPK)


def ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with k-means-trained centroids (3 Lloyd iterations) instead
    of the hash sample — the production IVF shape. Fully DuckDB-oracled
    since r7c: the FIXED-ITERATION training loop unrolls as chained
    CTEs (the supplier_purchase_pagerank recipe), because every step
    is engine-portable — md5-prefix init ordering (portable mode),
    tie-broken assignment ranks on sequential-fold cosines, and
    centroid means accumulated in DECIMAL(30,15) (exact, hence
    order-independent — the embedding_covariance-proven trick) cast
    to double only at the end of each mean. The oracle replays init,
    3 Lloyd rounds (incl. the empty-cluster keep-previous rule), and
    the probe/rerank serving path, so the driver hash certifies the
    TRAINED MODEL and its serving together. Library default stays
    xxhash64; recall vs brute force pinned in tests."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = similarity.kmeans_centroids(e, k=16, n_iter=3, portable=True)
    return similarity.ivf_topk(e, _QUERY_IDS, k=_TOPK, centroids=cent)


def _ivf_topk_trained_sql(n_centroids: int = 16, n_iter: int = 3,
                          n_probe: int = 8, k: int = 10,
                          probe_oversample: int = 4) -> str:
    """DuckDB twin of portable kmeans_centroids + ivf_topk serving:
    init by md5-prefix TakeOrdered, each Lloyd round = assignment
    (rank-1 per vector) -> DECIMAL-exact elementwise means ->
    left-join keep-previous for empty clusters; then the standard
    lists/probes/rerank machinery against the trained centroids."""
    return (f"WITH {_EV_CTE}"
            + _kmeans_cte_chain(n_centroids, n_iter)
            + ", " + _ivf_probe_ctes("ev", f"cent{n_iter}", (), n_probe,
                                     k, probe_oversample)
            + _ivf_rerank_tail(k))


def _kmeans_cte_chain(n_centroids: int, n_iter: int,
                      salt: str = "", prefix: str = "") -> str:
    """{prefix}cent0..{prefix}cent{n_iter} — the SQL twin of portable
    kmeans_centroids (md5-prefix TakeOrdered init with ``salt``
    appended exactly like sampling.hash_key; each Lloyd round = rank-1
    cosine assignment -> DECIMAL-exact elementwise means ->
    keep-previous for empty clusters). Factored r8 so the trained-IVF
    oracle and the portable IVF-PQ oracle share one copy (the r7c
    probe-rule rationale); ``prefix`` (r9) lets several independently
    salted chains coexist for the restart-selection oracle. Emits a
    leading comma; callers prepend the ev CTE."""
    l2 = ("sqrt(list_reduce(list_transform({v}, x -> x * x), "
          "(a, b) -> a + b))")
    p = prefix
    parts = [f""", {p}cent0 AS (
  SELECT CAST(rn - 1 AS INT) AS centroid_id, v AS cv, norm AS cnorm
  FROM (
    SELECT v, norm, row_number() OVER (
        ORDER BY substr(md5(CAST(vec_id AS VARCHAR) || '{salt}'), 1, 8),
                 vec_id) AS rn
    FROM ev
  ) WHERE rn <= {n_centroids}
)"""]
    for i in range(n_iter):
        parts.append(f""", {p}s{i} AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         {_DOTP.format(a='e.v', b='c.cv')} / (e.norm * c.cnorm) AS csim
  FROM ev e, {p}cent{i} c
), {p}a{i} AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY csim DESC, centroid_id) AS rr
    FROM {p}s{i}
  ) WHERE rr = 1
), {p}m{i} AS (
  SELECT centroid_id, pos,
         CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE)
           / count(*) AS c
  FROM (SELECT centroid_id, unnest(range(len(v))) AS pos,
               unnest(v) AS x FROM {p}a{i})
  GROUP BY centroid_id, pos
), {p}n{i} AS (
  SELECT centroid_id, list(c ORDER BY pos) AS cv FROM {p}m{i}
  GROUP BY centroid_id
), {p}cent{i + 1} AS (
  SELECT p.centroid_id,
         coalesce(n.cv, p.cv) AS cv,
         CASE WHEN n.cv IS NULL THEN p.cnorm
              ELSE {l2.format(v='n.cv')} END AS cnorm
  FROM {p}cent{i} p LEFT JOIN {p}n{i} n USING (centroid_id)
)""")
    return "".join(parts)


def _kmeans_best_of_ctes(n_centroids: int, n_iter: int,
                         restarts: int = 3) -> str:
    """SQL twin of kmeans_centroids_best_of: ``restarts`` salted
    chains (salts '', '|r1', '|r2', ... — sampling.hash_key's
    convention), one DECIMAL-summed within-cluster-similarity
    objective per chain, and a final ``cent`` CTE holding the argmax
    chain (ties -> lowest restart index). Emits a leading comma."""
    salts = [""] + [f"|r{i}" for i in range(1, restarts)]
    parts = []
    for i, s in enumerate(salts):
        chain = _kmeans_cte_chain(n_centroids, n_iter,
                                  salt=s, prefix=f"r{i}")
        # MATERIALIZED pins: without it DuckDB re-inlines each chain
        # at every downstream reference (cent feeds assigned/res/qc),
        # multiplying the Lloyd CTE tree until an 8 GB cap OOMs at
        # sf0.001; with the hints the same query runs in ~3 s. Purely
        # an evaluation-strategy hint — results are identical.
        chain = chain.replace(f"r{i}cent{n_iter} AS (",
                              f"r{i}cent{n_iter} AS MATERIALIZED (")
        parts.append(chain)
        parts.append(f""", obj{i} AS MATERIALIZED (
  SELECT {i} AS r, SUM(CAST(m AS DECIMAL(30,15))) AS o FROM (
    SELECT e.vec_id,
           MAX({_DOTP.format(a='e.v', b='c.cv')} / (e.norm * c.cnorm))
             AS m
    FROM ev e, r{i}cent{n_iter} c
    GROUP BY e.vec_id
  )
)""")
    union_obj = " UNION ALL ".join(f"SELECT * FROM obj{i}"
                                   for i in range(restarts))
    union_cent = " UNION ALL ".join(
        f"SELECT {i} AS r, centroid_id, cv, cnorm FROM r{i}cent{n_iter}"
        for i in range(restarts))
    parts.append(f""", pick AS MATERIALIZED (
  SELECT r FROM ({union_obj}) ORDER BY o DESC, r LIMIT 1
), cent AS MATERIALIZED (
  SELECT centroid_id, cv, cnorm FROM ({union_cent})
  WHERE r = (SELECT r FROM pick)
)""")
    return "".join(parts)


def ivf_topk_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVFADC compression stack, fully DuckDB-oracled (r8):
    trained coarse quantizer (3 portable Lloyd rounds) -> per-list
    RESIDUALS -> product-quantization codebooks (3 more portable Lloyd
    rounds, jointly over the m subspaces) -> codes -> ADC scoring from
    the per-query LUT + the exact per-(query, probed-list) coarse dot
    -> stored-norm denominator -> shortlist -> exact rerank. Possible
    because the r8 residual/stored-norm formulation removed every libm
    step from ADC: subtraction, squares, sequential-fold dots, DECIMAL
    partial sums and IEEE division only — so the oracle replays BOTH
    training loops and the whole serving path and the driver hash
    certifies the compressed index end to end. This portable tier runs
    UNROTATED (identity basis — the OPQ rotation is a driver-side
    eigh, the one engine-bound step of the default tier) with
    md5-prefix init draws and, since r9 (VERDICT r8 #2), BEST-OF-3
    restart selection on the coarse quantizer
    (kmeans_centroids_best_of — the DECIMAL-exact inertia argmax, so
    the pick itself oracles): the r8 single-draw recall dip at the
    200-vector fixture (0.76, draw luck) is gone — measured
    recall-at-10 0.82/0.84 at sf0.001/sf0.01 vs the rotated default's
    0.84/0.86; floor raised to 0.80 in tests. Library default stays
    rotated + xxhash64 + single draw (``ivf_topk_pq``)."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_pq(e, _QUERY_IDS, k=_TOPK,
                                  rotate=False, portable=True,
                                  coarse_restarts=3)


def _pq_subs_cte(rel: str, vec: str, m: int, keys: str) -> str:
    """Subvector split of ``rel.vec`` (SQL twin of _subvectors):
    per-row adaptive width ceil(d/m), tail clamped, empty slices
    dropped."""
    return f"""
  SELECT {keys}, CAST(s AS INT) AS sub_id,
         list_slice({vec}, s * ds + 1,
                    least((s + 1) * ds, len({vec}))) AS sv
  FROM (SELECT *, CAST(ceil(len({vec}) * 1.0 / {m}) AS INT) AS ds,
               unnest(generate_series(0, {m} - 1)) AS s
        FROM {rel})
  WHERE s * ds + 1 <= len({vec})"""


def _ivf_topk_pq_portable_sql(m: int = 8, ksub: int = 32,
                              n_centroids: int = 16,
                              coarse_iters: int = 3, n_iter: int = 3,
                              n_probe: int = 8, oversample: int = 12,
                              k: int = 10,
                              probe_oversample: int = 4,
                              tail: Optional[str] = None) -> str:
    """DuckDB twin of ivf_topk_pq(rotate=False, portable=True,
    coarse_restarts=3): the best-of-3 restart-selected kmeans chains
    (_kmeans_best_of_ctes) + probe machinery, then the PQ training loop
    unrolled (cb0..cb{n_iter} — md5-prefix init per subspace, rank-1
    L2 assignment on sequential-fold distances, DECIMAL-exact means,
    keep-previous for empty codes), the encode pass, and the ADC
    serve (per-query LUT, DECIMAL partial sums, exact coarse term,
    stored-norm denominator, shortlist, exact rerank)."""
    d2 = ("list_reduce(list_transform(list_zip({a}, {b}), "
          "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
          "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), "
          "(x, y) -> x + y)")
    parts = [f"WITH {_EV_CTE}",
             _kmeans_best_of_ctes(n_centroids, coarse_iters),
             ", " + _ivf_probe_ctes("ev", "cent", (),
                                    n_probe, k, probe_oversample)]
    parts.append(f""", res AS (
  SELECT l.vec_id,
         list_transform(list_zip(l.v, c.cv),
           p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS rv
  FROM lists l JOIN cent c ON l.list_id = c.centroid_id
), subs AS ({_pq_subs_cte('res', 'rv', m, 'vec_id')}
), cb0 AS (
  SELECT sub_id, CAST(rn - 1 AS INT) AS code_id, sv AS cv
  FROM (
    SELECT sub_id, sv, row_number() OVER (PARTITION BY sub_id
        ORDER BY substr(md5(CAST(vec_id AS VARCHAR) || ''), 1, 8),
                 vec_id) AS rn
    FROM subs
  ) WHERE rn <= {ksub}
)""")
    for r in range(n_iter):
        parts.append(f""", pqs{r} AS (
  SELECT s.vec_id, s.sub_id, s.sv, c.code_id,
         {d2.format(a='s.sv', b='c.cv')} AS d2
  FROM subs s JOIN cb{r} c USING (sub_id)
), pqa{r} AS (
  SELECT sub_id, code_id, sv FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                ORDER BY d2, code_id) AS rr
    FROM pqs{r}
  ) WHERE rr = 1
), pqm{r} AS (
  SELECT sub_id, code_id, pos,
         CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE)
           / count(*) AS c
  FROM (SELECT sub_id, code_id, unnest(range(len(sv))) AS pos,
               unnest(sv) AS x FROM pqa{r})
  GROUP BY sub_id, code_id, pos
), pqn{r} AS (
  SELECT sub_id, code_id, list(c ORDER BY pos) AS cv FROM pqm{r}
  GROUP BY sub_id, code_id
), cb{r + 1} AS (
  SELECT p.sub_id, p.code_id, coalesce(n.cv, p.cv) AS cv
  FROM cb{r} p LEFT JOIN pqn{r} n USING (sub_id, code_id)
)""")
    cbf = f"cb{n_iter}"
    parts.append(f""", encs AS (
  SELECT s.vec_id, s.sub_id, c.code_id,
         {d2.format(a='s.sv', b='c.cv')} AS d2
  FROM subs s JOIN {cbf} c USING (sub_id)
), enc AS (
  SELECT vec_id, sub_id, code_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                ORDER BY d2, code_id) AS rr
    FROM encs
  ) WHERE rr = 1
), qv AS (
  SELECT DISTINCT vec_id AS query_id, v, norm AS qnorm FROM probes
), qsubs AS ({_pq_subs_cte('qv', 'v', m, 'query_id, qnorm')}
), lut AS (
  SELECT q.query_id, q.qnorm, q.sub_id, c.code_id,
         {_DOTP.format(a='q.sv', b='c.cv')} AS pdot
  FROM qsubs q JOIN {cbf} c USING (sub_id)
), qc AS (
  SELECT p.vec_id AS query_id, p.list_id,
         {_DOTP.format(a='p.v', b='c.cv')} AS cdot
  FROM probes p JOIN cent c ON p.list_id = c.centroid_id
), cand AS (
  SELECT p.vec_id AS query_id, l.vec_id AS neighbor_id, l.list_id,
         l.norm AS cnorm2, e.sub_id, e.code_id
  FROM lists l JOIN probes p USING (list_id)
  JOIN enc e ON e.vec_id = l.vec_id
), pqparts AS (
  SELECT c.query_id, c.neighbor_id, c.list_id,
         CAST(SUM(CAST(t.pdot AS DECIMAL(25,15))) AS DOUBLE) AS rdot,
         MAX(t.qnorm) AS qnorm, MAX(c.cnorm2) AS cnorm2
  FROM cand c JOIN lut t USING (query_id, sub_id, code_id)
  GROUP BY c.query_id, c.neighbor_id, c.list_id
), approx AS (
  SELECT p.query_id, p.neighbor_id,
         (q.cdot + p.rdot) / (p.qnorm * p.cnorm2) AS approx_cos
  FROM pqparts p JOIN qc q USING (query_id, list_id)
), shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY approx_cos DESC, neighbor_id) AS ss
    FROM approx
  ) WHERE ss <= {k * oversample}
), rr2 AS (
  SELECT sl.query_id, sl.neighbor_id,
         {_DOTP.format(a='qe.v', b='ne.v')} / (qe.norm * ne.norm)
           AS cosine
  FROM shortlist sl
  JOIN ev qe ON qe.vec_id = sl.query_id
  JOIN ev ne ON ne.vec_id = sl.neighbor_id
), rankedpq AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rr2
)""")
    parts.append(tail if tail is not None else f"""
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM rankedpq WHERE rank <= {k}""")
    return "".join(parts)


def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, block_cols=["lang", "source"],
                                     n=3, threshold=0.3)


_JACCARD_SQL = r"""
WITH sh AS (
  SELECT doc_id, lang, source,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(
                     generate_series(1, len(toks) - 2),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
              ELSE [] END AS shingles
  FROM (SELECT doc_id, lang, source,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents)
), pairs AS (
  SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
         a.shingles AS sh_a, b.shingles AS sh_b
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source
                      AND a.doc_id < b.doc_id
), scored AS (
  SELECT lang, source, id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sh_a, sh_b))) > 0
              THEN CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                     / len(list_distinct(list_concat(sh_a, sh_b)))
              ELSE 0.0 END AS jaccard
  FROM pairs
)
SELECT lang, source, id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.3
"""


def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keeper selection: transitive closure over the exact
    n-gram-Jaccard near-dup pairs (A~B, B~C collapse to one group even
    when A~C was never scored), every doc mapped to the surviving id.
    Spark side = iterative min-label propagation
    (operators/graph.connected_components); oracle = recursive CTE —
    a hash match certifies the whole pairs->components->keepers
    chain."""
    from ..operators import graph

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, block_cols=["lang", "source"],
                                      n=3, threshold=0.3)
    return graph.dedup_keepers(d, pairs.select("id_a", "id_b"))


_COMPONENTS_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT id_a AS a, id_b AS b FROM ({_JACCARD_SQL.strip()}) fwd
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM ({_JACCARD_SQL.strip()}) rev
),
reach AS (
  SELECT DISTINCT a AS id, a AS comp FROM edges
  UNION
  SELECT e.b AS id, r.comp FROM reach r JOIN edges e ON r.id = e.a
),
comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS keeper_id,
       d.doc_id = coalesce(c.component, d.doc_id) AS is_kept
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""


def near_dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same keeper-selection contract as near_dup_components, computed
    with the large-star/small-star alternation (Kiveris et al.
    SoCC'14) instead of min-label propagation — the O(log^2 n)-round
    path for pair graphs whose diameter is unknown. Shares the
    recursive-CTE oracle: a hash match certifies both algorithms
    agree with the transitive closure."""
    from ..operators import graph

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, block_cols=["lang", "source"],
                                      n=3, threshold=0.3)
    return graph.dedup_keepers(d, pairs.select("id_a", "id_b"),
                               algorithm="star")


def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, fully DuckDB-oracled (r6): the
    MinHash tier keys the signature on the md5-prefix 31-bit family
    (cm_bucket's scheme), buckets on the raw comma-joined band string,
    and verifies on md5-hashed shingle sets — so the oracle recomputes
    signatures, banding, candidate generation AND the exact-Jaccard
    verify from the parquet alone. Same LCG permutation parameters on
    both sides (_mh_params is the shared source of truth)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, threshold=0.3)


def _minhash_near_dups_sql(n_hashes: int = 64, bands: int = 16,
                           threshold: float = 0.3) -> str:
    """Generate the DuckDB twin of the portable MinHash-LSH pipeline:
    same shingling, same universal-hash family ((h31*a+b) mod 2^31-1
    over the md5-prefix base hash), same banding, same verify."""
    from ..operators.dedup import _mh_params
    params = _mh_params(n_hashes)
    r = n_hashes // bands
    mins = ",\n         ".join(
        f"min((h31 * {a} + {b}) % 2147483647) AS m{j}"
        for j, (a, b) in enumerate(params))
    band_blocks = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, "
        + " || ',' || ".join(f"CAST(m{b * r + i} AS VARCHAR)"
                             for i in range(r))
        + " AS band_hash FROM sig"
        for b in range(bands))
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
), sh AS (
  SELECT doc_id, gram,
         CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT) >> 1 AS h31
  FROM grams
), sig AS (
  SELECT doc_id,
         {mins}
  FROM sh GROUP BY doc_id
), banded AS (
{band_blocks}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, list(DISTINCT h31) AS s FROM sh GROUP BY doc_id
), verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0
              THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.s, sb.s)))
              ELSE 0.0 END AS jaccard
  FROM cand
  JOIN sets sa ON cand.id_a = sa.doc_id
  JOIN sets sb ON cand.id_b = sb.doc_id
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
"""


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-ball pairs, fully DuckDB-oracled (r6): simhash64
    draws the 64 fingerprint bits from the two 32-bit
    md5-prefix halves, so the oracle recomputes fingerprints,
    pigeonhole chunk banding, candidate pairs AND the bit_count
    hamming verify from the parquet alone — the third hash-family
    tier (after count-min and MinHash) whose internals themselves
    hash-match."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(d, max_hamming=12)


def _simhash_near_pairs_sql(max_hamming: int = 12) -> str:
    """DuckDB twin of the portable SimHash pipeline. Note the chunk
    extraction: DuckDB's >> on BIGINT is an ARITHMETIC shift, but
    masking the bottom `width` bits afterward yields exactly Spark's
    shiftrightunsigned-then-mod value for any sign."""
    n_chunks = max_hamming + 1
    widths = [64 // n_chunks + (1 if i < 64 % n_chunks else 0)
              for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    votes = ",\n         ".join(
        (f"sum(((lo >> {i}) % 2) * 2 - 1) AS b{i}" if i < 32
         else f"sum(((hi >> {i - 32}) % 2) * 2 - 1) AS b{i}")
        for i in range(64))
    pack = " + ".join(
        [f"(CASE WHEN b63 > 0 THEN -9223372036854775808 ELSE 0 END)"]
        + [f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)"
           for i in range(63)])
    chunk_blocks = "\n  UNION ALL\n".join(
        f"  SELECT simhash, {i} AS chunk_id, "
        f"(simhash >> {offsets[i]}) & {(1 << widths[i]) - 1} AS chunk_val"
        " FROM fps"
        for i in range(n_chunks))
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), bits AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
         CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS lo
  FROM toks
), votes AS (
  SELECT doc_id,
         {votes}
  FROM bits GROUP BY doc_id
), fp AS (
  SELECT doc_id, {pack} AS simhash FROM votes
), fps AS (
  SELECT DISTINCT simhash FROM fp
), chunks AS (
{chunk_blocks}
), fp_pairs AS (
  SELECT DISTINCT a.simhash AS sim_a, b.simhash AS sim_b
  FROM chunks a JOIN chunks b USING (chunk_id, chunk_val)
  WHERE a.simhash < b.simhash
), fp_ham AS (
  SELECT sim_a, sim_b,
         CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
  FROM fp_pairs
  WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
), expanded AS (
  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
         greatest(ma.doc_id, mb.doc_id) AS id_b, h.hamming
  FROM fp_ham h
  JOIN fp ma ON ma.simhash = h.sim_a
  JOIN fp mb ON mb.simhash = h.sim_b
), same AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
  FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM expanded
UNION ALL
SELECT id_a, id_b, hamming FROM same
"""


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: pairs above 0.35 cosine
    (the fixture embeddings are near-orthogonal random vectors; real
    corpora use 0.9+), blocked by label. Exact sequential-fold cosine,
    so the oracle hash-matches — which is why the operator's
    ``max_block_size`` hot-block LSH routing stays OFF here (it trades
    exactness for boundedness; the scale guard is pinned separately in
    the operator tests)."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(e, ["label"], threshold=0.35)


_EMB_NEAR_SQL = """
WITH ev AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b)) AS norm
  FROM embeddings
)
SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
       list_reduce(list_transform(list_zip(a.v, b.v),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
         (x, y) -> x + y) / (a.norm * b.norm) AS cosine
FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_reduce(list_transform(list_zip(a.v, b.v),
          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
        (x, y) -> x + y) / (a.norm * b.norm) >= 0.35
"""


def split_semantic_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC eval-leakage audit (r7) — the embedding-space sibling
    of split_leakage_report: n-gram Jaccard catches copy-paste
    near-dups crossing a train/test boundary, but a paraphrased twin
    shares no shingles and sails through; its embedding does not.
    Blocked exact-cosine pairs (>= 0.35 on the fixture's
    near-orthogonal vectors; 0.9+ on real corpora) joined to the
    deterministic per-doc split (vec_id = doc_id in the fixture),
    counted per ordered split pair. Off-diagonal mass = semantic
    leakage. Composition of two already-oracled primitives
    (embedding_near_dup_pairs' fold-exact cosine + the md5 split
    case), so the whole chain hash-verifies. Output: (split_a,
    split_b, n_pairs)."""
    from ..operators import sampling
    e = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_near_dup_pairs(e, block_cols=["label"],
                                             threshold=0.35)
    splits = (sampling.assign_splits(e.select("vec_id"), key="vec_id")
              .select("vec_id", "split"))
    sa = splits.select(F.col("vec_id").alias("id_a"),
                       F.col("split").alias("ra"))
    sb = splits.select(F.col("vec_id").alias("id_b"),
                       F.col("split").alias("rb"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select(F.least("ra", "rb").alias("split_a"),
                    F.greatest("ra", "rb").alias("split_b"))
            .groupBy("split_a", "split_b")
            .agg(F.count("*").alias("n_pairs")))


def _split_semantic_sql() -> str:
    from ..operators.sampling import _threshold_hex
    h = "substr(md5(CAST(vec_id AS VARCHAR) || ''), 1, 8)"
    case = (f"CASE WHEN {h} < '{_threshold_hex(0.8)}' THEN 'train' "
            f"WHEN {h} < '{_threshold_hex(0.9)}' THEN 'val' "
            f"ELSE 'test' END")
    return f"""
WITH ev AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b)) AS norm,
         {case} AS split
  FROM embeddings
), pairs AS (
  SELECT a.split AS sa, b.split AS sb
  FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_reduce(list_transform(list_zip(a.v, b.v),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
          (x, y) -> x + y) / (a.norm * b.norm) >= 0.35
)
SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
       count(*) AS n_pairs
FROM pairs GROUP BY 1, 2
"""


def semantic_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embedding-space near-duplicates
    (cosine >= threshold, transitively closed), then keep the
    HIGHEST-QUALITY member of each cluster instead of an arbitrary
    one — fusing the embedding near-dup machinery with the text
    quality signals across the embeddings ⋈ documents tables
    (vec_id = doc_id in the fixture corpus).

    Scale shape: pairs come from the blocked exact-cosine generator
    (hot blocks route to sign-LSH via max_block_size at 100 TB — off
    here for oracle exactness), components from min-label propagation
    with per-round lineage truncation, and keeper choice is a
    map-side-combined ``max_by`` per component + a component-keyed
    join back (r10, VERDICT r9 #3) — the old (quality desc, id)
    window sorted every component inside ONE task, so web-scale's
    classic giant boilerplate cluster serialized on a single core;
    the aggregate form reduces it map-side. Same keeper per component
    (identical comparator), pinned by the unchanged DuckDB oracle.
    Nothing is corpus-quadratic.

    Output: vec_id, component, keeper_id, quality_score, is_kept."""
    from ..operators import graph
    from .text_queries import doc_quality_scores

    e = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_near_dup_pairs(e, block_cols=["label"],
                                             threshold=0.35)
    comp = (graph.connected_components(pairs.select("id_a", "id_b"))
            .withColumnRenamed("id", "vec_id"))
    q = doc_quality_scores(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "quality_score")
    members = (e.select("vec_id")
               .join(comp, "vec_id", "left")
               .select("vec_id",
                       F.coalesce("component", F.col("vec_id"))
                        .alias("component"))
               .join(q, "vec_id"))
    keepers = (members.groupBy("component")
               .agg(F.max_by(
                   "vec_id",
                   F.struct(F.col("quality_score"),
                            (-F.col("vec_id")).alias("__negid")))
                   .alias("keeper_id")))
    return (members.join(keepers, "component")
            .select("vec_id", "component", "keeper_id", "quality_score",
                    (F.col("vec_id") == F.col("keeper_id")).alias("is_kept")))


_SEMANTIC_SQL = f"""
WITH RECURSIVE pairs AS ({_EMB_NEAR_SQL.strip()}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT DISTINCT a AS id, a AS comp FROM edges
  UNION
  SELECT e.b AS id, r.comp FROM reach r JOIN edges e ON r.id = e.a
),
comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
qt AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
           AS solid_chars
  FROM documents
),
q AS (
  SELECT doc_id,
         (CAST(len(list_filter(toks, x -> x IN ({_SW_ARRAY}))) AS DOUBLE)
            / len(toks)) * 0.4
         + ((solid_chars / len(toks)) / 10.0) * 0.3
         + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
           AS quality_score
  FROM qt
),
m AS (
  SELECT e.vec_id,
         coalesce(c.component, e.vec_id) AS component,
         q.quality_score
  FROM embeddings e
  LEFT JOIN comp c ON e.vec_id = c.id
  JOIN q ON q.doc_id = e.vec_id
)
SELECT vec_id, component,
       first_value(vec_id) OVER (
         PARTITION BY component
         ORDER BY quality_score DESC, vec_id) AS keeper_id,
       quality_score,
       vec_id = first_value(vec_id) OVER (
         PARTITION BY component
         ORDER BY quality_score DESC, vec_id) AS is_kept
FROM m
"""


# --- multimodal ------------------------------------------------------------

def multimodal_asset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    assets = multimodal.docs_to_assets(d)
    return (assets.groupBy("modality")
            .agg(F.count("*").alias("n_assets"),
                 F.sum(F.length("payload").cast("long")).alias("total_bytes"),
                 F.min(F.length("payload")).alias("min_bytes"),
                 F.max(F.length("payload")).alias("max_bytes")))


_ASSET_SQL = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
       count(*) AS n_assets,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(MIN(octet_length(encode(text))) AS INT) AS min_bytes,
       CAST(MAX(octet_length(encode(text))) AS INT) AS max_bytes
FROM documents GROUP BY 1
"""


def multimodal_stub_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas plumbing certificate: the Arrow-batched stub decode's
    deterministic geometry is recomputed by the oracle, so a hash match
    proves schema/batching/values survive the Python boundary."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.decode_stub_features(multimodal.docs_to_assets(d))


_STUB_SQL = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
       3 AS n_channels
FROM documents
"""


def label_centroid_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, element-wise: posexplode ->
    (label, pos) mean -> one row per centroid component. The k-means /
    IVF training building block (a Lloyd iteration = this + nearest-
    centroid reassignment), and per-class embedding statistics.

    Means accumulate in DECIMAL then divide as doubles, so the result
    is partitioning/order-independent and bit-identical to the oracle
    (double summation is order-dependent; decimal summation is exact).
    Long output shape (label, pos, component) keeps every compared
    column scalar. One shuffle on (label, pos), map-side partial agg."""
    e = load_table(spark, sf_dir, "embeddings")
    pe = e.select("label", F.posexplode(
        similarity.as_double(F.col("embedding"))).alias("pos", "x"))
    return (pe.groupBy("label", "pos")
            .agg((F.sum(F.col("x").cast("decimal(30,15)")).cast("double")
                  / F.count("*")).alias("component"))
            .select("label", F.col("pos").cast("int").alias("pos"),
                    "component"))


_CENTROID_SQL = """
WITH pe AS (
  -- parallel unnests of equal-length lists zip row-wise in DuckDB
  SELECT label,
         unnest(range(len(embedding))) AS pos,
         unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS x
  FROM embeddings
)
SELECT label, CAST(pos AS INT) AS pos,
       CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*)
         AS component
FROM pe GROUP BY label, pos
"""


def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary content dedup: asset pairs sharing >= 1 aligned 32-byte
    payload chunk digest — the multimodal answer to text near-dup
    (digest bucket join, payloads never pairwise-compared). The oracle
    re-chunks the SOURCE TEXT at the same offsets, valid because the
    fixture payload is the text's utf-8 bytes and the corpus is pure
    ASCII (byte offset == char offset, verified over all SFs)."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.chunk_overlap_pairs(multimodal.docs_to_assets(d),
                                          chunk_bytes=32, min_shared=1)


_CHUNK_DEDUP_SQL = """
WITH fp AS (
  SELECT DISTINCT doc_id AS asset_id,
         md5(substr(text, (i - 1) * 32 + 1, 32)) AS chunk_md5
  FROM documents, generate_series(1, 4000) AS t(i)
  WHERE (i - 1) * 32 < length(text)
)
SELECT a.asset_id AS id_a, b.asset_id AS id_b,
       count(*) AS n_shared_chunks
FROM fp a JOIN fp b
  ON a.chunk_md5 = b.chunk_md5 AND a.asset_id < b.asset_id
GROUP BY 1, 2
HAVING count(*) >= 1
"""


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the embedding dimensions
    (operators/pca.embedding_covariance) — the fit pass of PCA and the
    correlation diagnostic an embedding owner reads before whitening.
    Decimal-accumulated moments: bit-equal across partitionings and to
    the single-threaded oracle."""
    from ..operators import pca
    return pca.embedding_covariance(load_table(spark, sf_dir, "embeddings"))


def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-DISTRIBUTION drift per label group vs the whole
    corpus — the check an embedding owner runs when a new crawl or
    encoder version lands: per-dimension mean shift (L2 and worst
    dim) and the SYMMETRIC diagonal-Gaussian KL divergence between
    the group and the corpus. The symmetric form is chosen
    deliberately: KL(a||b) for Gaussians carries a ln(sigma_b/sigma_a)
    term, but the symmetrized 0.5*(KL(a||b)+KL(b||a)) cancels it —
    the whole statistic is ln-FREE closed-form arithmetic on
    decimal-accumulated moments, so the query is fully DuckDB-oracled
    with no libm step at all. Scale: two moment aggregates over the
    posexploded corpus (labels x d and d rows out — model-sized),
    everything after runs on the model frame. The per-label reductions
    are plain SUMs over the d per-dimension terms with round(6) LAST —
    the doc_kn_perplexity protocol: summation-order ulp (~1e-13 over
    64 doubles) is absorbed by the rounding, and the sorted-fold
    alternative measured 2x the plan-compile cost for no correctness
    gain.
    Output: (label, n_vecs, mean_shift_l2, worst_dim_shift,
    sym_kl_diag)."""
    from ..operators import pca
    e = load_table(spark, sf_dir, "embeddings")
    # sufficient statistics via the MERGEABLE moment grid (pca.py):
    # the same numbers decode from stored per-day/per-batch grids
    # merged by addition — drift-over-time without rescans (streaming
    # merge-equals-batch pinned in tests)
    per = (pca.moments_from_grid(pca.moment_grid(e, ["label"]))
           .withColumn("var", F.col("m2") - F.col("m") * F.col("m")))
    gl = (pca.moments_from_grid(pca.moment_grid(e, []))
          .select("pos", F.col("m").alias("gm"),
                  (F.col("m2") - F.col("m") * F.col("m")).alias("gvar")))
    eps = F.lit(1e-09)
    diff = F.col("m") - F.col("gm")
    j = (per.join(F.broadcast(gl), "pos")
         .withColumn("d2", diff * diff)
         .withColumn("adiff", F.abs(diff))
         .withColumn("tt", F.lit(0.5)
                     * ((F.col("var") + F.col("d2"))
                        / (F.lit(2.0) * (F.col("gvar") + eps))
                        + (F.col("gvar") + F.col("d2"))
                        / (F.lit(2.0) * (F.col("var") + eps))
                        - F.lit(1.0))))
    return (j.groupBy("label")
            .agg(F.max("n").alias("n_vecs"),
                 F.round(F.sqrt(F.sum("d2")), 6).alias("mean_shift_l2"),
                 F.round(F.max("adiff"), 6).alias("worst_dim_shift"),
                 F.round(F.sum("tt"), 6).alias("sym_kl_diag")))


_DRIFT_SQL = """
WITH pe AS (
  SELECT label, unnest(range(len(v))) AS pos, unnest(v) AS x
  FROM (SELECT label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE len(embedding) >= 1)
), per AS (
  SELECT label, pos, count(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS m,
         CAST(SUM(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS m2
  FROM pe GROUP BY label, pos
), gl AS (
  SELECT pos,
         CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS gm,
         CAST(SUM(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS gm2
  FROM pe GROUP BY pos
), j AS (
  SELECT per.label, per.pos, per.n,
         (per.m - gl.gm) * (per.m - gl.gm) AS d2,
         ABS(per.m - gl.gm) AS adiff,
         per.m2 - per.m * per.m AS var,
         gl.gm2 - gl.gm * gl.gm AS gvar
  FROM per JOIN gl USING (pos)
), t AS (
  SELECT label, pos, n, d2, adiff,
         0.5 * ((var + d2) / (2.0 * (gvar + 1e-09))
                + (gvar + d2) / (2.0 * (var + 1e-09)) - 1.0) AS tt
  FROM j
)
SELECT label, MAX(n) AS n_vecs,
       round(sqrt(SUM(d2)), 6) AS mean_shift_l2,
       round(MAX(adiff), 6) AS worst_dim_shift,
       round(SUM(tt), 6) AS sym_kl_diag
FROM t GROUP BY label
"""


_COV_SQL = """
WITH e AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE len(embedding) >= 1
), m AS (
  SELECT pos, CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS mu
  FROM (SELECT unnest(range(len(v))) AS pos, unnest(v) AS x FROM e)
  GROUP BY pos
), p1 AS (
  SELECT v, unnest(generate_series(1, len(v))) AS i FROM e
), p2 AS (
  SELECT v, i, unnest(generate_series(i, len(v))) AS j FROM p1
), sec AS (
  SELECT CAST(i - 1 AS INT) AS dim_i, CAST(j - 1 AS INT) AS dim_j,
         CAST(SUM(CAST(v[i] * v[j] AS DECIMAL(30,15))) AS DOUBLE)
           / count(*) AS exy
  FROM p2 GROUP BY dim_i, dim_j
)
SELECT dim_i, dim_j, exy - mi.mu * mj.mu AS cov
FROM sec JOIN m mi ON mi.pos = dim_i JOIN m mj ON mj.pos = dim_j
"""


def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit PCA (k=8) on the corpus and project every embedding
    (operators/pca) — the dimensionality-reduction step before
    clustering/indexing at scale. Rows-only for the driver (the eigen
    step isn't SQL-expressible); the covariance it fits from is the
    oracled query above, and the projection is pinned against numpy's
    full-batch PCA in pytest. Output keeps scalar columns (vec_id,
    component, value) so every value is hash-compared in the rows-only
    run deterministically."""
    from ..operators import pca
    e = load_table(spark, sf_dir, "embeddings")
    means, comps = pca.pca_model(e, k=8)
    proj = pca.project_embeddings(e, means, comps)
    return proj.select("vec_id", F.posexplode("proj").alias(
        "component", "value"))


def embedding_quantization_error(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Scalar int8 quantization fidelity per vector: the integer code
    sum pins the exact codes (any flipped code shifts it), max/mean
    absolute reconstruction error pin the dequantization arithmetic.
    Certifies the 4x-compression ANN storage path end to end
    (calibration pass -> codes -> reconstruction) against the oracle's
    re-derivation."""
    e = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(e)
    errs = F.zip_with("v", "recon", lambda x, r: F.abs(r - x))
    return (q.withColumn("errs", errs)
            .select(
                "vec_id",
                F.aggregate("codes", F.lit(0).cast("long"),
                            lambda acc, c: acc + c).alias("sum_codes"),
                F.array_max("errs").alias("max_abs_err"),
                (F.aggregate("errs", F.lit(0.0), lambda acc, v: acc + v)
                 / F.size("errs")).alias("mean_abs_err")))


_QUANT_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), d AS (
  SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx
  FROM e, generate_series(1, 4096) s(i) WHERE i <= len(v)
  GROUP BY i
), r AS (
  SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS mxs
  FROM d
), q AS (
  SELECT vec_id, v,
         list_transform(range(1, len(v) + 1),
           i -> CASE WHEN mxs[i] = mins[i] THEN 0
                ELSE CAST(least(greatest(
                       round((v[i] - mins[i]) / (mxs[i] - mins[i]) * 255),
                       0.0), 255.0) AS INT) END) AS codes
  FROM e, r
), w AS (
  SELECT vec_id, codes,
         list_transform(range(1, len(v) + 1),
           i -> abs(mins[i] + CAST(codes[i] AS DOUBLE) / 255.0
                      * (mxs[i] - mins[i]) - v[i])) AS errs
  FROM q, r
)
SELECT vec_id,
       CAST(list_reduce(codes, (a, b) -> a + b) AS BIGINT) AS sum_codes,
       list_max(errs) AS max_abs_err,
       list_reduce(errs, (a, b) -> a + b) / len(errs) AS mean_abs_err
FROM w
"""


def multimodal_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary near-dup pairs over CONTENT-DEFINED chunks (md5-window
    cut rule, multimodal.payload_cdc_chunks): pairs sharing >= 5
    distinct chunk digests. Unlike the aligned variant
    (multimodal_chunk_dedup), shared runs are found even when their
    byte offsets differ between assets. Oracle re-chunks the source
    text with the identical cut rule (ASCII corpus: byte offset ==
    char offset)."""
    d = load_table(spark, sf_dir, "documents")
    return multimodal.chunk_overlap_pairs(
        multimodal.docs_to_assets(d), min_shared=5, method="cdc")


_CDC_DEDUP_SQL = """
WITH t AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE length(text) > 0
), b AS (
  SELECT doc_id, text, n,
         [CAST(0 AS BIGINT)]
           || list_filter(range(16, n),
                          i -> md5(substr(text, CAST(i - 15 AS INT), 16))
                                 LIKE '0%')
           || [n] AS bounds
  FROM t
), fp AS (
  SELECT DISTINCT doc_id AS asset_id,
         md5(substr(text, CAST(bounds[j] + 1 AS INT),
                    CAST(bounds[j + 1] - bounds[j] AS INT))) AS chunk_md5
  FROM b, generate_series(1, 8000) s(j)
  WHERE j <= len(bounds) - 1
)
SELECT a.asset_id AS id_a, b2.asset_id AS id_b,
       count(*) AS n_shared_chunks
FROM fp a JOIN fp b2
  ON a.chunk_md5 = b2.chunk_md5 AND a.asset_id < b2.asset_id
GROUP BY 1, 2
HAVING count(*) >= 5
"""


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of every approximate-neighbor method against
    the exact brute-force answer, computed distributively (the judge
    of an ANN index IS a query: semi-join approx results against
    exact results, count hits). One row per method: recall@10 over
    the query set and the worst single query's recall — the numbers
    an index owner watches when tuning n_probe/bands at 100 TB.

    Rows-only for the driver (the hash families aren't
    SQL-expressible); determinism comes from the deterministic
    centroid/hyperplane construction, and the recall FLOORS are
    pinned separately in pytest."""
    e = load_table(spark, sf_dir, "embeddings")
    exact = tracked_persist(
        similarity.cosine_topk(e, _QUERY_IDS, k=_TOPK)
        .select("query_id", "neighbor_id"))
    qframe = spark.createDataFrame([(q,) for q in _QUERY_IDS],
                                   "query_id long")
    methods = {
        "ivf": similarity.ivf_topk(e, _QUERY_IDS, k=_TOPK),
        "ivf_trained": similarity.ivf_topk(
            e, _QUERY_IDS, k=_TOPK,
            centroids=similarity.kmeans_centroids(e, k=16, n_iter=3)),
        "signlsh": similarity.signlsh_topk(e, _QUERY_IDS, k=_TOPK),
        "ivf_quantized": similarity.ivf_topk_quantized(e, _QUERY_IDS,
                                                       k=_TOPK),
        "ivf_pq": similarity.ivf_topk_pq(e, _QUERY_IDS, k=_TOPK),
        "ivf_pq_raw": similarity.ivf_topk_pq(e, _QUERY_IDS, k=_TOPK,
                                             residual=False),
        "ivf_pq_portable": similarity.ivf_topk_pq(
            e, _QUERY_IDS, k=_TOPK, rotate=False, portable=True,
            coarse_restarts=3),
        "pca_ivf": pca.pca_ivf_topk(e, _QUERY_IDS, k=_TOPK),
    }
    reports = []
    for name, approx in methods.items():
        hits = (approx.select("query_id", "neighbor_id")
                .join(exact, ["query_id", "neighbor_id"], "left_semi")
                .groupBy("query_id").agg(F.count("*").alias("n_hit")))
        per_q = (qframe.join(hits, "query_id", "left")
                 .select(F.coalesce("n_hit", F.lit(0)).alias("n_hit")))
        reports.append(
            per_q.agg(
                (F.sum("n_hit")
                 / F.lit(float(len(_QUERY_IDS) * _TOPK))).alias("recall_at_k"),
                (F.min("n_hit") / F.lit(float(_TOPK)))
                .alias("worst_query_recall"))
            .withColumn("method", F.lit(name))
            .select("method", "recall_at_k", "worst_query_recall"))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def retrieval_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query HIT COUNTS of the portable IVFADC tier against the
    exact brute-force top-k (VERDICT r9 #7): the recall numerator of
    ann_recall_report's ``ivf_pq_portable`` row, promoted to a fully
    hash-oracled entry. Both top-k sets are individually oracled
    (``ivf_topk_pq_portable``, ``cosine_topk_bruteforce``); this
    certifies the exact-integer INTERSECTION between them — the ANN
    quality claim itself — cross-engine. One row per query:
    (query_id, n_hit, k); recall@k = sum(n_hit) / (|queries| * k).

    Scale shape: both inputs are the already-audited serve paths; the
    hit count is a left-semi join on (query, neighbor) over 2 * |Q| * k
    model-sized rows."""
    e = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(e, _QUERY_IDS, k=_TOPK) \
        .select("query_id", "neighbor_id")
    approx = similarity.ivf_topk_pq(e, _QUERY_IDS, k=_TOPK,
                                    rotate=False, portable=True,
                                    coarse_restarts=3) \
        .select("query_id", "neighbor_id")
    qframe = spark.createDataFrame([(q,) for q in _QUERY_IDS],
                                   "query_id long")
    hits = (approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id").agg(F.count("*").alias("n_hit")))
    return (qframe.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hit", F.lit(0)).cast("int")
                    .alias("n_hit"),
                    F.lit(_TOPK).alias("k")))


def _retrieval_hits_sql() -> str:
    """Composes the (oracled) portable-IVFADC CTE chain with a
    brute-force top-k chain over the SAME ``ev`` CTE and counts the
    per-query intersection."""
    qlist = ", ".join(map(str, _QUERY_IDS))
    tail = f""", bfs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DOTP.format(a='q.v', b='c.v')} / (q.norm * c.norm) AS cosine
  FROM ev q JOIN ev c ON c.vec_id NOT IN ({qlist})
  WHERE q.vec_id IN ({qlist})
), bfr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rank
    FROM bfs
  ) WHERE rank <= {_TOPK}
), pq_hits AS (
  SELECT a.query_id, count(*) AS n_hit
  FROM (SELECT query_id, neighbor_id FROM rankedpq
        WHERE rank <= {_TOPK}) a
  JOIN bfr b USING (query_id, neighbor_id)
  GROUP BY a.query_id
)
SELECT q.query_id, CAST(coalesce(h.n_hit, 0) AS INT) AS n_hit,
       CAST({_TOPK} AS INT) AS k
FROM (SELECT unnest([{qlist}]::BIGINT[]) AS query_id) q
LEFT JOIN pq_hits h USING (query_id)"""
    return _ivf_topk_pq_portable_sql(tail=tail)


QUERIES: dict[str, Q] = {
    "ann_recall_report": Q(ann_recall_report, None),
    "retrieval_hits": Q(retrieval_hits, _retrieval_hits_sql()),
    "embedding_norms": Q(embedding_norms, _NORMS_SQL),
    "embedding_exact_dups": Q(embedding_exact_dups, _EMB_DUP_SQL),
    "cosine_topk_bruteforce": Q(cosine_topk_bruteforce, _COSINE_SQL),
    "signlsh_topk_approx": Q(signlsh_topk_approx, _signlsh_topk_sql()),
    "ivf_topk_approx": Q(ivf_topk_approx, _ivf_topk_sql()),
    "ivf_topk_trained": Q(ivf_topk_trained, _ivf_topk_trained_sql()),
    "ivf_topk_pq_portable": Q(ivf_topk_pq_portable,
                              _ivf_topk_pq_portable_sql()),
    "ivf_topk_pq": Q(ivf_topk_pq, None),
    "pca_ivf_topk": Q(pca_ivf_topk, None),
    "ivf_topk_quantized": Q(ivf_topk_quantized,
                            _ivf_topk_quantized_sql()),
    "embedding_near_dup_pairs": Q(embedding_near_dup_pairs, _EMB_NEAR_SQL),
    "split_semantic_leakage": Q(split_semantic_leakage,
                                _split_semantic_sql()),
    "semantic_dedup_keepers": Q(semantic_dedup_keepers, _SEMANTIC_SQL),
    "label_centroid_components": Q(label_centroid_components, _CENTROID_SQL),
    "embedding_quantization_error": Q(embedding_quantization_error,
                                      _QUANT_SQL),
    "embedding_covariance": Q(embedding_covariance, _COV_SQL),
    "embedding_drift_report": Q(embedding_drift_report, _DRIFT_SQL),
    "embedding_pca_projection": Q(embedding_pca_projection, None),
    "ngram_jaccard_near_dups": Q(ngram_jaccard_near_dups, _JACCARD_SQL),
    "near_dup_components": Q(near_dup_components, _COMPONENTS_SQL),
    "near_dup_components_star": Q(near_dup_components_star, _COMPONENTS_SQL),
    "minhash_near_dups": Q(minhash_near_dups, _minhash_near_dups_sql()),
    "simhash_near_pairs": Q(simhash_near_pairs, _simhash_near_pairs_sql()),
    "multimodal_asset_stats": Q(multimodal_asset_stats, _ASSET_SQL),
    "multimodal_chunk_dedup": Q(multimodal_chunk_dedup, _CHUNK_DEDUP_SQL),
    "multimodal_cdc_dedup": Q(multimodal_cdc_dedup, _CDC_DEDUP_SQL),
    "multimodal_stub_features": Q(multimodal_stub_features, _STUB_SQL),
}


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit (r5 — the measurement that
    motivates source_level_split_assignment): join the exact
    n-gram-Jaccard near-dup pairs to the PER-DOC split assignment and
    count pairs per (ordered) split pair. Off-diagonal rows —
    train⋈test, train⋈val — are evaluation leakage: a test doc whose
    near-twin was trained on. Composition of two already-oracled
    primitives, so the whole chain hash-verifies; the group-level
    split kills these rows by construction (blocked pairs share a
    source, and source-keyed splits can't straddle)."""
    return leakage_report(load_table(spark, sf_dir, "documents"))


def leakage_report(d: DataFrame) -> DataFrame:
    """split_leakage_report's body over an injected corpus frame — the
    same seam as text_queries.bloom_decon_report, so the scale bench
    (tools/bench_expensive_scale.py) exercises the identical
    machinery/parameters as the registered query instead of a
    hand-inlined copy that could silently drift."""
    from ..operators import sampling

    pairs = dedup.ngram_jaccard_pairs(d, block_cols=["lang", "source"],
                                      n=3, threshold=0.3)
    splits = sampling.assign_splits(d.select("doc_id"), key="doc_id") \
                     .select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("id_a"),
                       F.col("split").alias("split_raw_a"))
    sb = splits.select(F.col("doc_id").alias("id_b"),
                       F.col("split").alias("split_raw_b"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select(F.least("split_raw_a", "split_raw_b").alias("split_a"),
                    F.greatest("split_raw_a", "split_raw_b")
                     .alias("split_b"))
            .groupBy("split_a", "split_b")
            .agg(F.count("*").alias("n_near_dup_pairs")))


_LEAKAGE_SQL = _JACCARD_SQL.replace(
    'SELECT lang, source, id_a, id_b, jaccard FROM scored '
    'WHERE jaccard >= 0.3',
    """, near AS (
  SELECT id_a, id_b FROM scored WHERE jaccard >= 0.3
), sp AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8)
                   < 'cccccccc' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8)
                   < 'e6666666' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT least(a.split, b.split) AS split_a,
       greatest(a.split, b.split) AS split_b,
       count(*) AS n_near_dup_pairs
FROM near JOIN sp a ON near.id_a = a.doc_id
          JOIN sp b ON near.id_b = b.doc_id
GROUP BY split_a, split_b""")


def split_leakage_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REPAIR action split_leakage_report motivates (r7c): any doc
    on the non-train side of a cross-split near-dup pair moves to
    train — the standard decontamination direction (training data
    stays intact; the eval sets shed their contaminated members
    instead of leaking them). Direct-pair rule; a transitive repair
    composes near_dup_components the same way. Output: (doc_id,
    split_orig, split_final, repaired) for every document —
    composition of two already-oracled primitives, so the repaired
    assignment itself hash-verifies."""
    from ..operators import sampling

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, block_cols=["lang", "source"],
                                      n=3, threshold=0.3)
    splits = sampling.assign_splits(d.select("doc_id"), key="doc_id") \
                     .select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("id_a"),
                       F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("id_b"),
                       F.col("split").alias("split_b"))
    cross = (pairs.join(sa, "id_a").join(sb, "id_b")
             .filter(F.col("split_a") != F.col("split_b")))
    contaminated = (cross.select(F.col("id_a").alias("doc_id"),
                                 F.col("split_a").alias("split"))
                    .unionByName(cross.select(
                        F.col("id_b").alias("doc_id"),
                        F.col("split_b").alias("split")))
                    .filter(F.col("split") != "train")
                    .select("doc_id").distinct()
                    .withColumn("__c", F.lit(1)))
    return (splits.join(contaminated, "doc_id", "left")
            .select("doc_id",
                    F.col("split").alias("split_orig"),
                    F.when(F.col("__c").isNotNull(), "train")
                     .otherwise(F.col("split")).alias("split_final"),
                    F.col("__c").isNotNull().alias("repaired")))


_REPAIR_SQL = _JACCARD_SQL.replace(
    'SELECT lang, source, id_a, id_b, jaccard FROM scored '
    'WHERE jaccard >= 0.3',
    """, near AS (
  SELECT id_a, id_b FROM scored WHERE jaccard >= 0.3
), sp AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8)
                   < 'cccccccc' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8)
                   < 'e6666666' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), cross_pairs AS (
  SELECT near.id_a, near.id_b, a.split AS split_a, b.split AS split_b
  FROM near JOIN sp a ON near.id_a = a.doc_id
            JOIN sp b ON near.id_b = b.doc_id
  WHERE a.split <> b.split
), contaminated AS (
  SELECT DISTINCT doc_id FROM (
    SELECT id_a AS doc_id, split_a AS split FROM cross_pairs
    UNION ALL
    SELECT id_b AS doc_id, split_b AS split FROM cross_pairs
  ) WHERE split <> 'train'
)
SELECT sp.doc_id AS doc_id, sp.split AS split_orig,
       CASE WHEN c.doc_id IS NOT NULL THEN 'train'
            ELSE sp.split END AS split_final,
       c.doc_id IS NOT NULL AS repaired
FROM sp LEFT JOIN contaminated c ON sp.doc_id = c.doc_id""")


QUERIES.update({
    "split_leakage_report": Q(split_leakage_report, _LEAKAGE_SQL),
    "split_leakage_repair": Q(split_leakage_repair, _REPAIR_SQL),
})


def near_dup_edit_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance VERIFICATION of near-dup candidates (r5b): the
    final-confirmation tier a production dedup runs after set-based
    scoring — Levenshtein distance + normalized similarity on capped
    200-char prefixes for every n-gram-Jaccard candidate pair.
    Levenshtein is O(len_a x len_b) PER PAIR, so it must never see
    the corpus: the cap bounds each evaluation at a constant and the
    candidate set (blocked + size-prefiltered) bounds the pair count
    — the standard shape at 100 TB (cheap shingle pass proposes,
    bounded edit-distance pass confirms)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, block_cols=["lang", "source"],
                                      n=3, threshold=0.3)
    prefix = F.substring(F.col("text"), 1, 200)
    ta = d.select(F.col("doc_id").alias("id_a"), prefix.alias("txt_a"))
    tb = d.select(F.col("doc_id").alias("id_b"), prefix.alias("txt_b"))
    lev = F.levenshtein("txt_a", "txt_b")
    glen = F.greatest(F.length("txt_a"), F.length("txt_b"), F.lit(1))
    return (pairs.join(ta, "id_a").join(tb, "id_b")
            .select("id_a", "id_b", "jaccard",
                    lev.cast("long").alias("edit_distance"),
                    (1.0 - lev.cast("double") / glen)
                    .alias("edit_similarity")))


_EDIT_DIST_SQL = f"""
WITH cand AS ({_JACCARD_SQL.strip()})
SELECT p.id_a, p.id_b, p.jaccard,
       CAST(levenshtein(substr(a.text, 1, 200),
                        substr(b.text, 1, 200)) AS BIGINT)
         AS edit_distance,
       1.0 - CAST(levenshtein(substr(a.text, 1, 200),
                              substr(b.text, 1, 200)) AS DOUBLE)
             / greatest(length(substr(a.text, 1, 200)),
                        length(substr(b.text, 1, 200)), 1)
         AS edit_similarity
FROM cand p
JOIN documents a ON p.id_a = a.doc_id
JOIN documents b ON p.id_b = b.doc_id
"""

QUERIES.update({
    "near_dup_edit_distances": Q(near_dup_edit_distances, _EDIT_DIST_SQL),
})


def global_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL exact-Jaccard near-dup pairs via prefix filtering (r5b,
    operators/dedup.jaccard_pairs_prefix_filter) — no blocking key,
    so cross-(lang, source) duplicates are catchable (pinned in
    tests: the blocked join provably misses a planted cross-block
    twin this query finds). Fully DuckDB-oracled since r7: exact
    Jaccard is a pure function of the shingle SETS, independent of
    the hash family representing them (collision odds ~n²/2⁶⁵ per
    pair), so the oracle recomputes it from the raw 3-gram strings
    with a gram-bucket join — a genuinely different ALGORITHM (no
    prefix filter, no position filter), which makes the hash match
    certify the pruning loses nothing and the verify adds nothing.
    The in-engine brute-force-crossJoin equality pin stays in tests."""
    from ..operators import dedup as dd
    d = load_table(spark, sf_dir, "documents")
    return dd.jaccard_pairs_prefix_filter(d, n=3, threshold=0.5)


_GLOBAL_NEAR_DUP_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
), sz AS (
  SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ixn
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(ixn AS DOUBLE) / (sa.sz + sb.sz - ixn) AS jaccard
FROM inter
JOIN sz sa ON inter.id_a = sa.doc_id
JOIN sz sb ON inter.id_b = sb.doc_id
WHERE CAST(ixn AS DOUBLE) / (sa.sz + sb.sz - ixn) >= 0.5
"""

QUERIES.update({
    "global_near_dup_pairs": Q(global_near_dup_pairs,
                               _GLOBAL_NEAR_DUP_SQL),
})


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training (r7):
    for each anchor, the top-k most-similar DIFFERENT-label vectors
    with the near-duplicate band (cosine >= 0.95) excluded — the
    standard false-negative filter. The cosine is the same sequential
    double fold the oracled brute-force query uses, so the whole
    chain (label filter, dup-band filter, rank, raw cosine values)
    hash-verifies against DuckDB."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negative_topk(e, _QUERY_IDS, k=_TOPK,
                                         dup_threshold=0.95)


_HARD_NEG_SQL = f"""
WITH ev AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b)) AS norm
  FROM embeddings
), a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label,
         v AS av, norm AS anorm FROM ev
  WHERE vec_id IN ({', '.join(map(str, _QUERY_IDS))})
), c AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label,
         v AS cv, norm AS cnorm FROM ev
  WHERE vec_id NOT IN ({', '.join(map(str, _QUERY_IDS))})
), scored AS (
  SELECT anchor_id, anchor_label, neighbor_id, neighbor_label,
         list_reduce(list_transform(list_zip(av, cv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
           (a, b) -> a + b) / (anorm * cnorm) AS cosine
  FROM c, a
  WHERE neighbor_label <> anchor_label
), banded AS (
  SELECT * FROM scored WHERE cosine < 0.95
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
              ORDER BY cosine DESC, neighbor_id) AS rank
  FROM banded
)
SELECT anchor_id, anchor_label, neighbor_id, neighbor_label, cosine,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOPK}
"""


def retrieval_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-relevance retrieval metrics over the exact brute-force
    top-k (r7): treating same-label as relevant, per-query
    precision@k, recall@k (vs the query's total relevant pool), MRR,
    and binary-gain NDCG@k. The ANN recall report compares engines to
    each other; this grades the EMBEDDING SPACE against ground-truth
    labels — the eval a retrieval pipeline actually publishes.

    Determinism: DCG folds the rank-sorted hit list sequentially
    (collect -> array_sort -> F.aggregate), mirroring DuckDB's
    ORDER-BY list -> list_reduce, so the double sum has one defined
    association order in both engines; NDCG is rounded (6dp) as the
    LAST op to absorb log2 libm ulps. precision/recall/MRR are exact
    IEEE divisions of integers."""
    e = load_table(spark, sf_dir, "embeddings")
    topk = similarity.cosine_topk(e, _QUERY_IDS, k=_TOPK)
    labels = e.select("vec_id", "label")
    # only the anchors' labels are broadcast (model-sized by
    # construction); the corpus-sized neighbor side joins un-broadcast
    ql = (labels.filter(F.col("vec_id").isin(_QUERY_IDS))
          .withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "query_label"))
    nl = labels.withColumnRenamed("vec_id", "neighbor_id") \
               .withColumnRenamed("label", "neighbor_label")
    hits = (topk.join(F.broadcast(ql), "query_id")
                .join(nl, "neighbor_id")
                # null-safe: a NULL label is irrelevant (0), matching
                # the oracle's CASE ... ELSE 0 — a bare == would
                # propagate NULL through the DCG fold
                .withColumn("rel",
                            F.when(F.col("neighbor_label")
                                   == F.col("query_label"),
                                   F.lit(1)).otherwise(F.lit(0))))
    # total relevant pool per query = same-label candidates (anchors
    # excluded from the pool, same as the top-k candidate set)
    pool = (e.filter(~F.col("vec_id").isin(_QUERY_IDS))
             .groupBy("label").agg(F.count("*").alias("n_rel_total")))
    per_q = (hits.groupBy("query_id", "query_label")
             .agg(F.sum("rel").alias("n_rel_at_k"),
                  F.min(F.when(F.col("rel") == 1, F.col("rank")))
                   .alias("first_rel_rank"),
                  F.array_sort(F.collect_list(
                      F.struct("rank", "rel"))).alias("ranked")))
    dcg = F.aggregate(
        "ranked", F.lit(0.0),
        lambda acc, s: acc + s["rel"].cast("double")
        / F.log2(s["rank"].cast("double") + 1.0))
    out = (per_q.join(F.broadcast(pool),
                      per_q.query_label == pool.label, "left")
           .withColumn("n_rel_total", F.coalesce("n_rel_total", F.lit(0)))
           .withColumn("ideal_n", F.least(F.lit(_TOPK), F.col("n_rel_total")))
           .withColumn("idcg", F.aggregate(
               F.sequence(F.lit(1), F.greatest("ideal_n", F.lit(1))),
               F.lit(0.0),
               lambda acc, i: acc + F.lit(1.0)
               / F.log2(i.cast("double") + 1.0)))
           .withColumn("dcg", dcg))
    return out.select(
        "query_id", "query_label", "n_rel_at_k", "n_rel_total",
        (F.col("n_rel_at_k") / F.lit(float(_TOPK))).alias("precision_at_k"),
        F.when(F.col("n_rel_total") == 0, F.lit(0.0))
         .otherwise(F.col("n_rel_at_k") / F.col("n_rel_total"))
         .alias("recall_at_k"),
        F.coalesce(F.lit(1.0) / F.col("first_rel_rank"), F.lit(0.0))
         .alias("mrr"),
        F.when(F.col("n_rel_total") == 0, F.lit(0.0))
         .otherwise(F.round(F.col("dcg") / F.col("idcg"), 6))
         .alias("ndcg_at_k"))


_RETRIEVAL_QUALITY_SQL = f"""
WITH ranked AS ({_COSINE_SQL.strip()}
), ql AS (
  SELECT vec_id AS query_id, label AS query_label FROM embeddings
), nl AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label FROM embeddings
), hits AS (
  SELECT r.query_id, ql.query_label, r.rank,
         CASE WHEN nl.neighbor_label = ql.query_label
              THEN 1 ELSE 0 END AS rel
  FROM ranked r JOIN ql USING (query_id) JOIN nl USING (neighbor_id)
), pool AS (
  SELECT label, count(*) AS n_rel_total FROM embeddings
  WHERE vec_id NOT IN ({', '.join(map(str, _QUERY_IDS))})
  GROUP BY label
), per_q AS (
  SELECT query_id, query_label,
         CAST(sum(rel) AS BIGINT) AS n_rel_at_k,
         min(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank,
         list(rel ORDER BY rank) AS rels
  FROM hits GROUP BY query_id, query_label
), scored AS (
  SELECT per_q.*,
         coalesce(pool.n_rel_total, 0) AS n_rel_total,
         least({_TOPK}, coalesce(pool.n_rel_total, 0)) AS ideal_n,
         list_reduce(list_transform(rels, (x, i) ->
             CAST(x AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1.0)),
           (a, b) -> a + b) AS dcg
  FROM per_q LEFT JOIN pool ON per_q.query_label = pool.label
)
SELECT query_id, query_label, n_rel_at_k, n_rel_total,
       CAST(n_rel_at_k AS DOUBLE) / {float(_TOPK)} AS precision_at_k,
       CASE WHEN n_rel_total = 0 THEN 0.0
            ELSE CAST(n_rel_at_k AS DOUBLE) / n_rel_total
       END AS recall_at_k,
       coalesce(CAST(1 AS DOUBLE) / first_rel_rank, CAST(0 AS DOUBLE))
         AS mrr,
       CASE WHEN n_rel_total = 0 THEN 0.0
            ELSE round(dcg / list_reduce(
                   list_transform(generate_series(1, greatest(ideal_n, 1)),
                     i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0)),
                   (a, b) -> a + b), 6)
       END AS ndcg_at_k
FROM scored
"""


QUERIES.update({
    "hard_negative_mining": Q(hard_negative_mining, _HARD_NEG_SQL),
    "retrieval_quality_report": Q(retrieval_quality_report,
                                  _RETRIEVAL_QUALITY_SQL),
})
