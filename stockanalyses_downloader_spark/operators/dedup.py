"""Deduplication operator family (SURVEY.md §2.9 X1/X2).

Four tiers, all DataFrame-native (no Python UDFs — hashing via
``xxhash64``/``md5``, set math via higher-order array functions, so
everything stays in whole-stage codegen):

  exact            hash-groupBy on the text digest
  ngram-jaccard    exact Jaccard over word n-gram sets, blocked
  minhash-LSH      banded MinHash signatures -> candidate buckets ->
                   exact Jaccard verification
  simhash          64-bit sign fingerprint, hamming-ball candidates via
                   band buckets + bit_count verification

Scale shape (the whole point): every tier turns the quadratic
all-pairs problem into groupBy-on-a-key. Exact/ngram block on
(lang, source) or a digest; MinHash buckets on (band_id, band_hash);
SimHash buckets on 16-bit chunks. At 100 TB the bucket join is the
only shuffle and its width is the signature, not the document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist

# deterministic universal-hash family for MinHash: h_j(x) = (a_j*x+b_j)
# mod p over 31-bit reduced base hashes. 31-bit operands keep every
# product under 2^63 (Spark runs ANSI mode: silent wraparound is an
# error, so the classic 64-bit mix constants are out). p MUST be close
# to the base-hash range (2^31-1, Mersenne): with a larger modulus the
# affine map never wraps, stays monotonic in h, and every "permutation"
# degenerates to picking the same minimum element. LCG-generated,
# stable across runs — the test contract needs reproducibility.
_MH_PRIME = (1 << 31) - 1
_MH_SEED = 1234567
# LSH geometry of minhash_lsh_pairs and the at-rest index: 64 hashes
# in 16 bands of 4 rows.
MH_HASHES = 64
MH_BANDS = 16


def _mh_params(n: int) -> list[tuple[int, int]]:
    state, out = _MH_SEED, []
    for _ in range(n):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state | 1
        state = (1103515245 * state + 12345) % (1 << 31)
        out.append((a, state))
    return out


_WIDE_NODES = frozenset({
    "Join", "Aggregate", "Deduplicate", "Window", "Sort",
    "Repartition", "RepartitionByExpression"})


def _is_broadcast_hint(node) -> bool:
    """True for a ResolvedHint carrying strategy=broadcast — in the
    ANALYZED plan ``F.broadcast(x)`` is a ResolvedHint child of the
    Join (EliminateResolvedHint folds it into the Join only later, in
    the optimizer)."""
    if node.nodeName() != "ResolvedHint":
        return False
    try:
        return "broadcast" in node.hints().strategy().toString().lower()
    except Exception:  # noqa: BLE001 — py4j surface drift: stay wide
        return False


# Join types for which Spark's JoinSelection can actually build a
# broadcast hash table on the given side (canBuildBroadcastRight /
# canBuildBroadcastLeft in SparkStrategies). A hint on a side the join
# type cannot broadcast — e.g. the preserved (left) side of a LEFT
# OUTER join, or either side of a FULL OUTER — is silently ignored by
# the planner, which falls back to a shuffle join: that frame is
# really shuffle-width (ADVICE r10 low #2).
_BUILD_RIGHT_TYPES = frozenset(
    {"Inner", "Cross", "LeftOuter", "LeftSemi", "LeftAnti"})
_BUILD_LEFT_TYPES = frozenset({"Inner", "Cross", "RightOuter"})


def _join_probe_children(node, kids):
    """For a Join node, the children spread()'s width walk should
    continue into, or None when the join is exchange-producing.

    A Join whose build side carries an explicit broadcast hint — AND
    whose join type lets Spark honor the hint on that side — induces
    no exchange: the output inherits the probe side's partitioning,
    so the walk continues into the probe child only. ExistenceJoin
    never surfaces in analyzed user plans (it is an optimizer rewrite
    of IN/EXISTS subqueries), so it is deliberately absent from the
    build-right set. Both-sides-hinted: when the join type can build
    only ONE side (outer/semi/anti), the build side is knowable and
    the walk continues into the unambiguous probe child — otherwise
    (inner/cross, where Spark picks the build side by size estimate)
    BOTH children are returned and the caller takes the MIN of the
    two subtree widths (ADVICE r11 low: summing let a many-file
    broadcast dim mask a 1-file probe scan in exactly the shape the
    r11 probe-subtree fix addressed; min keeps the narrow side
    visible whichever child the planner ends up probing — erring
    toward the repartition, the safe direction for the CPU-heavy
    consumers spread() wraps)."""
    if len(kids) != 2:
        return None
    jt = node.joinType().toString()
    l_hint, r_hint = _is_broadcast_hint(kids[0]), _is_broadcast_hint(kids[1])
    can_l, can_r = jt in _BUILD_LEFT_TYPES, jt in _BUILD_RIGHT_TYPES
    if l_hint and r_hint:
        if can_r and not can_l:
            return [kids[0]]        # only right buildable: probe=left
        if can_l and not can_r:
            return [kids[1]]        # only left buildable: probe=right
        if can_l and can_r:
            return kids             # inner/cross: genuinely ambiguous
        return None                 # full outer: neither buildable
    if r_hint and can_r:
        return [kids[0]]
    if l_hint and can_l:
        return [kids[1]]
    return None


def _leaf_input_files(node) -> int:
    """File count behind one analyzed-plan leaf, mirroring the three
    file-backed cases of ``Dataset.inputFiles`` (ADVICE r11 low: the
    r11 walk only recognized V1 LogicalRelation leaves, so a DSv2 or
    Hive scan silently stopped being widened — a behavior regression
    vs the pre-r11 ``df.inputFiles()`` probe, which counted them):

      LogicalRelation        relation().inputFiles() (FileRelation)
      DataSourceV2Relation   table().fileIndex().inputFiles() — only
                             file-backed FileTable exposes fileIndex;
                             e.g. when spark.sql.sources.useV1SourceList
                             drops a format from the V1 list
      HiveTableRelation      the single storage location URI, counted
                             as 1 exactly as Dataset.inputFiles does

    Range / LocalRelation / streaming / non-file DSv2 leaves match
    none of the probes and contribute 0, preserving the 'non-file
    sources are left untouched' contract."""
    try:
        return node.relation().inputFiles().__len__()
    except Exception:  # noqa: BLE001 — not a V1 FileRelation leaf
        pass
    try:
        return node.table().fileIndex().inputFiles().__len__()
    except Exception:  # noqa: BLE001 — not a file-backed DSv2 leaf
        pass
    try:
        return 1 if node.tableMeta().storage().locationUri().isDefined() \
            else 0
    except Exception:  # noqa: BLE001 — not a Hive table leaf
        return 0


def _probe_width(jplan) -> int | None:
    """Walk the analyzed logical plan TREE (children only, not
    expression-embedded subqueries). Returns ``None`` when the frame
    is already wide (an exchange-producing node on the probe path),
    else the input-file count of the PROBE subtree's file-backed
    leaves. ADVICE r4: a node walk (vs the old toString() regex)
    naturally excludes scalar subqueries, which live in expressions,
    not children.

    r10: a Join with an explicitly broadcast-hinted build side is NOT
    wide — no exchange; the output inherits the probe side's
    partitioning, so the walk continues into the probe children only
    (wide nodes INSIDE the broadcast subtree, e.g. the Aggregate
    building a dim, execute at their own width without widening the
    probe stream). Unhinted joins stay wide: at the analyzed level
    the planner's size-estimate broadcast decision hasn't happened
    yet, and assuming an exchange errs toward NOT adding a redundant
    repartition.

    r11 (ADVICE r10 medium): the file count comes from THIS walk, not
    ``df.inputFiles()`` — the Dataset-level listing counts leaves of
    the WHOLE plan including broadcast build sides, so a 1-file probe
    scan enriched by a parquet dim stored in >= defaultParallelism
    files looked wide enough and the repartition was suppressed —
    exactly the probe-stream starvation the r10 change set out to
    fix. Skipping the hinted subtree keeps the count to the stream
    the repartition would actually widen. r11 also gates the hint on
    join type (see ``_join_probe_children``)."""
    files = 0
    stack = [jplan]
    while stack:
        node = stack.pop()
        children = node.children()
        kids = [children.apply(i) for i in range(children.size())]
        if node.nodeName() == "Join":
            probe = _join_probe_children(node, kids)
            if probe is None:
                return None         # hint absent or unhonorable: wide
            if len(probe) == 2:
                # both-hinted inner/cross: the planner picks the build
                # side by size, so either child could be the probe.
                # Take the MIN of the two subtree widths (ADVICE r11
                # low: summing let a many-file broadcast dim mask a
                # 1-file probe) — a wide (None) subtree is excluded
                # because whichever side it is, it contributes an
                # exchange only if probed; both wide => the output is
                # exchange-partitioned either way => whole frame wide.
                widths = [w for w in (_probe_width(k) for k in probe)
                          if w is not None]
                if not widths:
                    return None
                files += min(widths)
                continue
            stack.extend(probe)
            continue
        if node.nodeName() in _WIDE_NODES:
            return None
        if not kids:
            files += _leaf_input_files(node)
        stack.extend(kids)
    return files


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow input out to the cluster's parallelism before
    CPU-heavy per-row work. Small local fixtures arrive as one parquet
    split (one task = one core); at 100 TB inputs are already
    thousands of splits and this is a no-op.

    Applies only to RAW SCAN frames: if the logical plan already
    contains an exchange-producing node (join/aggregate/distinct/
    window/sort/repartition), the frame is as wide as the shuffle-
    partition setting and a repartition here would only add a
    redundant exchange (the r3 shape: minhash's left-semi ``involved``
    frame passed the inputFiles probe and got re-spread after its
    semi-join shuffle). Detection and the width probe are one walk of
    the analyzed plan's node tree (see ``_probe_width``): the file
    count covers the PROBE subtree only — broadcast build sides are
    excluded, so a many-file parquet dim can't mask a 1-file probe
    scan (ADVICE r10).

    The file listing is driver-side metadata — no physical planning
    or RDD conversion. One file can still split into many read
    partitions, so the count only UNDER-estimates width — the
    repartition trigger errs toward spreading, which is the safe
    direction for the CPU-heavy consumers this wraps. Non-file
    sources (no listing) are left untouched."""
    try:
        n_files = _probe_width(df._jdf.queryExecution().analyzed())
    except Exception:  # noqa: BLE001 — e.g. streaming analysis errors
        return df
    if n_files is None:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def _norm_toks(col):
    """The normalized word array every shingle derives from."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def _shingles_from_toks(toks, n: int):
    """Word n-gram array (distinct) from a PRE-SPLIT token array —
    empty when the doc is too short. All higher-order built-ins, no
    UDF. Callers must bind ``toks`` to a real column (withColumn),
    not pass the split expression inline: an expression reference is
    a repeated subtree, and runtime subexpression elimination does
    NOT reach inside lambda functions — the slice's split would
    re-evaluate once per shingle POSITION, turning the per-doc cost
    from O(chars) + W·O(slice) into W·O(chars) (r13, found by the
    PPJoin re-curve: 3.2x on the corpus shingle pass)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>")))


def _with_toks(docs: DataFrame, text_col: str) -> DataFrame:
    """Bind the normalized token array as a real column. Catalyst's
    CollapseProject will NOT inline a non-cheap alias referenced more
    than once, so the split stays computed once per row (pinned by
    test_shingle_split_hoisted_once)."""
    return docs.withColumn("__toks", _norm_toks(F.col(text_col)))


def md5_h31(col):
    """Portable 31-bit hash: first 8 hex chars of md5 as a long,
    shifted to 31 bits — the cm_bucket/pyds scheme, reproducible in
    DuckDB as CAST('0x'||substring(md5(x),1,8) AS BIGINT) >> 1. The
    MinHash tier's only hash family (signatures and verify sets), so
    every value it produces survives a cross-engine value-hash
    compare."""
    return F.shiftrightunsigned(
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10)
        .cast("long"), 1)


def _hash_shingles(docs: DataFrame, text_col: str, n: int,
                   hasher) -> DataFrame:
    return (_with_toks(docs, text_col)
            .withColumn(
                "shingles",
                F.array_distinct(F.transform(
                    _shingles_from_toks(F.col("__toks"), n),
                    lambda s: hasher(s))))
            .drop("__toks"))


def with_hashed_shingles(docs: DataFrame, text_col: str = "text",
                         n: int = 3) -> DataFrame:
    """Shingle set as distinct xxhash64 values: set operations on
    8-byte ints instead of ~20-byte strings (the Jaccard hot path is
    dominated by string hashing/compares). A pairwise Jaccard computed
    on hashes equals the string-set Jaccard unless xxhash64 collides
    within one pair's union (~n²/2^65 per pair — negligible). The
    exact-Jaccard family (ngram_jaccard_pairs, the prefix-filter
    join)."""
    return _hash_shingles(docs, text_col, n, F.xxhash64)


def _md5_shingles(docs: DataFrame, n: int) -> DataFrame:
    """The MinHash verify's shingle sets, on the md5_h31 family
    (collision odds ~n²/2^32 per pair — negligible at shingle-set
    sizes) so the verified Jaccard is DuckDB-recomputable bit for
    bit."""
    return _hash_shingles(docs, "text", n, md5_h31)


def exact_dedup(df: DataFrame, keys: list[str]) -> DataFrame:
    """X1: dropDuplicates on explicit keys."""
    return df.dropDuplicates(keys)


def ngram_jaccard_pairs(docs: DataFrame, block_cols: list[str],
                        n: int = 3, threshold: float = 0.5,
                        max_block_size: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within blocks.

    Self-join on the blocking key (id < id kills mirror pairs), then
    set intersection/union sizes. The block join is the only shuffle;
    block sizes bound the quadratic term. The set math runs on
    xxhash64 shingle hashes (with_hashed_shingles) — the string-set
    result modulo a ~2^-65 per-pair collision chance, several times
    faster.

    Two guards against the quadratic term:

    - **length prefilter** (always on, exactness preserved): Jaccard
      >= t implies min(|A|,|B|) >= t * max(|A|,|B|), so pairs whose
      shingle-set sizes alone rule out the threshold are dropped
      BEFORE the O(|A|+|B|) set ops — only sizes are compared.
    - **max_block_size** (opt-in — changes results, so off in the
      oracled query): blocks holding more than this many docs are
      routed to the banded MinHash-LSH path instead of exact
      all-pairs, capping candidate generation at O(block * bands)
      instead of O(block^2). This is the 100 TB switch: one hot
      (lang, source) block of 10^9 docs must never hit the self-join.
      Pairs from routed blocks carry LSH's estimate-verified exact
      jaccard (same verify expression, over md5_h31 shingle sets)
      and form WITHIN blocks only (the block key rides in the band
      bucket — r10), so downstream semantics match the exact path
      modulo LSH recall and hash collisions. Setting it
      makes construction EAGER by one deliberate metadata-plane job
      (a column-pruned block-count aggregate deciding the routing);
      when no block is hot the LSH subtree isn't even planned.
    """
    base = spread(docs)
    lsh = None
    if max_block_size is not None:
        # one tiny agg on the block key decides routing; the count
        # join is a broadcast (distinct block keys are few by
        # construction — they're the blocking dimension). Counted on
        # the RAW docs (column-pruned scan of just the block cols),
        # not the shingled frame — same counts, no shingle work.
        sizes = tracked_persist(
            docs.groupBy(*block_cols).agg(F.count("*").alias("__bn")))
        hot_keys = (sizes.filter(F.col("__bn") > max_block_size)
                    .select(*block_cols))
        # metadata-plane decision (r10): |blocks| rows, model-sized
        # by construction. When NOTHING is hot, the LSH subtree would
        # still schedule its whole empty-stage stack (signatures,
        # banding, distinct, two verify joins — measured ~4 s of
        # fixture wall for zero routed docs); skip planning it.
        if not hot_keys.limit(1).take(1):
            # nothing downstream reuses the counts when no block is
            # hot — drop the cache now rather than letting it occupy
            # memory until the harness's release sweep (ADVICE r10)
            sizes.unpersist()
            max_block_size = None
    if max_block_size is not None:
        # hot-block filter BEFORE the shingle projection (r10): the
        # exact side never shingles the docs LSH will handle (the
        # filter is on the broadcast-joined count, so putting make()
        # above it would shingle every hot doc and discard the work)
        base = (base.join(F.broadcast(sizes), block_cols)
                .filter(F.col("__bn") <= max_block_size).drop("__bn"))
        hot_docs = docs.join(F.broadcast(hot_keys), block_cols, "left_semi")
        # bucket_cols = the blocking key (r10): candidates form only
        # within a block, matching the exact path's contract — and the
        # id_a join-back for block labels is now provably consistent
        # (both ids share the block by construction)
        lsh = minhash_lsh_pairs(hot_docs, threshold=threshold, n=n,
                                bucket_cols=tuple(block_cols))
        lsh = lsh.join(docs.select(F.col("doc_id").alias("id_a"),
                                   *block_cols), "id_a")
        lsh = lsh.select(*block_cols, "id_a", "id_b", "jaccard")
    s = with_hashed_shingles(base, n=n).select(
        "doc_id", *block_cols, "shingles")
    pre = s.withColumn("__nsh", F.size("shingles"))
    a = pre.select(*block_cols, F.col("doc_id").alias("id_a"),
                   F.col("shingles").alias("sh_a"),
                   F.col("__nsh").alias("__na"))
    b = pre.select(*block_cols, F.col("doc_id").alias("id_b"),
                   F.col("shingles").alias("sh_b"),
                   F.col("__nsh").alias("__nb"))
    pairs = (a.join(b, block_cols)
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(F.least("__na", "__nb").cast("double")
                     >= F.lit(threshold) * F.greatest("__na", "__nb")))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    out = (pairs.select(*block_cols, "id_a", "id_b", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))
    if max_block_size is not None:
        out = out.unionByName(lsh)
    return out


def minhash_signatures(docs: DataFrame, n_hashes: int = 64,
                       id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """MinHash signature per doc: explode the shingle stream to
    (doc_id, md5_h31 base hash) rows, then reduce with one hash
    aggregate computing all ``n_hashes`` permutation minimums as
    separate codegen'd ``min()`` columns. The md5-prefix base hash
    makes the signature values themselves — and every stage above
    them — DuckDB-recomputable (the minhash_near_dups oracle).

    Why explode+agg and not a higher-order fold over the shingle
    array: F.aggregate/zip_with evaluate interpreted, outside
    whole-stage codegen — the fold variant measured ~4s at sf0.1 where
    this shape runs in well under 1s. Map-side partial aggregation
    means the shuffle carries one n_hashes-wide row per doc per map
    partition, so at 100 TB the explode never hits the wire.

    Docs too short to shingle produce no exploded rows and drop out."""
    params = _mh_params(n_hashes)
    ex = (_with_toks(spread(docs), "text")
          .select(id_col,
                  F.explode(_shingles_from_toks(F.col("__toks"), n))
                  .alias("gram"))
          .select(id_col, md5_h31(F.col("gram")).alias("h31")))
    # one parsed expression per column: the Column-API form costs ~9
    # py4j round trips each (64 hashes: ~0.6 s of driver time per
    # build). a, b and p all fit INT, so the SQL literals keep the
    # types F.lit gave them and the plan is unchanged.
    mins = [F.expr(f"min((h31 * {a} + {b}) % {_MH_PRIME}) AS __m{j}")
            for j, (a, b) in enumerate(params)]
    sig = ", ".join(f"__m{j}" for j in range(n_hashes))
    return (ex.groupBy(id_col).agg(*mins)
            .select(id_col, F.expr(f"array({sig}) AS signature")))


def minhash_lsh_pairs(docs: DataFrame,
                      threshold: float = 0.5, n: int = 3,
                      bucket_cols: tuple[str, ...] = ()) -> DataFrame:
    """X2: banded-LSH candidate generation + exact Jaccard verification.

    bands=16 over 64 hashes -> r=4 rows/band; candidate iff any band
    hash collides. Explode bands (16 rows/doc), groupBy-join on
    (band_id, band_hash), verify candidates exactly.

    Every stage is DuckDB-recomputable: md5-based signature values,
    the RAW comma-joined band string as the bucket key (identical
    collisions by construction — no hash at all; ~4 numbers' text, a
    bounded constant per signature row), and the md5-31-bit shingle
    family for the exact verify.

    ``bucket_cols`` (r10): extra doc columns appended to the band
    bucket key, so candidates only form WITHIN equal values — the
    within-block contract when LSH serves as the hot-block fallback
    of a blocked join (ngram_jaccard_pairs' max_block_size routing).
    Two wins at scale: parity (the routed path honors the same
    blocking key as the exact path it replaces — no cross-block pairs
    mislabeled with id_a's block), and bucket thinning (band buckets
    can't melt ACROSS hot blocks that happen to share signatures —
    e.g. templated boilerplate repeated per source)."""
    # Banding is shared verbatim with the at-rest index
    # (_banded_signatures) — probe-vs-one-shot parity holds by
    # construction. The signature build ends in an aggregate, so the
    # band expressions above it only re-slice the agg output — no
    # re-evaluation hazard (unlike the old fold-based build, where a
    # persist barrier was load-bearing against CollapseProject).
    #
    # persist: banded feeds both sides of the self-join and cand feeds
    # three consumers — without it the signature build re-runs per
    # consumer (lazy DAG). Both are signature-width, not document-width
    # (~200 bytes/doc), so MEMORY_AND_DISK is safe at any corpus size.
    # (Measured alternative: groupBy-collect_list + nested-transform
    # pair expansion saves one exchange but runs 1.4x SLOWER at sf0.1 —
    # the in-bucket combination expansion is interpreted higher-order
    # code, while the self-join stays in codegen. Join wins.)
    banded = _banded_signatures(docs, MH_HASHES, MH_BANDS, "doc_id", n)
    if bucket_cols:
        banded = banded.join(docs.select("doc_id", *bucket_cols), "doc_id")
    key = ["band_id", "band_hash", *bucket_cols]
    # r14 (guide §2.4 — two operations keyed the same way share one
    # exchange): repartition by the bucket key BEFORE the persist, so
    # the cached frame's partitioning satisfies BOTH sides of the
    # band-bucket self-join — the join below runs exchange-free
    # instead of re-shuffling the banded frame twice (once per side).
    # One band-width exchange at materialization replaces two at join
    # time, at any corpus size.
    banded = tracked_persist(banded.repartition(*key))
    a = banded.select(F.col("doc_id").alias("id_a"), *key)
    b = banded.select(F.col("doc_id").alias("id_b"), *key)
    cand = tracked_persist(
        a.join(b, key)
         .filter(F.col("id_a") < F.col("id_b"))
         .select("id_a", "id_b").distinct())
    # verify only the docs that appear in candidate pairs: shingle
    # recomputation is proportional to candidates, not corpus
    cand_ids = (cand.select(F.col("id_a").alias("doc_id"))
                .union(cand.select(F.col("id_b").alias("doc_id"))).distinct())
    involved = docs.join(cand_ids, "doc_id", "left_semi")
    sh = _md5_shingles(spread(involved), n).select(
        "doc_id", "shingles")
    cand = (cand
            .join(sh.select(F.col("doc_id").alias("id_a"),
                            F.col("shingles").alias("sh_a")), "id_a")
            .join(sh.select(F.col("doc_id").alias("id_b"),
                            F.col("shingles").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    return (cand.select("id_a", "id_b", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))


# --- MinHash-LSH index at rest: build once, probe every ingest (r6) --------
#
# The incremental-dedup dual of save_ivf_index: a 100 TB corpus's
# near-dup state lives AT REST as (bands, shingle sets, geometry), and
# each day's ingest probes it — new-vs-corpus and new-vs-new pairs come
# from joining the delta's bands against the stored band table, never
# rescanning corpus text. Exactness contract: probing finds EXACTLY the
# pairs involving a new doc that a one-shot minhash_lsh_pairs over
# (corpus ∪ delta) would find (same hash family, same banding — pinned
# in tests). novel_docs_vs_corpus covers the EXACT-dup incremental
# tier; this is its near-dup sibling.

def _banded_signatures(docs: DataFrame, n_hashes: int, bands: int,
                       id_col: str, n: int) -> DataFrame:
    """(id, band_id, band_hash) — the banding stage of
    minhash_lsh_pairs, factored so the at-rest index and the one-shot
    join share it verbatim (the parity pin depends on that). The band
    key is the raw comma-joined signature slice."""
    r = n_hashes // bands
    sigs = minhash_signatures(docs, n_hashes, id_col, n=n)

    def band_key(b):
        return F.concat_ws(
            ",", F.transform(F.slice("signature", b * r + 1, r),
                             lambda v: v.cast("string")))

    banded = sigs.select(
        id_col,
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band_id"),
                band_key(b).alias("band_hash")))).alias("band"))
    return banded.select(id_col, "band.band_id", "band.band_hash")


_MH_FAMILY = "md5_h31"


def _minhash_index_meta(spark, path: str) -> dict:
    """The stored geometry, refusing an index built on another hash
    family: its bands and shingle sets could never collide with or
    verify against this tier's values, so mixing them would silently
    return no pairs. Indexes written before the family column existed
    record ``portable`` instead (true = md5_h31, false = xxhash64)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    family = meta.get("hash_family") or (
        _MH_FAMILY if meta.get("portable") else "xxhash64")
    if family != _MH_FAMILY:
        raise ValueError(
            f"MinHash index at {path} uses hash family {family!r}; "
            f"this engine reads only {_MH_FAMILY!r} — rebuild it with "
            "save_minhash_index")
    return meta


def save_minhash_index(docs: DataFrame, path: str) -> None:
    """Materialize the near-dup index AT REST: ``{path}/bands``
    (id, band_id, band_hash), ``{path}/shingles`` (id, md5_h31
    shingle set — what the exact-Jaccard verify needs, so probe never
    touches corpus TEXT), and ``{path}/meta`` (geometry and hash
    family — appends and probes read it, so a caller cannot silently
    mismatch hash family or banding)."""
    spark = docs.sparkSession
    _banded_signatures(docs, MH_HASHES, MH_BANDS, "doc_id", 3) \
        .write.mode("overwrite").parquet(f"{path}/bands")
    _md5_shingles(docs, 3) \
        .select("doc_id", "shingles") \
        .write.mode("overwrite").parquet(f"{path}/shingles")
    (spark.createDataFrame(
        [(MH_HASHES, MH_BANDS, 3, _MH_FAMILY, "doc_id")],
        "n_hashes int, bands int, n int, hash_family string, "
        "id_col string")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta"))


def append_to_minhash_index(spark, path: str, new_docs: DataFrame) -> None:
    """Incremental maintenance: band + shingle the delta under the
    STORED geometry and append — today's ingest becomes probe-visible
    without touching the existing index files. Caller owns id
    uniqueness across appends (same contract as append_to_ivf_index)."""
    meta = _minhash_index_meta(spark, path)
    _banded_signatures(new_docs, meta["n_hashes"], meta["bands"],
                       meta["id_col"], meta["n"]) \
        .write.mode("append").parquet(f"{path}/bands")
    _md5_shingles(new_docs, meta["n"]) \
        .select(meta["id_col"], "shingles") \
        .write.mode("append").parquet(f"{path}/shingles")


def probe_minhash_index(spark, path: str, new_docs: DataFrame,
                        threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs INVOLVING the delta — new-vs-corpus (the delta's
    bands join the stored band table; the only corpus-sized work is
    that band join plus a shingle semi-join fetch for verified
    candidates) and new-vs-new (delta self-join). Returns (id_a, id_b,
    jaccard), id-ordered; exactly the pairs a one-shot
    minhash_lsh_pairs over (corpus ∪ delta) emits that involve a new
    doc (parity-pinned).

    Delta ids SHOULD be disjoint from the stored index (the
    append_to_minhash_index contract). If a delta id does collide
    with a stored id, the DELTA's shingles win deterministically
    (the re-ingested text is treated as the current version); the
    self-pair is excluded as always."""
    meta = _minhash_index_meta(spark, path)
    id_col = meta["id_col"]
    new_banded = tracked_persist(_banded_signatures(
        new_docs, meta["n_hashes"], meta["bands"], id_col, meta["n"]))
    stored = spark.read.parquet(f"{path}/bands")
    nb = new_banded.select(F.col(id_col).alias("new_id"),
                           "band_id", "band_hash")
    # new vs corpus: ids may interleave, normalize order after the join
    vs_old = (nb.join(stored.withColumnRenamed(id_col, "old_id"),
                      ["band_id", "band_hash"])
              .filter(F.col("new_id") != F.col("old_id"))
              .select(F.least("new_id", "old_id").alias("id_a"),
                      F.greatest("new_id", "old_id").alias("id_b")))
    nb2 = new_banded.select(F.col(id_col).alias("id_b"),
                            "band_id", "band_hash")
    vs_new = (nb.join(nb2, ["band_id", "band_hash"])
              .filter(F.col("new_id") < F.col("id_b"))
              .select(F.col("new_id").alias("id_a"), "id_b"))
    cand = tracked_persist(vs_old.unionByName(vs_new).distinct())
    cand_ids = (cand.select(F.col("id_a").alias(id_col))
                .union(cand.select(F.col("id_b").alias(id_col)))
                .distinct())
    new_sh = _md5_shingles(new_docs, meta["n"]) \
        .select(id_col, "shingles")
    old_sh = spark.read.parquet(f"{path}/shingles")
    # delta shingles take precedence on id collision (deterministic;
    # see docstring) — anti-join the stored side instead of relying
    # on dropDuplicates' arbitrary pick over the union
    old_only = old_sh.join(new_sh.select(id_col), id_col, "left_anti")
    sh = (new_sh.unionByName(old_only)
          .join(cand_ids, id_col, "left_semi")
          .dropDuplicates([id_col]))
    pairs = (cand
             .join(sh.select(F.col(id_col).alias("id_a"),
                             F.col("shingles").alias("sh_a")), "id_a")
             .join(sh.select(F.col(id_col).alias("id_b"),
                             F.col("shingles").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    return (pairs.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: sign-sum of token-hash bits. Explode +
    two-level aggregate keeps it a plain shuffle on doc_id.

    The 64 bits come from the two 32-bit md5-prefix halves (hi = hex
    chars 1-8, lo = 9-16) — the same engine-portable family as
    cm_bucket, so the fingerprints (and everything derived from them)
    are DuckDB-recomputable."""
    toks = spread(docs).select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                    r"\s+")).alias("tok"))
    md = F.md5(F.col("tok").cast("binary"))
    hi = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")

    def bit(i):
        return (F.shiftrightunsigned(lo, i) % 2 if i < 32
                else F.shiftrightunsigned(hi, i - 32) % 2)
    bit_votes = [F.sum(bit(i) * 2 - 1).alias(f"b{i}") for i in range(64)]
    votes = toks.groupBy("doc_id").agg(*bit_votes)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim + F.when(F.col(f"b{i}") > 0,
                           F.lit(1).cast("long") * (2 ** i if i < 63
                                                    else -(2 ** 63))).otherwise(0)
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 8,
                       max_bucket_size: int | None = None) -> DataFrame:
    """SimHash near-dup pairs: band the 64 bits into ``max_hamming+1``
    near-equal chunks, bucket-join on any shared chunk, verify exact
    hamming via bit_count.

    Pigeonhole guarantee: a pair with hamming <= max_hamming has
    fewer differing bits than chunks, so at least one chunk is
    untouched and the pair lands in a shared bucket — candidate
    recall is 1.0 for the requested radius, for ANY max_hamming up to
    63. (The round-1 version fixed 4 x 16-bit chunks, which only
    guarantees hamming <= 3; wider radii silently lost pairs.)

    Hot-bucket behavior: radius 8 means 9 chunks of ~7 bits — at most
    ~128 distinct values per chunk, so on a low-entropy corpus the
    buckets concentrate and the in-bucket self-join goes quadratic in
    DOCS. The guard is to generate and verify candidates over DISTINCT
    FINGERPRINTS instead: duplicate and boilerplate-heavy corpora (the
    case that melts simhash buckets) collapse to few distinct 64-bit
    values, the bucket join + hamming verify run on those, and only
    VERIFIED fingerprint pairs expand back to doc pairs — work that is
    proportional to true output, which no all-pairs contract can avoid.
    Exactness is fully preserved (same output set, pinned in tests);
    a million identical docs now cost one fingerprint row in the
    candidate stage instead of 10^12 candidate pairs.

    ``max_bucket_size`` (opt-in, changes results): additionally skip
    (chunk_id, chunk_val) buckets holding more than this many DISTINCT
    fingerprints. This caps the candidate stage even on adversarial
    many-distinct-but-clustered corpora, at a documented recall cost:
    a pair is lost only if EVERY chunk it shares sits in an oversized
    bucket. Off in the oracled query.

    Output: id_a, id_b, hamming (id_a < id_b)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_chunks = max_hamming + 1
    widths = [64 // n_chunks + (1 if i < 64 % n_chunks else 0)
              for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    # membership feeds the candidate stage (distinct) and the two
    # expansion joins; signature-width persist, same rationale as the
    # minhash banding persist above.
    sh = tracked_persist(simhash64(docs))
    fps = sh.select("simhash").distinct()
    chunks = fps.select(
        "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk_id"),
                     (F.shiftrightunsigned("simhash", offsets[i])
                      % (1 << widths[i]) if widths[i] < 64
                      else F.col("simhash"))
                     .alias("chunk_val"))
            for i in range(n_chunks)])).alias("c"))
    chunks = chunks.select("simhash", "c.chunk_id", "c.chunk_val")
    if max_bucket_size is not None:
        bn = (chunks.groupBy("chunk_id", "chunk_val")
              .agg(F.count("*").alias("__bn")))
        chunks = (chunks.join(bn, ["chunk_id", "chunk_val"])
                  .filter(F.col("__bn") <= max_bucket_size).drop("__bn"))
    a = chunks.select(F.col("simhash").alias("sim_a"), "chunk_id", "chunk_val")
    b = chunks.select(F.col("simhash").alias("sim_b"), "chunk_id", "chunk_val")
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    fp_pairs = (a.join(b, ["chunk_id", "chunk_val"])
                .filter(F.col("sim_a") < F.col("sim_b"))
                .select("sim_a", "sim_b").distinct()
                .withColumn("hamming", ham)
                .filter(F.col("hamming") <= max_hamming))
    # expand verified fingerprint pairs to doc pairs (cross members,
    # normalize id order — fingerprints differ so no self/mirror dups)
    ma = sh.select(F.col("simhash").alias("sim_a"),
                   F.col("doc_id").alias("da"))
    mb = sh.select(F.col("simhash").alias("sim_b"),
                   F.col("doc_id").alias("db"))
    cross = (fp_pairs.join(ma, "sim_a").join(mb, "sim_b")
             .select(F.least("da", "db").alias("id_a"),
                     F.greatest("da", "db").alias("id_b"), "hamming"))
    # same-fingerprint pairs are hamming 0 — always within radius
    sa = sh.select("simhash", F.col("doc_id").alias("id_a"))
    sb = sh.select("simhash", F.col("doc_id").alias("id_b"))
    same = (sa.join(sb, "simhash")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(0).alias("hamming")))
    return cross.unionByName(same)


def jaccard_pairs_prefix_filter(docs: DataFrame, n: int = 3,
                                threshold: float = 0.5) -> DataFrame:
    """GLOBAL exact Jaccard join via prefix filtering (PPJoin-family,
    r5b) — the scalable all-corpus similarity join when there is no
    blocking key to hide behind (ngram_jaccard_pairs needs one; LSH
    trades exactness). Published basis: Chaudhuri et al., "A
    Primitive Operator for Similarity Joins" (ICDE'06) / Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection"
    (WWW'08).

    Prefix-filter lemma: order every doc's shingle set by one GLOBAL
    ordering; if J(A,B) >= t then A and B must share at least one
    token among each one's first |S| - ceil(t*|S|) + 1 tokens. So
    candidates = pairs sharing ANY prefix token, and that set
    provably contains every qualifying pair (equality vs brute force
    pinned in tests). Ordering by ascending document frequency puts
    the RAREST shingles in prefixes, so candidate buckets stay small
    exactly where the corpus is redundant.

    Scale shape: df-count agg (shingle-keyed, map-side combined) ->
    per-doc sort is an in-plan array_sort over (df, token) structs ->
    prefix explode emits ~(1-t)*|S| rows per doc -> token-bucket
    self-join on the prefix token -> LENGTH filter (t*|A| <= |B|) on
    the raw matches -> per-pair POSITION filter -> one exact set-op
    verify per surviving candidate. No quadratic stage except inside
    token buckets, which rare-first ordering keeps thin.

    Position filter (PPJoin proper, WWW'08 §3): both docs' arrays are
    sorted by the SAME global order, so a pair's first shared prefix
    token simultaneously has the minimal position i in A and j in B
    (later shared tokens sit later in both) — groupBy(pair) + min(i),
    min(j) recovers it. Every other shared token lies strictly after
    it in both arrays, so overlap <= 1 + min(|A|-i, |B|-j); prune
    when that upper bound cannot reach the required overlap
    ceil(t/(1+t)*(|A|+|B|)) (the Jaccard>=t overlap equivalence).
    The epsilon on the ceil keeps float rounding from over-pruning —
    exactness vs brute force stays pinned in tests."""
    # Emptiness pre-filter on the RAW text, not the derived shingles
    # column (r13, found by the post-audit re-curve): a filter on
    # `size(shingles) > 0` lets PushDownPredicates substitute the
    # WHOLE shingle expression below spread()'s exchange — the
    # corpus's most expensive per-row stage re-ran on the narrow
    # pre-exchange side (serialized: 129 s of a 130 s cell at a 10x
    # blown corpus; 2x CPU waste at ANY width, since the pushed copy
    # can't share subexpressions with the post-exchange projection
    # across the exchange boundary). Shingles are empty exactly when
    # the normalized text has < n words (_shingles_from_toks' guard),
    # so filter on that — one cheap split per row wherever Catalyst
    # pushes it.
    has_grams = (F.size(F.split(F.lower(F.trim(F.col("text"))),
                                r"\s+")) >= n)
    s = (with_hashed_shingles(spread(docs).filter(has_grams), n=n)
         .select("doc_id", "shingles"))
    s = tracked_persist(s)
    # MEASURED NEGATIVE (r14): repartition("tok") to share one
    # exchange between the df-count aggregate and the ordering join
    # (the prefix-stream trick below) REGRESSED the cell 2.03→2.62 s:
    # the aggregate's input only ever crosses the wire as map-side
    # (tok, count) partials, and AQE broadcast-joins the aggregated
    # df_counts back onto the stream — so the old shape shuffles NO
    # full token stream at all, while the "shared" exchange forces
    # one. At vocabulary sizes past the broadcast budget AQE falls
    # back to a shuffle join by itself; pre-forcing it only helps
    # where it is already the plan.
    tok = s.select("doc_id", F.explode("shingles").alias("tok"))
    df_counts = tok.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (tok.join(df_counts, "tok")
               .groupBy("doc_id")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("df", "tok"))),
                   lambda x: x["tok"]).alias("toks")))
    plen = (F.size("toks")
            - F.ceil(F.lit(threshold) * F.size("toks")) + 1).cast("int")
    # r14 (guide §2.4): repartition the prefix stream by its join key
    # so BOTH sides of the token-bucket self-join hang off ONE
    # identical Exchange — ReusedExchange dedups it, the prefix
    # explode and its shuffle run once, and the join itself is
    # exchange-free. The old shape re-ran the posexplode per side and
    # exchanged the prefix stream twice (once per side) at any scale.
    prefixes = (ordered
                .select("doc_id", F.size("toks").alias("sz"),
                        F.posexplode(F.slice("toks", 1, plen))
                        .alias("pos", "ptok"))
                .repartition("ptok"))
    a = prefixes.select(F.col("doc_id").alias("id_a"), "ptok",
                        F.col("pos").alias("pos_a"),
                        F.col("sz").alias("sz_a"))
    b = prefixes.select(F.col("doc_id").alias("id_b"), "ptok",
                        F.col("pos").alias("pos_b"),
                        F.col("sz").alias("sz_b"))
    matches = (a.join(b, "ptok")
               .filter(F.col("id_a") < F.col("id_b"))
               # length filter: J>=t forces t*max(|A|,|B|) <= min(...)
               .filter(F.least("sz_a", "sz_b").cast("double")
                       >= F.lit(threshold) * F.greatest("sz_a", "sz_b")))
    required = F.ceil(F.lit(threshold / (1.0 + threshold))
                      * (F.col("sz_a") + F.col("sz_b")) - F.lit(1e-9))
    ubound = (F.lit(1)
              + F.least(F.col("sz_a") - F.col("pos_a") - 1,
                        F.col("sz_b") - F.col("pos_b") - 1))
    cand = (matches.groupBy("id_a", "id_b")
            .agg(F.min("pos_a").alias("pos_a"),
                 F.min("pos_b").alias("pos_b"),
                 F.first("sz_a").alias("sz_a"),
                 F.first("sz_b").alias("sz_b"))
            .filter(ubound >= required)
            .select("id_a", "id_b"))
    sa = s.select(F.col("doc_id").alias("id_a"),
                  F.col("shingles").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("id_b"),
                  F.col("shingles").alias("sh_b"))
    verified = (cand.join(sa, "id_a").join(sb, "id_b")
                .select("id_a", "id_b",
                        (F.size(F.array_intersect("sh_a", "sh_b"))
                         .cast("double")
                         / F.size(F.array_union("sh_a", "sh_b")))
                        .alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))
    return verified
