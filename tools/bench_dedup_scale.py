#!/usr/bin/env python3
"""Dedup scale curve: time MinHash-LSH near-dup detection on the sf0.1
documents corpus blown up 1x/10x/30x by perturbed copies (first word
dropped + a copy marker appended -> each copy IS a near-dup of its
source at ~0.85 Jaccard, so every source doc becomes a factor-sized
dup clique and the verified pair volume grows quadratically in the
clique size — the boilerplate-heavy worst case for a real corpus).

Shows where wall time goes as the corpus grows: if the sf0.1 headline
number were data-bound, 30x docs (with ~10000x the output pairs) would
take far more than ~4x the wall; rising docs/s proves the headline
number is stage-count floor, not throughput. Measured (local[32]):

    factor  docs     verified pairs  wall    docs/s
    1       5,000    256             10.0 s  503   (incl. session start)
    10      50,000   250,589         14.0 s  3,577
    30      150,000  2,405,204       39.7 s  3,781

That table predates the single hash family: it ran the xxhash64
signatures. minhash_lsh_pairs now always hashes with md5_h31, which
PERF.md puts at ~0.2-0.5 s more at 1x.

Usage:

    python tools/bench_dedup_scale.py            # 1x 10x 30x
    python tools/bench_dedup_scale.py 1 5        # custom factors
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from stockanalyses_downloader_spark.operators import dedup
from stockanalyses_downloader_spark.session import get_session
from stockanalyses_downloader_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def blow_up(docs, factor: int):
    """factor-1 extra near-dup copies per doc (ids offset; first word
    dropped, per-copy marker appended -> ~0.85 Jaccard vs source)."""
    if factor <= 1:
        return docs
    copies = (docs.crossJoin(
                  F.broadcast(docs.sparkSession.range(1, factor)
                              .select(F.col("id").alias("__c"))))
              .select(
                  (F.col("doc_id") + F.col("__c") * 10_000_000)
                   .alias("doc_id"),
                  # rotate words by __c so each copy is a different doc
                  F.concat_ws(
                      " ",
                      F.slice(F.split("text", r"\s+"), 2, 1 << 30),
                      F.concat(F.lit("c"), F.col("__c").cast("string")))
                   .alias("text"),
                  "lang", "source", "n_chars"))
    return docs.unionByName(copies)


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 10, 30]
    spark = get_session("dedup-scale")
    base = load_table(spark, SF_DIR, "documents")

    results = []
    for f in factors:
        corpus = blow_up(base, f)
        n = corpus.count()
        start = time.perf_counter()
        pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.3)
        n_pairs = pairs.count()
        wall = round(time.perf_counter() - start, 2)
        results.append({"factor": f, "docs": n, "pairs": n_pairs,
                        "wall_s": wall,
                        "docs_per_s": round(n / wall)})
        print(json.dumps(results[-1]))
    print(json.dumps({"metric": "minhash_scale_curve", "runs": results}))


if __name__ == "__main__":
    main()
