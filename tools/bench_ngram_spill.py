#!/usr/bin/env python3
"""Where does ngram_jaccard_near_dups start to spill? (VERDICT r10 #4)

PERF.md §r10 noted the 100x headline cell's verify join "begins to
shuffle-spill" — the steepest headline entry (30.2x at 100x) touching
a resource cliff. This tool reproduces the exact headline shape
(disjoint-block doc blow-up, same word-tagging recipe as
tools/bench_headline_scale.py, materialized to parquet in 32 files)
and records PER-STAGE spill metrics from Spark's REST status API
(memoryBytesSpilled / diskBytesSpilled / shuffle bytes), so the spill
onset is a measured number instead of an adjective.

Usage:
    python tools/bench_ngram_spill.py              # factors 30 100
    python tools/bench_ngram_spill.py 10 30 100    # custom
    SPARK_GRAFT_DRIVER_MEM=4g python tools/...     # shrink the
        memory envelope to find the cliff earlier

Prints one JSON line per factor:
  {factor, docs, pairs, wall_s, total_spill_mb, disk_spill_mb,
   spilling_stages: [{stage, name, spill_mb, disk_mb, shuffle_read_mb,
                      shuffle_write_mb}]}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from stockanalyses_downloader_spark.operators import dedup
from stockanalyses_downloader_spark.session import get_session
from stockanalyses_downloader_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from scale_common import blow_up_docs  # noqa: E402 — shared disjoint recipe


def stage_metrics(spark) -> list[dict]:
    """All completed stages from the local REST status API."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as fh:
        return json.load(fh)


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [30, 100]
    spark = get_session("ngram-spill",
                        extra_conf={"spark.ui.enabled": "true"})
    base = load_table(spark, SF_DIR, "documents")
    work = tempfile.mkdtemp(prefix="ngram_spill_")
    results = []
    try:
        for f in factors:
            path = os.path.join(work, f"docs_{f}")
            blow_up_docs(base, f).repartition(32) \
                .write.mode("overwrite").parquet(path)
            corpus = spark.read.parquet(path)
            n = corpus.count()
            seen = {s["stageId"] for s in stage_metrics(spark)}
            t0 = time.perf_counter()
            pairs = dedup.ngram_jaccard_pairs(
                corpus, block_cols=["lang", "source"],
                n=3, threshold=0.3)
            n_pairs = pairs.count()
            wall = round(time.perf_counter() - t0, 2)
            stages = [s for s in stage_metrics(spark)
                      if s["stageId"] not in seen]
            mb = 1024 * 1024
            spilling = [{
                "stage": s["stageId"],
                "name": (s.get("name") or "")[:60],
                "spill_mb": round(s["memoryBytesSpilled"] / mb, 1),
                "disk_mb": round(s["diskBytesSpilled"] / mb, 1),
                "shuffle_read_mb":
                    round(s.get("shuffleReadBytes", 0) / mb, 1),
                "shuffle_write_mb":
                    round(s.get("shuffleWriteBytes", 0) / mb, 1),
            } for s in stages if s["memoryBytesSpilled"] > 0]
            rec = {
                "factor": f, "docs": n, "pairs": n_pairs, "wall_s": wall,
                "total_spill_mb": round(sum(
                    s["memoryBytesSpilled"] for s in stages) / mb, 1),
                "disk_spill_mb": round(sum(
                    s["diskBytesSpilled"] for s in stages) / mb, 1),
                "max_shuffle_write_mb": round(max(
                    (s.get("shuffleWriteBytes", 0) for s in stages),
                    default=0) / mb, 1),
                "spilling_stages":
                    sorted(spilling, key=lambda s: -s["spill_mb"])[:6],
            }
            results.append(rec)
            print(json.dumps(rec))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"metric": "ngram_spill_curve",
                      "driver_mem": os.environ.get(
                          "SPARK_GRAFT_DRIVER_MEM", "8g"),
                      "runs": results}))


if __name__ == "__main__":
    main()
