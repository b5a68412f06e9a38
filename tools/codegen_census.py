#!/usr/bin/env python3
"""Whole-stage codegen census of the query registry.

Usage:
    python tools/codegen_census.py [SF_DIR] > census.json

Builds every registry entry and runs it to the noop sink, one at a
time, twice over in one session (``session.get_session``). For each
sweep it records the classes compiled (``CodegenMetrics`` compilation
count) and seconds per entry, and after it the JVM's Metaspace and
code-heap use. The first sweep's compile count is the registry's
working set of generated classes; the second shows what a warm sweep
still recompiles under the session's generated-class cache cap. SF_DIR
defaults to the sf0.001 test corpus. PERF.md ("Generated-class cache")
holds the numbers the cap in session.py was set from.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from conftest import SF_SMALL  # noqa: E402

from stockanalyses_downloader_spark.caching import tracked_scope  # noqa: E402
from stockanalyses_downloader_spark.queries import all_queries  # noqa: E402
from stockanalyses_downloader_spark.session import get_session  # noqa: E402


def _jvm_pools_mb(jvm) -> dict[str, float]:
    """Used MB of Metaspace and of the code heap (all segments)."""
    out = {"metaspace_mb": 0.0, "code_heap_mb": 0.0}
    for pool in jvm.java.lang.management.ManagementFactory \
            .getMemoryPoolMXBeans():
        name = pool.getName()
        key = ("metaspace_mb" if name == "Metaspace" else
               "code_heap_mb" if name.startswith("CodeHeap") or
               name == "Code Cache" else None)
        if key:
            out[key] += pool.getUsage().getUsed() / 2**20
    return out


def main(sf_dir: str) -> None:
    spark = get_session("codegen-census", shuffle_partitions=8)
    jvm = spark.sparkContext._jvm
    compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    cap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    registry = all_queries()
    sweeps = []
    for _ in range(2):
        entries = {}
        for name in sorted(registry):
            before, t0 = compiles.getCount(), time.perf_counter()
            error = None
            try:
                with tracked_scope():
                    (registry[name].spark(spark, sf_dir)
                     .write.format("noop").mode("overwrite").save())
            except Exception as exc:  # noqa: BLE001 - reported per entry
                error = f"{type(exc).__name__}: {str(exc)[:200]}"
            entries[name] = {"compiles": compiles.getCount() - before,
                             "s": round(time.perf_counter() - t0, 3),
                             "error": error}
        sweeps.append({
            "compiles": sum(e["compiles"] for e in entries.values()),
            "s": round(sum(e["s"] for e in entries.values()), 1),
            **_jvm_pools_mb(jvm), "entries": entries})
    json.dump({"sf_dir": sf_dir, "cache_max_entries": cap,
               "sweeps": sweeps}, sys.stdout, indent=1)
    print()
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else SF_SMALL)
