#!/usr/bin/env python3
"""Capture `.explain("formatted")` for bench queries into plans/TAG/.

Usage:
    python tools/opt_plans.py TAG before [query ...]
    python tools/opt_plans.py TAG after  [query ...]

Each plan lands in ``plans/TAG/<query>_<before|after>.txt``.

With no query names, captures every query the bench times (HEADLINE +
EXTENDED). Plans are compiled at $SPARK_GRAFT_SF_DIR (default sf0.1);
explain() only plans — nothing executes — so this is cheap and safe to
run next to other work. Tracked persists registered while *building*
each query are released immediately afterwards so one query's persist
boundaries never leak into the next query's rendered plan (the r12
cache-adjacency lesson)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stockanalyses_downloader_spark.caching import release_tracked  # noqa: E402
from stockanalyses_downloader_spark.plans import explain_str  # noqa: E402
from stockanalyses_downloader_spark.queries import all_queries  # noqa: E402
from stockanalyses_downloader_spark.session import (DEFAULT_SF_DIR,  # noqa: E402
                                                    get_session)


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        print("usage: opt_plans.py TAG before|after [query ...]",
              file=sys.stderr)
        sys.exit(2)
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if not names:
        import bench
        names = bench.HEADLINE + bench.EXTENDED
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(f"opt-plans-{tag}")
    spark.catalog.clearCache()  # plans must not absorb prior cached subtrees
    registry = all_queries()
    for name in names:
        try:
            df = registry[name].spark(spark, sf_dir)
            text = explain_str(df)
        except Exception as exc:  # noqa: BLE001
            text = f"EXPLAIN FAILED: {exc!r}"
        finally:
            release_tracked()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
