#!/usr/bin/env python3
"""Write the registry's plan digests to tests/plan_digests.json.

Usage:
    python tools/plan_digests.py            # every registry entry
    python tools/plan_digests.py NAME ...   # only the named entries

Each digest is ``plans.plan_digest`` of the entry built at sf0.001 in
a session configured like the test suite's (tests/conftest.py).
``test_every_registry_entry_analyzes`` compares them. A change that
alters a plan on purpose rewrites only the entries it names, so the
diff of the JSON file lists exactly the plans that moved.
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from conftest import SF_SMALL  # noqa: E402

from stockanalyses_downloader_spark.plans import plan_digest  # noqa: E402
from stockanalyses_downloader_spark.queries import all_queries  # noqa: E402
from stockanalyses_downloader_spark.session import get_session  # noqa: E402

PATH = os.path.join(ROOT, "tests", "plan_digests.json")


def main(names: list[str]) -> None:
    registry = all_queries()
    unknown = sorted(set(names) - set(registry))
    if unknown:
        sys.exit(f"unknown registry entries: {unknown}")
    spark = get_session("plan-digests", shuffle_partitions=8)

    def one(name: str) -> tuple[str, str]:
        return name, plan_digest(registry[name].spark(spark, SF_SMALL))

    digests = {}
    if names and os.path.exists(PATH):
        with open(PATH, encoding="utf-8") as fh:
            digests = json.load(fh)
    with ThreadPoolExecutor(max_workers=6) as pool:
        digests.update(pool.map(one, names or sorted(registry)))
    with open(PATH, "w", encoding="utf-8") as fh:
        json.dump(digests, fh, indent=0, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(names or digests)} digests to {PATH}")


if __name__ == "__main__":
    main(sys.argv[1:])
