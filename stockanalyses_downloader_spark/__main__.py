"""Console entry point — the engine's equivalent of the reference's
``stockanalyses-downloader`` console script (setup.py:17-19).

The reference process polls a job API forever; this engine is invoked
per pipeline run (or scheduled / bound to a stream):

    python -m stockanalyses_downloader_spark --list
    python -m stockanalyses_downloader_spark -q flagship_latest_mid
    python -m stockanalyses_downloader_spark -q weekly_ohlc_candles \\
        --sf-dir /root/testdata/sf0.01 -o /tmp/candles -f parquet
"""

from __future__ import annotations

import argparse
import sys

from .config import check_schema_version, load_config
from .queries import all_queries
from .session import DEFAULT_SF_DIR, get_session


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="stockanalyses-downloader-spark")
    parser.add_argument("-q", "--query", default="flagship_latest_mid")
    parser.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    parser.add_argument("-o", "--output", default=None,
                        help="write results here instead of stdout")
    parser.add_argument("-f", "--format", default="parquet",
                        choices=["parquet", "json", "csv"])
    parser.add_argument("--config", default=None, help="config.ini path")
    parser.add_argument("--sql", default=None,
                        help="run this SQL over the registered test tables "
                             "instead of a named query")
    parser.add_argument("--list", action="store_true",
                        help="list available queries and exit")
    parser.add_argument("--compact", default=None, metavar="TABLE_DIR",
                        help="run small-file compaction maintenance on a "
                             "parquet table directory instead of a query "
                             "(operators/compaction: per-partition bins, "
                             "atomic swap, crash recovery)")
    parser.add_argument("--target-bytes", type=int,
                        default=128 * 1024 * 1024,
                        help="compaction bin target (default 128 MiB)")
    parser.add_argument("--explain", action="store_true",
                        help="print the physical plan instead of running")
    parser.add_argument("-n", "--show-rows", type=int, default=20)
    args = parser.parse_args(argv)

    registry = all_queries()
    if args.list:
        for name, q in sorted(registry.items()):
            kind = "oracled" if q.oracle else "rows-only"
            print(f"{name}  [{kind}]")
        return 0

    if args.compact is not None:
        from .operators.compaction import compact_parquet
        spark = get_session("cli:compact")
        try:
            stats = compact_parquet(spark, args.compact,
                                    target_bytes=args.target_bytes)
        except ValueError as exc:   # missing/empty table dir: same
            print(exc, file=sys.stderr)  # error surface as unknown -q
            return 2
        print(f"compacted {args.compact}: "
              f"{stats['files_before']} -> {stats['files_after']} files "
              f"({stats['bins_rewritten']} bins rewritten, "
              f"{stats['bytes_total']} bytes)")
        return 0

    if args.sql is None and args.query not in registry:
        print(f"unknown query {args.query!r}; --list shows options",
              file=sys.stderr)
        return 2

    cfg = load_config(args.config)
    check_schema_version(actual=cfg.database_version, cfg=cfg)

    spark = get_session(f"cli:{args.query}")
    if args.sql is not None:
        from .sources.tables import register_views
        # The table names are the SQL's contract; the views live in a
        # session of the CLI's own (same SparkContext and cache), so
        # none of them reaches the shared session.
        spark = spark.newSession()
        register_views(spark, args.sf_dir)
        df = spark.sql(args.sql)
    else:
        df = registry[args.query].spark(spark, args.sf_dir)

    if args.explain:
        df.explain(mode="formatted")
        return 0
    if args.output:
        df.write.mode("overwrite").format(args.format).save(args.output)
        print(f"wrote {args.output} ({args.format})")
    else:
        df.show(args.show_rows, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
