from __future__ import annotations

import os

from conftest import SF_SMALL
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stockanalyses_downloader_spark.config import (EngineConfig,
                                                   check_schema_version,
                                                   load_config)
from stockanalyses_downloader_spark.dims.currency import (currency_dim,
                                                          currency_rows,
                                                          currency_values_sql)
from stockanalyses_downloader_spark.schemas import TABLES
from stockanalyses_downloader_spark.sources.synthetic import (JOBS_SQL,
                                                              TICKS_SQL, jobs,
                                                              ticks)
from stockanalyses_downloader_spark.sources.tables import (TABLE_NAMES,
                                                           load_table)
from stockanalyses_downloader_spark.testing import assert_matches_oracle


def test_currency_dim_shape(spark):
    dim = currency_dim(spark)
    rows = dim.collect()
    assert len(rows) == 84
    assert dim.columns == ["isin", "base", "quote", "pair"]
    by_isin = {r.isin: r for r in rows}
    assert by_isin["XFC000000001"].pair == "btceur"
    assert by_isin["XFC000000084"].pair == "spketh"
    assert all(r.pair == r.base + r.quote for r in rows)


def test_currency_values_sql_matches_dim(spark, sf_dir):
    assert_matches_oracle(currency_dim(spark),
                          f"SELECT * FROM {currency_values_sql()}", sf_dir)
    assert len(currency_rows()) == 84


def test_tables_load(spark, sf_dir):
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        assert df.count() > 0, name


def test_declared_schemas_match_footers(spark):
    """load_table reads with the declared schemas; a column that the
    files lack or type differently would read as nulls or fail late.
    Pin each declared schema to the one Spark infers from the footers
    of every fixture: the test corpus at three scales and the
    benchmark's base tables. Inference reads footers only. Timestamps
    written without a UTC adjustment infer as TIMESTAMP_NTZ and are
    declared TIMESTAMP (see schemas.py)."""
    testdata = os.path.dirname(SF_SMALL)
    corpus = ("documents", "embeddings", "events")
    fixtures = [(os.path.join(testdata, f"sf{sf}"), tuple(TABLES))
                for sf in ("0.001", "0.01", "0.1")]
    fixtures.append((os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench", "data"), corpus))

    def declared_type(t):
        return T.TimestampType() if isinstance(t, T.TimestampNTZType) else t

    mismatched = {}
    for sf_dir, names in fixtures:
        for name in names:
            path = os.path.join(sf_dir, f"{name}.parquet")
            inferred = T.StructType([
                T.StructField(f.name, declared_type(f.dataType), f.nullable)
                for f in spark.read.parquet(path).schema])
            if inferred != TABLES[name]:
                mismatched[path] = inferred.simpleString()
    assert not mismatched, mismatched


def test_synthetic_ticks_match_oracle(spark, sf_dir):
    assert_matches_oracle(ticks(spark, sf_dir),
                          f"SELECT * FROM {TICKS_SQL}", sf_dir)


def test_synthetic_jobs_match_oracle(spark, sf_dir):
    assert_matches_oracle(jobs(spark, sf_dir),
                          f"SELECT * FROM {JOBS_SQL}", sf_dir)


def test_ticks_have_bad_status_rows(spark, sf_dir):
    t = ticks(spark, sf_dir)
    assert t.filter(F.col("status") != 200).count() > 0


def test_config_env_precedence(tmp_path):
    cfg = load_config(env={"STOXYGEN_MQ_QUEUE": "other_q",
                           "STOXYGEN_DATABASE_VERSION": "3"})
    assert cfg.mq_queue == "other_q"
    assert cfg.database_version == 3
    ini = tmp_path / "config.ini"
    ini.write_text("[engine]\nmq_queue = file_q\n")
    cfg2 = load_config(str(ini), env={"STOXYGEN_MQ_QUEUE": "env_q"})
    assert cfg2.mq_queue == "file_q"


def test_schema_version_gate():
    check_schema_version(1, EngineConfig())
    try:
        check_schema_version(0, EngineConfig())
    except RuntimeError:
        pass
    else:
        raise AssertionError("expected RuntimeError for old schema")


def test_every_defaulted_parameter_has_a_caller():
    """Every defaulted parameter of a package top-level function is
    passed by some caller in the package, tests, tools, perfbench,
    bench.py or __spark_entry__.py (AST scan, no Spark). An option no
    caller sets is a constant: fix it in the body instead. Allowed:
    the deployment/injection points and the DuckDB oracle SQL
    generators in queries/ (tools/option_census.py)."""
    from tools.option_census import census, unallowed

    _, unset = census()
    rest = unallowed(unset)
    assert not rest, "never-set defaulted parameters: " + ", ".join(
        f"{rel}:{fn}({p})" for rel, fn, p in rest)


# Package top-level defs that no product path (the registry, the CLI,
# bench.py, __spark_entry__.py, perfbench/) reaches, kept on purpose:
# each maps to the SURVEY row it serves or the reason it stays. Their
# own helpers follow them. Anything else that only tests or tools
# reach is extension code: delete it with its tests.
KEPT = {
    "caching.py:tracked_scope": "harness persist scope (ROADMAP item 7)",
    "caching.py:release_all": "harness end-of-session release",
    "operators/bpe.py:tokenize_with_merges":
        "full BPE encoder that bpe_token_counts is pinned against",
    "operators/candles.py:streaming_ohlc": "ST5",
    "operators/dedup.py:exact_dedup": "X1",
    "operators/dsir.py:dsir_scores":
        "raw-document DSIR scoring the pooled-count path is pinned against",
    "operators/forget.py:purge": "right-to-be-forgotten rewrite",
    "operators/forget.py:execute_forget": "right-to-be-forgotten rewrite",
    "operators/forget.py:tombstones": "right-to-be-forgotten CDC deletes",
    "operators/langid.py:char_grams_col":
        "char n-gram reference with_char_grams is pinned against",
    "operators/multimodal.py:decode_real": "X5 real container decode",
    "operators/multimodal.py:audio_meta_real": "X5 real container decode",
    "operators/multimodal.py:video_meta_real": "X5 real container decode",
    "operators/multimodal.py:frame_sample_plan": "X5 frame sampling",
    "operators/multimodal.py:frame_sample_plan_real": "X5 frame sampling",
    "operators/multimodal.py:resize_stub": "X5 resize seam",
    "operators/ngram_lm.py:kn_score_pairs": "scores pairs under the KN LM",
    "operators/pca.py:merge_moment_grids": "mergeable sketch merge",
    "operators/sampling.py:deterministic_sample": "per-key stable sample",
    "operators/similarity.py:save_ivf_index": "IVF at rest (ROADMAP item 3)",
    "operators/similarity.py:append_to_ivf_index":
        "IVF at rest (ROADMAP item 3)",
    "operators/similarity.py:ivf_topk_from_index":
        "IVF at rest (ROADMAP item 3)",
    "operators/sketches.py:bloom_merge": "mergeable sketch merge",
    "operators/sketches.py:bloom_contains": "mergeable sketch probe",
    "operators/sketches.py:countmin_merge": "mergeable sketch merge",
    "operators/sketches.py:hdr_merge": "mergeable sketch merge",
    "operators/sketches.py:hll_build": "mergeable sketch build",
    "operators/sketches.py:hll_merge": "mergeable sketch merge",
    "operators/sketches.py:hll_estimate": "mergeable sketch estimate",
    "operators/sketches.py:hll_intersection_estimate":
        "mergeable sketch set algebra",
    "ops.py:instance_info": "K3",
    "ops.py:HeartbeatListener": "K3",
    "ops.py:MetricsParquetListener": "K3",
    "pipelines.py:run_rest_stream": "ST7",
    "plans/audit.py:explain_str": "plan checks' own helper",
    "plans/audit.py:plan_report": "plan checks' own helper",
    "plans/audit.py:plan_digest": "plan checks' own helper",
    "plans/audit.py:assert_broadcast_join": "plan checks' own helper",
    "plans/audit.py:assert_no_cartesian": "plan checks' own helper",
    "plans/audit.py:assert_pushed_filters": "plan checks' own helper",
    "plans/audit.py:count_partitionless_windows": "plan checks' own helper",
    "sources/bucketing.py:write_bucketed": "co-located join layout",
    "sources/bucketing.py:read_bucketed": "co-located join layout",
    "sources/bucketing.py:write_partitioned": "partitioned layout",
    "sources/bucketing.py:write_zordered": "z-order layout",
    "sources/formats.py:read_jsonl": "JSONL ingest with dead letters",
    "sources/formats.py:write_jsonl": "JSONL interchange writer",
    "sources/jobs_feed.py:read_jobs_json": "S1",
    "sources/jobs_feed.py:empty_jobs": "S1",
    "sources/ticker.py:http_fetcher": "S4/S5",
    "streaming/sinks.py:dedup_for_effective_exactly_once": "ST4",
    "streaming/sources.py:rate_tick_stream": "S6",
    "streaming/sources.py:kafka_tick_stream": "S6",
    "streaming/sources.py:decode_kafka_ticks": "S6",
    "streaming/sources.py:encode_kafka_fixture": "S6",
}


def test_every_package_def_has_a_product_path():
    """Name-reachability scan (AST, no Spark): start from every name
    used in bench.py, __spark_entry__.py, perfbench/, the CLI and the
    package's module-level code (the registry), close over the bodies
    of the package top-level defs those names reach, then add KEPT and
    its closure. Every package top-level def must be in the result;
    every KEPT entry must name a def that the product does not reach
    on its own."""
    import ast

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "stockanalyses_downloader_spark")

    def py_files(root):
        if root.endswith(".py"):
            yield root
            return
        for d, dirs, files in os.walk(root):
            dirs[:] = [x for x in dirs if x not in ("__pycache__", "data")]
            yield from (os.path.join(d, f) for f in files
                        if f.endswith(".py"))

    def used(node):
        return {n.id if isinstance(n, ast.Name) else n.attr
                for n in ast.walk(node)
                if isinstance(n, (ast.Name, ast.Attribute))}

    defs, seeds = {}, set()        # name -> [(relpath, node)]
    for path in py_files(pkg):
        rel = os.path.relpath(path, pkg)
        for node in ast.parse(open(path).read()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(node.name, []).append((rel, node))
            elif rel != "__main__.py":
                seeds |= used(node)
    for root in ("bench.py", "__spark_entry__.py", "perfbench",
                 os.path.join(pkg, "__main__.py")):
        for path in py_files(os.path.join(repo, root)):
            seeds |= used(ast.parse(open(path).read()))

    def closure(names):
        seen, todo = set(), [n for n in names if n in defs]
        while todo:
            name = todo.pop()
            if name not in seen:
                seen.add(name)
                todo += [m for _, node in defs[name] for m in used(node)
                         if m in defs]
        return seen

    product = closure(seeds)
    kept = {key.split(":")[1] for key in KEPT}
    stale = sorted(key for key in KEPT
                   if key.split(":")[1] in product
                   or key.split(":")[0] not in
                   {rel for rel, _ in defs.get(key.split(":")[1], [])})
    assert not stale, "KEPT entries that are not unreached defs: " + \
        ", ".join(stale)
    reached = product | closure(kept)
    orphans = sorted(f"{rel}:{name}" for name, entries in defs.items()
                     if name not in reached for rel, _ in entries)
    assert not orphans, "no product path reaches: " + ", ".join(orphans)
