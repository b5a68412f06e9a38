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
