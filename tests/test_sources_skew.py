from __future__ import annotations

import json

from pyspark.sql import functions as F

from stockanalyses_downloader_spark.sources import (bucketing, jobs_feed,
                                                    synthetic)
from stockanalyses_downloader_spark.streaming import sinks

SF = "/root/testdata/sf0.001"


def test_read_jobs_json_normalizes_actions(spark, tmp_path):
    feed = tmp_path / "jobs.jsonl"
    feed.write_text("\n".join([
        json.dumps({"downloader_jq_id": 1, "action": "1000",
                    "value": "btsp#XFC000000001", "type_idtype": "2"}),
        json.dumps({"downloader_jq_id": 2, "action": 1100,
                    "value": "btfx#XFC000000002", "type_idtype": 2}),
        json.dumps({"action": "oops", "value": "x"}),
    ]))
    jobs = jobs_feed.read_jobs_json(spark, str(feed))
    rows = {r["downloader_jq_id"]: r for r in jobs.collect()}
    assert rows[1]["action"] == 1000 and rows[1]["type_idtype"] == 2
    assert rows[2]["action"] == 1100
    assert rows[0]["action"] == 0          # malformed -> sentinel, not crash
    assert dict(jobs.dtypes)["action"] == "int"


def test_empty_jobs_schema(spark):
    df = jobs_feed.empty_jobs(spark)
    assert df.count() == 0
    assert df.columns == ["downloader_jq_id", "action", "value", "type_idtype"]


def test_jobs_writeback_idempotent_replay(spark, tmp_path):
    """ST4/claim idempotence: replaying the same micro-batch leaves the
    jobs table unchanged (checkpoint replay safety)."""
    path = str(tmp_path / "jobs_table")
    wb = sinks.jobs_state_writeback(path)
    b = spark.createDataFrame([(1, 1300), (2, 1900)],
                              "downloader_jq_id long, action int")
    wb(b, 0)
    first = sorted(map(tuple, spark.read.parquet(path).collect()))
    wb(b, 0)   # replay
    second = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert first == second


def test_write_partitioned_prunes(spark, tmp_path):
    """Partitioned layout + partition pruning: a filter on the
    partition column scans only that directory."""
    from stockanalyses_downloader_spark.operators import pipeline
    from stockanalyses_downloader_spark.plans import explain_str

    t = pipeline.validate_http(synthetic.ticks(spark, SF))
    path = str(tmp_path / "by_exchange")
    bucketing.write_partitioned(t, path, ["exchange"])

    import os
    assert sorted(d for d in os.listdir(path) if d.startswith("exchange=")) == \
        ["exchange=btfx", "exchange=btsp"]

    rd = spark.read.parquet(path).filter(F.col("exchange") == "btsp")
    plan = explain_str(rd)
    assert "PartitionFilters" in plan and "btsp" in plan
    assert rd.count() == t.filter(F.col("exchange") == "btsp").count()


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed on the join key join WITHOUT a shuffle —
    the write-once co-location contract."""
    from stockanalyses_downloader_spark.plans import explain_str
    from stockanalyses_downloader_spark.sources.tables import load_table

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    bucketing.write_bucketed(orders, "b_orders", ["o_custkey"],
                             n_buckets=8)
    bucketing.write_bucketed(customer, "b_customer", ["c_custkey"],
                             n_buckets=8)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("b_orders")
             .join(spark.table("b_customer"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .groupBy("c_mktsegment").count())
        plan = explain_str(j)
        tree = plan.split("\n\n", 1)[0]
        n_exchanges = tree.count("Exchange") - tree.count("BroadcastExchange")
        # the join itself must be exchange-free; only the final
        # mktsegment aggregation may shuffle
        assert n_exchanges <= 1, plan
        assert "SortMergeJoin" in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_jsonl_source_dead_letters_malformed(spark, tmp_path):
    """Batch file ingest (sources/formats.py): schema-explicit JSONL
    read routes malformed records to a dead-letter frame with the raw
    line preserved — the batch analogue of K5 — instead of killing the
    job or silently nulling (the reference trusts resp.json() blindly;
    one bad payload kills its worker)."""
    from pyspark.sql import types as T

    from stockanalyses_downloader_spark.sources import formats

    p = tmp_path / "feed.jsonl"
    p.write_text("\n".join([
        '{"pair": "btcusd", "last": 10.5, "n": 3}',
        'this is not json at all',
        '{"pair": "etheur", "last": "NOT_A_NUMBER", "n": 1}',
        '{"pair": "xrpusd", "last": 0.5, "n": 7}',
    ]) + "\n")
    schema = T.StructType([
        T.StructField("pair", T.StringType()),
        T.StructField("last", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])
    good, dead = formats.read_jsonl(spark, str(p), schema)
    assert good.columns == ["pair", "last", "n"]
    assert sorted(r["pair"] for r in good.collect()) == ["btcusd", "xrpusd"]
    dead_rows = dead.collect()
    assert len(dead_rows) == 2
    raws = " ".join(r[formats.CORRUPT_COL] for r in dead_rows)
    assert "not json" in raws and "NOT_A_NUMBER" in raws


def test_jsonl_writer_round_trips(spark, tmp_path):
    """write_jsonl -> read_jsonl round trip preserves values and no
    rows dead-letter."""
    from stockanalyses_downloader_spark.sources import formats

    src = synthetic.ticks(spark, SF).select("tick_id", "isin", "last_price")
    out = str(tmp_path / "export")
    formats.write_jsonl(src, out)
    good, dead = formats.read_jsonl(spark, out, src.schema)
    assert dead.isEmpty()
    assert good.count() == src.count()
    a = {(r["tick_id"], r["isin"], r["last_price"]) for r in good.collect()}
    b = {(r["tick_id"], r["isin"], r["last_price"]) for r in src.collect()}
    assert a == b


def test_measure_key_skew_empty_frame(spark, tmp_path):
    """Empty probe side: the registry's skew measurement returns one
    row with zero keys and NULL statistics (no division by zero under
    ANSI, no crash on the NULL max) instead of failing before an
    engineer can read it."""
    from stockanalyses_downloader_spark.queries.relational_queries import (
        join_key_skew_report)
    from stockanalyses_downloader_spark.schemas import TABLES

    spark.createDataFrame([], TABLES["lineitem"]).write.parquet(
        str(tmp_path / "lineitem.parquet"))
    rows = join_key_skew_report(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["n_keys"] == 0
    assert {k: v for k, v in r.items() if k != "n_keys"} == {
        "n_rows": None, "max_n": None, "mean_n": None, "p99_n": None,
        "top1_share": None}
