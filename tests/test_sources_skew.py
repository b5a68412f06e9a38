from __future__ import annotations

import json

from pyspark.sql import functions as F

from stockanalyses_downloader_spark.operators import skew
from stockanalyses_downloader_spark.queries.helpers import dsum
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


def test_salted_sum_matches_plain(spark):
    ev = synthetic.ticks(spark, SF)
    plain = {(r["isin"]): r["s"] for r in
             ev.groupBy("isin").agg(dsum(F.col("volume")).alias("s")).collect()}
    salted = {r["isin"]: r["sum_volume"] for r in
              skew.salted_sum(ev, "isin", "volume").collect()}
    assert salted == plain        # decimal accumulation -> bit-identical


def test_salt_replicate_join_matches_plain(spark):
    from stockanalyses_downloader_spark.dims.currency import currency_dim
    t = synthetic.ticks(spark, SF)
    dim = currency_dim(spark)
    plain = t.join(dim, "isin", "inner")
    salted = skew.salt_replicate_join(t, dim, "isin", n_salts=4)
    assert salted.count() == plain.count()
    pk = {(r["tick_id"], r["pair"]) for r in plain.select("tick_id", "pair").collect()}
    sk = {(r["tick_id"], r["pair"]) for r in salted.select("tick_id", "pair").collect()}
    assert pk == sk


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


def test_csv_source_round_trip_and_dead_letters(spark, tmp_path):
    """CSV twin: a type-violating row dead-letters; clean rows parse
    to the explicit schema (never inferSchema — a schema pass over
    100 TB doubles the read)."""
    from pyspark.sql import types as T

    from stockanalyses_downloader_spark.sources import formats

    p = tmp_path / "ticks.csv"
    p.write_text("pair,last,n\n"
                 "btcusd,10.5,3\n"
                 "etheur,oops,1\n"
                 "xrpusd,0.5,7\n")
    schema = T.StructType([
        T.StructField("pair", T.StringType()),
        T.StructField("last", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])
    good, dead = formats.read_csv(spark, str(p), schema)
    assert sorted(r["pair"] for r in good.collect()) == ["btcusd", "xrpusd"]
    assert [r[formats.CORRUPT_COL] for r in dead.collect()] == ["etheur,oops,1"]


def test_csv_crlf_and_quoted_headers_dropped(spark, tmp_path):
    """ADVICE r3: CRLF and all-quoted headers. Measured behavior,
    pinned here: the TEXT SOURCE itself recognizes \\r\\n terminators
    and strips the \\r (Hadoop LineRecordReader), so CRLF files parse
    clean end-to-end — the residual \\r risk is only for line frames
    built from non-file sources, which the parse-side strip covers.
    The all-quoted header form (what quoted csv writers emit) must be
    recognized as a header — byte-exact matching missed it."""
    from pyspark.sql import types as T

    from stockanalyses_downloader_spark.sources import formats

    schema = T.StructType([
        T.StructField("pair", T.StringType()),
        T.StructField("last", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])
    p = tmp_path / "crlf.csv"
    p.write_bytes(b"pair,last,n\r\n"
                  b"btcusd,10.5,3\r\n"
                  b"etheur,oops,1\r\n")
    good, dead = formats.read_csv(spark, str(p), schema)
    assert [(r["pair"], r["last"], r["n"]) for r in good.collect()] \
        == [("btcusd", 10.5, 3)]          # typed, no \r residue
    assert [r[formats.CORRUPT_COL] for r in dead.collect()] \
        == ["etheur,oops,1"]              # \r was line-ending, not data

    q = tmp_path / "quoted_header.csv"
    q.write_text('"pair","last","n"\nxrpusd,0.5,7\n')
    good2, dead2 = formats.read_csv(spark, str(q), schema)
    assert [r["pair"] for r in good2.collect()] == ["xrpusd"]
    assert dead2.isEmpty()


def test_csv_quoted_field_semantics(spark, tmp_path):
    """Documents from_csv quote handling on the text-read path: a
    double-quoted field may contain the separator and escaped ("")
    quotes; an embedded NEWLINE inside quotes is the documented
    limitation — the text source splits on \\n first, so such a record
    arrives as two broken lines and dead-letters (a typed column makes
    the fragments fail the cast) instead of silently merging."""
    from pyspark.sql import types as T

    from stockanalyses_downloader_spark.sources import formats

    schema = T.StructType([
        T.StructField("pair", T.StringType()),
        T.StructField("note", T.StringType()),
        T.StructField("n", T.LongType()),
    ])
    p = tmp_path / "quoted.csv"
    p.write_text('pair,note,n\n'
                 'btcusd,"a,comma and ""quote""",3\n'
                 'etheur,"line one\nline two",9\n')
    good, dead = formats.read_csv(spark, str(p), schema)
    rows = {r["pair"]: r for r in good.collect()}
    assert rows["btcusd"]["note"] == 'a,comma and "quote"'
    assert rows["btcusd"]["n"] == 3
    # the newline-in-quotes record must NOT appear whole...
    assert "etheur" not in rows or rows["etheur"]["note"] != "line one\nline two"
    # ...its fragments are visible in the dead-letter stream (second
    # fragment has too few columns -> n nulls -> PERMISSIVE corrupt)
    assert dead.count() >= 1


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


def test_auto_salting_measures_then_decides(spark):
    """The measure->decide->aggregate loop: a uniform key picks salt
    factor 1 (no wasted combine), a planted hot key picks a factor
    sized by its measured ratio, and BOTH paths produce exactly the
    plain aggregate's sums."""
    from stockanalyses_downloader_spark.operators import skew

    uniform = spark.createDataFrame(
        [(i % 50, float(i)) for i in range(2000)], "k int, v double")
    hot = spark.createDataFrame(
        [(0, float(i)) for i in range(5000)]
        + [(i % 50 + 1, float(i)) for i in range(1000)],
        "k int, v double")

    mu = skew.measure_key_skew(uniform, "k")
    mh = skew.measure_key_skew(hot, "k")
    assert skew.choose_salt_factor(mu) == 1
    nh = skew.choose_salt_factor(mh)
    assert nh > 1
    # hot key holds ~83% of rows: ratio ~ max/mean = 5000/117 ~ 42
    assert 4 <= nh <= 64

    for df in (uniform, hot):
        got = {(r["k"], r[f"sum_v"], r["n_rows"]) for r in
               skew.auto_salted_sum(df, "k", "v").collect()}
        from pyspark.sql import functions as F
        want = {(r["k"], r["s"], r["n"]) for r in
                df.groupBy("k").agg(
                    F.sum(F.col("v").cast("decimal(30,10)"))
                    .cast("double").alias("s"),
                    F.count("*").alias("n")).collect()}
        assert got == want


def test_measure_key_skew_empty_frame(spark):
    """Empty input: the skew probe returns zeros (no TypeError on NULL
    max, no division by zero) and auto_salted_sum yields an empty
    result instead of crashing in the measurement step."""
    from stockanalyses_downloader_spark.operators import skew

    empty = spark.createDataFrame([], "k int, v double")
    m = skew.measure_key_skew(empty, "k")
    assert m == {"max": 0, "mean": 0.0, "total": 0, "top_share": 0.0}
    assert skew.choose_salt_factor(m) == 1
    assert skew.auto_salted_sum(empty, "k", "v").count() == 0


def test_xml_source_round_trip_and_dead_letters(spark, tmp_path):
    """XML ingest (Spark 4 native source) with the same (good, dead)
    contract as JSONL/CSV: schema-explicit, type violations routed to
    the dead-letter frame through the corrupt-record column. XML
    records span lines, so dead rows carry the element as the parser
    saw it rather than a byte-verbatim input line (documented delta)."""
    from pyspark.sql import types as T

    from stockanalyses_downloader_spark.sources import formats

    p = tmp_path / "ticks.xml"
    p.write_text("""<ticks>
  <tick><pair>btcusd</pair><last>10.5</last><n>3</n></tick>
  <tick><pair>etheur</pair><last>NOT_A_NUMBER</last><n>1</n></tick>
  <tick>
    <pair>xrpusd</pair>
    <last>0.5</last>
    <n>7</n>
  </tick>
</ticks>
""")
    schema = T.StructType([
        T.StructField("pair", T.StringType()),
        T.StructField("last", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])
    good, dead = formats.read_xml(spark, str(p), schema, row_tag="tick")
    assert good.columns == ["pair", "last", "n"]
    rows = {r["pair"]: r for r in good.collect()}
    assert set(rows) == {"btcusd", "xrpusd"}
    assert rows["xrpusd"]["last"] == 0.5 and rows["xrpusd"]["n"] == 7
    dead_rows = dead.collect()
    assert len(dead_rows) == 1
    assert "NOT_A_NUMBER" in dead_rows[0][formats.CORRUPT_COL]


def test_xml_dead_frame_survives_corrupt_only_plans(spark, tmp_path):
    """r7c review fix: the canonical dead-letter consumer plans —
    dead.count() and dead.select(CORRUPT_COL) — prune the scan down to
    the corrupt column alone, which the native XML source refuses
    (SPARK-21610); read_xml's persisted dead frame must survive both."""
    from pyspark.sql import types as T

    from stockanalyses_downloader_spark.sources import formats

    p = tmp_path / "t.xml"
    p.write_text("<rs><r><a>1</a></r><r><a>bad</a></r></rs>")
    schema = T.StructType([T.StructField("a", T.LongType())])
    good, dead = formats.read_xml(spark, str(p), schema, row_tag="r")
    assert dead.count() == 1
    assert dead.select(formats.CORRUPT_COL).count() == 1
    assert good.count() == 1
