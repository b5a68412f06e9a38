from __future__ import annotations

from stockanalyses_downloader_spark.__main__ import main
from stockanalyses_downloader_spark.ops import HeartbeatListener, instance_info


def test_cli_list(capsys):
    assert main(["--list"]) == 0
    out = capsys.readouterr().out
    assert "flagship_latest_mid" in out and "[oracled]" in out


def test_cli_unknown_query(capsys):
    assert main(["-q", "nope"]) == 2


def test_cli_runs_flagship(spark, tmp_path, capsys):
    rc = main(["-q", "flagship_latest_mid",
               "--sf-dir", "/root/testdata/sf0.001",
               "-o", str(tmp_path / "out"), "-f", "json"])
    assert rc == 0
    assert (tmp_path / "out").exists()


def test_cli_explain(capsys):
    rc = main(["-q", "pricing_summary", "--sf-dir", "/root/testdata/sf0.001",
               "--explain"])
    assert rc == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_instance_info():
    info = instance_info()
    assert info.hostname and info.instance_id and info.state == "running"


def test_heartbeat_listener_collects(spark, tmp_path):
    from stockanalyses_downloader_spark.sources import synthetic
    from stockanalyses_downloader_spark.streaming import sources as ssrc

    listener = HeartbeatListener()
    spark.streams.addListener(listener)
    try:
        ticks = synthetic.ticks(spark, "/root/testdata/sf0.001")
        src = str(tmp_path / "src")
        ticks.write.parquet(src)
        stream = ssrc.file_tick_stream(spark, src, schema=ticks.schema)
        q = (stream.writeStream.format("noop")
             .trigger(availableNow=True).start())
        q.awaitTermination(90)
        q.stop()
        import time
        deadline = time.time() + 10
        while time.time() < deadline and not any(
                r["event"] == "heartbeat" for r in listener.records):
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    events = {r["event"] for r in listener.records}
    assert "started" in events and "heartbeat" in events
    mf = listener.metrics_frame(spark)
    assert mf.count() == len(listener.records)
    assert "instance_id" in mf.columns


def test_cli_sql_mode(spark, capsys):
    """--sql runs over the table names, and the temp views it
    registers stay in the CLI's own session: the shared session's
    catalog holds no new temp view after main() returns."""
    def temp_views():
        return {t.name for t in spark.catalog.listTables()
                if t.isTemporary}

    before = temp_views()
    rc = main(["--sql", "SELECT count(*) AS n FROM region",
               "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    assert "5" in capsys.readouterr().out
    assert temp_views() == before


def test_metrics_parquet_listener_durable(spark, tmp_path):
    from stockanalyses_downloader_spark.ops import MetricsParquetListener
    from stockanalyses_downloader_spark.sources import synthetic
    from stockanalyses_downloader_spark.streaming import sources as ssrc

    metrics_path = str(tmp_path / "metrics")
    listener = MetricsParquetListener(spark, metrics_path)
    spark.streams.addListener(listener)
    try:
        ticks = synthetic.ticks(spark, "/root/testdata/sf0.001")
        src = str(tmp_path / "src")
        ticks.write.parquet(src)
        stream = ssrc.file_tick_stream(spark, src, schema=ticks.schema)
        q = (stream.writeStream.format("noop")
             .trigger(availableNow=True).start())
        q.awaitTermination(90)
        q.stop()
        import time

        def stored_events() -> set:
            try:
                return {r["event"]
                        for r in spark.read.parquet(metrics_path).collect()}
            except Exception:
                return set()

        # listener-bus appends are async; poll the TABLE, not memory
        deadline = time.time() + 15
        while (time.time() < deadline
               and not {"started", "heartbeat"} <= stored_events()):
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert {"started", "heartbeat"} <= stored_events()
    stored = spark.read.parquet(metrics_path)
    assert "instance_id" in stored.columns and stored.count() > 0


def test_cli_compact_maintenance(spark, tmp_path, capsys):
    """--compact runs small-file maintenance on a table directory:
    fewer files, identical rows, stats line on stdout."""
    from pyspark.sql import functions as F

    from stockanalyses_downloader_spark.operators import compaction

    path = str(tmp_path / "t")
    (spark.range(1000)
     .withColumn("payload", F.md5(F.col("id").cast("string")))
     .repartition(12).write.mode("overwrite").parquet(path))
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())
    rc = main(["--compact", path])
    assert rc == 0
    out = capsys.readouterr().out
    assert "compacted" in out and "12 -> " in out
    assert len(compaction.list_data_files(path)) < 12
    assert sorted(r["id"] for r in
                  spark.read.parquet(path).collect()) == before


def test_cli_compact_bad_path_returns_2(capsys, tmp_path):
    """--compact on a missing/empty dir uses the CLI's stderr +
    exit-code-2 convention, not a traceback."""
    rc = main(["--compact", str(tmp_path / "nope")])
    assert rc == 2
    assert "no parquet data files" in capsys.readouterr().err
