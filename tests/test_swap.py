"""Crash recovery of the table rewriters that share sources/swap.py.

A crash between the swap's two renames leaves the table's only copy in
``<path>.__old-<token>``. The next write must restore that copy and
merge into it; treating the missing path as a first write would replace
the whole history with one batch."""

from __future__ import annotations

import os

import pytest

from stockanalyses_downloader_spark import pipelines
from stockanalyses_downloader_spark.operators import cdc, ivm
from stockanalyses_downloader_spark.streaming import sinks

_SPEC = [("s", "sum", "v"), ("n", "count", None)]


def _jobs(spark, path, i):
    # write i inserts job i+1; write 1 also moves job 1 on to 1300
    rows = [(i + 1, 1000)] + ([(1, 1300)] if i == 1 else [])
    sinks.jobs_state_writeback(path)(
        spark.createDataFrame(rows, "downloader_jq_id long, action int"), i)


def _jobs_read(spark, path, _):
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def _cdc(spark, path, i):
    batch = spark.createDataFrame([(i, 1, "I", f"s{i}")],
                                  "k long, seq long, op string, state string")
    sinks.cdc_materialized_view(path, "k", ["seq"], "op", ["state"])(batch, i)


def _cdc_read(spark, path, _):
    return {(r["k"], r["state"])
            for r in cdc.visible(spark.read.parquet(path)).collect()}


def _agg_batch(spark, i):
    return spark.createDataFrame([("A", float(2 ** i))], "k string, v double")


def _ivm(spark, path, i):
    ivm.refresh_aggregate_table(spark, path, _agg_batch(spark, i), ["k"],
                                _SPEC)


def _ivm_once(spark, path, i):
    # an at-least-once caller replays the previous batch before the next
    for b in (i - 1, i) if i else (i,):
        ivm.refresh_aggregate_table_once(spark, path, _agg_batch(spark, b),
                                         b, ["k"], _SPEC)


def _agg_read(spark, path, _):
    return {(r["k"], float(r["s"]), r["n"])
            for r in spark.read.parquet(path).collect()}


def _agg_once_read(spark, path, _):
    return _agg_read(spark, path, _), ivm.last_applied_batch(path)


def _quality(spark, path, i):
    docs = [(d, f"readable prose number {d} " * 3) for d in range(1, 3 + i)]
    return pipelines.incremental_quality_refresh(
        spark, spark.createDataFrame(docs, "doc_id long, text string"), path)


def _quality_read(spark, path, last):
    return last, sorted(r["doc_id"]
                        for r in spark.read.parquet(path).collect())


CASES = {
    "jobs_state_writeback": (_jobs, _jobs_read,
                             {(1, 1300), (2, 1000), (3, 1000)}),
    "cdc_materialized_view": (_cdc, _cdc_read,
                              {(0, "s0"), (1, "s1"), (2, "s2")}),
    "refresh_aggregate_table": (_ivm, _agg_read, {("A", 7.0, 3)}),
    "refresh_aggregate_table_once": (_ivm_once, _agg_once_read,
                                     ({("A", 7.0, 3)}, 2)),
    # the third corpus adds doc 4 only: docs 1-3 carry from the
    # restored table instead of being scored again
    "incremental_quality_refresh": (
        _quality, _quality_read,
        ({"n_scored": 1, "n_removed": 0, "n_carried": 3}, [1, 2, 3, 4])),
}


@pytest.mark.parametrize("case", list(CASES))
def test_writer_restores_table_stranded_mid_swap(spark, tmp_path, case):
    write, read, want = CASES[case]
    path = str(tmp_path / "t")
    write(spark, path, 0)
    write(spark, path, 1)
    # crash between rename(path, __old) and rename(__tmp, path)
    os.rename(path, path + ".__old-deadbeef")
    last = write(spark, path, 2)
    assert read(spark, path, last) == want
    assert [e for e in os.listdir(tmp_path)
            if "__tmp-" in e or "__old-" in e] == []
