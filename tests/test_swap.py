"""Crash recovery of the table rewriters that share sources/swap.py.

A crash between the swap's two renames leaves the table's only copy in
``<path>.__old-<token>``. The next write must restore that copy and
merge into it; treating the missing path as a first write would replace
the whole history with one batch."""

from __future__ import annotations

import os

import pytest

from stockanalyses_downloader_spark.streaming import sinks


def _jobs(spark, path, i):
    # write i inserts job i+1; write 1 also moves job 1 on to 1300
    rows = [(i + 1, 1000)] + ([(1, 1300)] if i == 1 else [])
    sinks.jobs_state_writeback(path)(
        spark.createDataFrame(rows, "downloader_jq_id long, action int"), i)


def _jobs_read(spark, path, _):
    return {tuple(r) for r in spark.read.parquet(path).collect()}


CASES = {
    "jobs_state_writeback": (_jobs, _jobs_read,
                             {(1, 1300), (2, 1000), (3, 1000)}),
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
