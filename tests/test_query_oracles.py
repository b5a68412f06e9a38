"""The local mirror of the driver's correctness gate: every queries()
entry runs; every oracle_sql() entry hash-matches at the test SF.

r14 (VERDICT r13 #2 — the driver's pytest must FINISH): the 190-query
sweep runs as a handful of batched tests, each overlapping its
members' Spark jobs + DuckDB oracle evaluations through a small
thread pool (guide §2.6 — the scheduler happily runs concurrent jobs
in one app; actions were only sequential because the old
one-test-per-query shape called them sequentially, leaving 31 of 32
cores idle through every oracle's single-threaded DuckDB run and
every small query's stage tail). Coverage is IDENTICAL — same
queries, same assert per query; a batch failure lists every failing
member by name. Thread-safety inventory: duckdb_conn opens one
connection per call (per task), Spark actions are thread-safe,
tracked-persist registry appends are GIL-atomic list ops, and module
model memos (e.g. the BPE merge cache) tolerate double-compute."""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor

import pytest

from stockanalyses_downloader_spark.queries import all_queries
from stockanalyses_downloader_spark.testing import assert_matches_oracle

_ALL = all_queries()
_NAMES = sorted(_ALL)
_N_GROUPS = 6
_POOL = 6


def _run_one(spark, sf_dir, name):
    q = _ALL[name]
    df = q.spark(spark, sf_dir)
    if q.oracle is None:
        # rows-only: must run, be materializable, and be NON-empty
        # (the vacuous-emptiness pin, folded into the sweep r14)
        assert df.count() > 0, "vacuously empty rows-only result"
    else:
        assert_matches_oracle(df, q.oracle, sf_dir, require_rows=True)


def _run_batch(spark, sf_dir, names):
    failures = []

    def one(name):
        try:
            _run_one(spark, sf_dir, name)
        except Exception as exc:  # noqa: BLE001 — reported per name
            return f"{name}: {type(exc).__name__}: {exc}"
        return None

    with ThreadPoolExecutor(max_workers=_POOL) as pool:
        failures = [f for f in pool.map(one, names) if f]
    assert not failures, (
        f"{len(failures)} of {len(names)} queries failed the oracle "
        "gate:\n" + "\n".join(failures))


@pytest.mark.parametrize("group", range(_N_GROUPS))
def test_query_vs_oracle(spark, sf_dir, group):
    _run_batch(spark, sf_dir, _NAMES[group::_N_GROUPS])


def test_registry_order_is_pinned():
    """The driver reads the first 50 registry names as its correctness
    window, so the order of all 190 names is part of the contract."""
    names = list(all_queries())
    assert len(names) == 190
    assert hashlib.sha256("\n".join(names).encode()).hexdigest() == (
        "24c9ccaee48a5d0594da328285e470e88e9e07f6f7171935bee9d9f4d8dddbc9")


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


# (the former test_no_query_is_vacuously_empty is folded into the
# sweep itself — _run_one asserts non-emptiness on the SAME
# materialization every query already pays, r14: 62 s of duplicated
# plan compiles + probe jobs gone, identical pin)


def test_portable_hdr_percentiles_track_exact(spark, sf_dir):
    """The PORTABLE HDR path (now the registry entry, r8) obeys its
    bucket-construction error contract vs exact percentiles: each
    bucket spans a 1/16 slice of an octave, so the estimate is within
    ~2/16 of the true value (bucket midpoint + rank granularity)."""
    from stockanalyses_downloader_spark.queries.relational_queries import (
        approx_order_value_percentiles, order_value_percentiles)
    exact = {r["o_orderstatus"]: r for r in
             order_value_percentiles(spark, sf_dir).collect()}
    approx = {r["o_orderstatus"]: r for r in
              approx_order_value_percentiles(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for status, e in exact.items():
        a = approx[status]
        assert a["n_orders"] == e["n_orders"]
        for p in ("p50", "p90", "p99"):
            assert abs(a[p] - e[p]) <= 0.125 * abs(e[p]), (
                f"{status}/{p}: portable={a[p]} exact={e[p]}")


def test_portable_hll_users_track_exact(spark, sf_dir):
    """The portable-HLL registry entry tracks exact count_distinct
    within the m=256 error band (~6.5% stderr; assert 20% = ~3
    sigma)."""
    import pyspark.sql.functions as F
    from stockanalyses_downloader_spark.queries.relational_queries import (
        _t, approx_distinct_users)
    exact = {r["event_type"]: r["x"] for r in
             _t(spark, sf_dir, "events").groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("x")).collect()}
    portable = {r["event_type"]: r["approx_users"] for r in
                approx_distinct_users(spark, sf_dir).collect()}
    assert set(exact) == set(portable)
    for et, x in exact.items():
        assert abs(portable[et] - x) <= 0.20 * x + 3, (
            f"{et}: portable={portable[et]} exact={x}")
