"""Right-to-be-forgotten cascade (operators/forget): zero-trace purge
across the FK graph, atomic rewrite, idempotent re-run, and tombstones
that block resurrection in the CDC merge. The cascade COUNT math is
DuckDB-oracled at the query level (forget_cascade_report); these tests
own the side effects."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stockanalyses_downloader_spark.operators import cdc, forget
from stockanalyses_downloader_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

EDGES = [
    forget.FkEdge("orders", "o_custkey", "customer", "c_custkey",
                  child_pk="o_orderkey"),
    forget.FkEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
    forget.FkEdge("events", "user_id", "customer", "c_custkey"),
]
KEY_COLS = {"customer": "c_custkey", "orders": "o_orderkey",
            "lineitem": "l_orderkey", "events": "user_id"}


def _tables(spark):
    return {n: load_table(spark, SF, n)
            for n in ("customer", "orders", "lineitem", "events")}


def test_forget_leaves_zero_traces_and_is_nonvacuous(spark):
    tables = _tables(spark)
    subjects = spark.createDataFrame([(0,), (13,), (26,)], "k long")
    doomed = forget.doomed_keys(tables, "customer", "c_custkey",
                                subjects, EDGES)
    purged = forget.purge(tables, doomed, KEY_COLS)

    # non-vacuous: every table actually loses rows
    for name in KEY_COLS:
        before = tables[name].count()
        after = purged[name].count()
        assert after < before, f"{name}: cascade dropped nothing"

    # zero traces: no purged row references a subject anywhere
    subj = {0, 13, 26}
    assert purged["customer"].filter(
        F.col("c_custkey").isin(subj)).count() == 0
    assert purged["orders"].filter(
        F.col("o_custkey").isin(subj)).count() == 0
    assert purged["events"].filter(
        F.col("user_id").isin(subj)).count() == 0
    # lineitems of the subjects' orders are gone (join-level check,
    # not just key-level)
    leaked = (purged["lineitem"]
              .join(tables["orders"].filter(F.col("o_custkey").isin(subj)),
                    purged["lineitem"]["l_orderkey"]
                    == F.col("o_orderkey"), "semi"))
    assert leaked.count() == 0

    # referential integrity of what remains: no dangling orders
    dangling = purged["orders"].join(purged["customer"],
                                     F.col("o_custkey")
                                     == F.col("c_custkey"), "anti")
    assert dangling.count() == 0


def test_execute_forget_atomic_rewrite_and_idempotent(spark, tmp_path):
    tables = _tables(spark)
    paths = {}
    for n in ("customer", "orders"):
        p = str(tmp_path / f"{n}.parquet")
        tables[n].write.parquet(p)
        paths[n] = p
    live = {n: spark.read.parquet(p) for n, p in paths.items()}
    subjects = spark.createDataFrame([(13,)], "k long")
    doomed = forget.doomed_keys(live, "customer", "c_custkey",
                                subjects, EDGES[:1])
    purged = forget.purge(live, doomed, KEY_COLS)
    expect_c = purged["customer"].count()
    expect_o = purged["orders"].count()

    forget.execute_forget(spark, paths, purged)
    got_c = spark.read.parquet(paths["customer"])
    got_o = spark.read.parquet(paths["orders"])
    assert got_c.count() == expect_c
    assert got_c.filter(F.col("c_custkey") == 13).count() == 0
    assert got_o.count() == expect_o
    # no temp/old residue
    assert not [d for d in os.listdir(tmp_path) if "__tmp" in d
                or "__old" in d]

    # re-running the same erasure is a no-op (idempotent by anti join)
    live2 = {n: spark.read.parquet(p) for n, p in paths.items()}
    doomed2 = forget.doomed_keys(live2, "customer", "c_custkey",
                                 subjects, EDGES[:1])
    purged2 = forget.purge(live2, doomed2, KEY_COLS)
    forget.execute_forget(spark, paths, purged2)
    assert spark.read.parquet(paths["customer"]).count() == expect_c
    assert spark.read.parquet(paths["orders"]).count() == expect_o


def test_execute_forget_depth2_cascade_purges_grandchildren(spark,
                                                            tmp_path):
    """Depth-2 rewrite: customer -> orders -> lineitem all swapped in
    one execute_forget call. The purged lineitem frame derives its
    doomed keys by LAZILY re-reading orders — a per-table
    write+swap loop would re-derive them from the already-purged
    orders (empty doomed set → subjects' lineitems silently survive).
    The two-phase protocol (stage all tmps, then rename) must leave
    ZERO lineitems joinable to the subjects' original orders."""
    tables = _tables(spark)
    paths = {}
    for n in ("customer", "orders", "lineitem"):
        p = str(tmp_path / f"{n}.parquet")
        tables[n].write.parquet(p)
        paths[n] = p
    live = {n: spark.read.parquet(p) for n, p in paths.items()}
    subjects = spark.createDataFrame([(0,), (13,)], "k long")
    doomed = forget.doomed_keys(live, "customer", "c_custkey",
                                subjects, EDGES[:2])
    purged = forget.purge(live, doomed, KEY_COLS)
    # ground truth from the ORIGINAL data, materialized before any swap
    doomed_orders = {r["o_orderkey"] for r in doomed["orders"].collect()}
    assert doomed_orders, "fixture subjects own no orders"
    expect_li = purged["lineitem"].count()

    forget.execute_forget(spark, paths, purged)

    got_li = spark.read.parquet(paths["lineitem"])
    assert got_li.count() == expect_li
    # zero grandchild traces: no surviving lineitem references a
    # doomed order
    leaked = got_li.filter(F.col("l_orderkey").isin(doomed_orders))
    assert leaked.count() == 0, "depth-2 cascade leaked lineitems"
    # parents purged too
    assert spark.read.parquet(paths["customer"]).filter(
        F.col("c_custkey").isin({0, 13})).count() == 0
    assert spark.read.parquet(paths["orders"]).filter(
        F.col("o_orderkey").isin(doomed_orders)).count() == 0
    assert not [d for d in os.listdir(tmp_path) if "__tmp" in d
                or "__old" in d]


def test_forget_tombstones_block_resurrection_in_cdc_view(spark):
    """The CDC-tier leg: erasure emits 'D' tombstones; the changelog
    merge removes the subject, and a replayed OLD upsert for that key
    in the same changelog cannot bring it back (the tombstone's higher
    sequence wins the latest-change reduction)."""
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "user_id long, profile string")
    doomed = spark.createDataFrame([(2,)], "user_id long")
    tomb = forget.tombstones(doomed, "user_id", seq_value=99,
                             payload_cols=["profile"])
    v1 = cdc.apply_changelog(base, tomb, "user_id", ["seq"], "op",
                             ["profile"])
    assert {r["user_id"] for r in v1.collect()} == {1, 3}

    # a replayed historical upsert (seq 10 < 99) is refused
    replay = spark.createDataFrame(
        [(2, 10, "U", "b")], "user_id long, seq long, op string, "
                             "profile string")
    v2 = cdc.apply_changelog(base, replay.unionByName(tomb), "user_id",
                             ["seq"], "op", ["profile"])
    assert {r["user_id"] for r in v2.collect()} == {1, 3}


def test_execute_forget_recovers_old_backup_after_crash(spark,
                                                        tmp_path):
    """Crash-state recovery: a prior run that died between
    os.rename(path, __old) and os.rename(__tmp, path) leaves the
    table's ONLY copy in __old-*. The sweep must RESTORE that backup
    (not delete it) before the idempotent re-run — deleting both
    __old and __tmp would be permanent data loss."""
    tables = _tables(spark)
    paths = {}
    for n in ("customer", "orders"):
        p = str(tmp_path / f"{n}.parquet")
        tables[n].write.parquet(p)
        paths[n] = p
    n_customers = spark.read.parquet(paths["customer"]).count()

    # simulate the mid-swap crash on customer: path gone, data in
    # __old, a complete tmp copy left behind
    os.rename(paths["customer"], paths["customer"] + ".__old-deadbeef")
    spark.read.parquet(paths["customer"] + ".__old-deadbeef") \
        .write.parquet(paths["customer"] + ".__tmp-deadbeef")
    assert not os.path.exists(paths["customer"])

    live = None  # the erasure run builds its frames AFTER the sweep;
    # execute_forget's sweep must restore customer first, so build
    # the purged frames lazily against the restored path
    subjects = spark.createDataFrame([(13,)], "k long")

    def lazy_purged():
        live = {n: spark.read.parquet(p) for n, p in paths.items()}
        doomed = forget.doomed_keys(live, "customer", "c_custkey",
                                    subjects, EDGES[:1])
        return forget.purge(live, doomed, KEY_COLS)

    # the sweep runs first inside execute_forget; restore by calling
    # it on frames built from the restored files. Restore must happen
    # before spark.read touches the path, so do the sweep via a
    # zero-table call first.
    forget.execute_forget(spark, {"customer": paths["customer"]}, {})
    assert os.path.exists(paths["customer"])
    assert spark.read.parquet(paths["customer"]).count() == n_customers
    # stale artifacts cleaned once the path exists again
    assert not [d for d in os.listdir(tmp_path) if "__tmp" in d
                or "__old" in d]

    # and the erasure itself still works end to end afterwards
    purged = forget.execute_forget(spark, paths, lazy_purged())
    got = spark.read.parquet(paths["customer"])
    assert got.filter(F.col("c_custkey") == 13).count() == 0
    assert got.count() == n_customers - 1


def test_audit_single_scan_counts_match_semi_anti_with_dup_doomed(spark):
    """r13 optimization pin: audit() computes (n_dropped, n_kept) from
    ONE left-join scan per table (count(match) / count(*) -
    count(match)) instead of a semi-count + anti-count pair. The
    identity requires the broadcast doomed keys to be distinct, which
    audit now enforces itself — so a caller-supplied doomed frame WITH
    DUPLICATE KEYS must still produce semi/anti semantics (a duplicated
    key must not double-count its rows)."""
    t = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, v string")
    # doomed key 1 listed twice — the trap the dedup guards
    d = spark.createDataFrame([(1,), (1,), (9,)], "k long")
    got = {r["table_name"]: (r["n_dropped"], r["n_kept"])
           for r in forget.audit({"t": t}, {"t": d}, {"t": "k"}).collect()}
    # semi semantics: rows of t with >=1 match = the two k=1 rows;
    # anti: the k=2 and k=3 rows. Doomed key 9 matches nothing.
    assert got == {"t": (2, 2)}
