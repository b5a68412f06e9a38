"""Local mirror of the driver's correctness gate.

``assert_matches_oracle`` runs a Spark DataFrame and a DuckDB SQL string
over the same parquet tables and compares row count, column names, and
an order-insensitive view of the values — the same contract the driver
applies to ``queries()`` / ``oracle_sql()`` pairs, so a green test here
predicts a green CORRECTNESS_r{N}.json.

Float discipline: engine queries avoid order-dependent float
accumulation in oracle-matched outputs (decimal sums cast to double),
so comparison is near-exact; a tiny epsilon absorbs only final-digit
formatting noise.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from .sources.tables import TABLE_NAMES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(lambda v: v.hex() if isinstance(v, (bytes, bytearray))
                          else str(v) if isinstance(v, list) else v)
    # sort by every column (values are compared engine-to-engine, so
    # identical data sorts identically; floats only tie-break exact keys)
    return (df.sort_values(by=list(df.columns), kind="mergesort",
                           na_position="last")
              .reset_index(drop=True))


def _values_equal(a, b, rel: float = 1e-9) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
            return (a is None or math.isnan(a)) and (b is None or math.isnan(b))
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)
    return a == b


def assert_matches_oracle(spark_df, sql: str, sf_dir: str,
                          require_rows: bool = False) -> None:
    con = duckdb_conn(sf_dir)
    try:
        expected = con.execute(sql).fetchdf()
    finally:
        con.close()
    actual = spark_df.toPandas()

    assert sorted(actual.columns) == sorted(expected.columns), (
        f"column mismatch: spark={sorted(actual.columns)} "
        f"oracle={sorted(expected.columns)}")
    assert len(actual) == len(expected), (
        f"row count mismatch: spark={len(actual)} oracle={len(expected)}")
    if require_rows:
        # the vacuous-emptiness pin (r14: folded into the sweep's own
        # materialization): a query whose result AND oracle are both
        # empty passes the hash compare without testing anything —
        # dead predicates/wrong literals must surface
        assert len(actual) > 0, "vacuously empty result"

    a, e = _normalize(actual), _normalize(expected)
    # The driver's value hash is dtype-KIND-sensitive: DuckDB HUGEINT
    # surfaces as float64 and hashes 1.0 != Spark bigint 1 (r1's
    # event_sessionization red cell), while int32 vs int64 of the same
    # value hash identically (r1's doc_token_stats passed with Spark
    # int32 vs DuckDB BIGINT). Mirror exactly that: compare numpy dtype
    # kind (int vs float vs object vs datetime), not width.
    def _kind(dt) -> str:
        k = dt.kind
        return "i" if k == "u" else k
    for col in a.columns:
        assert _kind(a[col].dtype) == _kind(e[col].dtype), (
            f"dtype kind mismatch in column {col!r}: "
            f"spark={a[col].dtype} oracle={e[col].dtype} "
            "(driver value-hash would fail; add explicit casts)")
    for col in a.columns:
        av, ev = list(a[col]), list(e[col])
        bad = [(i, x, y) for i, (x, y) in enumerate(zip(av, ev))
               if not _values_equal(_null(x), _null(y))]
        assert not bad, f"value mismatch in column {col!r}: first={bad[:5]}"


def _null(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return v
    if pd.api.types.is_scalar(v) and pd.isna(v):
        return None
    return v
