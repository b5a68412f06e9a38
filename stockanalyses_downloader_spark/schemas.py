"""Explicit schemas for every record shape in the engine.

The reference is fully schemaless (dict-key access sites only —
see reference main.py:277,301,444). This engine declares every shape as
a StructType and never relies on ``inferSchema`` in production paths,
so parquet scans get column pruning and filter pushdown, and streaming
sources have stable shapes across micro-batches.

Numeric ticker fields use DoubleType: the upstream REST APIs serialize
numerics as strings (reference bitstamp/client.py:40 consumes them
verbatim); the cast to double happens at the source boundary
(sources/ticker.py), never downstream.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference domain ------------------------------------------------------

#: one row per queue job (reference main.py:277-280,301)
JOB = T.StructType([
    T.StructField("downloader_jq_id", T.LongType(), False),
    T.StructField("action", T.IntegerType(), False),   # normalized to int
    T.StructField("value", T.StringType(), True),      # "<exchange>#<isin>"
    T.StructField("type_idtype", T.IntegerType(), True),
])

#: ISIN <-> currency pair dimension (reference currency.py:7-91)
CURRENCY_DIM = T.StructType([
    T.StructField("isin", T.StringType(), False),
    T.StructField("base", T.StringType(), False),
    T.StructField("quote", T.StringType(), False),
    T.StructField("pair", T.StringType(), False),
])

#: REST ticker snapshot after the source boundary cast
#: (union of Bitstamp v2 and Bitfinex v1 payload fields;
#: reference bitstamp/client.py:45-65, bitfinex/client.py:22-36)
TICKER_REST = T.StructType([
    T.StructField("exchange", T.StringType(), False),
    T.StructField("isin", T.StringType(), False),
    T.StructField("status", T.IntegerType(), False),
    T.StructField("last", T.DoubleType(), True),
    T.StructField("high", T.DoubleType(), True),
    T.StructField("low", T.DoubleType(), True),
    T.StructField("bid", T.DoubleType(), True),
    T.StructField("ask", T.DoubleType(), True),
    T.StructField("volume", T.DoubleType(), True),
    T.StructField("vwap", T.DoubleType(), True),   # bitstamp only
    T.StructField("open", T.DoubleType(), True),   # bitstamp only
    T.StructField("ts", T.TimestampType(), True),
])

#: raw WSS tick as delivered on the wire: positional array-of-arrays
#: plus epoch ts (reference main.py:398-415)
TICK_WSS_RAW = T.StructType([
    T.StructField("pair", T.StringType(), False),
    T.StructField("tick", T.ArrayType(T.ArrayType(T.DoubleType())), True),
    T.StructField("ts", T.DoubleType(), True),
])

#: WSS tick after positional projection (operators/pipeline.project_wss_tick)
TICK_WSS = T.StructType([
    T.StructField("pair", T.StringType(), False),
    T.StructField("bid", T.DoubleType(), True),
    T.StructField("ask", T.DoubleType(), True),
    T.StructField("daily_change", T.DoubleType(), True),
    T.StructField("daily_change_pct", T.DoubleType(), True),
    T.StructField("last_price", T.DoubleType(), True),
    T.StructField("volume", T.DoubleType(), True),
    T.StructField("high", T.DoubleType(), True),
    T.StructField("low", T.DoubleType(), True),
    T.StructField("ts", T.TimestampType(), True),
])

#: enriched output message (reference main.py:407-416 + :214-215)
MESSAGE = T.StructType(TICK_WSS.fields[1:] + [
    T.StructField("mid", T.DoubleType(), True),
    T.StructField("exchange", T.StringType(), False),
    T.StructField("isin", T.StringType(), False),
])

# --- driver test tables (/root/testdata/sf*/; see TESTDATA.md) --------------
#
# The parquet files' own schemas, as ``sources/tables.load_table``
# reads them: every column nullable, as Spark reads any file source.
# Timestamps are TIMESTAMP: the fixtures write them without a UTC
# adjustment (Spark would infer TIMESTAMP_NTZ), the files Spark writes
# are adjusted, and TIMESTAMP is the one type that reads both. With the
# session pinned to UTC both read as the same instants.
# tests/test_foundation.py pins each against the schema Spark infers
# from the footers.


def _nullable(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


_LONG, _INT, _DOUBLE = T.LongType(), T.IntegerType(), T.DoubleType()
_STR, _TS = T.StringType(), T.TimestampType()

REGION = _nullable(("r_regionkey", _INT), ("r_name", _STR))

NATION = _nullable(("n_nationkey", _INT), ("n_name", _STR),
                   ("n_regionkey", _INT))

CUSTOMER = _nullable(("c_custkey", _LONG), ("c_name", _STR),
                     ("c_nationkey", _INT), ("c_acctbal", _DOUBLE),
                     ("c_mktsegment", _STR))

SUPPLIER = _nullable(("s_suppkey", _LONG), ("s_name", _STR),
                     ("s_nationkey", _INT), ("s_acctbal", _DOUBLE))

PART = _nullable(("p_partkey", _LONG), ("p_name", _STR), ("p_brand", _STR),
                 ("p_type", _STR), ("p_size", _INT),
                 ("p_retailprice", _DOUBLE))

ORDERS = _nullable(("o_orderkey", _LONG), ("o_custkey", _LONG),
                   ("o_orderstatus", _STR), ("o_totalprice", _DOUBLE),
                   ("o_orderdate", _TS), ("o_orderpriority", _STR))

LINEITEM = _nullable(("l_orderkey", _LONG), ("l_partkey", _LONG),
                     ("l_suppkey", _LONG), ("l_linenumber", _INT),
                     ("l_quantity", _DOUBLE), ("l_extendedprice", _DOUBLE),
                     ("l_discount", _DOUBLE), ("l_tax", _DOUBLE),
                     ("l_returnflag", _STR), ("l_linestatus", _STR),
                     ("l_shipdate", _TS))

EVENTS = _nullable(("event_id", _LONG), ("ts", _TS), ("user_id", _LONG),
                   ("event_type", _STR), ("value", _DOUBLE),
                   ("props", _STR))  # props: a JSON string

DOCUMENTS = _nullable(("doc_id", _LONG), ("text", _STR), ("lang", _STR),
                      ("source", _STR), ("n_chars", _LONG))

EMBEDDINGS = _nullable(("vec_id", _LONG),
                       ("embedding", T.ArrayType(T.FloatType())),
                       ("label", _INT))

TABLES = {
    "region": REGION, "nation": NATION, "customer": CUSTOMER,
    "supplier": SUPPLIER, "part": PART, "orders": ORDERS,
    "lineitem": LINEITEM, "events": EVENTS, "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

#: multimodal asset table: opaque payload + typed metadata
#: (engine extension — binary column plumbing for image/audio/video)
MULTIMODAL_ASSET = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),   # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]), True),
])
