"""Exchange ticker source connectors (reference S4/S5: the Bitstamp v2
and Bitfinex v1 REST ticker scans, bitstamp/client.py:45-65 and
bitfinex/client.py:22-36).

Design: fetching is side-effecting, so it sits behind a narrow source
interface. The engine plans a *pair list* DataFrame; a fetcher turns it
into a ticker-snapshot DataFrame with the explicit TICKER_REST schema.

  build_ticker_urls     pure URL construction (P6 string concat —
                        bitstamp/client.py:10-23, bitfinex/client.py:30)
  fixture_fetcher       deterministic offline fetcher for tests/CI:
                        derives a plausible payload per pair (numerics
                        as strings, like the real APIs) then casts —
                        the cast path is the part the engine owns
  http_fetcher          live path via mapInPandas, partition-parallel,
                        one HTTP session per batch; gated behind an
                        import-try (network and the requests lib are
                        not available in this container)

The reference consumes the APIs' stringly-typed numerics verbatim; this
engine casts them to doubles at the boundary (cast_payload), so every
downstream operator sees typed columns.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BITSTAMP_URL = "https://www.bitstamp.net/api/v2/ticker/"
BITFINEX_URL = "https://api.bitfinex.com/v1/pubticker/"

#: raw payload columns as the APIs deliver them (strings)
_RAW_FIELDS = ("last", "high", "low", "bid", "ask", "volume",
               "vwap", "open", "timestamp")


def build_ticker_urls(pairs: DataFrame) -> DataFrame:
    """P6: per-row request URL from exchange + base/quote. Pure column
    expressions (bitstamp lowercases the pair, bitfinex takes it as
    given — client.py:22 vs bitfinex/client.py:30)."""
    pair_lower = F.concat(F.lower("base"), F.lower("quote"))
    url = (F.when(F.col("exchange") == "btsp",
                  F.concat(F.lit(BITSTAMP_URL), pair_lower))
            .when(F.col("exchange") == "btfx",
                  F.concat(F.lit(BITFINEX_URL), pair_lower)))
    return pairs.withColumn("url", url)


def cast_payload(raw: DataFrame) -> DataFrame:
    """Boundary cast: stringly-typed API numerics -> doubles, epoch
    string -> timestamp. NULL-safe (absent fields stay NULL)."""
    out = raw
    for c in ("last", "high", "low", "bid", "ask", "volume", "vwap", "open"):
        if c in raw.columns:
            out = out.withColumn(c, F.col(c).cast("double"))
    if "timestamp" in raw.columns:
        out = (out.withColumn(
            "ts", F.timestamp_seconds(F.col("timestamp").cast("double")))
            .drop("timestamp"))
    return out


def fixture_fetcher(pairs_with_urls: DataFrame) -> DataFrame:
    """Offline deterministic 'fetch': payload derived from a hash of
    the URL, numerics serialized as strings exactly like the live APIs,
    then cast at the boundary. Lets every pipeline test run the full
    source path with zero network.

    The payload key is the PORTABLE md5-prefix scheme certified by
    cm_bucket/pyds (32-bit hex prefix → bigint), not xxhash64 — so the
    whole fixture path is DuckDB-reproducible and rest_fetch_pipeline
    carries a value-hash oracle instead of a rows-only check. The
    string round-trip below is identity on doubles in both engines
    (round-trip-faithful formatting), so the oracle recomputes the
    same bits without modeling the serialization."""
    key = F.md5(F.concat(F.lit("7"), F.lit("|"), F.col("url"))
                .cast("binary"))
    h = (F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
         % 1_000_000) / 100.0
    raw = (pairs_with_urls
           .withColumn("status", F.lit(200).cast("int"))
           .withColumn("last", h.cast("string"))
           .withColumn("bid", (h * 0.999).cast("string"))
           .withColumn("ask", (h * 1.001).cast("string"))
           .withColumn("high", (h * 1.01).cast("string"))
           .withColumn("low", (h * 0.99).cast("string"))
           .withColumn("volume", (h * 10).cast("string"))
           .withColumn("vwap", h.cast("string"))
           .withColumn("open", h.cast("string"))
           .withColumn("timestamp", F.lit("1704067200")))
    return cast_payload(raw)


def http_fetcher(pairs_with_urls: DataFrame) -> DataFrame:
    """Live REST fetch, partition-parallel with one HTTP session per
    Arrow batch (the reference did one TCP handshake per message —
    main.py:210). Unavailable here: no network egress or requests lib
    in this container."""
    try:
        import requests  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "live HTTP fetch needs the 'requests' library and network "
            "egress; use fixture_fetcher offline") from exc

    from pyspark.sql import types as T
    schema = T.StructType(
        pairs_with_urls.schema.fields
        + [T.StructField("status", T.IntegerType()),
           *[T.StructField(f, T.StringType()) for f in _RAW_FIELDS]])

    def _fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd
        import requests
        session = requests.Session()   # one session per partition-batch
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                resp = session.get(row["url"], timeout=10)
                payload = resp.json() if resp.ok else {}
                rows.append({**row, "status": resp.status_code,
                             **{f: payload.get(f) for f in _RAW_FIELDS}})
            yield pd.DataFrame(rows)

    return cast_payload(pairs_with_urls.mapInPandas(_fetch, schema))
