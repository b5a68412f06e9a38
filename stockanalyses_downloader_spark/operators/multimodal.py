"""Multimodal column plumbing (SURVEY.md §2.9 X5).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct (schemas.MULTIMODAL_ASSET). Feature extraction runs as
Arrow-batched ``mapInPandas`` — the pattern for any per-asset Python
work at scale: explicit output schema, batch-shaped UDF, no driver
collect. Real codecs (PIL/librosa/ffmpeg) are not in this container;
``decode_stub_features`` derives deterministic fake dimensions from the
payload bytes (keeps the plumbing testable and the oracle expressible),
while ``decode_real`` (r7) parses ACTUAL frame geometry from the public
PNG/JPEG container formats in pure Python — header parsing needs no
codec; pixel-level decode is the part that genuinely would.

Scale notes: binary columns ride parquet page compression; partition by
modality + size bucket so mapInPandas batches are memory-bounded
(spark.sql.execution.arrow.maxRecordsPerBatch caps rows/batch).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MODALITIES = ("image", "audio", "video")

FEATURE_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), True),
    T.StructField("byte_len", T.LongType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_channels", T.IntegerType(), True),
])


def docs_to_assets(docs: DataFrame) -> DataFrame:
    """Build a multimodal asset table from the documents fixture:
    payload = utf-8 bytes, modality round-robins by doc_id."""
    modality = (F.when(F.col("doc_id") % 3 == 0, _MODALITIES[0])
                 .when(F.col("doc_id") % 3 == 1, _MODALITIES[1])
                 .otherwise(_MODALITIES[2]))
    payload = F.encode("text", "utf-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"))


def decode_stub_features(assets: DataFrame) -> DataFrame:
    """Deterministic fake decode via mapInPandas (Arrow batches).

    Fake geometry derived from payload length — stable, cheap, and
    reproducible in the SQL oracle, so the distributed plumbing
    (schema, batching, partition behavior) is what the test certifies.
    """
    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd
        for pdf in batches:
            lens = pdf["payload"].map(lambda b: 0 if b is None else len(b))
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "byte_len": lens.astype("int64"),
                "width": (lens % 640 + 1).astype("int32"),
                "height": (lens % 480 + 1).astype("int32"),
                "n_channels": pd.Series([3] * len(pdf), dtype="int32"),
            })

    from .dedup import spread
    # fan single-split fixtures across cores: mapInPandas parallelism
    # is partition parallelism
    return spread(assets).mapInPandas(_extract, FEATURE_SCHEMA)


# SOF markers that carry frame geometry (every JPEG start-of-frame
# variant except DHT C4 / JPG C8 / DAC CC, per ITU T.81 table B.1)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
# PNG color type -> sample channels (spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_geometry(b: bytes):
    """(width, height, channels) from a PNG IHDR, else None. The
    8-byte signature + the mandatory first chunk being IHDR make the
    parse unambiguous without decompressing any pixel data."""
    if (len(b) >= 26 and b[:8] == b"\x89PNG\r\n\x1a\n"
            and b[12:16] == b"IHDR"):
        w = int.from_bytes(b[16:20], "big")
        h = int.from_bytes(b[20:24], "big")
        ch = _PNG_CHANNELS.get(b[25])
        # PNG spec caps dimensions at 2^31-1; a larger 4-byte value is
        # a corrupt/adversarial header. Rejecting it here keeps the
        # NULL-geometry (dead-letter) contract — letting it through
        # would overflow the Int32 output column and fail the whole
        # mapInPandas task on one bad asset (r7c review fix).
        if 0 < w <= 0x7FFFFFFF and 0 < h <= 0x7FFFFFFF and ch is not None:
            return w, h, ch
    return None


def _jpeg_geometry(b: bytes):
    """(width, height, channels) from the first JPEG SOF segment,
    else None. Walks the marker stream by segment lengths — entropy-
    coded data is never reached because SOF precedes SOS in any
    well-formed stream."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xFF:          # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2                  # standalone marker, no length
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS before any SOF
            return None
        seg_len = int.from_bytes(b[i + 2:i + 4], "big")
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF:
            if i + 10 > len(b):
                return None
            h = int.from_bytes(b[i + 5:i + 7], "big")
            w = int.from_bytes(b[i + 7:i + 9], "big")
            ch = b[i + 9]
            if w > 0 and h > 0 and ch > 0:
                return w, h, ch
            return None
        i += 2 + seg_len
    return None


def _gif_geometry(b: bytes):
    """(width, height, channels) from a GIF logical screen descriptor
    (GIF87a/GIF89a), else None. Dimensions are little-endian uint16 —
    no Int32 overflow is possible; channels reported as 1 because GIF
    is palette-indexed, matching the repo's PNG color-type-3 (palette)
    convention in _PNG_CHANNELS — the same logical content gets the
    same channel metadata regardless of container."""
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(b[6:8], "little")
        h = int.from_bytes(b[8:10], "little")
        if w > 0 and h > 0:
            return w, h, 1
    return None


def decode_real(assets: DataFrame) -> DataFrame:
    """REAL container decode for image payloads — pure-Python byte
    parsing of the public PNG (IHDR), JPEG (SOF marker walk) and GIF
    (logical screen descriptor) container formats, no codec library,
    run as the same Arrow-batched mapInPandas shape as the stub
    (schema parity pinned in tests). Payloads that parse as none of
    the three get NULL geometry — the honest answer, and the
    dead-letter signal a curation pass filters on. Pixel-level decode
    (which genuinely needs a codec) stays out of scope; frame
    geometry is what the downstream resize/filter stages consume."""
    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def geom(b):
            if b is None:
                return (None, None, None)
            raw = bytes(b)
            g = (_png_geometry(raw) or _jpeg_geometry(raw)
                 or _gif_geometry(raw))
            return g if g else (None, None, None)

        for pdf in batches:
            got = [geom(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "byte_len": pdf["payload"].map(
                    lambda b: 0 if b is None else len(b)).astype("int64"),
                "width": pd.array([g[0] for g in got], dtype="Int32"),
                "height": pd.array([g[1] for g in got], dtype="Int32"),
                "n_channels": pd.array([g[2] for g in got],
                                       dtype="Int32"),
            })

    from .dedup import spread
    return spread(assets).mapInPandas(_extract, FEATURE_SCHEMA)


def _wav_meta(b: bytes):
    """(n_channels, sample_rate, bits_per_sample, n_frames) from a
    RIFF/WAVE header — a chunk walk over the public container format,
    no sample decode. n_frames comes from the data chunk's size /
    frame width (None if no data chunk or sub-byte sample width);
    returns None for anything that isn't a parseable WAVE stream."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, fmt, data_size = 12, None, None
    while i + 8 <= len(b):
        cid = b[i:i + 4]
        csz = int.from_bytes(b[i + 4:i + 8], "little")
        if cid == b"fmt " and csz >= 16 and i + 24 <= len(b):
            ch = int.from_bytes(b[i + 10:i + 12], "little")
            sr = int.from_bytes(b[i + 12:i + 16], "little")
            # nBlockAlign is the authoritative frame width — bits//8
            # per channel is wrong for non-packed layouts (24-in-32,
            # WAVE_FORMAT_EXTENSIBLE); the header already carries it
            block_align = int.from_bytes(b[i + 20:i + 22], "little")
            bits = int.from_bytes(b[i + 22:i + 24], "little")
            fmt = (ch, sr, bits, block_align)
        elif cid == b"data":
            # clamp the declared size to the bytes actually present:
            # streaming encoders write a 0xFFFFFFFF placeholder before
            # finalizing, and truncated files declare more than they
            # carry — trusting either reports absurd frame counts
            data_size = min(csz, max(0, len(b) - (i + 8)))
        i += 8 + csz + (csz & 1)    # RIFF chunks are word-aligned
    if fmt and fmt[0] > 0 and fmt[1] > 0 and fmt[2] >= 8 and fmt[3] > 0:
        ch, sr, bits, block_align = fmt
        frames = (data_size // block_align
                  if data_size is not None else None)
        return ch, sr, bits, frames
    return None


#: audio metadata schema — the audio twin of FEATURE_SCHEMA
AUDIO_META_SCHEMA = ("asset_id long, modality string, byte_len long, "
                     "n_channels int, sample_rate int, "
                     "bits_per_sample int, n_frames long")


def audio_meta_real(assets: DataFrame) -> DataFrame:
    """REAL container parse for audio payloads — the audio sibling of
    decode_real: pure-Python RIFF/WAVE chunk walk (the public
    container format), Arrow-batched mapInPandas, NULL metadata for
    unparseable payloads (the dead-letter signal). Sample-level decode
    (codecs: mp3/flac/opus) stays honestly out of scope — channel
    count, sample rate, bit depth and frame count are what the
    downstream resample/duration-filter stages consume."""
    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def meta(b):
            if b is None:
                return (None, None, None, None)
            m = _wav_meta(bytes(b))
            return m if m else (None, None, None, None)

        for pdf in batches:
            got = [meta(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "byte_len": pdf["payload"].map(
                    lambda b: 0 if b is None else len(b)).astype("int64"),
                "n_channels": pd.array([m[0] for m in got], dtype="Int32"),
                "sample_rate": pd.array([m[1] for m in got],
                                        dtype="Int32"),
                "bits_per_sample": pd.array([m[2] for m in got],
                                            dtype="Int32"),
                "n_frames": pd.array([m[3] for m in got], dtype="Int64"),
            })

    from .dedup import spread
    return spread(assets).mapInPandas(_extract, AUDIO_META_SCHEMA)


def _mp4_meta(b: bytes):
    """(timescale, duration, duration_ms) from an ISO-BMFF (MP4/MOV)
    moov/mvhd box, else None — a top-level box walk plus one nested
    walk inside moov; no sample tables, no codec. Handles mvhd
    version 0 (32-bit times) and version 1 (64-bit)."""
    def walk(buf, start, end):
        i = start
        while i + 8 <= end:
            size = int.from_bytes(buf[i:i + 4], "big")
            btype = buf[i + 4:i + 8]
            header = 8
            if size == 1:           # 64-bit largesize: 16-byte header
                if i + 16 > end:
                    return
                size = int.from_bytes(buf[i + 8:i + 16], "big")
                header = 16
            elif size == 0:         # box extends to EOF
                size = end - i
            if size < header or i + size > end:
                return
            yield btype, i + header, i + size
            i += size

    if len(b) < 8:
        return None
    for btype, s, e in walk(b, 0, len(b)):
        if btype != b"moov":
            continue
        for inner, js, je in walk(b, s, e):
            if inner != b"mvhd" or js + 4 > je:
                continue
            ver = b[js]
            if ver == 0 and js + 24 <= je:
                ts = int.from_bytes(b[js + 12:js + 16], "big")
                dur = int.from_bytes(b[js + 16:js + 20], "big")
                unknown = dur == 0xFFFFFFFF
            elif ver == 1 and js + 32 <= je:
                ts = int.from_bytes(b[js + 20:js + 24], "big")
                dur = int.from_bytes(b[js + 24:js + 32], "big")
                unknown = dur == 0xFFFFFFFFFFFFFFFF
            else:
                return None
            # same overflow discipline as _png_geometry: a parseable
            # field that cannot fit its output column is corrupt, not
            # a crash (timescale -> Int32, duration -> Int64). The
            # all-ones duration is the spec's "unknown" sentinel —
            # the clock is real but the length isn't: NULL duration.
            if not 0 < ts <= 0x7FFFFFFF:
                return None
            if unknown or dur > 0x7FFFFFFFFFFFFFFF:
                return ts, None, None
            return ts, dur, dur * 1000.0 / ts
    return None


#: video metadata schema — the video twin of FEATURE_SCHEMA
VIDEO_META_SCHEMA = ("asset_id long, modality string, byte_len long, "
                     "timescale int, duration long, duration_ms double")


def video_meta_real(assets: DataFrame) -> DataFrame:
    """REAL container parse for video payloads — the video sibling of
    decode_real/audio_meta_real: pure-Python ISO-BMFF box walk to the
    moov/mvhd presentation clock (timescale + duration), Arrow-batched
    mapInPandas, NULL metadata for unparseable payloads. Duration is
    what frame_sample_plan's every_ms budget divides; track-level
    geometry and sample decode stay honestly out of scope."""
    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def meta(b):
            if b is None:
                return (None, None, None)
            m = _mp4_meta(bytes(b))
            return m if m else (None, None, None)

        for pdf in batches:
            got = [meta(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "byte_len": pdf["payload"].map(
                    lambda b: 0 if b is None else len(b)).astype("int64"),
                "timescale": pd.array([m[0] for m in got], dtype="Int32"),
                "duration": pd.array([m[1] for m in got], dtype="Int64"),
                "duration_ms": pd.array([m[2] for m in got],
                                        dtype="Float64"),
            })

    from .dedup import spread
    return spread(assets).mapInPandas(_extract, VIDEO_META_SCHEMA)


def resize_stub(features: DataFrame) -> DataFrame:
    """Resize stage over extracted features: emits the letterboxed
    target geometry + scale factor. Pure column math (the pixel work
    would live in the decode UDF); deterministic so tests/oracles can
    pin it. The target is 224 x 224."""
    scale = F.least(F.lit(224.0) / F.col("width"),
                    F.lit(224.0) / F.col("height"))
    return features.select(
        "asset_id", "modality",
        F.lit(224).cast("int").alias("target_w"),
        F.lit(224).cast("int").alias("target_h"),
        scale.alias("scale"),
        F.floor(F.col("width") * scale).cast("int").alias("scaled_w"),
        F.floor(F.col("height") * scale).cast("int").alias("scaled_h"))


def payload_chunk_fingerprints(assets: DataFrame,
                               chunk_bytes: int = 32) -> DataFrame:
    """Aligned fixed-size chunking of the binary payload, one md5 per
    chunk: (asset_id, chunk_id, chunk_md5). The binary-dedup primitive
    — two assets sharing chunk hashes share content without ever
    comparing payload bytes, and the shuffle carries 16-byte digests
    instead of payloads. (Content-defined chunking — rolling-hash cut
    points — drops in here by swapping the offset generator; aligned
    chunks keep the oracle expressible.)"""
    c = chunk_bytes
    n_chunks = F.ceil(F.length("payload") / F.lit(c)).cast("int")
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                F.md5(F.col("payload").substr(i * c + F.lit(1), F.lit(c)))
                 .alias("chunk_md5")))
    ).otherwise(F.array().cast(
        "array<struct<chunk_id:int,chunk_md5:string>>"))
    return (assets.select("asset_id", F.explode(chunks).alias("c"))
            .select("asset_id", "c.chunk_id", "c.chunk_md5"))


def payload_cdc_chunks(assets: DataFrame) -> DataFrame:
    """Content-defined chunking: cut AFTER byte position i (1-based,
    ``16 <= i < len``) whenever the md5 of the 16-byte sliding window
    ending at i starts with ``0``. Cut points
    depend only on local content, so inserting/removing bytes near the
    head re-chunks only the neighborhood — the tail's chunk digests
    survive, which is exactly what aligned chunking loses (every
    offset shifts). Mean chunk length ~= 16 bytes (one hex digit of
    md5) plus the window floor.

    The predicate is per-position (no sequential state), so the whole
    chunking is one expression — transform/filter over a position
    sequence, no shuffle at all until someone joins on the digests.
    Real dedup systems make the window hash incremental (gear/Rabin);
    that's a constant-factor swap inside this same operator (e.g. a
    Pandas-UDF gear hash emitting identical (start, len) cuts), while
    the md5-window form keeps the cut rule reproducible in ANSI SQL
    for the oracle.

    Output: (asset_id, chunk_seq, chunk_start, chunk_md5)."""
    w = 16
    plen = F.length("payload")
    cuts = F.when(
        plen > w,
        F.filter(
            F.sequence(F.lit(w), plen - 1),
            lambda i: F.md5(F.col("payload").substr(i - (w - 1), F.lit(w)))
                       .startswith("0"))
    ).otherwise(F.array().cast("array<int>"))
    # bounds BOUND as a real column (r13): the chunk lambda below
    # references it 4x via element_at, and lambda bodies sit outside
    # runtime subexpression elimination — inline, the O(len) md5
    # sliding-window scan inside ``cuts`` re-ran once per CHUNK
    # (O(len²/mean_chunk) md5 windows per asset). A non-cheap alias
    # referenced more than once survives CollapseProject, so the cut
    # scan runs once per row (the shingle/char_grams
    # lambda-recompute class).
    bounds = F.col("__bounds")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(bounds) - 1),
        lambda j: F.struct(
            (j - 1).cast("int").alias("chunk_seq"),
            F.element_at(bounds, j).cast("int").alias("chunk_start"),
            F.md5(F.col("payload").substr(
                F.element_at(bounds, j) + 1,
                F.element_at(bounds, j + 1) - F.element_at(bounds, j)))
             .alias("chunk_md5")))
    return (assets.filter(plen > 0)
            .withColumn("__bounds",
                        F.concat(F.array(F.lit(0)), cuts, F.array(plen)))
            .select("asset_id", F.explode(chunks).alias("c"))
            .select("asset_id", "c.chunk_seq", "c.chunk_start",
                    "c.chunk_md5"))


def chunk_overlap_pairs(assets: DataFrame, min_shared: int = 1,
                        method: str = "fixed") -> DataFrame:
    """Binary near-dup pairs by shared content chunks: bucket-join on
    the chunk digest (the only shuffle is digest-width), count shared
    distinct chunks per asset pair, keep pairs with >= min_shared.
    ``method``: "fixed" (aligned 32-byte chunks — cheapest, but any
    byte insertion shifts every later digest) or "cdc" (content-defined
    cut points — shift-resilient; the cut rule sets the mean chunk
    length). Output:
    (id_a, id_b, n_shared_chunks)."""
    if method == "cdc":
        raw = payload_cdc_chunks(assets)
    else:
        raw = payload_chunk_fingerprints(assets)
    fp = raw.select("asset_id", "chunk_md5").distinct()
    a = fp.select(F.col("asset_id").alias("id_a"), "chunk_md5")
    b = fp.select(F.col("asset_id").alias("id_b"), "chunk_md5")
    return (a.join(b, "chunk_md5")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared_chunks"))
            .filter(F.col("n_shared_chunks") >= min_shared))


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (asset, frame_ts) the
    decoder would extract — pure DataFrame math (sequence + explode),
    decode itself stubbed. Fake duration: byte_len milliseconds."""
    with_dur = assets.withColumn(
        "duration_ms", F.length("payload").cast("long"))
    return (with_dur
            .filter(F.col("modality") == "video")
            .select("asset_id",
                    F.explode(F.sequence(
                        F.lit(0).cast("long"), F.col("duration_ms"),
                        F.lit(every_ms).cast("long"))).alias("frame_ts_ms")))


def frame_sample_plan_real(assets: DataFrame,
                           every_ms: int = 1000) -> DataFrame:
    """frame_sample_plan over the PARSED presentation clock (r7c):
    the fake byte_len duration is replaced by the mvhd duration_ms
    from video_meta_real, so the plan budgets frames against the
    video's real timeline. The modality filter runs BEFORE the
    mapInPandas parse (predicate pushdown stops at a Python stage, so
    images/audio must never reach it), and unparseable videos carry
    NULL duration and drop out — the dead-letter branch a curation
    pass routes, not frames to sample.

    The 100,000-frame cap is the one-bad-asset guard: a parseable-but-insane
    clock (a corrupt 64-bit duration) would otherwise overflow the
    cast or explode a billions-long sequence and kill the whole job —
    the bound is checked on the DOUBLE before any cast, so no value
    can reach the overflow. Assets over the budget are excluded like
    any other corrupt metadata."""
    meta = video_meta_real(assets.filter(F.col("modality") == "video"))
    bound = float(every_ms) * (100_000 - 1)
    return (meta.filter(F.col("duration_ms").isNotNull()
                        & (F.col("duration_ms") <= F.lit(bound)))
            .select("asset_id",
                    F.explode(F.sequence(
                        F.lit(0).cast("long"),
                        F.col("duration_ms").cast("long"),
                        F.lit(every_ms).cast("long"))).alias("frame_ts_ms")))
