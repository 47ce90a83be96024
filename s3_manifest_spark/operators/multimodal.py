"""Multimodal column handling (SURVEY.md §2B): opaque binary payloads
with typed metadata, decode/feature-extract as Arrow-batched Python.

The container has no image/audio codec LIBRARIES, so the formats are
real, public, UNCOMPRESSED standards whose parsing needs only
``struct``/``bytes`` + numpy:

- images/video: binary PPM (netpbm "P6") — each asset is a stack of
  P6 frames, encoded and DECODED for real (:func:`decode_ppm_stack`
  parses magic, whitespace/comment-tolerant header tokens, and the
  binary pixel plane of every frame);
- audio: RIFF/WAVE PCM — :func:`decode_wav_pcm` walks the RIFF chunk
  list (fmt/data plus any extra chunks), validates the PCM header,
  and computes exact sample stats from the int16 plane.

``decode_fn`` stays injectable so a PIL/ffmpeg-backed decoder drops
into the same Arrow seam.  The Spark side (binary schema, mapInPandas
batch shape, partition sizing) is what matters at 100 TB: payload
bytes stay in Arrow record batches end-to-end, never row-at-a-time
Python objects.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from s3_manifest_spark.registry import cached, register
from s3_manifest_spark.sources.tables import load_table


def binary_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents re-shaped as a multimodal table: an opaque ``binary``
    payload plus typed metadata — the layout a 100 TB image/audio corpus
    would use (payload and metadata in one row, partition-pruned by
    metadata, payload untouched until the decode stage)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("lang").alias("lang"),
            F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


@register(
    "multimodal_meta",
    oracle="""
    SELECT source                                   AS origin,
           count(*)                                 AS n_assets,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY source
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan over a binary-payload table: per-origin asset
    counts and byte volumes.  The payload column is never read past its
    length — at scale the parquet reader prunes it entirely when only
    metadata is selected."""
    corpus = binary_corpus(spark, sf_dir)
    return corpus.groupBy(F.col("meta.origin").alias("origin")).agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.max(F.length("payload")).cast("long").alias("max_bytes"),
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("mean_byte", T.DoubleType(), False),
    ]
)


def _asset_geometry(n: int) -> tuple[int, int, int]:
    """Deterministic (width, height, n_frames) for a source asset of
    ``n`` bytes — the generator's layout rule, mirrored verbatim by
    the decode oracle's SQL arithmetic."""
    return (n % 32) + 1, (n % 24) + 1, (n % 5) + 1


def encode_ppm_stack(payload: bytes) -> bytes:
    """Render a source payload into a REAL multi-frame binary-PPM
    asset: ``n_frames`` P6 images (``P6\\n{w} {h}\\n255\\n`` header +
    w·h·3 pixel bytes each), pixels drawn by cycling the source bytes
    through the full pixel plane (``np.resize`` — cyclic repeat).
    Any P6-compliant reader decodes the individual frames."""
    import numpy as np

    w, h, f = _asset_geometry(len(payload))
    need = w * h * 3 * f
    src = np.frombuffer(payload, dtype=np.uint8)
    pix = np.resize(src, need) if len(src) else np.zeros(need, dtype=np.uint8)
    header = f"P6\n{w} {h}\n255\n".encode()
    per_frame = w * h * 3
    out = bytearray()
    for i in range(f):
        out += header
        out += pix[i * per_frame : (i + 1) * per_frame].tobytes()
    return bytes(out)


def _ppm_token(buf: bytes, off: int) -> tuple[bytes, int]:
    """Read one whitespace-delimited header token, skipping netpbm
    ``#`` comment lines — the full P6 header grammar."""
    n = len(buf)
    while off < n and buf[off] in b" \t\r\n":
        off += 1
    while off < n and buf[off : off + 1] == b"#":
        while off < n and buf[off] not in b"\n":
            off += 1
        while off < n and buf[off] in b" \t\r\n":
            off += 1
    start = off
    while off < n and buf[off] not in b" \t\r\n":
        off += 1
    if start == off:
        raise ValueError("truncated PPM header")
    return buf[start:off], off


def _iter_ppm_frames(payload: bytes):
    """Walk a P6 stack frame by frame, yielding ``(w, h, plane)``
    where ``plane`` is the frame's zero-copy uint8 pixel view.
    Raises ``ValueError`` on bad magic, truncated header/plane, or an
    unsupported maxval; geometry-consistency across frames is the
    CALLER's contract (the stack decoder enforces it)."""
    import numpy as np

    off, n = 0, len(payload)
    while off < n:
        magic, off = _ppm_token(payload, off)
        if magic != b"P6":
            raise ValueError(f"bad PPM magic {magic!r} at offset {off}")
        wt, off = _ppm_token(payload, off)
        ht, off = _ppm_token(payload, off)
        mt, off = _ppm_token(payload, off)
        fw, fh, maxv = int(wt), int(ht), int(mt)
        if maxv != 255:
            raise ValueError(f"unsupported maxval {maxv}")
        if fw <= 0 or fh <= 0:
            # also the loop-progress guard: a negative dimension would
            # make the plane size negative, pass the truncation check,
            # and move the cursor BACKWARDS — an infinite loop on one
            # crafted header
            raise ValueError(f"non-positive frame dimensions {(fw, fh)}")
        off += 1  # single whitespace byte after maxval, then the plane
        plane = fw * fh * 3
        if off + plane > n:
            raise ValueError("truncated pixel plane")
        yield fw, fh, np.frombuffer(
            payload, dtype=np.uint8, count=plane, offset=off
        )
        off += plane


def decode_ppm_stack(payload: bytes) -> tuple[int, int, int, float]:
    """REAL decoder for a stack of binary-PPM (P6) frames: parses each
    frame's magic + header tokens (whitespace- and comment-tolerant,
    per the netpbm spec), slices its w·h·3 pixel plane with
    ``np.frombuffer`` (zero-copy), and accumulates exact pixel stats.
    Returns ``(width, height, n_frames, mean_pixel_byte)``; raises
    ``ValueError`` on a bad magic, truncated header/plane, unsupported
    maxval, or frames that disagree on geometry — a corrupted payload
    can never decode silently (pinned in tests)."""
    import numpy as np

    frames, w, h = 0, None, None
    tot, cnt = 0, 0
    for fw, fh, plane in _iter_ppm_frames(payload):
        if w is None:
            w, h = fw, fh
        elif (fw, fh) != (w, h):
            raise ValueError(f"frame geometry drift {(fw, fh)} != {(w, h)}")
        tot += int(plane.sum(dtype=np.int64))
        cnt += plane.size
        frames += 1
    if frames == 0:
        raise ValueError("empty payload")
    return w, h, frames, tot / cnt


def ppm_thumbnail(payload: bytes) -> tuple[int, int, float]:
    """REAL image resize: resize the stack's FIRST frame (the
    thumbnail-extraction shape of a media pipeline) nearest-neighbor
    to half resolution (floored, min 1) by index slicing —
    ``src_row = (r·h)//th``, ``src_col = (c·w)//tw`` — and return
    ``(thumb_width, thumb_height, thumb_mean)`` over the resized
    pixels.  The WHOLE stack is still parsed and geometry-checked
    (fail-loud contract: trailing garbage or a corrupt later frame
    raises exactly as :func:`decode_ppm_stack` would, even though
    only frame 0 contributes pixels)."""
    import numpy as np

    first = None
    w = h = None
    for fw, fh, plane in _iter_ppm_frames(payload):
        if first is None:
            w, h = fw, fh
            first = plane
        elif (fw, fh) != (w, h):
            raise ValueError(f"frame geometry drift {(fw, fh)} != {(w, h)}")
    if first is None:
        raise ValueError("empty payload")
    frame = first.reshape(h, w, 3)
    tw, th = max(w // 2, 1), max(h // 2, 1)
    rows = (np.arange(th) * h) // th
    cols = (np.arange(tw) * w) // tw
    thumb = frame[rows][:, cols]
    sumv = int(thumb.sum(dtype=np.int64))
    # float(sum) first — the oracle's `sum * 1.0 / n` two-step
    # rounding, bit-identical at any size (same as decode_wav_pcm)
    return tw, th, float(sumv) / thumb.size


def _encoded_corpus(
    spark: SparkSession, sf_dir: str, encode_fn: Callable[[bytes], bytes]
) -> DataFrame:
    """Shared Arrow-batched encode pass: documents rendered into real
    binary assets via ``encode_fn`` (the stand-in for reading actual
    media files, which the harness environment cannot carry)."""

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_fn(t.encode() if t is not None else b"")
                        for t in pdf["text"]
                    ],
                }
            )

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.select("doc_id", "text").mapInPandas(
        encode_batches, schema="doc_id long, payload binary"
    )


def _decoded_features(
    corpus: DataFrame,
    decode_fn: Callable[[bytes], tuple],
    columns: list[str],
    schema: T.StructType,
) -> DataFrame:
    """Shared decode/feature seam via Arrow-batched mapInPandas.

    Batches arrive as pandas DataFrames (Arrow transfer — no per-row
    pickling); each worker decodes its partition's payloads and emits a
    narrow feature frame.  At 100 TB the input should be repartitioned
    so (rows × payload size) per task fits executor memory — callers
    control that; this function is partitioning-agnostic.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                [decode_fn(p) for p in pdf["payload"]], columns=columns
            )
            out.insert(0, "doc_id", pdf["doc_id"].to_numpy())
            yield out

    return corpus.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=schema
    )


def _cached_corpus(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Session-cache an encoded-asset corpus (persisted DataFrame in
    the model cache, released by ``registry.clear_model_cache``).  The
    three image queries (decode / frame_sample / thumbnail) and the
    audio query each consume the same encode pass; without the cache
    every query re-paid the full corpus encode (the r8 bench showed
    multimodal_thumbnail spending most of its wall re-encoding what
    multimodal_decode had just built).  Same lifecycle argument as the
    LSH/IVF indexes: an asset table is materialized once and decoded
    many ways — and bench.py's model-cache detection prices the cold
    build into ``cold_sec`` per consumer, so nothing hides in rep 1."""
    return cached(spark, key, lambda: build().persist())


def ppm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents rendered as a REAL image-asset table: each row's
    payload is a decodable multi-frame P6 stack (session-cached — see
    :func:`_cached_corpus`)."""
    return _cached_corpus(
        spark,
        ("ppm_corpus", sf_dir),
        lambda: _encoded_corpus(spark, sf_dir, encode_ppm_stack),
    )


def decode_features(
    corpus: DataFrame,
    decode_fn: Callable[[bytes], tuple[int, int, int, float]] = decode_ppm_stack,
) -> DataFrame:
    """Image decode/feature seam (see :func:`_decoded_features` for
    the shared Arrow contract); ``decode_fn`` injectable."""
    return _decoded_features(
        corpus, decode_fn, ["width", "height", "n_frames", "mean_byte"],
        FEATURE_SCHEMA,
    )


# DuckDB twin of encode→decode: geometry from _asset_geometry's
# arithmetic; mean pixel byte from the cyclic source fill — full
# cycles × the text's byte-code sum plus the truncated head.  ASCII
# caveat shared with _FRAME_SAMPLE_SQL: substring/ascii are
# character-based vs the kernel's bytes (fixture is pure ASCII,
# asserted in tests).  The division stays exact-IEEE on both sides
# (int sum / int count in float64), so no rounding is needed.
_DECODE_SQL = """
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t,
         octet_length(encode(coalesce(text, ''))) AS L
  FROM documents
),
g AS (
  SELECT doc_id, t, L,
         (L % 32) + 1 AS width,
         (L % 24) + 1 AS height,
         (L % 5) + 1  AS n_frames,
         ((L % 32) + 1) * ((L % 24) + 1) * 3 * ((L % 5) + 1) AS np
  FROM d
),
s AS (
  SELECT doc_id, width, height, n_frames, np,
         CASE WHEN L = 0 THEN 0 ELSE
           (np // L) * list_sum(list_transform(
               range(1, L + 1), i -> ascii(substring(t, i, 1))))
           + coalesce(list_sum(list_transform(
               range(1, (np % L) + 1), i -> ascii(substring(t, i, 1)))), 0)
         END AS pix_sum
  FROM g
)
SELECT doc_id,
       CAST(width AS INTEGER)    AS width,
       CAST(height AS INTEGER)   AS height,
       CAST(n_frames AS INTEGER) AS n_frames,
       pix_sum * 1.0 / np        AS mean_byte
FROM s
"""


@register("multimodal_decode", oracle=_DECODE_SQL)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document into a real multi-frame P6 asset, then
    DECODE it for real — header parsing, pixel-plane slicing, exact
    stats — and hash-check the features against a DuckDB twin that
    predicts them from the generator's layout rule.  A decoder that
    skipped parsing (or a corrupted payload) cannot match: the oracle
    recomputes the pixel mean from the cyclic fill independently."""
    return decode_features(ppm_corpus(spark, sf_dir))


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_bytes", T.LongType(), False),
        T.StructField("frame_hash", T.StringType(), False),
    ]
)

FRAME_STRIDE = 2  # keep every 2nd frame


def sample_frames(corpus: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Frame-sampling seam for video-like payloads: each asset expands
    to every ``stride``-th frame as its own row (idx, size, content
    hash).  A real implementation would seek keyframes via a codec;
    this one treats the raw payload as ``(len % 7) + 1`` equal-size
    chunks — a layout rule the oracle mirrors exactly.

    The expansion happens INSIDE the Arrow batch (one input frame →
    one output frame of rows), so memory per task is one batch of
    payloads plus its sampled frames — the knob at 100 TB is
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` against payload
    size, same as decode.
    """
    import hashlib

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                n_frames = (n % 7) + 1
                step = max(n // n_frames, 1)
                for idx in range(0, n_frames, stride):
                    chunk = payload[idx * step : (idx + 1) * step]
                    rows.append(
                        (
                            doc_id,
                            idx,
                            len(chunk),
                            hashlib.sha256(chunk).hexdigest()[:16],
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_bytes", "frame_hash"]
            )

    return corpus.select("doc_id", "payload").mapInPandas(
        explode_frames, schema=FRAME_SCHEMA
    )


# DuckDB twin of sample_frames' stride arithmetic: same n_frames/step
# derivation, same stride-2 index set (unnest(range(...)) — DuckDB's
# generate_series can't take lateral column args), same sha256 prefix.
# VARCHAR substring is character-based vs the kernel's byte slicing;
# the documents fixture is pure ASCII (asserted in tests), where the
# two coincide.
_FRAME_SAMPLE_SQL = f"""
WITH f AS (
  SELECT doc_id, text,
         (octet_length(encode(text)) % 7) + 1 AS n_frames,
         greatest(octet_length(encode(text))
                  // ((octet_length(encode(text)) % 7) + 1), 1) AS step
  FROM documents
), e AS (
  SELECT doc_id, text, step,
         unnest(range(0, n_frames, {FRAME_STRIDE})) AS idx
  FROM f
)
SELECT doc_id,
       CAST(idx AS INTEGER) AS frame_idx,
       CAST(octet_length(encode(substring(
           text, CAST(idx*step + 1 AS BIGINT), CAST(step AS BIGINT)
       ))) AS BIGINT)        AS frame_bytes,
       substr(sha256(substring(
           text, CAST(idx*step + 1 AS BIGINT), CAST(step AS BIGINT)
       )), 1, 16)            AS frame_hash
FROM e
"""


@register("multimodal_frame_sample", oracle=_FRAME_SAMPLE_SQL)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every {stride}-th frame of every asset as a row — the sampling
    pass a video-training pipeline runs before feature extraction.
    Hash-checked: the fake decoder's stride arithmetic and sha256
    content hash are reproduced exactly in ANSI SQL."""
    return sample_frames(binary_corpus(spark, sf_dir))


THUMB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("thumb_width", T.IntegerType(), False),
        T.StructField("thumb_height", T.IntegerType(), False),
        T.StructField("thumb_mean", T.DoubleType(), False),
    ]
)


# DuckDB twin of encode→decode→resize: enumerate the thumbnail's
# (row, col, channel) grid, map each cell through the SAME
# nearest-neighbor index arithmetic the kernel uses
# (src_row = r·h // th, src_col = c·w // tw), and read the source
# byte from the generator's cyclic fill.  Same ASCII caveat and
# two-step float rounding as _DECODE_SQL / the WAV oracle.
_THUMBNAIL_SQL = """
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t,
         octet_length(encode(coalesce(text, ''))) AS L
  FROM documents
),
g AS (
  SELECT doc_id, t, L,
         (L % 32) + 1 AS w,
         (L % 24) + 1 AS h,
         greatest(((L % 32) + 1) // 2, 1) AS tw,
         greatest(((L % 24) + 1) // 2, 1) AS th
  FROM d
),
s AS (
  SELECT doc_id, tw, th,
         CASE WHEN L = 0 THEN 0 ELSE
           list_sum(list_transform(range(0, th * tw * 3), k ->
             ascii(substring(t,
               CAST((((((k // (tw * 3)) * h) // th) * w
                      + (((k % (tw * 3)) // 3) * w) // tw) * 3
                     + (k % 3)) % L AS BIGINT) + 1, 1))))
         END AS sumv
  FROM g
)
SELECT doc_id,
       CAST(tw AS INTEGER)          AS thumb_width,
       CAST(th AS INTEGER)          AS thumb_height,
       sumv * 1.0 / (tw * th * 3)   AS thumb_mean
FROM s
"""


@register("multimodal_thumbnail", oracle=_THUMBNAIL_SQL)
def multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brief's RESIZE stage as a real operator: decode each
    asset's first P6 frame and downsample it nearest-neighbor to half
    resolution inside the Arrow batch (:func:`ppm_thumbnail` — index
    slicing over the parsed pixel plane, the thumbnail-extraction
    pass of an image-training pipeline).  Hash-checked: the oracle
    re-derives every thumbnail pixel through the same index
    arithmetic from the generator's cyclic fill, so a resize that
    sampled wrong pixels (or skipped real decoding) cannot match."""
    return _decoded_features(
        ppm_corpus(spark, sf_dir), ppm_thumbnail,
        ["thumb_width", "thumb_height", "thumb_mean"], THUMB_SCHEMA,
    )


# --------------------------------------------------------------------
# Audio: RIFF/WAVE PCM — the second real uncompressed container.
# --------------------------------------------------------------------

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("rms", T.DoubleType(), False),
    ]
)


def _audio_geometry(n: int) -> tuple[int, int, int]:
    """Deterministic (channels, sample_rate, frame_count) for a source
    asset of ``n`` bytes — the audio generator's layout rule, mirrored
    verbatim by the decode oracle's SQL arithmetic."""
    return (n % 2) + 1, 8000 * ((n % 3) + 1), 2 * n + 1


def encode_wav_pcm(payload: bytes) -> bytes:
    """Render a source payload into a REAL RIFF/WAVE PCM file: a
    canonical 44-byte header (RIFF size, ``fmt `` chunk with PCM
    format tag / channels / rate / byte-rate / block-align / 16-bit
    width, ``data`` chunk) followed by little-endian int16 samples
    drawn by cycling ``(byte - 128) << 8`` through the full
    frames × channels plane.  Any standards-compliant WAV reader
    plays it."""
    import struct

    import numpy as np

    c, rate, frames = _audio_geometry(len(payload))
    total = frames * c
    src = np.frombuffer(payload, dtype=np.uint8)
    if len(src):
        samples = np.resize((src.astype(np.int16) - 128) * 256, total)
    else:
        samples = np.zeros(total, dtype=np.int16)
    data = samples.astype("<i2").tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, c, rate, rate * c * 2, c * 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def decode_wav_pcm(payload: bytes) -> tuple[int, int, int, float]:
    """REAL decoder for RIFF/WAVE PCM: validates the RIFF/WAVE magic,
    WALKS the chunk list (tolerating extra chunks like LIST/INFO and
    the RIFF odd-size pad byte), checks the ``fmt `` chunk promises
    uncompressed 16-bit PCM, then computes exact stats over the int16
    sample plane.  Returns ``(channels, sample_rate, n_frames,
    rms)``; raises ``ValueError`` on bad magic, truncated chunks,
    compressed/non-16-bit formats, a data size that misaligns with
    the block size, or a missing fmt/data chunk — corrupted payloads
    never decode silently (pinned in tests)."""
    import struct

    import numpy as np

    n = len(payload)
    if n < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = riff_size + 8  # the RIFF chunk's declared extent
    if end > n:
        raise ValueError("RIFF size exceeds payload")
    if end < n:
        # fail-loud contract: appended bytes beyond the declared RIFF
        # extent are corruption here, never silently skipped
        raise ValueError("trailing bytes beyond the RIFF chunk")
    off = 12
    fmt = None
    data = None
    # walk to the DECLARED boundary, not len(payload): chunk sizes and
    # the RIFF size must agree exactly
    while off + 8 <= end:
        cid = payload[off : off + 4]
        (csize,) = struct.unpack_from("<I", payload, off + 4)
        body = off + 8
        if body + csize > end:
            raise ValueError(f"truncated chunk {cid!r}")
        if cid == b"fmt ":
            if fmt is not None:
                # fail-loud contract: a second fmt/data chunk is a
                # malformed (or crafted) file, not a later override
                raise ValueError("duplicate fmt chunk")
            if csize < 16:
                raise ValueError("fmt chunk too short")
            fmt = struct.unpack_from("<HHIIHH", payload, body)
        elif cid == b"data":
            if data is not None:
                raise ValueError("duplicate data chunk")
            data = (body, csize)
        off = body + csize + (csize & 1)  # RIFF pads chunks to even
    if off not in (end, end + 1):
        # end+1 tolerated: a final odd-sized chunk whose pad byte the
        # writer omitted (spec-sloppy but common in real files)
        raise ValueError("stray bytes inside the RIFF chunk")
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, rate, byte_rate, block_align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported format (tag={audio_format}, bits={bits})")
    if block_align != channels * 2 or byte_rate != rate * block_align:
        raise ValueError("inconsistent fmt chunk")
    body, csize = data
    if csize % block_align:
        raise ValueError("data size misaligned with block size")
    samples = np.frombuffer(payload, dtype="<i2", count=csize // 2, offset=body)
    total = len(samples)
    if total == 0:
        raise ValueError("empty data chunk")
    sumsq = int(np.sum(samples.astype(np.int64) ** 2))
    import math

    # float(sumsq) FIRST: DuckDB's `sumsq * 1.0 / total` rounds the
    # integer to double before dividing, so the kernel performs the
    # same two-step rounding — bit-identical RMS at ANY payload size,
    # not just while sumsq stays under 2^53.
    return channels, rate, total // channels, math.sqrt(float(sumsq) / total)


def wav_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents rendered as a REAL audio-asset table: each row's
    payload is a playable PCM WAV (session-cached — see
    :func:`_cached_corpus`)."""
    return _cached_corpus(
        spark,
        ("wav_corpus", sf_dir),
        lambda: _encoded_corpus(spark, sf_dir, encode_wav_pcm),
    )


def decode_audio_features(
    corpus: DataFrame,
    decode_fn: Callable[[bytes], tuple[int, int, int, float]] = decode_wav_pcm,
) -> DataFrame:
    """Audio decode/feature seam (shared Arrow contract,
    :func:`_decoded_features`); a soundfile/ffmpeg-backed
    ``decode_fn`` drops in unchanged."""
    return _decoded_features(
        corpus, decode_fn, ["channels", "sample_rate", "n_frames", "rms"],
        AUDIO_SCHEMA,
    )


# DuckDB twin of audio encode→decode: geometry from _audio_geometry's
# arithmetic; RMS from the cyclic int16 fill — full cycles × the
# text's squared-sample sum plus the truncated head, then ONE
# division + sqrt in float64 on both sides (exact IEEE).  Same ASCII
# caveat as _DECODE_SQL.
_AUDIO_DECODE_SQL = """
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t,
         octet_length(encode(coalesce(text, ''))) AS L
  FROM documents
),
g AS (
  SELECT doc_id, t, L,
         (L % 2) + 1            AS channels,
         8000 * ((L % 3) + 1)   AS sample_rate,
         2 * L + 1              AS frames,
         ((L % 2) + 1) * (2 * L + 1) AS total
  FROM d
),
s AS (
  SELECT doc_id, channels, sample_rate, frames, total,
         CASE WHEN L = 0 THEN 0 ELSE
           (total // L) * list_sum(list_transform(
               range(1, L + 1),
               i -> CAST((ascii(substring(t, i, 1)) - 128) * 256 AS BIGINT)
                    * CAST((ascii(substring(t, i, 1)) - 128) * 256 AS BIGINT)))
           + coalesce(list_sum(list_transform(
               range(1, (total % L) + 1),
               i -> CAST((ascii(substring(t, i, 1)) - 128) * 256 AS BIGINT)
                    * CAST((ascii(substring(t, i, 1)) - 128) * 256 AS BIGINT))), 0)
         END AS sumsq
  FROM g
)
SELECT doc_id,
       CAST(channels AS INTEGER)    AS channels,
       CAST(sample_rate AS INTEGER) AS sample_rate,
       CAST(frames AS BIGINT)       AS n_frames,
       sqrt(sumsq * 1.0 / total)    AS rms
FROM s
"""


@register("multimodal_audio_decode", oracle=_AUDIO_DECODE_SQL)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document into a real PCM WAV, then DECODE it for
    real — RIFF chunk walk, fmt validation, int16 sample stats — and
    hash-check (channels, sample_rate, n_frames, rms) against a
    DuckDB twin that predicts them from the generator's layout rule.
    With :func:`multimodal_decode` (images) and
    :func:`multimodal_frame_sample` (video-style sampling) this
    completes the image/audio/video triad of SURVEY.md §2B's
    multimodal family, each over a genuine public container format."""
    return decode_audio_features(wav_corpus(spark, sf_dir))
