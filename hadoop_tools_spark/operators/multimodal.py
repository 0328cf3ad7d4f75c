"""Multimodal columns (SURVEY.md §2.E): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
Pandas UDFs.

Design: payloads ride through the engine as ``BinaryType`` and are
NEVER deserialized by relational operators — joins/filters/groupBys
touch only the metadata columns, so a 100 TB blob corpus shuffles
metadata, not pixels. Decode/feature-extraction runs in
``mapInPandas`` (one Arrow batch of blobs per invocation) right
before the consumer that needs pixels.

Decode is REAL across the format ladder — pure-Python/numpy parsers
for P6 PPM, 24 bpp uncompressed BMP, and PCM16 WAV; PNG (stdlib zlib
inflate + full filter reconstruction, 8-bit grey/RGB/RGBA); and
baseline JPEG (operators/jpeg.py: Huffman entropy decode, dequantize,
IDCT, YCbCr→RGB — encoder included for fixtures); and GIF
(operators/gif.py: variable-width LZW with table resets, palettes,
interlacing — encoder included). Fixtures live in
assets/media/, generated by tools/gen_media_fixtures.py. The DuckDB
oracles re-derive dimensions and pixel statistics from raw bytes via
hex-string arithmetic (PNG is verified cross-format against its
pixel-identical PPM twin; JPEG dims against the SOF0/SOF1/SOF2
header, pixel fidelity in pytest — lossy output can't be re-derived
in SQL), so the feats/resize/frames/png/jpeg/gif/webp keys are
hash-matched end-to-end. Codecs beyond these (AVIF/lossy VP8/MP3/
H.264) need external libraries this container lacks;
:func:`decode_image` raises ``NotImplementedError`` for those, and a
real deployment drops PIL/ffmpeg into the same seam.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..io import materialize
from ..registry import query
from .fs import ORACLE_SF_DIR

#: committed codec-free media fixtures (see tools/gen_media_fixtures.py)
MEDIA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "assets",
    "media",
)

#: metadata+payload schema for a multimodal asset table.
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def read_assets(spark, directory: str, glob: str = "*") -> DataFrame:
    """Binary-file source → asset DataFrame (payload stays opaque)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(directory)
    )
    return df.select(
        F.regexp_replace("path", "^file:", "").alias("path"),
        F.regexp_extract("path", r"\.([a-zA-Z0-9]+)$", 1).alias("media_type"),
        F.col("length"),
        F.col("content"),
    )


# ---------------------------------------------------------------------------
# real decoders (codec-free formats)
# ---------------------------------------------------------------------------


def decode_ppm(blob: bytes) -> tuple[int, int, np.ndarray]:
    """P6 PPM → (width, height, RGB pixel array of shape (h, w, 3))."""
    if blob[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> pixels
    fields: list[bytes] = []
    pos = 2
    while len(fields) < 3:
        if pos >= len(blob):
            # a blob truncated mid-header must raise, not spin: past
            # EOF the b"" slice is never .isspace() NOR a field end,
            # so the unguarded scans below would loop forever (a hung
            # executor task — worse than any exception class)
            raise ValueError("truncated PPM header")
        while blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            pos = blob.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        if pos == start or pos >= len(blob):
            raise ValueError("truncated PPM header")
        fields.append(blob[start:pos])
    pos += 1  # exactly one whitespace byte after maxval
    w, h, maxval = (int(f) for f in fields)
    if maxval != 255:
        raise NotImplementedError("only 8-bit PPM supported")
    px = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3, offset=pos)
    return w, h, px.reshape(h, w, 3)


def decode_bmp(blob: bytes) -> tuple[int, int, np.ndarray]:
    """24 bpp uncompressed BMP → (width, height, RGB array (h, w, 3))."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", blob, 10)[0]
    w, h = struct.unpack_from("<ii", blob, 18)
    planes, bpp = struct.unpack_from("<HH", blob, 26)
    compression = struct.unpack_from("<I", blob, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24bpp uncompressed BMP supported")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        blob, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return w, h, rows[:, :, ::-1]  # BGR on disk → RGB


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Real PNG decode: stdlib zlib inflate + scanline unfiltering.

    Supports the common web profile — 8-bit depth, color types 0
    (grey), 2 (RGB), 6 (RGBA), non-interlaced. Grey replicates to 3
    channels; RGBA drops alpha; returns (w, h, (h,w,3) RGB array)
    like the other image decoders. The per-row unfilter (PNG spec
    filters 0–4 incl. Paeth) runs in Python over fixture-sized
    images; a production path swaps a C codec into the same
    :func:`decode_image` seam.
    """
    import zlib

    if blob[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, idat = 8, b""
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(blob):
        ln = int.from_bytes(blob[pos : pos + 4], "big")
        typ = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, ctype = data[8], data[9]
            interlace = data[12]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if depth != 8 or ctype not in (0, 2, 6) or interlace:
        raise NotImplementedError(
            "PNG profile beyond 8-bit grey/RGB/RGBA non-interlaced"
        )
    nch = {0: 1, 2: 3, 6: 4}[ctype]
    stride = w * nch
    raw = zlib.decompress(idat)
    # validate BEFORE allocating from unvalidated IHDR dims: a
    # bit-flipped height field would request a multi-GiB np.empty and
    # the resulting MemoryError escapes the tolerant seam (dead task,
    # not a flagged row)
    if len(raw) != h * (1 + stride):
        raise ValueError(
            "PNG data length %d != dims %dx%d" % (len(raw), w, h)
        )
    out = np.empty((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    p = 0
    for y in range(h):
        ftype = raw[p]
        row = np.frombuffer(raw, np.uint8, stride, p + 1).astype(np.int32)
        p += 1 + stride
        if ftype == 1:  # Sub
            for i in range(nch, stride):
                row[i] = (row[i] + row[i - nch]) & 0xFF
        elif ftype == 2:  # Up
            row = (row + prev) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - nch] if i >= nch else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = row[i - nch] if i >= nch else 0
                b = prev[i]
                c = prev[i - nch] if i >= nch else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = row
        prev = row
    px = out.astype(np.uint8).reshape(h, w, nch)
    if nch == 1:
        px = np.repeat(px, 3, axis=2)
    elif nch == 4:
        px = px[:, :, :3]
    return w, h, px


def decode_image(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Dispatch on magic bytes. PPM/BMP/PNG, baseline+progressive JPEG,
    GIF, and lossless WebP (VP8L) decode for real (pure Python +
    numpy); remaining compressed formats (AVIF/lossy VP8/...) need
    PIL/ffmpeg (absent here) and raise.

    Corrupt streams raise ONLY ``NotImplementedError``, ``ValueError``
    or ``IndexError`` — the contract :func:`extract_features_tolerant`
    catches on. Mechanical errors the codecs hit on truncated/
    bit-flipped bytes (``struct.error``, ``zlib.error``, ``KeyError``
    from a missing Huffman table, ``StopIteration`` from a dangling
    component ref, ``OverflowError`` from garbage field widths) are
    normalized to ``ValueError`` here, at the one seam every image
    path goes through: a fuzz harness (test_llm.py) showed ~10 % of
    random single-bit corruptions otherwise escape the tolerant
    catch list — and at corpus scale an uncaught class is a dead
    executor task, not a flagged row."""
    try:
        return _decode_image_dispatch(blob)
    except (NotImplementedError, ValueError, IndexError):
        raise
    except (
        struct.error,
        zlib.error,
        KeyError,
        StopIteration,
        OverflowError,
        EOFError,
    ) as e:
        raise ValueError(
            "corrupt image stream (%s)" % type(e).__name__
        ) from e


def _decode_image_dispatch(blob: bytes) -> tuple[int, int, np.ndarray]:
    if blob[:2] == b"P6":
        return decode_ppm(blob)
    if blob[:2] == b"BM":
        return decode_bmp(blob)
    if blob[:8] == _PNG_MAGIC:
        return decode_png(blob)
    if blob[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(blob)
    if blob[:4] == b"GIF8":
        from .gif import decode_gif

        return decode_gif(blob)
    if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
        from .webp import decode_webp

        return decode_webp(blob)
    if blob[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        return decode_tiff(blob)
    raise NotImplementedError(
        "compressed codec required (AVIF/lossy VP8/...); plug PIL into this seam"
    )


def decode_wav(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Canonical PCM16 WAV → (sample_rate, n_channels, int16 samples)."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    audio_fmt, n_ch, rate = struct.unpack_from("<HHI", blob, 20)
    bits = struct.unpack_from("<H", blob, 34)[0]
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError("only PCM16 WAV supported")
    # canonical layout: 'data' chunk directly after the 16-byte fmt
    # chunk. ValueError, never assert: AssertionError escapes the
    # tolerant seam's normalization (dead task instead of a flagged
    # row) and `python -O` strips the check entirely, silently reading
    # data_len out of the wrong chunk (e.g. a recorder's LIST/INFO)
    if blob[36:40] != b"data":
        raise ValueError("non-canonical WAV chunk layout")
    data_len = struct.unpack_from("<I", blob, 40)[0]
    samples = np.frombuffer(blob, dtype="<i2", count=data_len // 2, offset=44)
    return rate, n_ch, samples


# ---------------------------------------------------------------------------
# feature extraction / resize / frame sampling (real, Arrow-batched)
# ---------------------------------------------------------------------------

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_pixel", T.DoubleType()),
    ]
)


def extract_features(assets: DataFrame) -> DataFrame:
    """Decode + featurize via mapInPandas (Arrow-batched).

    Real decode: width/height from the parsed header, mean_pixel over
    every RGB byte. Output drops the payload — features are small, so
    everything downstream is cheap again.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("path", "media_type", "width", "height", "mean_pixel")}
            for path, mt, blob in zip(pdf["path"], pdf["media_type"], pdf["content"]):
                w, h, px = decode_image(bytes(blob))
                out["path"].append(path)
                out["media_type"].append(mt)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_pixel"].append(float(px.astype(np.float64).mean()))
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


TOLERANT_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("decode_err", T.StringType()),
    ]
)


def extract_features_tolerant(assets: DataFrame) -> DataFrame:
    """:func:`extract_features` that survives undecodable blobs.

    A 100 TB corpus always contains files the codec ladder can't
    handle (progressive JPEG, truncated payloads, mislabeled bytes);
    one such blob must NOT kill the scan. Failed decodes emit a row
    with ``decode_ok=false`` and the exception class name in
    ``decode_err`` (class name, not message — deterministic, so the
    key stays hash-matchable), null feature columns. Downstream
    filters on ``decode_ok``; the flagged rows are the skip-list.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "path", "media_type", "width", "height",
            "mean_pixel", "decode_ok", "decode_err",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, mt, blob in zip(pdf["path"], pdf["media_type"], pdf["content"]):
                try:
                    w, h, px = decode_image(bytes(blob))
                    vals = (w, h, float(px.astype(np.float64).mean()), True, None)
                except (NotImplementedError, ValueError, IndexError) as e:
                    vals = (None, None, None, False, type(e).__name__)
                out["path"].append(path)
                out["media_type"].append(mt)
                for k, v in zip(cols[2:], vals):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, schema=TOLERANT_FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_thumb", T.DoubleType()),
        T.StructField("thumb", T.BinaryType()),
    ]
)


def resize_image_array(px: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Nearest-neighbor resample: target (ty,tx) ← source
    (ty*h//th, tx*w//tw) — integer grid, reproducible anywhere."""
    h, w = px.shape[:2]
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return px[ys][:, xs]


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Resize via mapInPandas: 1 row in → 1 row out, payload replaced
    by the (much smaller) thumbnail, emitted as canonical P6 PPM. The
    full-size blob dies inside the Python worker — only thumbnails
    return to the JVM, so the post-resize shuffle carries the reduced
    payload.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "path", "src_w", "src_h", "width", "height", "mean_thumb", "thumb"
            )}
            for path, blob in zip(pdf["path"], pdf["content"]):
                w, h, px = decode_image(bytes(blob))
                thumb = resize_image_array(px, width, height)
                hdr = f"P6\n{width} {height}\n255\n".encode()
                out["path"].append(path)
                out["src_w"].append(w)
                out["src_h"].append(h)
                out["width"].append(width)
                out["height"].append(height)
                out["mean_thumb"].append(float(thumb.astype(np.float64).mean()))
                out["thumb"].append(hdr + thumb.tobytes())
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("frame_id", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("mean_amp", T.DoubleType()),
    ]
)


def sample_frames(
    assets: DataFrame, frame_len: int = 160, every_n: int = 2
) -> DataFrame:
    """Audio frame sampling via mapInPandas: 1 WAV row in → one row
    per kept frame (the pandas-UDF row-explosion shape video decode
    would use). Frames are consecutive ``frame_len``-sample windows
    (trailing partial frame dropped); every ``every_n``-th is kept
    and summarized to its mean amplitude — raw frames never shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("path", "frame_id", "n_samples", "mean_amp")}
            for path, blob in zip(pdf["path"], pdf["content"]):
                _rate, _ch, samples = decode_wav(bytes(blob))
                n_frames = len(samples) // frame_len
                for fid in range(0, n_frames, every_n):
                    frame = samples[fid * frame_len : (fid + 1) * frame_len]
                    out["path"].append(path)
                    out["frame_id"].append(fid)
                    out["n_samples"].append(frame_len)
                    out["mean_amp"].append(float(frame.astype(np.float64).mean()))
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# graded keys
# ---------------------------------------------------------------------------

#: hex-pair → byte value, 1-based byte position ``p`` in blob hex ``hx``
_BYTE = "('0x' || substr({hx}, ({p}) * 2 - 1, 2))::INT"


@query(
    "llm_multimodal_meta",
    oracle="""
    SELECT filename AS path,
           CAST(size AS BIGINT) AS length,
           md5(hex(content)) AS content_md5
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    """,
)
def llm_multimodal_meta(spark, sf_dir):
    """Binary passthrough proof: blobs traverse the engine unmodified
    (md5 of every payload hash-matches DuckDB reading the same files).
    DuckDB 1.0 lacks md5(BLOB), so both engines hash the hex text of
    the payload (hex output verified identical cross-engine). Both
    sides read :data:`~.fs.ORACLE_SF_DIR`, whatever ``sf_dir`` is.
    """
    assets = read_assets(spark, ORACLE_SF_DIR, glob="*.parquet")
    return assets.select(
        "path",
        "length",
        F.md5(F.hex("content").cast("binary")).alias("content_md5"),
    )


@query(
    "llm_multimodal_feats",
    oracle=f"""
    WITH ppm AS (
        SELECT filename, hex(content) AS hx FROM read_blob('{MEDIA_DIR}/*.ppm')
    ),
    ppm_hdr AS (
        SELECT filename, hx,
            regexp_replace(regexp_extract(hx, '^50360A((?:3[0-9])+)20', 1),
                           '3(.)', '\\1', 'g')::INT AS w,
            regexp_replace(
                regexp_extract(hx, '^50360A(?:3[0-9])+20((?:3[0-9])+)0A', 1),
                '3(.)', '\\1', 'g')::INT AS h
        FROM ppm
    ),
    ppm_px AS (
        SELECT filename, w, h,
               3 + length(w::VARCHAR) + 1 + length(h::VARCHAR) + 5 AS hdr_len,
               unnest(generate_series(0, w * h * 3 - 1)) AS i
        FROM ppm_hdr
    ),
    ppm_feat AS (
        SELECT p.filename, p.w, p.h,
               AVG({_BYTE.format(hx='f.hx', p='p.hdr_len + p.i + 1')}) AS mean_pixel
        FROM ppm_px p JOIN ppm f USING (filename)
        GROUP BY p.filename, p.w, p.h
    ),
    bmp AS (
        SELECT filename, hex(content) AS hx FROM read_blob('{MEDIA_DIR}/*.bmp')
    ),
    bmp_hdr AS (
        SELECT filename, hx,
            {_BYTE.format(hx='hx', p='19')} + 256 * {_BYTE.format(hx='hx', p='20')}
              + 65536 * {_BYTE.format(hx='hx', p='21')} AS w,
            {_BYTE.format(hx='hx', p='23')} + 256 * {_BYTE.format(hx='hx', p='24')}
              + 65536 * {_BYTE.format(hx='hx', p='25')} AS h,
            {_BYTE.format(hx='hx', p='11')} + 256 * {_BYTE.format(hx='hx', p='12')} AS data_off
        FROM bmp
    ),
    bmp_px AS (
        SELECT filename, w, h, data_off,
               (w * 3 + 3) // 4 * 4 AS stride,
               unnest(generate_series(0, ((w * 3 + 3) // 4 * 4) * h - 1)) AS i
        FROM bmp_hdr
    ),
    bmp_feat AS (
        SELECT p.filename, p.w, p.h,
               AVG({_BYTE.format(hx='f.hx', p='p.data_off + p.i + 1')}) AS mean_pixel
        FROM bmp_px p JOIN bmp f USING (filename)
        WHERE p.i % p.stride < p.w * 3
        GROUP BY p.filename, p.w, p.h
    )
    SELECT filename AS path, 'ppm' AS media_type, w AS width, h AS height,
           ROUND(mean_pixel, 6) AS mean_pixel
    FROM ppm_feat
    UNION ALL
    SELECT filename AS path, 'bmp' AS media_type, w AS width, h AS height,
           ROUND(mean_pixel, 6) AS mean_pixel
    FROM bmp_feat
    """,
)
def llm_multimodal_feats(spark, sf_dir):
    """REAL image decode → features: width/height from the parsed
    header, mean over every RGB pixel byte. The oracle re-derives all
    three from the same raw bytes in SQL (hex-string arithmetic), so
    the decoder itself is hash-verified. Fixtures are codec-free
    formats (P6 PPM + 24bpp BMP); a compressed corpus plugs PIL into
    :func:`decode_image`.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="img_*")
    return extract_features(assets).select(
        "path",
        "media_type",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


@query(
    "llm_multimodal_resize",
    oracle=f"""
    WITH ppm AS (
        SELECT filename, hex(content) AS hx FROM read_blob('{MEDIA_DIR}/*.ppm')
    ),
    hdr AS (
        SELECT filename, hx,
            regexp_replace(regexp_extract(hx, '^50360A((?:3[0-9])+)20', 1),
                           '3(.)', '\\1', 'g')::INT AS w,
            regexp_replace(
                regexp_extract(hx, '^50360A(?:3[0-9])+20((?:3[0-9])+)0A', 1),
                '3(.)', '\\1', 'g')::INT AS h
        FROM ppm
    ),
    grid AS (
        SELECT filename, w, h,
               3 + length(w::VARCHAR) + 1 + length(h::VARCHAR) + 5 AS hdr_len,
               unnest(generate_series(0, 16 * 16 * 3 - 1)) AS t
        FROM hdr
    ),
    sampled AS (
        SELECT g.filename, g.w, g.h,
               {_BYTE.format(
                   hx='f.hx',
                   p="g.hdr_len + (((g.t // 48) * g.h // 16) * g.w"
                     " + ((g.t // 3) % 16) * g.w // 16) * 3 + (g.t % 3) + 1",
               )} AS v
        FROM grid g JOIN ppm f USING (filename)
    )
    SELECT filename AS path, w AS src_w, h AS src_h,
           16 AS width, 16 AS height,
           ROUND(AVG(v), 6) AS mean_thumb
    FROM sampled GROUP BY filename, w, h
    """,
)
def llm_multimodal_resize(spark, sf_dir):
    """REAL nearest-neighbor resize to 16×16: the oracle recomputes
    the exact sampled-pixel set from the raw bytes (ty·h÷16, tx·w÷16
    integer grid), so mean_thumb hash-matching pins the resampling
    arithmetic, not just the dimensions. The thumbnail bytes
    themselves are golden-tested in pytest (SQL can't re-encode PPM).
    """
    assets = read_assets(spark, MEDIA_DIR, glob="*.ppm")
    return resize_images(assets, 16, 16).select(
        "path", "src_w", "src_h", "width", "height",
        F.round("mean_thumb", 6).alias("mean_thumb"),
    )


@query(
    "llm_multimodal_frames",
    oracle=f"""
    WITH wav AS (
        SELECT filename, hex(content) AS hx FROM read_blob('{MEDIA_DIR}/*.wav')
    ),
    hdr AS (
        SELECT filename, hx,
               ({_BYTE.format(hx='hx', p='41')}
                + 256 * {_BYTE.format(hx='hx', p='42')}
                + 65536 * {_BYTE.format(hx='hx', p='43')}
                + 16777216 * {_BYTE.format(hx='hx', p='44')}) // 2
                   AS n_samples
        FROM wav
    ),
    idx AS (
        SELECT filename, n_samples,
               unnest(generate_series(0, (n_samples // 160) * 160 - 1)) AS i
        FROM hdr
    ),
    samp AS (
        SELECT x.filename, x.i // 160 AS frame_id,
               CASE WHEN {_BYTE.format(hx='f.hx', p='46 + 2 * x.i')} >= 128
                    THEN {_BYTE.format(hx='f.hx', p='45 + 2 * x.i')}
                         + 256 * {_BYTE.format(hx='f.hx', p='46 + 2 * x.i')} - 65536
                    ELSE {_BYTE.format(hx='f.hx', p='45 + 2 * x.i')}
                         + 256 * {_BYTE.format(hx='f.hx', p='46 + 2 * x.i')}
               END AS v
        FROM idx x JOIN wav f USING (filename)
    )
    SELECT filename AS path, CAST(frame_id AS INT) AS frame_id,
           160 AS n_samples, ROUND(AVG(v), 6) AS mean_amp
    FROM samp WHERE frame_id % 2 = 0
    GROUP BY filename, frame_id
    """,
)
def llm_multimodal_frames(spark, sf_dir):
    """REAL PCM16 WAV frame sampling: 160-sample frames, every 2nd
    kept, mean amplitude per frame. The oracle re-parses the RIFF
    data chunk and re-derives each frame's signed-sample mean from
    the same bytes — decode and framing both hash-verified.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="*.wav")
    return sample_frames(assets, frame_len=160, every_n=2)


@query(
    "llm_multimodal_png",
    oracle=f"""
    WITH ppm AS (
        SELECT filename, hex(content) AS hx FROM read_blob('{MEDIA_DIR}/*.ppm')
    ),
    ppm_hdr AS (
        SELECT filename, hx,
            regexp_replace(regexp_extract(hx, '^50360A((?:3[0-9])+)20', 1),
                           '3(.)', '\\1', 'g')::INT AS w,
            regexp_replace(
                regexp_extract(hx, '^50360A(?:3[0-9])+20((?:3[0-9])+)0A', 1),
                '3(.)', '\\1', 'g')::INT AS h
        FROM ppm
    ),
    ppm_px AS (
        SELECT filename, w, h,
               3 + length(w::VARCHAR) + 1 + length(h::VARCHAR) + 5 AS hdr_len,
               unnest(generate_series(0, w * h * 3 - 1)) AS i
        FROM ppm_hdr
    )
    SELECT replace(replace(p.filename, 'img_', 'png_'), '.ppm', '.png') AS path,
           'png' AS media_type, p.w AS width, p.h AS height,
           ROUND(AVG({_BYTE.format(hx='f.hx', p='p.hdr_len + p.i + 1')}), 6)
               AS mean_pixel
    FROM ppm_px p JOIN ppm f USING (filename)
    GROUP BY p.filename, p.w, p.h
    """,
)
def llm_multimodal_png(spark, sf_dir):
    """REAL PNG decode (zlib inflate + filter reconstruction incl.
    Paeth), hash-verified CROSS-FORMAT: each ``png_{i}.png`` fixture
    carries pixel-identical content to ``img_{i}.ppm`` (same
    closed-form pixel function, tools/gen_media_fixtures.py), so the
    oracle derives the expected width/height/mean from the *PPM*
    bytes in SQL while Spark decodes the *PNG* — any defiltering or
    inflate bug breaks the hash. Filter types cycle 0-4 across rows,
    so every unfilter path is exercised.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="png_*")
    return extract_features(assets).select(
        "path",
        "media_type",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


@query(
    "llm_multimodal_gif",
    oracle=f"""
    WITH ppm AS (
        SELECT filename, hex(content) AS hx FROM read_blob('{MEDIA_DIR}/*.ppm')
    ),
    ppm_hdr AS (
        SELECT filename, hx,
            regexp_replace(regexp_extract(hx, '^50360A((?:3[0-9])+)20', 1),
                           '3(.)', '\\1', 'g')::INT AS w,
            regexp_replace(
                regexp_extract(hx, '^50360A(?:3[0-9])+20((?:3[0-9])+)0A', 1),
                '3(.)', '\\1', 'g')::INT AS h
        FROM ppm
    ),
    ppm_px AS (
        SELECT filename, w, h,
               3 + length(w::VARCHAR) + 1 + length(h::VARCHAR) + 5 AS hdr_len,
               unnest(generate_series(0, w * h * 3 - 1)) AS i
        FROM ppm_hdr
    )
    SELECT replace(replace(p.filename, 'img_', 'gif_'), '.ppm', '.gif') AS path,
           'gif' AS media_type, p.w AS width, p.h AS height,
           ROUND(AVG({_BYTE.format(hx='f.hx', p='p.hdr_len + p.i + 1')}), 6)
               AS mean_pixel
    FROM ppm_px p JOIN ppm f USING (filename)
    GROUP BY p.filename, p.w, p.h
    """,
)
def llm_multimodal_gif(spark, sf_dir):
    """REAL GIF decode (operators/gif.py: variable-width LZW with
    4096-cap table resets, global color table, 4-pass interlace),
    hash-verified CROSS-FORMAT: each ``gif_{i}.gif`` fixture is
    pixel-identical to ``img_{i}.ppm`` (the PPM pixel function has
    <= 256 distinct colors, so a palette represents it exactly —
    tools/gen_media_fixtures.py), and the oracle derives
    width/height/mean from the *PPM* bytes while Spark LZW-decodes
    the *GIF*; odd-seed fixtures are interlaced, so the row-reorder
    path is inside the hash too. Encoder+decoder round-trip
    bit-for-bit in pytest, including the dictionary-reset path.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="gif_*")
    return extract_features(assets).select(
        "path",
        "media_type",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


@query(
    "llm_multimodal_webp",
    oracle=f"""
    WITH ppm AS (
        SELECT filename, hex(content) AS hx FROM read_blob('{MEDIA_DIR}/*.ppm')
    ),
    ppm_hdr AS (
        SELECT filename, hx,
            regexp_replace(regexp_extract(hx, '^50360A((?:3[0-9])+)20', 1),
                           '3(.)', '\\1', 'g')::INT AS w,
            regexp_replace(
                regexp_extract(hx, '^50360A(?:3[0-9])+20((?:3[0-9])+)0A', 1),
                '3(.)', '\\1', 'g')::INT AS h
        FROM ppm
    ),
    ppm_px AS (
        SELECT filename, w, h,
               3 + length(w::VARCHAR) + 1 + length(h::VARCHAR) + 5 AS hdr_len,
               unnest(generate_series(0, w * h * 3 - 1)) AS i
        FROM ppm_hdr
    )
    SELECT replace(replace(p.filename, 'img_', 'webp_'), '.ppm', '.webp')
               AS path,
           'webp' AS media_type, p.w AS width, p.h AS height,
           ROUND(AVG({_BYTE.format(hx='f.hx', p='p.hdr_len + p.i + 1')}), 6)
               AS mean_pixel
    FROM ppm_px p JOIN ppm f USING (filename)
    GROUP BY p.filename, p.w, p.h
    """,
)
def llm_multimodal_webp(spark, sf_dir):
    """REAL lossless-WebP decode (operators/webp.py: full VP8L
    bitstream — canonical prefix codes, color cache, meta-prefix
    groups, LZ77 with the 2D distance map, and all four inverse
    transforms), hash-verified CROSS-FORMAT: each ``webp_{i}.webp``
    fixture is pixel-identical to ``img_{i}.ppm``, and the oracle
    derives width/height/mean from the *PPM* bytes while Spark decodes
    the *VP8L* bitstream. The committed fixtures rotate encoder
    features (plain / subtract-green+predictor(14 modes) / palette /
    color cache / meta groups / color transform / LZ77 copies with
    both 2D-mapped and plain distance codes — the gradient's
    predictor residuals are block-constant, so real runs exist), so
    every decoder path sits inside the hash; encoder→decoder
    round-trips are additionally pytest-verified bit-for-bit
    (test_llm.py + hypothesis random images).
    """
    assets = read_assets(spark, MEDIA_DIR, glob="webp_*")
    return extract_features(assets).select(
        "path",
        "media_type",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


@query(
    "llm_multimodal_jpeg",
    oracle=f"""
    WITH j AS (
        SELECT filename, hex(content) AS hx
        FROM read_blob('{MEDIA_DIR}/jpg_*.jpg')
    ),
    s AS (
        /* first BYTE-ALIGNED FFC0: anchor an even number of hex chars
           before the marker so a nibble-straddling ...4FFC05... byte
           sequence can't false-match (ADVICE r3) */
        SELECT filename,
               length(regexp_extract(hx,
                   '^((?:[0-9A-F]{{2}})*?)FFC0', 1)) + 1 AS p,
               hx
        FROM j
    )
    SELECT filename AS path, 'jpg' AS media_type,
           ('0x' || substr(hx, p + 14, 4))::INT AS width,
           ('0x' || substr(hx, p + 10, 4))::INT AS height
    FROM s
    """,
)
def llm_multimodal_jpeg(spark, sf_dir):
    """REAL baseline JPEG decode (operators/jpeg.py: Huffman entropy
    decode, dequantize, IDCT, YCbCr→RGB — pure Python + numpy). The
    key runs the full decoder per blob in mapInPandas and emits the
    decoded dimensions, hash-matched against the oracle's SOF0 header
    parse from the raw hex. The oracle takes the first *byte-aligned*
    FF C0 pair; it is still not segment-aware, which is a documented
    fixture-only assumption: gen_media_fixtures.py emits no FF C0
    byte pair inside any earlier APPn/DQT/DHT payload (Spark decodes
    via a real marker walk, so only the oracle relies on this).
    Pixel fidelity is pytest-verified (round-trip error bounds vs the
    encoder's source array); lossy output can't be re-derived in SQL.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="jpg_*")
    return extract_features(assets).select(
        "path", "media_type", "width", "height"
    )


@query(
    "llm_multimodal_jpeg_prog",
    oracle=f"""
    WITH j AS (
        SELECT filename, hex(content) AS hx
        FROM read_blob('{MEDIA_DIR}/prog_*.jpeg')
    ),
    s AS (
        /* first BYTE-ALIGNED FFC2 (SOF2) — same marker-anchor rules as
           the baseline key's oracle */
        SELECT filename,
               length(regexp_extract(hx,
                   '^((?:[0-9A-F]{{2}})*?)FFC2', 1)) + 1 AS p,
               hx
        FROM j
    )
    SELECT filename AS path, 'jpeg' AS media_type,
           ('0x' || substr(hx, p + 14, 4))::INT AS width,
           ('0x' || substr(hx, p + 10, 4))::INT AS height
    FROM s
    """,
)
def llm_multimodal_jpeg_prog(spark, sf_dir):
    """REAL progressive JPEG decode (SOF2: multi-scan spectral
    selection + successive approximation with EOB-run and refinement
    handling, operators/jpeg.py). The key runs the full multi-scan
    decoder per blob and emits the decoded dimensions, hash-matched
    against the oracle's SOF2 header parse. Pixel fidelity is
    pytest-verified the strong way: the progressive and baseline
    encodings of the same source must decode to IDENTICAL pixels
    (same quantized coefficients, disjoint entropy-coding paths).
    """
    assets = read_assets(spark, MEDIA_DIR, glob="prog_*")
    return extract_features(assets).select(
        "path", "media_type", "width", "height"
    )


@query(
    "llm_multimodal_jpeg_sub",
    oracle=f"""
    WITH j AS (
        SELECT filename, hex(content) AS hx
        FROM read_blob('{MEDIA_DIR}/sub_*.jpg')
    ),
    s AS (
        SELECT filename,
               length(regexp_extract(hx,
                   '^((?:[0-9A-F]{{2}})*?)FFC0', 1)) + 1 AS p,
               hx
        FROM j
    )
    SELECT filename AS path, 'jpg' AS media_type,
           ('0x' || substr(hx, p + 14, 4))::INT AS width,
           ('0x' || substr(hx, p + 10, 4))::INT AS height,
           /* luma sampling byte: component 1's H<<4|V lives 11 bytes
              past the marker (marker 2 + len 2 + prec 1 + dims 4 +
              ncomp 1 + comp id 1) — '22' = 4:2:0, '21' = 4:2:2 */
           CASE substr(hx, p + 22, 2)
                WHEN '22' THEN '420' WHEN '21' THEN '422' END AS sampling
    FROM s
    """,
)
def llm_multimodal_jpeg_sub(spark, sf_dir):
    """REAL chroma-subsampled baseline JPEG decode: 4:2:0 and 4:2:2
    MCU-interleaved scans with restart intervals (DRI / RSTn markers,
    DC-predictor + bit-alignment resets every 2 MCUs). Dims and the
    parsed sampling mode hash-match the oracle's SOF0 header parse;
    pixel output is pytest-verified against a straight-numpy reference
    pipeline (subsample → DCT → quantize → dequantize → IDCT →
    replicate) bit-for-bit.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="sub_*")
    feats = extract_features(assets)

    def sampling_mode(batches):
        import pandas as _pd

        from .jpeg import _parse

        for pdf in batches:
            modes = []
            for blob in pdf["content"]:
                _, _, _, _, comps, _, _ = _parse(bytes(blob))
                _, hi, vi, _ = comps[0]
                modes.append("420" if (hi, vi) == (2, 2) else "422")
            yield _pd.DataFrame({"path": pdf["path"], "sampling": modes})

    modes = assets.mapInPandas(
        sampling_mode,
        schema=T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("sampling", T.StringType()),
            ]
        ),
    )
    return feats.join(modes, "path").select(
        "path", "media_type", "width", "height", "sampling"
    )


@query(
    "llm_multimodal_jpeg12",
    oracle=f"""
    WITH j AS (
        SELECT filename, hex(content) AS hx
        FROM read_blob('{MEDIA_DIR}/jpg12_*.jpg')
    ),
    s AS (
        /* first BYTE-ALIGNED FFC1 (SOF1, extended sequential) — same
           marker-anchor rules as the baseline key's oracle */
        SELECT filename,
               length(regexp_extract(hx,
                   '^((?:[0-9A-F]{{2}})*?)FFC1', 1)) + 1 AS p,
               hx
        FROM j
    )
    SELECT filename AS path, 'jpg' AS media_type,
           ('0x' || substr(hx, p + 14, 4))::INT AS width,
           ('0x' || substr(hx, p + 10, 4))::INT AS height,
           /* sample-precision byte directly after the segment length */
           ('0x' || substr(hx, p + 8, 2))::INT AS bit_depth
    FROM s
    """,
)
def llm_multimodal_jpeg12(spark, sf_dir):
    """REAL 12-bit extended sequential JPEG decode (SOF1, 16-bit DQT
    entries, optimal Huffman tables with magnitude categories past the
    Annex K baseline range — the high-bit-depth scan/medical profile;
    operators/jpeg.py:encode_jpeg_ext12 generates the fixtures). Dims
    and the PARSED precision byte hash-match the oracle's SOF1 header
    parse; 12-bit pixel fidelity (decode >> 4 vs source >> 4) is
    pytest-verified, lossy output not being SQL-re-derivable.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="jpg12_*")
    feats = extract_features(assets)

    def precision_of(batches):
        import pandas as _pd

        from .jpeg import _parse

        for pdf in batches:
            precs = [
                int(_parse(bytes(blob))[1]) for blob in pdf["content"]
            ]
            yield _pd.DataFrame({"path": pdf["path"], "bit_depth": precs})

    precs = assets.mapInPandas(
        precision_of,
        schema=T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("bit_depth", T.IntegerType()),
            ]
        ),
    )
    return feats.join(precs, "path").select(
        "path", "media_type", "width", "height", "bit_depth"
    )


@query(
    "llm_multimodal_jpeg_lossless",
    oracle=f"""
    WITH ppm AS (
        SELECT filename, hex(content) AS hx FROM read_blob('{MEDIA_DIR}/*.ppm')
    ),
    ppm_hdr AS (
        SELECT filename, hx,
            regexp_replace(regexp_extract(hx, '^50360A((?:3[0-9])+)20', 1),
                           '3(.)', '\\1', 'g')::INT AS w,
            regexp_replace(
                regexp_extract(hx, '^50360A(?:3[0-9])+20((?:3[0-9])+)0A', 1),
                '3(.)', '\\1', 'g')::INT AS h
        FROM ppm
    ),
    ppm_px AS (
        SELECT filename, w, h,
               3 + length(w::VARCHAR) + 1 + length(h::VARCHAR) + 5 AS hdr_len,
               unnest(generate_series(0, w * h * 3 - 1)) AS i
        FROM ppm_hdr
    )
    SELECT replace(replace(p.filename, 'img_', 'jls_'), '.ppm', '.jpg')
               AS path,
           'jpg' AS media_type, p.w AS width, p.h AS height,
           ROUND(AVG({_BYTE.format(hx='f.hx', p='p.hdr_len + p.i + 1')}), 6)
               AS mean_pixel
    FROM ppm_px p JOIN ppm f USING (filename)
    GROUP BY p.filename, p.w, p.h
    """,
)
def llm_multimodal_jpeg_lossless(spark, sf_dir):
    """REAL lossless JPEG decode (SOF3, T.81 Annex H: per-sample
    Huffman-coded differences under the seven spatial predictors,
    mod-2^16 arithmetic with the SSSS=16 escape), hash-verified
    CROSS-FORMAT: each ``jls_{{i}}.jpg`` fixture is pixel-IDENTICAL to
    ``img_{{i}}.ppm`` — lossless coding of raw RGB components makes
    the decode bit-exact, so unlike the DCT JPEG keys the oracle
    matches the full pixel statistics, not just header dims. The
    committed fixtures rotate through all seven predictors; encoder→
    decoder exactness (incl. 16-bit mod-wrap) is additionally
    pytest-verified.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="jls_*")
    return extract_features(assets).select(
        "path",
        "media_type",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


@query(
    "llm_webdataset_tar",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT filename, hex(content) AS hx, octet_length(content) AS n
        FROM read_blob('{MEDIA_DIR}/shard_*.tar')
    ),
    walk(filename, off) AS (
        SELECT filename, 0 FROM t
        UNION ALL
        /* next header: 512 for this header + payload rounded up to
           the 512 block; the 11-digit octal size field lives at byte
           off+124 (hex chars off*2+249..+22), each ASCII octal digit
           is a '3X' hex pair */
        SELECT w.filename,
               w.off + 512 + CAST(ceil(
                   list_sum(list_transform(range(1, 12),
                       i -> CAST(substr(regexp_replace(
                                substr(t.hx, w.off * 2 + 249, 22),
                                '3(.)', '\\1', 'g'), i, 1) AS BIGINT)
                            * CAST(power(8, 11 - i) AS BIGINT)))
                   / 512.0) AS BIGINT) * 512
        FROM walk w
        JOIN t ON t.filename = w.filename
        WHERE substr(t.hx, w.off * 2 + 1, 2) <> '00'
          AND w.off + 512 <= t.n
    ),
    members AS (
        SELECT w.filename AS path, w.off,
           decode(unhex(regexp_extract(substr(t.hx, w.off * 2 + 1, 200),
                        '^((?:[0-9A-F]{{2}})*?)(?:00)', 1))) AS member,
           CAST(list_sum(list_transform(range(1, 12),
               i -> CAST(substr(regexp_replace(
                        substr(t.hx, w.off * 2 + 249, 22),
                        '3(.)', '\\1', 'g'), i, 1) AS BIGINT)
                    * CAST(power(8, 11 - i) AS BIGINT))) AS BIGINT) AS size,
           t.hx
        FROM walk w JOIN t USING (filename)
        WHERE substr(t.hx, w.off * 2 + 1, 2) <> '00' AND w.off + 512 <= t.n
    )
    SELECT path, member,
           regexp_extract(member, '^([^.]*)', 1) AS stem,
           regexp_extract(member, '\\.([^.]*)$', 1) AS ext,
           size,
           md5(substr(hx, off * 2 + 1024 + 1, size * 2)) AS payload_md5
    FROM members
    """,
)
def llm_webdataset_tar(spark, sf_dir):
    """WebDataset tar-shard ingestion — the standard container for
    multimodal training corpora (each sample is a basename stem shared
    by .txt/.ppm/... members inside a POSIX USTAR shard). The REAL
    Spark op: one ``binaryFile`` scan partitioned by shard, a
    ``mapInPandas`` header walk exploding each shard into member rows
    (name, webdataset stem/ext, size, payload digest) — shards never
    co-shuffle, payload bytes never leave the executor, so ingestion
    scales with shard count exactly like the production loaders built
    on this layout. The oracle independently re-walks the SAME tar
    bytes in SQL: a recursive CTE steps header offsets (11-digit octal
    size field → next 512-aligned block), `unhex`/`decode` recover the
    NUL-terminated member name, and the payload digest is md5 over the
    hex slice — so Spark's imperative walk is hash-checked against a
    declarative re-implementation, member for member. ``payload_md5``
    is md5 of the UPPERCASE-hex payload on both sides (DuckDB md5 is
    VARCHAR-typed; hex avoids blob/UTF-8 coupling).
    """
    return webdataset_members(read_assets(spark, MEDIA_DIR, glob="shard_*"))


def _hex_md5(payload: bytes) -> str:
    """The container keys' payload-digest convention: md5 over the
    UPPERCASE hex of the bytes — matches DuckDB's VARCHAR-typed
    ``md5(substr(hex(content), ...))`` without blob/UTF-8 coupling."""
    return hashlib.md5(payload.hex().upper().encode()).hexdigest()


def webdataset_members(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of tar shards → one row per member (the
    reusable walk behind :func:`llm_webdataset_tar`)."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("path", "member", "stem", "ext", "size", "payload_md5")
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                b = bytes(blob)
                off = 0
                while off + 512 <= len(b) and b[off] != 0:
                    sfield = b[off + 124 : off + 135]
                    # strict zero-padded USTAR octal ONLY (what the
                    # oracle's '3(.)' hex-digit strip parses): a
                    # space-padded V7/GNU size field would silently
                    # decode differently in SQL, so fail closed here
                    # rather than hash-diverge
                    if not all(0x30 <= c <= 0x37 for c in sfield):
                        break
                    try:
                        name = b[off : off + 100].split(b"\0")[0].decode()
                    except ValueError:
                        # malformed header (torn shard, non-UTF8
                        # name): keep the members already walked, stop
                        # this shard — a corrupt shard must not kill
                        # the scan (same contract as
                        # extract_features_tolerant)
                        break
                    size = int(sfield.decode(), 8)
                    if off + 512 + size > len(b):
                        # payload torn mid-member: emitting the full
                        # claimed size with a digest of partial bytes
                        # would be a phantom row — drop it like the
                        # torn-header case
                        break
                    payload = b[off + 512 : off + 512 + size]
                    out["path"].append(path)
                    out["member"].append(name)
                    dot = name.find(".")
                    out["stem"].append(name if dot < 0 else name[:dot])
                    out["ext"].append(name.rsplit(".", 1)[1] if "." in name else "")
                    out["size"].append(size)
                    out["payload_md5"].append(_hex_md5(payload))
                    off += 512 + (size + 511) // 512 * 512
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        walk,
        schema=T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("member", T.StringType()),
                T.StructField("stem", T.StringType()),
                T.StructField("ext", T.StringType()),
                T.StructField("size", T.LongType()),
                T.StructField("payload_md5", T.StringType()),
            ]
        ),
    )


#: Shared oracle prefix for the WARC keys: a recursive CTE that
#: re-walks the raw ``crawl_*.warc`` bytes declaratively — next record
#: = header bytes (up to the BYTE-ALIGNED CRLFCRLF, same anchor rule
#: as the JPEG oracles) + Content-Length payload + the closing
#: CRLFCRLF. Ends with ``recs(path, off, hdr, hdr_len, hx)``, one row
#: per intact record, ready for a key-specific final SELECT.
#:
#: The terminator search window is 16384 hex chars = 8192 bytes —
#: the SAME bound as `_warc_iter`'s ``b.index(..., off + 8192)``, so
#: both engines frame (or reject) a long-header record identically;
#: the fixture carries a >1200-byte header to keep the bound honest.
_WARC_RECS_CTE = f"""
    WITH RECURSIVE t AS (
        SELECT filename, hex(content) AS hx, octet_length(content) AS n
        FROM read_blob('{MEDIA_DIR}/crawl_*.warc')
    ),
    walk(filename, off) AS (
        SELECT filename, CAST(0 AS BIGINT) FROM t
        UNION ALL
        SELECT w.filename,
               w.off
               + length(regexp_extract(substr(t.hx, w.off * 2 + 1, 16384),
                        '^((?:[0-9A-F]{{2}})*?)0D0A0D0A', 1)) // 2 + 4
               + CAST(regexp_extract(
                     decode(unhex(regexp_extract(
                         substr(t.hx, w.off * 2 + 1, 16384),
                         '^((?:[0-9A-F]{{2}})*?)0D0A0D0A', 1))),
                     'Content-Length: (\\d+)', 1) AS BIGINT)
               + 4
        FROM walk w JOIN t USING (filename)
        WHERE substr(t.hx, w.off * 2 + 1, 16) = '574152432F312E30'
    ),
    recs AS (
        SELECT w.filename AS path, w.off,
               decode(unhex(regexp_extract(substr(t.hx, w.off * 2 + 1, 16384),
                      '^((?:[0-9A-F]{{2}})*?)0D0A0D0A', 1))) AS hdr,
               length(regexp_extract(substr(t.hx, w.off * 2 + 1, 16384),
                      '^((?:[0-9A-F]{{2}})*?)0D0A0D0A', 1)) // 2 + 4
                   AS hdr_len,
               t.hx
        FROM walk w JOIN t USING (filename)
        WHERE substr(t.hx, w.off * 2 + 1, 16) = '574152432F312E30'
    )
"""

#: Per-record SELECT list shared by the plain and gzip WARC keys —
#: the record's identity tuple (type, URI, declared length, payload
#: digest) as the cross-format comparison surface.
_WARC_REC_COLS = """
           regexp_extract(hdr, 'WARC-Type: ([^\\r]+)', 1) AS record_type,
           regexp_extract(hdr, 'WARC-Target-URI: ([^\\r]+)', 1) AS target_uri,
           CAST(regexp_extract(hdr, 'Content-Length: (\\d+)', 1) AS BIGINT)
               AS content_length,
           md5(substr(hx, (off + hdr_len) * 2 + 1,
                      CAST(regexp_extract(hdr, 'Content-Length: (\\d+)', 1)
                           AS BIGINT) * 2)) AS payload_md5
"""

#: resp/body extension of the shared CTE: HTTP-response payloads →
#: ``body(path, target_uri, html)``, shared by the html-text and
#: links keys. The body WHERE mirrors the Python walk's ``continue``
#: on a payload with NO byte-aligned CRLFCRLF — a bodyless or
#: non-HTTP payload must be skipped by BOTH engines, not decoded as
#: garbage by one (the anchored pair-wise pattern can only match an
#: ALIGNED terminator, so matching at all is the byte-level test).
_WARC_BODY_CTE = """,
    resp AS (
        SELECT path,
               regexp_extract(hdr, 'WARC-Target-URI: ([^\\r]+)', 1)
                   AS target_uri,
               substr(hx, (off + hdr_len) * 2 + 1,
                      CAST(regexp_extract(hdr, 'Content-Length: (\\d+)', 1)
                           AS BIGINT) * 2) AS payload_hx
        FROM recs
        WHERE regexp_extract(hdr, 'WARC-Type: ([^\\r]+)', 1) = 'response'
    ),
    body AS (
        /* HTTP body = payload after the FIRST byte-aligned CRLFCRLF */
        SELECT path, target_uri,
               decode(unhex(substr(payload_hx,
                   length(regexp_extract(payload_hx,
                          '^((?:[0-9A-F]{2})*?)0D0A0D0A', 1)) + 9)))
                   AS html
        FROM resp
        WHERE regexp_matches(payload_hx, '^(?:[0-9A-F]{2})*0D0A0D0A')
    )
"""


@query(
    "llm_warc_records",
    oracle=_WARC_RECS_CTE + """
    SELECT path,""" + _WARC_REC_COLS + """
    FROM recs
    """,
)
def llm_warc_records(spark, sf_dir):
    """WARC (ISO 28500) record ingestion — the CommonCrawl container,
    i.e. THE upstream format a web-scale LLM corpus starts from. One
    ``binaryFile`` scan partitioned by archive, a ``mapInPandas``
    record walk stepping ``Content-Length`` frames and emitting
    (record type, target URI, length, payload digest) — archives never
    co-shuffle and payload bytes never leave the executor, the same
    shard-parallel shape as `llm_webdataset_tar`. The oracle re-walks
    the SAME bytes declaratively (recursive CTE over byte-aligned
    CRLFCRLF anchors + Content-Length strides), so the imperative walk
    is hash-checked record for record. A torn record ends that
    archive's walk with prior records kept (flag-don't-die, pytest'd).
    At corpus scale the next stage is ``llm_url_canonical`` /
    ``llm_langid`` / quality screens over the emitted records — this
    key is the seam where raw crawl bytes become rows.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="crawl_*.warc")
    return warc_records(assets)


def _warc_frames(b: bytes):
    """Yield ``(offset, record_len, hdr_text, payload_bytes)`` per
    intact record — the full framing walk, failing CLOSED on any tear
    (shared by every WARC reader so the framing rules live once).
    ``offset`` is the record's first byte, ``record_len`` spans
    headers + CRLFCRLF + payload + the closing CRLFCRLF, so
    ``b[offset : offset + record_len]`` is a self-contained record —
    the random-access contract a CDX index points into.

    - the CRLFCRLF terminator search is bounded (8192 bytes, the
      same window the oracle CTE scans) — a corrupted terminator
      must not let the scan swallow into the payload and emit a
      mis-framed row;
    - every header line must be the version line, a ``Name: value``
      field, or an ISO 28500 folded continuation (leading SP/TAB —
      legal in real archives, and junk swallowed past a tear almost
      never starts with whitespace, so fail-closed still holds);
    - a payload torn mid-record is dropped rather than digested short
      under its full declared length.
    """
    import re

    off = 0
    while b[off : off + 8] == b"WARC/1.0":
        try:
            he = b.index(b"\r\n\r\n", off, off + 8192)
            hdr = b[off:he].decode()
            cl = int(re.search(r"Content-Length: (\d+)", hdr).group(1))
        except (ValueError, AttributeError):
            return
        if not all(
            ln == "WARC/1.0" or ": " in ln or ln[:1] in (" ", "\t")
            for ln in hdr.split("\r\n")
        ):
            return
        if he + 4 + cl > len(b):
            return
        end = he + 4 + cl + 4
        yield off, end - off, hdr, b[he + 4 : he + 4 + cl]
        off = end


def _warc_iter(b: bytes):
    """`_warc_frames` minus the offsets — ``(hdr_text, payload)`` per
    intact record, for readers that only consume record contents."""
    for _off, _n, hdr, payload in _warc_frames(b):
        yield hdr, payload


def _rec_headers(hdr: str):
    """(record_type, target_uri) from a record's header text —
    extracted ONCE here so no walk can drift on the parse."""
    import re

    rtype = re.search(r"WARC-Type: ([^\r]+)", hdr)
    uri = re.search(r"WARC-Target-URI: ([^\r]+)", hdr)
    return (rtype.group(1) if rtype else "", uri.group(1) if uri else "")


def _rec_identity(hdr: str, payload: bytes):
    """A record's full cross-engine identity tuple — (record_type,
    target_uri, content_length, payload_md5) — shared by the scan,
    gzip, and fetch walks so the digest convention lives once. The
    CDX walk uses `_rec_headers` alone: an index build must not pay
    for digests it does not emit."""
    rtype, uri = _rec_headers(hdr)
    return (rtype, uri, len(payload), _hex_md5(payload))


def warc_records(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of WARC archives → one row per record (the
    reusable walk behind :func:`llm_warc_records`)."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("path", "record_type", "target_uri", "content_length",
                "payload_md5")
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for hdr, payload in _warc_iter(bytes(blob)):
                    rtype, uri, clen, digest = _rec_identity(hdr, payload)
                    out["path"].append(path)
                    out["record_type"].append(rtype)
                    out["target_uri"].append(uri)
                    out["content_length"].append(clen)
                    out["payload_md5"].append(digest)
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        walk,
        schema=T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("record_type", T.StringType()),
                T.StructField("target_uri", T.StringType()),
                T.StructField("content_length", T.LongType()),
                T.StructField("payload_md5", T.StringType()),
            ]
        ),
    )


def warc_html_bodies(assets: DataFrame) -> DataFrame:
    """WARC archives → one row per *response* record carrying the HTTP
    body text (the bytes after the HTTP header's blank line), ready
    for DataFrame-side HTML stripping — Python only frames bytes; all
    text transformation stays in JVM codegen."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"path": [], "target_uri": [], "html": []}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for hdr, payload in _warc_iter(bytes(blob)):
                    # the shared header parse — an inline regex copy
                    # here could drift from the records/cdx/gzip walks
                    rtype, uri = _rec_headers(hdr)
                    if rtype != "response":
                        continue
                    parts = payload.split(b"\r\n\r\n", 1)
                    if len(parts) != 2:
                        continue  # no HTTP body
                    out["path"].append(path)
                    out["target_uri"].append(uri)
                    out["html"].append(
                        parts[1].decode("utf-8", errors="replace")
                    )
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        walk,
        schema=T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("target_uri", T.StringType()),
                T.StructField("html", T.StringType()),
            ]
        ),
    )


#: HTML→text strip chain as a DuckDB CTE over `body` — shared by the
#: llm_warc_html_text and llm_warc_wet oracles so the transform the
#: two keys claim to share really IS one definition on both engines
_WARC_STRIPPED_CTE = """,
    stripped AS (
        SELECT path, target_uri,
               trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(html,
                                   '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                           '<[^>]+>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', CHR(39)), '&amp;', '&'),
                   '\\s+', ' ', 'g')) AS text
        FROM body
    )
"""


def _html_text_col():
    """The Spark half of the shared HTML→text chain (JVM codegen,
    RE2 ∩ Java regex subset — mirrors `_WARC_STRIPPED_CTE` verbatim;
    &amp; decoded LAST so '&amp;lt;' can't double-decode)."""
    x = F.regexp_replace("html", r"(?is)<script[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, r"(?is)<style[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, r"<[^>]+>", " ")
    for ent, ch in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        x = F.replace(x, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(x, r"\s+", " "))


@query(
    "llm_warc_html_text",
    oracle=_WARC_RECS_CTE.rstrip() + _WARC_BODY_CTE.rstrip()
    + _WARC_STRIPPED_CTE + """
    SELECT path, target_uri, text,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM stripped
    """,
)
def llm_warc_html_text(spark, sf_dir):
    """HTML→text extraction over WARC responses — the pipeline stage
    between raw crawl bytes and the `documents` table every text
    screen (`llm_langid`, `llm_quality_filter`, dedup) consumes.

    Python only FRAMES bytes (the shared `_warc_iter` walk yields the
    HTTP body per response record); every text transformation runs
    JVM-side in whole-stage codegen: script/style block removal, tag
    stripping, entity decoding (&amp; decoded LAST so '&amp;lt;' can't
    double-decode), whitespace collapse. The oracle re-derives the
    body from raw bytes (recursive-CTE record walk → first
    byte-aligned CRLFCRLF in the payload) and applies the IDENTICAL
    regexp/replace chain — patterns restricted to the RE2 ∩ Java
    subset (no backreferences: script and style each get their own
    pattern), so both engines execute the same transform.
    """
    bodies = warc_html_bodies(read_assets(spark, MEDIA_DIR, glob="crawl_*.warc"))
    text = _html_text_col()
    return bodies.select(
        "path",
        "target_uri",
        text.alias("text"),
        F.length(text).cast("long").alias("n_chars"),
    )


@query(
    "llm_warc_links",
    oracle=_WARC_RECS_CTE.rstrip() + _WARC_BODY_CTE + """
    SELECT src, dst, CAST(count(*) OVER () AS BIGINT) AS total_edges
    FROM (
        /* unnest FIRST, count after — a window count on `body` would
           count pages, not edges */
        SELECT target_uri AS src,
               unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS dst
        FROM body
    ) e
    """,
)
def llm_warc_links(spark, sf_dir):
    """Hyperlink extraction over WARC responses — (src page, href
    target) edges, the raw material of the web graph the `graph_*`
    keys (degree, PageRank, k-hop) then run on. Framing shares
    `_warc_iter`; the href scan is `regexp_extract_all` + `explode`,
    entirely JVM-side. The oracle runs the identical pattern with
    DuckDB's `regexp_extract_all`/`unnest` over the body it re-derives
    from raw bytes. `total_edges` (a broadcast 1-row count — the
    engine's standard scale-safe scalar join, never an unpartitioned
    window) pins the cardinality into the hash so a lost edge cannot
    cancel against a duplicated one. `bodies` is materialized because
    the count and the output share its lineage: uncached, the scalar
    branch would re-run the whole Python archive walk a second time
    (the other crossJoin-count keys recompute only cheap JVM parquet
    scans, where a cache buys nothing).
    """
    bodies = materialize(
        warc_html_bodies(read_assets(spark, MEDIA_DIR, glob="crawl_*.warc"))
    )
    edges = bodies.select(
        F.col("target_uri").alias("src"),
        F.explode(
            F.regexp_extract_all("html", F.lit(r'href="([^"]+)"'), F.lit(1))
        ).alias("dst"),
    )
    total = edges.agg(F.count("*").cast("long").alias("total_edges"))
    return edges.crossJoin(F.broadcast(total))


def wet_bytes(records, rtype: str = "conversion") -> bytes:
    """(target_uri, text) pairs → a WET file: WARC/1.0 ``conversion``
    records with UTF-8 payloads — the CommonCrawl extracted-text
    artifact (``rtype="metadata"`` writes the WAT flavor instead).
    Framing matches the strict form `_warc_frames` walks
    (validated ``Name: value`` header lines, CRLFCRLF terminator,
    CRLFCRLF record separator), so the engine's own fail-closed
    walker is the conformance check on the writer's output."""
    out = bytearray()
    for uri, text in records:
        if "\r" in uri or "\n" in uri:
            # header-injection guard: a CR/LF inside the URI would
            # terminate the header early and corrupt the framing of
            # every subsequent record — fail loudly at the writer
            raise ValueError(f"CR/LF in WARC-Target-URI: {uri!r}")
        payload = text.encode("utf-8")
        out += (
            "WARC/1.0\r\n"
            f"WARC-Type: {rtype}\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        out += payload + b"\r\n\r\n"
    return bytes(out)


@query(
    "llm_warc_wet",
    oracle=_WARC_RECS_CTE.rstrip() + _WARC_BODY_CTE.rstrip()
    + _WARC_STRIPPED_CTE + """
    SELECT path, 'conversion' AS record_type, target_uri,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
           md5(hex(encode(text))) AS payload_md5
    FROM stripped
    """,
)
def llm_warc_wet(spark, sf_dir):
    """WET generation — the conversion step CommonCrawl consumers
    actually download: response records → extracted-text
    ``conversion`` records in real WARC framing. The Spark side runs
    the SHARED HTML→text chain (`_html_text_col`, the same JVM-codegen
    definition `llm_warc_html_text` uses), builds genuine WET bytes
    per source shard (`wet_bytes`), then RE-WALKS those bytes with the
    engine's own strict `_warc_iter` — so the emitted rows come out of
    the produced artifact, not the intermediate frame: a framing bug
    in the writer (bad Content-Length, broken terminator) would drop
    or corrupt records and hash-diverge.

    The oracle never sees the WET bytes: it re-derives the SAME rows
    from the SOURCE archive (record-walk CTE → HTTP body → the shared
    strip chain), with UTF-8 payload lengths via ``encode`` and the
    container family's hex-md5 digest — a cross-format check in the
    same class as the MP4/AVI twins.

    Scale shape: one Arrow group per source shard (`applyInPandas` on
    path — WET shards mirror source shards 1:1, CommonCrawl's own
    layout); text bytes never co-shuffle across shards; only
    conversion-record metadata rows leave the executor.
    """
    bodies = warc_html_bodies(
        read_assets(spark, MEDIA_DIR, glob="crawl_*.warc")
    )
    texts = bodies.select("path", "target_uri", _html_text_col().alias("text"))

    def build_and_walk(pdf: pd.DataFrame) -> pd.DataFrame:
        path = pdf["path"].iloc[0]
        recs = sorted(zip(pdf["target_uri"], pdf["text"]))
        blob = wet_bytes(recs)
        out = {
            "path": [], "record_type": [], "target_uri": [],
            "content_length": [], "payload_md5": [],
        }
        for hdr, payload in _warc_iter(blob):
            rtype, uri, clen, digest = _rec_identity(hdr, payload)
            out["path"].append(path)
            out["record_type"].append(rtype)
            out["target_uri"].append(uri)
            out["content_length"].append(clen)
            out["payload_md5"].append(digest)
        return pd.DataFrame(out)

    return texts.groupBy("path").applyInPandas(
        build_and_walk,
        schema=(
            "path string, record_type string, target_uri string,"
            " content_length long, payload_md5 string"
        ),
    )


def _json_escape(col):
    """Minimal JSON string escape (backslash then quote — the only
    characters the WAT envelope's fields can legally need here),
    mirrored verbatim in the oracle's replace chain."""
    return F.replace(
        F.replace(col, F.lit("\\"), F.lit("\\\\")),
        F.lit('"'),
        F.lit('\\"'),
    )


@query(
    "llm_warc_wat",
    oracle=_WARC_RECS_CTE.rstrip() + _WARC_BODY_CTE.rstrip() + """,
    linked AS (
        SELECT path, target_uri, html,
               regexp_extract_all(html, 'href="([^"]+)"', 1) AS links
        FROM body
    ),
    wat AS (
        SELECT path, target_uri,
               '{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'
               || replace(replace(target_uri, chr(92), chr(92) || chr(92)),
                          '"', chr(92) || '"')
               || '","Content-Length":' || length(html)::VARCHAR
               || '},"Payload-Metadata":{"Links":['
               || coalesce(list_aggr(
                      list_transform(links,
                          u -> '"' ||
                               replace(replace(u, chr(92), chr(92) || chr(92)),
                                       '"', chr(92) || '"')
                               || '"'),
                      'string_agg', ','), '')
               || ']}}}' AS wat_json
        FROM linked
    )
    SELECT path, 'metadata' AS record_type, target_uri,
           CAST(octet_length(encode(wat_json)) AS BIGINT)
               AS content_length,
           md5(hex(encode(wat_json))) AS payload_md5
    FROM wat
    """,
)
def llm_warc_wat(spark, sf_dir):
    """WAT generation — the metadata side of CommonCrawl's
    WARC/WAT/WET triple (CDX + WET landed earlier; this completes the
    set): per response record, a ``metadata`` record whose payload is
    the JSON envelope (target URI, HTTP body length, outlink list in
    DOCUMENT order — the exact link set `llm_warc_links` builds its
    graph from). The envelope TEXT is constructed explicitly with one
    escape definition on both engines (no engine JSON serializer —
    key-order and whitespace differences between serializers would
    hash-diverge on correct data), then wrapped in real WARC framing
    per source shard and RE-WALKED by the engine's strict walker, the
    same writer-conformance loop as the WET key.

    Scale shape: identical to WET — one Arrow group per source shard,
    envelopes never co-shuffle, only record metadata rows move.
    """
    bodies = warc_html_bodies(
        read_assets(spark, MEDIA_DIR, glob="crawl_*.warc")
    )
    links = F.regexp_extract_all("html", F.lit(r'href="([^"]+)"'), 1)
    links_json = F.concat(
        F.lit("["),
        F.array_join(
            F.transform(
                links,
                lambda u: F.concat(F.lit('"'), _json_escape(u), F.lit('"')),
            ),
            ",",
        ),
        F.lit("]"),
    )
    wat = F.concat(
        F.lit('{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'),
        _json_escape(F.col("target_uri")),
        F.lit('","Content-Length":'),
        F.length("html").cast("string"),
        F.lit('},"Payload-Metadata":{"Links":'),
        links_json,
        F.lit("}}}"),
    )
    envelopes = bodies.select(
        "path", "target_uri", wat.alias("wat_json")
    )

    def build_and_walk(pdf: pd.DataFrame) -> pd.DataFrame:
        path = pdf["path"].iloc[0]
        recs = sorted(zip(pdf["target_uri"], pdf["wat_json"]))
        blob = wet_bytes(recs, rtype="metadata")
        out = {
            "path": [], "record_type": [], "target_uri": [],
            "content_length": [], "payload_md5": [],
        }
        for hdr, payload in _warc_iter(blob):
            rtype, uri, clen, digest = _rec_identity(hdr, payload)
            out["path"].append(path)
            out["record_type"].append(rtype)
            out["target_uri"].append(uri)
            out["content_length"].append(clen)
            out["payload_md5"].append(digest)
        return pd.DataFrame(out)

    return envelopes.groupBy("path").applyInPandas(
        build_and_walk,
        schema=(
            "path string, record_type string, target_uri string,"
            " content_length long, payload_md5 string"
        ),
    )


def _concat_streams(b: bytes, magic: bytes, new_decompressor, error_cls):
    """Shared fail-closed walk over a file of CONCATENATED independent
    compression streams (gzip members in a ``.warc.gz``, bz2 streams
    in an enwiki multistream dump — the layout that makes both
    splittable). Yields each stream's decompressed payload:

    - a stream torn before its end marker (``d.eof`` never set) is
      dropped, prior streams kept;
    - bytes after a stream that don't open with ``magic`` stop the
      walk (mid-file corruption must not be skipped over);
    - input is fed in bounded chunks through ``memoryview`` slices so
      walking a file costs O(n) bytes copied, not O(n²) — at corpus
      scale an archive is ~1 GB with ~100k members.
    """
    mv = memoryview(b)
    n = len(b)
    off = 0
    chunk = 1 << 18
    while off < n:
        if bytes(mv[off : off + len(magic)]) != magic:
            return
        d = new_decompressor()
        out = bytearray()
        pos = off
        try:
            while not d.eof and pos < n:
                piece = mv[pos : pos + chunk]
                out += d.decompress(piece)
                pos += len(piece)
        except error_cls:
            return  # corrupt stream body
        if not d.eof:
            return  # torn stream: end marker never arrived
        yield bytes(out)
        nxt = pos - len(d.unused_data)
        if nxt <= off:
            return  # defensive: a stream must consume bytes
        off = nxt


def _gzip_members(b: bytes):
    """`_concat_streams` for per-record gzip members (``.warc.gz``)."""
    yield from _concat_streams(
        b, b"\x1f\x8b", lambda: zlib.decompressobj(wbits=31), zlib.error
    )


@query(
    "llm_warc_gzip",
    oracle=_WARC_RECS_CTE + """
    SELECT regexp_extract(path, 'crawl_(\\d+)\\.warc$', 1) AS crawl_id,"""
    + _WARC_REC_COLS + """
    FROM recs
    """,
)
def llm_warc_gzip(spark, sf_dir):
    """Per-record-gzipped WARC ingestion — ``.warc.gz`` exactly as
    CommonCrawl distributes it: one gzip member per record, members
    concatenated. Per-record members are WHY the format is splittable
    at 100 TB — a reader starts at any member boundary without
    decompressing the prefix, so archives parallelize across
    executors and payload bytes never leave the one that read them.

    The walk is `_gzip_members` (bounded-chunk zlib, fail-closed on a
    torn member) feeding the SAME `_warc_iter` framing as the plain
    key, so compressed and uncompressed ingestion share one set of
    framing rules. The oracle never decompresses anything: it walks
    the PLAIN ``crawl_*.warc`` twins (bit-identical records, fixture-
    guaranteed) with the shared recursive CTE — the hash match proves
    member splitting + gunzip + framing reproduce the uncompressed
    record stream byte for byte, the same cross-format-twin oracle
    pattern as the JPEG-vs-PPM keys. Joined on ``crawl_id`` (the
    shared archive index) since the two sides read different files.
    """
    return warc_gzip_records(read_assets(spark, MEDIA_DIR, glob="crawlgz_*"))


def warc_gzip_records(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of ``.warc.gz`` archives → one row per record
    (the reusable walk behind :func:`llm_warc_gzip`): gzip members
    split and inflated by `_gzip_members`, records framed by the
    shared `_warc_iter`."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        cols = ("crawl_id", "record_type", "target_uri",
                "content_length", "payload_md5")
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                m = re.search(r"crawlgz_(\d+)\.warc\.gz$", path)
                cid = m.group(1) if m else ""
                for member in _gzip_members(bytes(blob)):
                    for hdr, payload in _warc_iter(member):
                        rtype, uri, clen, digest = _rec_identity(
                            hdr, payload
                        )
                        out["crawl_id"].append(cid)
                        out["record_type"].append(rtype)
                        out["target_uri"].append(uri)
                        out["content_length"].append(clen)
                        out["payload_md5"].append(digest)
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        walk,
        schema=T.StructType(
            [
                T.StructField("crawl_id", T.StringType()),
                T.StructField("record_type", T.StringType()),
                T.StructField("target_uri", T.StringType()),
                T.StructField("content_length", T.LongType()),
                T.StructField("payload_md5", T.StringType()),
            ]
        ),
    )


def _bz2_streams(b: bytes):
    """`_concat_streams` for bz2 MULTISTREAM files (the enwiki
    ``pages-articles-multistream.xml.bz2`` layout — why a 20+ GB dump
    is splittable without decompressing a prefix). Corrupt bz2 bodies
    raise ``OSError`` from the stdlib decompressor."""
    import bz2

    yield from _concat_streams(b, b"BZh", bz2.BZ2Decompressor, OSError)


def wikidump_pages(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of multistream ``wiki_*.xml.bz2`` dumps → one
    row per ``<page>`` element: (path, page_id, ns, title, text_md5,
    n_text_chars). The walk decompresses each stream independently
    (`_bz2_streams`) and extracts pages with the same regex chain a
    round-6 oracle runs over the plain-XML twin; dumps never
    co-shuffle and page text never leaves the executor — only its
    digest and length do.

    The non-greedy ``<page>.*?</page>`` split is sound because
    MediaWiki XML-escapes ``<``/``>`` inside ``<text>`` (a literal
    ``</page>`` cannot occur in wikitext content) — the same
    assumption every real dump reader (mwxml, wikiextractor) makes;
    the fixtures honor it."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        page_re = re.compile(rb"<page>.*?</page>", re.S)
        cols = ("path", "page_id", "ns", "title", "text_md5",
                "n_text_chars")
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for stream in _bz2_streams(bytes(blob)):
                    # fail closed on stream/page misalignment (the
                    # family convention): a <page> or </page> token
                    # OUTSIDE the matched spans means this dump's
                    # streams were not cut on page boundaries — keep
                    # the complete pages of this stream, stop walking
                    remainder = page_re.sub(b"", stream)
                    misaligned = (
                        b"<page>" in remainder or b"</page>" in remainder
                    )
                    for m in page_re.finditer(stream):
                        page = m.group(0).decode("utf-8", errors="replace")
                        pid = re.search(r"<id>(\d+)</id>", page)
                        ns = re.search(r"<ns>(\d+)</ns>", page)
                        title = re.search(r"<title>([^<]*)</title>", page)
                        text = re.search(
                            r"<text[^>]*>(.*?)</text>", page, re.S
                        )
                        body = text.group(1) if text else ""
                        out["path"].append(path)
                        out["page_id"].append(int(pid.group(1)) if pid else -1)
                        out["ns"].append(int(ns.group(1)) if ns else -1)
                        out["title"].append(title.group(1) if title else "")
                        out["text_md5"].append(
                            hashlib.md5(body.encode()).hexdigest()
                        )
                        out["n_text_chars"].append(len(body))
                    if misaligned:
                        break  # subsequent streams of this dump are
                        # suspect once one violated page alignment
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        walk,
        schema=T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("page_id", T.LongType()),
                T.StructField("ns", T.LongType()),
                T.StructField("title", T.StringType()),
                T.StructField("text_md5", T.StringType()),
                T.StructField("n_text_chars", T.LongType()),
            ]
        ),
    )


@query(
    "llm_warc_cdx",
    oracle=_WARC_RECS_CTE + """
    SELECT path,
           regexp_extract(hdr, 'WARC-Target-URI: ([^\\r]+)', 1)
               AS target_uri,
           regexp_extract(hdr, 'WARC-Type: ([^\\r]+)', 1) AS record_type,
           off AS rec_offset,
           hdr_len
               + CAST(regexp_extract(hdr, 'Content-Length: (\\d+)', 1)
                      AS BIGINT) + 4 AS rec_length
    FROM recs
    """,
)
def llm_warc_cdx(spark, sf_dir):
    """CDX access index over the WARC archives — (target URI → byte
    offset, record length) per record, the index CommonCrawl ships
    beside every ``.warc.gz`` and the thing that makes a 100 TB
    archive SEEKABLE: a fetcher reads ``bytes [offset, offset+len)``
    of one archive instead of scanning it, so point lookups cost one
    ranged read. ``b[offset : offset+len]`` is a self-contained
    record by `_warc_frames`' framing contract (pytest-pinned).

    The build is one shard-parallel pass (the same `binaryFile` scan
    as `llm_warc_records` — archives never co-shuffle) emitting pure
    arithmetic per record; at cluster scale the index is then written
    sorted by URI (CommonCrawl's ``cluster.idx`` layout) for binary
    search, a standard sort-on-write step outside the key. The oracle
    re-derives every offset INDEPENDENTLY: its recursive CTE strides
    the raw hex (`off` accumulates header + Content-Length + closing
    CRLFCRLF per step), so the hash match proves both engines compute
    identical byte offsets and record spans — exact-integer parity on
    the quantity random access depends on.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="crawl_*.warc")

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("path", "target_uri", "record_type", "rec_offset",
                "rec_length")
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for off, n, hdr, _payload in _warc_frames(bytes(blob)):
                    rtype, uri = _rec_headers(hdr)
                    out["path"].append(path)
                    out["target_uri"].append(uri)
                    out["record_type"].append(rtype)
                    out["rec_offset"].append(off)
                    out["rec_length"].append(n)
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        walk,
        schema=T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("target_uri", T.StringType()),
                T.StructField("record_type", T.StringType()),
                T.StructField("rec_offset", T.LongType()),
                T.StructField("rec_length", T.LongType()),
            ]
        ),
    )


def wikidump_text(assets: DataFrame) -> DataFrame:
    """Like :func:`wikidump_pages` but emits the RAW wikitext column
    (plus page id/title) so a downstream transform can clean it —
    Python only frames bytes; the markup stripping is meant to run
    JVM-side (see :func:`wikitext_clean`). Same fail-closed stream
    walk and page-alignment guard as the digest variant."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        page_re = re.compile(rb"<page>.*?</page>", re.S)
        for pdf in batches:
            out = {"path": [], "page_id": [], "title": [], "wikitext": []}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for stream in _bz2_streams(bytes(blob)):
                    remainder = page_re.sub(b"", stream)
                    misaligned = (
                        b"<page>" in remainder or b"</page>" in remainder
                    )
                    for m in page_re.finditer(stream):
                        page = m.group(0).decode("utf-8", errors="replace")
                        pid = re.search(r"<id>(\d+)</id>", page)
                        title = re.search(r"<title>([^<]*)</title>", page)
                        text = re.search(
                            r"<text[^>]*>(.*?)</text>", page, re.S
                        )
                        out["path"].append(path)
                        out["page_id"].append(int(pid.group(1)) if pid else -1)
                        out["title"].append(title.group(1) if title else "")
                        out["wikitext"].append(text.group(1) if text else "")
                    if misaligned:
                        break
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        walk,
        schema=T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("page_id", T.LongType()),
                T.StructField("title", T.StringType()),
                T.StructField("wikitext", T.StringType()),
            ]
        ),
    )


def wikitext_clean(col):
    """Wikitext → plain text as a JVM-codegen Column expression — the
    wiki analogue of the `llm_warc_html_text` transform chain, the
    stage between a raw dump and the `documents` table. Python never
    touches a character: template removal ({{...}}, two passes for
    one nesting level), wikilink resolution ([[t|label]] → label,
    [[t]] → t), bold/italic quote stripping, heading-marker removal,
    whitespace collapse. Patterns are restricted to the RE2 ∩ Java
    regex subset (no backreferences in the PATTERN; the replacement
    uses each engine's own group syntax: ``$1`` in Spark, ``\\1`` in
    a DuckDB oracle) so both engines can run the identical chain.
    """
    x = F.regexp_replace(col, r"\{\{[^{}]*\}\}", " ")
    x = F.regexp_replace(x, r"\{\{[^{}]*\}\}", " ")  # one nesting level
    x = F.regexp_replace(x, r"\[\[[^\[\]|]*\|([^\[\]|]*)\]\]", "$1")
    x = F.regexp_replace(x, r"\[\[([^\[\]|]*)\]\]", "$1")
    x = F.regexp_replace(x, r"'{2,}", "")
    x = F.regexp_replace(x, r"={2,}", " ")
    return F.trim(F.regexp_replace(x, r"\s+", " "))


def warc_fetch(index_df: DataFrame) -> DataFrame:
    """Ranged-read fetch of WARC records through a CDX index — the
    consumer side of :func:`llm_warc_cdx` and the whole point of the
    index at 100 TB: a point lookup reads EXACTLY
    ``[rec_offset, rec_offset + rec_length)`` of one archive
    (``seek`` + bounded ``read``), never a scan. Takes a DataFrame of
    (path, target_uri, rec_offset, rec_length) index rows (already
    filtered to the wanted URIs) and returns each fetched record's
    identity tuple, re-framed and re-digested FROM THE FETCHED BYTES —
    so output equality against the full-scan walk proves the ranged
    reads returned the same records the scan saw.

    Fetches for the same archive ride one partition (groupBy path →
    ``applyInPandas``), so each executor opens an archive once and
    serves its offsets in order — the I/O shape a real fetch tier
    (HDFS pread / S3 ranged GET) wants.

    When to use which (measured, SCALE.md round-5 staging table):
    fetch costs O(hits) (~1 ms/record of open/seek/Python overhead
    locally), a scan costs O(corpus bytes) — the local crossover is a
    ~2-3 % hit rate, so a batch job touching more than a few percent
    of records should use the full-scan walk instead; the index pays
    for POINT lookups, and at 100 TB (cold remote storage, scan =
    executor-hours) it pays at any realistic lookup rate.

    Every stale-index failure
    mode yields ``fetch_ok = false`` rather than a task failure or a
    silent wrong answer: a slice that does not re-frame as EXACTLY
    one record (short/long length, torn archive), a record whose own
    Target-URI is not the requested one (offset landed on a different
    record boundary), a negative offset/length, or an archive that
    moved since indexing.
    """

    def fetch(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {
            "path": [], "target_uri": [], "record_type": [],
            "content_length": [], "payload_md5": [], "fetch_ok": [],
        }
        path = pdf["path"].iloc[0]
        try:
            f = open(path, "rb")
        except OSError:
            f = None  # archive moved since indexing: flag every row
        srt = pdf.sort_values("rec_offset")
        for uri, off, ln in zip(
            srt["target_uri"], srt["rec_offset"], srt["rec_length"]
        ):
            rec = b""
            if f is not None:
                try:
                    f.seek(int(off))
                    rec = f.read(int(ln))
                except (OSError, ValueError):
                    rec = b""  # negative/corrupt offset or length
            frames = list(_warc_frames(rec))
            # the slice must be EXACTLY one record (a short or long
            # stale length must not pass), and the fetched record
            # must BE the requested one — a stale offset landing on a
            # different record boundary is a wrong answer, not a hit
            ok = len(frames) == 1 and frames[0][1] == len(rec)
            hdr, payload = (frames[0][2], frames[0][3]) if ok else ("", b"")
            rtype, rec_uri, clen, digest = _rec_identity(hdr, payload)
            ok = ok and rec_uri == uri
            out["path"].append(path)
            out["target_uri"].append(uri)
            out["record_type"].append(rtype)
            out["content_length"].append(clen)
            out["payload_md5"].append(digest)
            out["fetch_ok"].append(ok)
        if f is not None:
            f.close()
        return pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("target_uri", T.StringType()),
            T.StructField("record_type", T.StringType()),
            T.StructField("content_length", T.LongType()),
            T.StructField("payload_md5", T.StringType()),
            T.StructField("fetch_ok", T.BooleanType()),
        ]
    )
    return index_df.groupBy("path").applyInPandas(fetch, schema=schema)


@query(
    "llm_multimodal_tolerant",
    oracle=f"""
    WITH j AS (
        SELECT filename, hex(content) AS hx
        FROM read_blob(['{MEDIA_DIR}/jpg_*.jpg',
                        '{MEDIA_DIR}/prog_*.jpeg',
                        '{MEDIA_DIR}/arith_*.jpeg'])
    ),
    s AS (
        SELECT filename, hx,
               regexp_extract(hx,
                   '^(?:[0-9A-F][0-9A-F])*?FF(C0|C2|C9)', 1) AS sof,
               length(regexp_extract(hx,
                   '^((?:[0-9A-F][0-9A-F])*?)FF(C0|C2|C9)', 1)) + 1 AS p
        FROM j
    )
    SELECT filename AS path,
           CASE WHEN filename LIKE '%.jpeg' THEN 'jpeg' ELSE 'jpg' END
               AS media_type,
           CASE WHEN sof IN ('C0', 'C2')
                THEN ('0x' || substr(hx, p + 14, 4))::INT END AS width,
           CASE WHEN sof IN ('C0', 'C2')
                THEN ('0x' || substr(hx, p + 10, 4))::INT END AS height,
           sof IN ('C0', 'C2') AS decode_ok,
           CASE WHEN sof IN ('C0', 'C2') THEN NULL
                ELSE 'NotImplementedError' END AS decode_err
    FROM s
    UNION ALL
    SELECT filename AS path, 'webp' AS media_type,
           NULL::INT AS width, NULL::INT AS height,
           false AS decode_ok, 'NotImplementedError' AS decode_err
    FROM read_blob('{MEDIA_DIR}/lossy_*.webp')
    """,
)
def llm_multimodal_tolerant(spark, sf_dir):
    """Fault-tolerant decode over a corpus that contains unsupported
    sub-formats: the glob covers the baseline jpg_* fixtures, the
    progressive prog_*.jpeg set (now REAL SOF2 decodes),
    arithmetic-coded arith_*.jpeg twins (SOF9 — out of codec scope),
    and a lossy-VP8 .webp (out of codec scope; VP8L decodes for real).
    Decodable rows return real dims from the full pipeline;
    unsupported rows come back flagged ``decode_ok=false`` instead of
    failing the task — at 100 TB one odd file must cost one row, not
    the scan. The oracle re-derives the expected flag from the first
    byte-aligned SOF marker (C0/C2 decode, C9 flagged; lossy webp
    always flagged) and dims from the SOF header for decodable rows.
    """
    assets = read_assets(spark, MEDIA_DIR, glob="{jpg,prog,arith,lossy}_*")
    return extract_features_tolerant(assets).select(
        "path", "media_type", "width", "height", "decode_ok", "decode_err"
    )


def _le32(q: str) -> str:
    """DuckDB little-endian u32 from hex chars at 1-based position q."""
    return (
        f"(('0x' || substr(hx, {q}, 2))::BIGINT"
        f" + 256 * ('0x' || substr(hx, ({q}) + 2, 2))::BIGINT"
        f" + 65536 * ('0x' || substr(hx, ({q}) + 4, 2))::BIGINT"
        f" + 16777216 * ('0x' || substr(hx, ({q}) + 6, 2))::BIGINT)"
    )


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("frame_id", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


@query(
    "llm_multimodal_video",
    oracle=f"""
    WITH v AS (
        SELECT filename, hex(content) AS hx FROM read_blob('{MEDIA_DIR}/*.avi')
    ),
    a AS (
        SELECT filename, position('61766968' IN hx) + 16 AS q, hx FROM v
    ),
    hdr AS (
        SELECT filename,
               {_le32('q + 32')} AS total,
               {_le32('q + 64')} AS width,
               {_le32('q + 72')} AS height
        FROM a
    )
    SELECT filename AS path,
           CAST(unnest(generate_series(0, total - 1, 2)) AS INT) AS frame_id,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(total AS BIGINT) AS n_frames
    FROM hdr
    """,
)
def llm_multimodal_video(spark, sf_dir):
    """REAL video frame sampling: MJPEG-AVI container demux
    (operators/avi.py) + baseline JPEG decode of every 2nd frame, one
    output row per decoded frame — the 1-blob-in / N-rows-out
    row-explosion shape of video ETL. Skipped frames are never
    decoded: demux walks chunk headers only, which is what makes
    sampled decode affordable at 100 TB (codec cost scales with KEPT
    frames). The oracle re-derives frame ids and dimensions from the
    avih header's little-endian fields in raw hex; decoded-pixel
    stats are pytest-verified (lossy codec → not SQL-derivable).
    """
    from .avi import parse_avi
    from .jpeg import decode_jpeg

    assets = read_assets(spark, MEDIA_DIR, glob="vid_*")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "path", "frame_id", "width", "height", "n_frames"
            )}
            for path, blob in zip(pdf["path"], pdf["content"]):
                blob = bytes(blob)
                # ONE container walk per blob: decode_video_frames
                # re-runs parse_avi internally, so calling both paid
                # the demux (and its frame-payload slicing) twice
                _w, _h, total, frames = parse_avi(blob)
                for fid in range(0, len(frames), 2):
                    fw, fh, _px = decode_jpeg(frames[fid])
                    out["path"].append(path)
                    out["frame_id"].append(fid)
                    out["width"].append(fw)
                    out["height"].append(fh)
                    out["n_frames"].append(total)
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# ZIP dataset shards (container family, SURVEY §2.E)
# ---------------------------------------------------------------------------


def _zle(off_expr: str, nbytes: int) -> str:
    """SQL text for a little-endian unsigned int read from the hex
    string ``hx`` at 0-based byte offset ``off_expr`` — the ZIP
    oracle's byte-math primitive (every ZIP integer field is LE)."""
    return " + ".join(
        f"(('0x' || substr(hx, ({off_expr} + {i}) * 2 + 1, 2))::BIGINT"
        f" * {256 ** i})"
        for i in range(nbytes)
    )


def zip_blob_members(b: bytes) -> list[dict]:
    """Pure per-blob central-directory walk (the Spark wrapper below
    maps it over asset shards; extracted so the hypothesis ZIP64
    roundtrip/corruption properties in tests/test_properties.py can
    drive it directly). Fail-closed contract: a bad EOCD/CD/local
    signature or a torn payload stops the walk, keeping members
    already walked; undecodable deflate or unsupported methods drop
    the member."""
    import struct
    import zlib

    members: list[dict] = []
    n = len(b)
    # EOCD: scan backward through the max-comment window
    # (65,535 bytes, APPNOTE 4.4) for the signature whose
    # comment-length field spans exactly to EOF — commented
    # archives parse instead of being silently skipped; a
    # stray PK\x05\x06 inside payload bytes fails the
    # comment-length check and the scan keeps looking
    eocd = -1
    if n >= 22:
        for pos in range(n - 22, max(0, n - 22 - 65535) - 1, -1):
            if b[pos : pos + 4] == b"PK\x05\x06" and (
                pos + 22
                + struct.unpack("<H", b[pos + 20 : pos + 22])[0]
                == n
            ):
                eocd = pos
                break
    if eocd < 0:
        return members  # no EOCD anywhere in the window: not a zip
    n_entries = struct.unpack("<H", b[eocd + 10 : eocd + 12])[0]
    off = struct.unpack("<I", b[eocd + 16 : eocd + 20])[0]
    if n_entries == 0xFFFF or off == 0xFFFFFFFF:
        # zip64: resolve through the locator (20 bytes
        # before the EOCD) and the zip64 EOCD record —
        # fail closed if either signature is missing
        loc = eocd - 20
        if loc < 0 or b[loc : loc + 4] != b"PK\x06\x07":
            return members
        z64 = struct.unpack("<Q", b[loc + 8 : loc + 16])[0]
        if z64 + 56 > n or b[z64 : z64 + 4] != b"PK\x06\x06":
            return members
        n_entries = struct.unpack("<Q", b[z64 + 32 : z64 + 40])[0]
        off = struct.unpack("<Q", b[z64 + 48 : z64 + 56])[0]
    for _ in range(n_entries):
        # bounds BEFORE every unpack (tar-walk contract): a
        # corrupt cd_off/lho that happens to point at a
        # stray signature near EOF must fail closed, not
        # raise struct.error out of the task
        if off + 46 > n or b[off : off + 4] != b"PK\x01\x02":
            break
        (method,) = struct.unpack("<H", b[off + 10 : off + 12])
        _crc_cd, comp, _uncomp_cd = struct.unpack(
            "<III", b[off + 16 : off + 28]
        )
        nl, xl, cl = struct.unpack("<HHH", b[off + 28 : off + 34])
        (lho,) = struct.unpack("<I", b[off + 42 : off + 46])
        if off + 46 + nl + xl > n:
            break  # name/extra torn off the buffer end
        name = b[off + 46 : off + 46 + nl].decode("utf-8", "replace")
        next_off = off + 46 + nl + xl + cl
        if 0xFFFFFFFF in (comp, _uncomp_cd, lho):
            # zip64 member: the sentinel'd fields live in
            # the id-0x0001 extra, in field order, ONLY
            # for the fields that are sentinels (APPNOTE
            # 4.5.3); a sentinel with no zip64 extra is a
            # torn/corrupt directory -> stop the shard
            extra = b[off + 46 + nl : off + 46 + nl + xl]
            zdata, epos = None, 0
            while epos + 4 <= len(extra):
                eid, esz = struct.unpack("<HH", extra[epos : epos + 4])
                if eid == 0x0001:
                    zdata = extra[epos + 4 : epos + 4 + esz]
                    break
                epos += 4 + esz
            if zdata is None:
                break
            zpos = 0
            try:
                if _uncomp_cd == 0xFFFFFFFF:
                    (_uncomp_cd,) = struct.unpack_from("<Q", zdata, zpos)
                    zpos += 8
                if comp == 0xFFFFFFFF:
                    (comp,) = struct.unpack_from("<Q", zdata, zpos)
                    zpos += 8
                if lho == 0xFFFFFFFF:
                    (lho,) = struct.unpack_from("<Q", zdata, zpos)
                    zpos += 8
            except struct.error:
                break  # zip64 extra shorter than declared
        if lho + 30 > n or b[lho : lho + 4] != b"PK\x03\x04":
            break
        lnl, lxl = struct.unpack("<HH", b[lho + 26 : lho + 30])
        p0 = lho + 30 + lnl + lxl
        payload = b[p0 : p0 + comp]
        if len(payload) != comp:
            break  # torn payload: drop, stop the shard
        if method == 8:
            try:
                d = zlib.decompressobj(-15)
                data = d.decompress(payload) + d.flush()
            except zlib.error:
                off = next_off
                continue  # undecodable member: drop it
        elif method == 0:
            data = payload
        else:
            off = next_off
            continue  # unsupported method: declared seam
        members.append({
            "member": name,
            "method": method,
            "comp_size": comp,
            "uncomp_size": len(data),
            "crc32": zlib.crc32(data) & 0xFFFFFFFF,
            "stored_md5": _hex_md5(payload),
        })
        off = next_off
    return members


def zip_members(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of ZIP shards → one row per central-directory
    member, with the payload DECODED (stored or raw-deflate) so
    crc32/uncomp_size are COMPUTED over the decompressed bytes — the
    oracle reads the same numbers from the central directory, so a
    wrong inflate hash-diverges instead of passing silently.

    Fail-closed like the tar/WARC walks: a bad EOCD/CD/local signature
    or a torn payload stops that shard, keeping members already
    walked; compression methods other than stored/deflate drop the
    member (declared seam — the fixtures and the oracle's contract are
    methods 0 and 8). Per-blob logic lives in ``zip_blob_members``."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "path", "member", "method", "comp_size", "uncomp_size",
            "crc32", "stored_md5",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for m in zip_blob_members(bytes(blob)):
                    out["path"].append(path)
                    for k in cols[1:]:
                        out[k].append(m[k])
            yield pd.DataFrame(out)

    return assets.select("path", "content").mapInPandas(
        walk,
        schema=(
            "path string, member string, method long, comp_size long,"
            " uncomp_size long, crc32 long, stored_md5 string"
        ),
    )


@query(
    "llm_zip_members",
    oracle=f"""
    WITH RECURSIVE z AS (
        SELECT filename AS path, hex(content) AS hx,
               octet_length(content) AS n
        FROM read_blob('{MEDIA_DIR}/zipds_*.zip')
    ),
    eocd_cand AS (
        SELECT path, hx, n,
               unnest(generate_series(0, least(65535, n - 22))) AS cl
        FROM z
        WHERE n >= 22
    ),
    eocd AS (
        SELECT path, hx, n, n - 22 - MIN(cl) AS e
        FROM eocd_cand
        WHERE substr(hx, (n - 22 - cl) * 2 + 1, 8) = '504B0506'
          AND {_zle('n - 22 - cl + 20', 2)} = cl
        GROUP BY path, hx, n
    ),
    hdr0 AS (
        SELECT path, hx, n, e,
               {_zle('e + 10', 2)} AS n16,
               {_zle('e + 16', 4)} AS cd32,
               CASE WHEN e >= 20
                    THEN substr(hx, (e - 20) * 2 + 1, 8) END AS loc_sig,
               CASE WHEN e >= 20
                    THEN {_zle('e - 20 + 8', 8)} ELSE 0 END AS z64
        FROM eocd
    ),
    hdr AS (
        SELECT path, hx, n,
               CASE WHEN n16 = 65535 OR cd32 = 4294967295
                    THEN {_zle('z64 + 48', 8)} ELSE cd32 END AS cd_off,
               CASE WHEN n16 = 65535 OR cd32 = 4294967295
                    THEN {_zle('z64 + 32', 8)} ELSE n16 END AS n_entries
        FROM hdr0
        WHERE (n16 <> 65535 AND cd32 <> 4294967295)
           OR (loc_sig = '504B0607' AND z64 + 56 <= n
               AND substr(hx, z64 * 2 + 1, 8) = '504B0606')
    ),
    walk(path, off, k) AS (
        SELECT path, cd_off, 0 FROM hdr WHERE n_entries > 0
        UNION ALL
        SELECT w.path,
               w.off + 46 + {_zle('w.off + 28', 2)}
                         + {_zle('w.off + 30', 2)}
                         + {_zle('w.off + 32', 2)},
               w.k + 1
        FROM walk w JOIN hdr ON hdr.path = w.path
        WHERE w.k + 1 < hdr.n_entries
    ),
    mem0 AS (
        SELECT w.path, w.off, h.hx, h.n,
               {_zle('w.off + 10', 2)} AS method,
               {_zle('w.off + 16', 4)} AS crc32,
               {_zle('w.off + 20', 4)} AS comp_raw,
               {_zle('w.off + 24', 4)} AS uncomp_raw,
               {_zle('w.off + 28', 2)} AS name_len,
               {_zle('w.off + 30', 2)} AS extra_len,
               {_zle('w.off + 42', 4)} AS lho_raw
        FROM walk w JOIN hdr h ON h.path = w.path
    ),
    mem1 AS (
        SELECT *, off + 46 + name_len AS ext0,
               off + 46 + name_len + extra_len AS ext_end
        FROM mem0
    ),"""
    # ORACLE CAP: mem2/mem3/memr below probe only the FIRST THREE extra-field
    # TLV positions (ext0/p1/p2) for the zip64 id-0x0001 record, while the
    # Python walker (zip_members) loops over arbitrarily many extras.  Any
    # future fixture that buries the zip64 record behind 3+ preceding TLVs
    # would silently diverge the two sides — tests/test_llm.py
    # test_zip_fixture_extra_tlv_depth_within_oracle_cap pins the fixture
    # budget to this cap.
    + f"""
    mem2 AS (
        SELECT *, least(ext0 + 4 + {_zle('ext0 + 2', 2)},
                        greatest(n - 10, 0)) AS p1
        FROM mem1
    ),
    mem3 AS (
        SELECT *, least(p1 + 4 + {_zle('p1 + 2', 2)},
                        greatest(n - 10, 0)) AS p2
        FROM mem2
    ),
    memr AS (
        SELECT *,
               CASE WHEN ext0 + 4 <= ext_end
                         AND {_zle('ext0', 2)} = 1 THEN ext0 + 4
                    WHEN p1 + 4 <= ext_end
                         AND {_zle('p1', 2)} = 1 THEN p1 + 4
                    WHEN p2 + 4 <= ext_end
                         AND {_zle('p2', 2)} = 1 THEN p2 + 4
               END AS zd
        FROM mem3
    ),
    members AS (
        SELECT path, off, hx, method, crc32, name_len,
               CASE WHEN uncomp_raw <> 4294967295 THEN uncomp_raw
                    ELSE {_zle('zd', 8)} END AS uncomp_size,
               CASE WHEN comp_raw <> 4294967295 THEN comp_raw
                    ELSE {_zle(
                        'zd + CASE WHEN uncomp_raw = 4294967295'
                        ' THEN 8 ELSE 0 END', 8)} END AS comp_size,
               CASE WHEN lho_raw <> 4294967295 THEN lho_raw
                    ELSE {_zle(
                        'zd'
                        ' + (CASE WHEN uncomp_raw = 4294967295'
                        ' THEN 8 ELSE 0 END)'
                        ' + (CASE WHEN comp_raw = 4294967295'
                        ' THEN 8 ELSE 0 END)', 8)} END AS lho
        FROM memr
    )
    SELECT path,
           decode(unhex(substr(hx, off * 2 + 93, name_len * 2))) AS member,
           method, comp_size, uncomp_size, crc32,
           md5(substr(hx,
                      (lho + 30 + {_zle('lho + 26', 2)}
                               + {_zle('lho + 28', 2)}) * 2 + 1,
                      comp_size * 2)) AS stored_md5
    FROM members
    """,
)
def llm_zip_members(spark, sf_dir):
    """ZIP dataset-shard ingestion — the other dominant container for
    shipped corpora (alongside WebDataset tar): one ``binaryFile``
    task per shard, a ``mapInPandas`` walk of the END-anchored central
    directory exploding each shard into member rows. Unlike the tar
    walk (streaming headers), ZIP's central directory IS a seekable
    index — the walk reads it once and jumps straight to each member's
    local header, exactly how a production loader random-accesses a
    shard.

    The decompression is genuinely oracle-checked via the format's own
    redundancy: Spark emits crc32/uncomp_size COMPUTED over the
    inflated bytes, the oracle reads the same values from central-
    directory FIELDS — a wrong inflate (or a wrong walk) hash-diverges.
    ``stored_md5`` digests the raw stored payload on both sides
    (md5-over-uppercase-hex, the container convention). The SQL twin
    re-walks the same bytes declaratively: little-endian field math
    over hex pairs, a recursive CTE stepping 46+name+extra+comment,
    and a local-header hop for the payload slice.

    Scale shape: shards never co-shuffle; payload bytes never leave
    the executor; member metadata is the only thing that moves.
    """
    return zip_members(read_assets(spark, MEDIA_DIR, glob="zipds_*.zip"))


# ---------------------------------------------------------------------------
# perceptual image dedup (aHash over REAL decodes)
# ---------------------------------------------------------------------------

#: all-pairs refuse gate (the llm_embed_neardup precedent): above this
#: corpus size the pairwise join must go through hamming-LSH banding.
IMAGE_PHASH_MAX_ROWS = 100_000


def image_ahash(assets: DataFrame) -> DataFrame:
    """Per-image 64-bit average hash over REAL pixel decodes (PPM/PNG/
    GIF/JPEG/WebP — whatever :func:`decode_image` speaks): integer
    luma ``(77R+150G+29B)//256``, an 8×8 block grid (``r*8//h``,
    ``c*8//w`` — exact for non-divisible dims), bit set where
    ``block_sum·n_total > total_sum·block_n`` (the overall-mean aHash
    variant — the comparison is integer-exact, so the hash can never
    flip on a float ulp). Emitted as two 32-bit BIGINT halves so bit
    63 never touches the sign bit."""

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("name", "width", "height", "hash_hi", "hash_lo")
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                w, h, px = decode_image(bytes(blob))
                p = px.astype(np.int64)
                luma = (77 * p[:, :, 0] + 150 * p[:, :, 1]
                        + 29 * p[:, :, 2]) // 256
                br = (np.arange(h) * 8) // h
                bc = (np.arange(w) * 8) // w
                bsum = np.zeros((8, 8), dtype=np.int64)
                bn = np.zeros((8, 8), dtype=np.int64)
                np.add.at(bsum, (br[:, None], bc[None, :]), luma)
                np.add.at(bn, (br[:, None], bc[None, :]), 1)
                total, n_total = int(luma.sum()), h * w
                # threshold compare in PYTHON ints: bsum*n_total wraps
                # int64 above ~190 MP (review finding r7) — arbitrary-
                # precision keeps the hash exact at any resolution
                bs_flat = bsum.reshape(64).tolist()
                bn_flat = bn.reshape(64).tolist()
                hv = 0
                for idx in range(64):
                    if bs_flat[idx] * n_total > total * bn_flat[idx]:
                        hv |= 1 << idx
                out["name"].append(path.rsplit("/", 1)[-1])
                out["width"].append(w)
                out["height"].append(h)
                out["hash_hi"].append(hv >> 32)
                out["hash_lo"].append(hv & 0xFFFFFFFF)
            yield pd.DataFrame(out)

    return assets.select("path", "content").mapInPandas(
        hashes,
        schema=(
            "name string, width long, height long,"
            " hash_hi long, hash_lo long"
        ),
    )


#: shared oracle prefix for the aHash keys — derives the SAME 64-bit
#: hashes the Spark decode produces, from the PPM bytes alone (the PNG
#: fixtures are pixel-identical re-encodings, mapped by name), ending
#: in a `hashes(name, hash_hi, hash_lo)` CTE both consumers join on.
_AHASH_CTES = f"""
    WITH ppm AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS pname,
               hex(content) AS hx
        FROM read_blob('{MEDIA_DIR}/img_*.ppm')
    ),
    hdr AS (
        SELECT pname, hx,
            regexp_replace(regexp_extract(hx, '^50360A((?:3[0-9])+)20', 1),
                           '3(.)', '\\1', 'g')::INT AS w,
            regexp_replace(
                regexp_extract(hx, '^50360A(?:3[0-9])+20((?:3[0-9])+)0A', 1),
                '3(.)', '\\1', 'g')::INT AS h
        FROM ppm
    ),
    px AS (
        SELECT pname, w, h,
               3 + length(w::VARCHAR) + 1 + length(h::VARCHAR) + 5
                   AS hdr_len,
               unnest(generate_series(0, w * h - 1)) AS p
        FROM hdr
    ),
    luma AS (
        SELECT x.pname, x.w, x.h,
               ((x.p // x.w) * 8) // x.h AS br,
               ((x.p % x.w) * 8) // x.w AS bc,
               (77 * {_BYTE.format(hx='f.hx', p='x.hdr_len + 3 * x.p + 1')}
                + 150 * {_BYTE.format(hx='f.hx', p='x.hdr_len + 3 * x.p + 2')}
                + 29 * {_BYTE.format(hx='f.hx', p='x.hdr_len + 3 * x.p + 3')}
               ) // 256 AS y
        FROM px x JOIN ppm f USING (pname)
    ),
    blocks AS (
        SELECT pname, w, h, br, bc,
               CAST(SUM(y) AS BIGINT) AS bs, COUNT(*) AS bn
        FROM luma GROUP BY pname, w, h, br, bc
    ),
    tot AS (
        SELECT pname, CAST(SUM(bs) AS BIGINT) AS ts,
               CAST(SUM(bn) AS BIGINT) AS tn
        FROM blocks GROUP BY pname
    ),
    hashes0 AS (
        SELECT b.pname,
               CAST(SUM(CASE WHEN b.bs * t.tn > t.ts * b.bn
                              AND b.br * 8 + b.bc >= 32
                   THEN 1::BIGINT << (b.br * 8 + b.bc - 32)
                   ELSE 0 END) AS BIGINT) AS hash_hi,
               CAST(SUM(CASE WHEN b.bs * t.tn > t.ts * b.bn
                              AND b.br * 8 + b.bc < 32
                   THEN 1::BIGINT << (b.br * 8 + b.bc)
                   ELSE 0 END) AS BIGINT) AS hash_lo
        FROM blocks b JOIN tot t USING (pname)
        GROUP BY b.pname
    ),
    hashes AS (
        SELECT pname AS name, hash_hi, hash_lo FROM hashes0
        UNION ALL
        SELECT replace(replace(pname, 'img_', 'png_'), '.ppm', '.png'),
               hash_hi, hash_lo
        FROM hashes0
    )
"""


@query(
    "llm_image_phash",
    oracle=_AHASH_CTES + """
    SELECT a.name AS a, b.name AS b,
           CAST(bit_count(xor(a.hash_hi, b.hash_hi))
                + bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT)
               AS hamming
    FROM hashes a JOIN hashes b ON a.name < b.name
    WHERE bit_count(xor(a.hash_hi, b.hash_hi))
          + bit_count(xor(a.hash_lo, b.hash_lo)) <= 24
    """,
)
def llm_image_phash(spark, sf_dir):
    """Perceptual image dedup over REAL decodes — the multimodal
    twin of text near-dup: every image (PPM *and* PNG, decoded by the
    repo's own codecs) gets an integer-exact 64-bit aHash, and pairs
    within Hamming 24 are reported. The committed PNG fixtures are
    pixel-identical re-encodings of the PPMs, so the key demonstrates
    exactly what perceptual hashing is for: the same image in two
    formats collides at Hamming 0 (compression-invariant dup), while
    the same generator pattern at different resolutions lands nearby.

    Oracle: the SQL twin re-derives the SAME hashes from the PPM bytes
    alone (luma/block/threshold math over hex pairs — integer-exact,
    so both engines build bit-identical hashes) and maps each PNG to
    its pixel-identical PPM source by name; Spark genuinely decodes
    the PNG bitstream. A divergent decode or hash flips a bit and the
    pair set hash-diverges.

    Scale shape: hashing is scan-side mapInPandas (one decode per
    image, nothing shuffles but 3 BIGINTs/row). The pairwise join is
    the declared fixture-size anchor with a refuse gate at
    {IMAGE_PHASH_MAX_ROWS} rows (the llm_embed_neardup seam pattern);
    at corpus scale candidates come from ``llm_image_phash_lsh`` —
    hamming-LSH banding (16-bit bands, exact-match band join) over
    the same hashes.
    """
    hashes = materialize(
        image_ahash(
            read_assets(spark, MEDIA_DIR, glob="{img_*.ppm,png_*.png}")
        ).select("name", "hash_hi", "hash_lo")
    )
    n = hashes.count()
    if n > IMAGE_PHASH_MAX_ROWS:
        raise ValueError(
            f"llm_image_phash all-pairs anchor refuses {n} rows "
            f"(> {IMAGE_PHASH_MAX_ROWS}); use llm_image_phash_lsh "
            "(hamming-banded candidates) at corpus scale"
        )
    a = hashes.alias("a")
    b = hashes.alias("b")
    ham = F.expr(
        "bit_count(a.hash_hi ^ b.hash_hi) + bit_count(a.hash_lo ^ b.hash_lo)"
    )
    return (
        a.join(b, F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("a"),
            F.col("b.name").alias("b"),
            ham.cast("long").alias("hamming"),
        )
        .filter("hamming <= 24")
    )


@query(
    "llm_image_phash_lsh",
    oracle=_AHASH_CTES + """
    , bands AS (
        SELECT name, hash_hi, hash_lo, b AS band_id,
               CASE WHEN b < 4 THEN (hash_lo >> (8 * b)) & 255
                    ELSE (hash_hi >> (8 * (b - 4))) & 255
               END AS band_val
        FROM hashes, (SELECT unnest(generate_series(0, 7)) AS b)
    ),
    masks AS (
        SELECT m FROM (SELECT unnest(generate_series(0, 255)) AS m)
        WHERE bit_count(m) <= 3
    ),
    probes AS (
        SELECT name, hash_hi, hash_lo, band_id,
               xor(band_val, m) AS band_val
        FROM bands, masks
    ),
    cand AS (
        SELECT DISTINCT a.name AS a, b.name AS b,
               a.hash_hi AS ahi, a.hash_lo AS alo,
               b.hash_hi AS bhi, b.hash_lo AS blo
        FROM probes a JOIN bands b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.name < b.name
    )
    SELECT a, b,
           CAST(bit_count(xor(ahi, bhi))
                + bit_count(xor(alo, blo)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 24
    """,
)
def llm_image_phash_lsh(spark, sf_dir):
    """Hamming-banded scale twin of ``llm_image_phash`` — the path the
    anchor's refuse gate names for corpora past its all-pairs cap.
    Multi-Index Hashing (Norouzi, Punjani & Fleet, CVPR 2012): split
    each 64-bit aHash into m=8 bands of 8 bits; if hamming(a,b) ≤ 24
    then by pigeonhole SOME band differs by ≤ ⌊24/8⌋ = 3 bits, so
    expanding ONE side's band values by the radius-3 Hamming ball (the
    93 masks with ≤3 set bits, broadcast) and equi-joining on
    (band_id, band_val) catches every true pair — recall is exactly
    1.0 BY CONSTRUCTION, not fixture luck (a plain exact-band join at
    this loose threshold measured 0.18 on the fixture and was
    rejected). Candidates are deduped and verified JVM-side with
    ``bit_count(xor) <= 24``, so the output EQUALS the anchor's.

    Unlike most LSH twins this one is fully DETERMINISTIC (fixed bit
    slices, fixed mask set), so it carries a full hash oracle: the SQL
    twin re-derives the hashes from PPM bytes, explodes the same 8
    bands, cross-joins the same 93-mask ball, equi-joins, dedups, and
    verifies — bit-identical both sides.

    Scale shape: hashing stays scan-side (one decode per image; only 3
    BIGINTs/row ever shuffle). The probe side is a broadcast cross
    join (93 tiny masks — a deliberate, bounded 93× row expansion of
    16-byte rows, the published MIH cost), and the candidate join is a
    plain equi-shuffle on (band_id, band_val) — volume scales with
    band-bucket density, not n². A pathological hot bucket (the
    all-uniform band value at web scale) is the standard hot-key case
    the salted-join pattern handles. DISTINCT dedups multi-band
    collisions before the verify, so each pair is scored once.
    """
    hashes = materialize(
        image_ahash(
            read_assets(spark, MEDIA_DIR, glob="{img_*.ppm,png_*.png}")
        ).select("name", "hash_hi", "hash_lo")
    )
    bands = hashes.selectExpr(
        "name",
        "hash_hi",
        "hash_lo",
        "posexplode(array("
        " hash_lo & 255,"
        " shiftright(hash_lo, 8) & 255,"
        " shiftright(hash_lo, 16) & 255,"
        " shiftright(hash_lo, 24) & 255,"
        " hash_hi & 255,"
        " shiftright(hash_hi, 8) & 255,"
        " shiftright(hash_hi, 16) & 255,"
        " shiftright(hash_hi, 24) & 255)) AS (band_id, band_val)",
    )
    masks = spark.range(256).filter("bit_count(id) <= 3").selectExpr(
        "id AS m"
    )
    probes = bands.crossJoin(F.broadcast(masks)).selectExpr(
        "name", "hash_hi", "hash_lo", "band_id", "band_val ^ m AS band_val"
    )
    a = probes.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("a"),
            F.col("b.name").alias("b"),
            F.col("a.hash_hi").alias("ahi"),
            F.col("a.hash_lo").alias("alo"),
            F.col("b.hash_hi").alias("bhi"),
            F.col("b.hash_lo").alias("blo"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(ahi ^ bhi) + bit_count(alo ^ blo)")
    return (
        cand.select("a", "b", ham.cast("long").alias("hamming"))
        .filter("hamming <= 24")
    )


@query(
    "llm_multimodal_tiff",
    oracle=f"""
    WITH ppm AS (
        SELECT filename, hex(content) AS hx
        FROM read_blob('{MEDIA_DIR}/img_*.ppm')
    ),
    ppm_hdr AS (
        SELECT filename, hx,
            regexp_replace(regexp_extract(hx, '^50360A((?:3[0-9])+)20', 1),
                           '3(.)', '\\1', 'g')::INT AS w,
            regexp_replace(
                regexp_extract(hx, '^50360A(?:3[0-9])+20((?:3[0-9])+)0A', 1),
                '3(.)', '\\1', 'g')::INT AS h
        FROM ppm
    ),
    ppm_px AS (
        SELECT filename, w, h,
               3 + length(w::VARCHAR) + 1 + length(h::VARCHAR) + 5 AS hdr_len,
               unnest(generate_series(0, w * h * 3 - 1)) AS i
        FROM ppm_hdr
    )
    SELECT replace(replace(p.filename, 'img_', 'tif_'), '.ppm', '.tif')
               AS path,
           'tif' AS media_type, p.w AS width, p.h AS height,
           ROUND(AVG({_BYTE.format(hx='f.hx', p='p.hdr_len + p.i + 1')}), 6)
               AS mean_pixel
    FROM ppm_px p JOIN ppm f USING (filename)
    GROUP BY p.filename, p.w, p.h
    """,
)
def llm_multimodal_tiff(spark, sf_dir):
    """REAL baseline-TIFF decode (Adobe TIFF 6.0: both byte orders,
    the inline-vs-offset IFD value rule, multi-strip re-assembly,
    PackBits §9 RLE), hash-verified CROSS-FORMAT: each ``tif_{i}.tif``
    fixture is pixel-IDENTICAL to ``img_{i}.ppm``, so — like the
    lossless-JPEG key and unlike the DCT keys — the oracle matches the
    FULL pixel statistics, not just header dims. The committed
    fixtures rotate through II/MM, four strip heights, all three
    compressions (none / PackBits / LZW-with-predictor-2 — TIFF §13
    early-change LZW plus horizontal differencing, what real scans
    use), and — r9 — the TILED organization (§15: tags 322–325,
    edge tiles stored padded to full tile size; tif_2 uncompressed
    tiles, tif_6 LZW+predictor tiles, both with edge padding the
    reader must discard); encoder→decoder exactness is additionally
    pytest-proven over 193 strip + 128 tiled round-trip combinations
    (operators/tiff.py).
    """
    assets = read_assets(spark, MEDIA_DIR, glob="tif_*")
    return extract_features(assets).select(
        "path",
        "media_type",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


# ---------------------------------------------------------------------------
# ISO-BMFF / MP4 dataset shards (container family, SURVEY §2.E)
# ---------------------------------------------------------------------------


def _mbe(off_expr: str, nbytes: int) -> str:
    """SQL text for a BIG-endian unsigned int read from the hex string
    ``hx`` at 0-based byte offset ``off_expr`` — ISO-BMFF is the one
    container in the family whose every integer is BE (network order),
    the mirror of the ZIP walker's ``_zle``."""
    return " + ".join(
        f"(('0x' || substr(hx, ({off_expr} + {i}) * 2 + 1, 2))::BIGINT"
        f" * {256 ** (nbytes - 1 - i)})"
        for i in range(nbytes)
    )


#: box size / header-length / fourcc SQL fragments at offset w.off —
#: handling all three size encodings (32-bit, size==1 → 64-bit
#: largesize, size==0 → to end of parent)
_MP4_SZ = (
    f"CASE WHEN {_mbe('w.off', 4)} = 0 THEN w.lim - w.off"
    f" WHEN {_mbe('w.off', 4)} = 1 THEN {_mbe('w.off + 8', 8)}"
    f" ELSE {_mbe('w.off', 4)} END"
)
_MP4_HDR = f"CASE WHEN {_mbe('w.off', 4)} = 1 THEN 16 ELSE 8 END"
_MP4_TYPE = "decode(unhex(substr(hx, (w.off + 4) * 2 + 1, 8)))"

#: shared recursive box walk: one row per box, (off, lim, par) where
#: par is the parent's /-joined path — the two recursive branches
#: (k=0 advance to next sibling, k=1 descend into a container) mirror
#: the Spark walker's loop + recursion exactly
_MP4_WALK_CTES = f"""
    WITH RECURSIVE z AS (
        SELECT filename AS path, hex(content) AS hx,
               octet_length(content) AS n
        FROM read_blob('{MEDIA_DIR}/mp4_*.mp4')
    ),
    walk(path, off, lim, par) AS (
        SELECT path, 0, n, '' FROM z
        UNION ALL
        SELECT w.path,
               CASE kk.k WHEN 0 THEN w.off + {_MP4_SZ}
                         ELSE w.off + {_MP4_HDR} END,
               CASE kk.k WHEN 0 THEN w.lim ELSE w.off + {_MP4_SZ} END,
               CASE kk.k WHEN 0 THEN w.par
                    ELSE CASE WHEN w.par = '' THEN {_MP4_TYPE}
                         ELSE w.par || '/' || {_MP4_TYPE} END END
        FROM walk w JOIN z USING (path)
             CROSS JOIN (SELECT unnest([0, 1]) AS k) kk
        WHERE (kk.k = 0 AND w.off + {_MP4_SZ} + 8 <= w.lim)
           OR (kk.k = 1
               AND {_MP4_TYPE} IN ('moov','trak','mdia','minf',
                                   'stbl','dinf','edts','udta')
               AND w.off + {_MP4_HDR} + 8 <= w.off + {_MP4_SZ})
    )
"""


def mp4_boxes_df(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of MP4 shards → one row per box in the tree
    (full /-joined path, fourcc, absolute offset, size). Fail-closed:
    a torn or lying box header stops that shard's walk, keeping boxes
    already emitted (operators/mp4.py `parse_boxes`)."""
    from .mp4 import parse_boxes

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("path", "box_path", "box_type", "box_offset", "box_size")
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for bpath, btype, off, size in parse_boxes(bytes(blob)):
                    out["path"].append(path)
                    out["box_path"].append(bpath)
                    out["box_type"].append(btype)
                    out["box_offset"].append(off)
                    out["box_size"].append(size)
            yield pd.DataFrame(out)

    return assets.select("path", "content").mapInPandas(
        run,
        schema=(
            "path string, box_path string, box_type string,"
            " box_offset long, box_size long"
        ),
    )


@query(
    "llm_mp4_boxes",
    oracle=_MP4_WALK_CTES + f"""
    SELECT w.path,
           CASE WHEN w.par = '' THEN {_MP4_TYPE}
                ELSE w.par || '/' || {_MP4_TYPE} END AS box_path,
           {_MP4_TYPE} AS box_type,
           CAST(w.off AS BIGINT) AS box_offset,
           CAST({_MP4_SZ} AS BIGINT) AS box_size
    FROM walk w JOIN z USING (path)
    """,
)
def llm_mp4_boxes(spark, sf_dir):
    """ISO-BMFF (MP4) box-tree demux — the container real multimodal
    corpora ship video in (ISO/IEC 14496-12): one ``binaryFile`` task
    per shard, a recursive box walk emitting every box with its full
    path, absolute offset, and size. The committed fixtures rotate
    through the spec's structural branches: 32-bit sizes, the
    ``size==1`` 64-bit largesize escape (on ``mdat``), a trailing
    ``size==0`` to-EOF ``free`` box, ``stco`` vs ``co64`` offset
    tables, and multi-run ``stsc`` chunking.

    The SQL twin re-walks the same bytes declaratively: big-endian
    field math over hex pairs and a recursive CTE whose two branches
    (advance-to-sibling / descend-into-container) mirror the Python
    walker's loop and recursion — a wrong size decode or a missed
    descent diverges the box set.

    Scale shape: shards never co-shuffle; payload bytes never leave
    the executor; only box metadata rows move.
    """
    return mp4_boxes_df(read_assets(spark, MEDIA_DIR, glob="mp4_*.mp4"))


def mp4_samples_df(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of MP4 shards → one row per video sample with
    its absolute offset/size from the ``stbl`` index (stsz/stsc/stco/
    co64 — no mdat scan), the payload digest, and the REAL decoded
    JPEG dimensions. Fail-closed: torn tables or a sample overrunning
    the file yield no rows for that shard (operators/mp4.py)."""
    from .mp4 import mp4_samples

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "path", "sample_id", "offset", "size", "sample_md5",
            "width", "height",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                b = bytes(blob)
                for i, off, size, _w, _h in mp4_samples(b):
                    payload = b[off : off + size]
                    try:
                        # decode_image, not raw decode_jpeg: the one
                        # seam that NORMALIZES the codec's mechanical
                        # classes (KeyError from a missing Huffman
                        # table, struct.error, OverflowError, ...) to
                        # ValueError — a raw call leaks them past this
                        # catch list and kills the task (r9 review)
                        dw, dh, _px = decode_image(payload)
                    except (ValueError, IndexError, NotImplementedError):
                        # intact stbl tables pointing at a torn/corrupt
                        # mdat span: drop the sample, keep the shard —
                        # the zip walker's undecodable-member seam
                        continue
                    out["path"].append(path)
                    out["sample_id"].append(i)
                    out["offset"].append(off)
                    out["size"].append(size)
                    out["sample_md5"].append(_hex_md5(payload))
                    out["width"].append(dw)
                    out["height"].append(dh)
            yield pd.DataFrame(out)

    return assets.select("path", "content").mapInPandas(
        run,
        schema=(
            "path string, sample_id long, offset long, size long,"
            " sample_md5 string, width long, height long"
        ),
    )


@query(
    "llm_mp4_samples",
    oracle=_MP4_WALK_CTES + f"""
    , tb AS (
        SELECT w.path,
               MIN(CASE WHEN {_MP4_TYPE} = 'stsz' THEN w.off END) AS z_off,
               MIN(CASE WHEN {_MP4_TYPE} = 'stsc' THEN w.off END) AS c_off,
               MIN(CASE WHEN {_MP4_TYPE} = 'stco' THEN w.off END) AS o32,
               MIN(CASE WHEN {_MP4_TYPE} = 'co64' THEN w.off END) AS o64,
               MIN(CASE WHEN {_MP4_TYPE} = 'stsd' THEN w.off END) AS d_off
        FROM walk w JOIN z USING (path)
        GROUP BY w.path
    ),
    sz AS (
        SELECT path, i,
               CASE WHEN {_mbe('z_off + 12', 4)} > 0
                    THEN {_mbe('z_off + 12', 4)}
                    ELSE {_mbe('z_off + 20 + 4 * i', 4)} END AS ssz
        FROM (
            SELECT t.path, t.z_off, hx,
                   unnest(generate_series(
                       0, {_mbe('t.z_off + 16', 4)} - 1)) AS i
            FROM tb t JOIN z USING (path)
        )
    ),
    ck AS (
        SELECT path, j,
               CASE WHEN o64 IS NOT NULL
                    THEN {_mbe('o64 + 16 + 8 * j', 8)}
                    ELSE {_mbe('o32 + 16 + 4 * j', 4)} END AS coff
        FROM (
            SELECT t.path, t.o32, t.o64, hx,
                   unnest(generate_series(0,
                       CASE WHEN t.o64 IS NOT NULL
                            THEN {_mbe('t.o64 + 12', 4)}
                            ELSE {_mbe('t.o32 + 12', 4)} END - 1)) AS j
            FROM tb t JOIN z USING (path)
        )
    ),
    runs AS (
        SELECT path,
               {_mbe('c_off + 16 + 12 * k', 4)} AS first_chunk,
               {_mbe('c_off + 20 + 12 * k', 4)} AS spc
        FROM (
            SELECT t.path, t.c_off, hx,
                   unnest(generate_series(
                       0, {_mbe('t.c_off + 12', 4)} - 1)) AS k
            FROM tb t JOIN z USING (path)
        )
    ),
    spcm AS (
        SELECT path, j, coff, spc FROM (
            SELECT c.path, c.j, c.coff, r.spc,
                   row_number() OVER (PARTITION BY c.path, c.j
                                      ORDER BY r.first_chunk DESC) AS rn
            FROM ck c JOIN runs r
              ON r.path = c.path AND r.first_chunk <= c.j + 1
        ) WHERE rn = 1
    ),
    cum AS (
        SELECT path, j, coff, spc,
               SUM(spc) OVER (PARTITION BY path ORDER BY j) AS cum_end
        FROM spcm
    ),
    po AS (
        SELECT path, i, ssz, j,
               CAST(coff + COALESCE(SUM(ssz) OVER (
                   PARTITION BY path, j ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS soff
        FROM (
            SELECT s.path, s.i, s.ssz, c.j, c.coff
            FROM sz s JOIN cum c ON s.path = c.path
                AND s.i >= c.cum_end - c.spc AND s.i < c.cum_end
        )
    ),
    dims AS (
        SELECT t.path, {_mbe('t.d_off + 48', 2)} AS w,
               {_mbe('t.d_off + 50', 2)} AS h
        FROM tb t JOIN z USING (path)
    )
    SELECT p.path, CAST(p.i AS BIGINT) AS sample_id,
           CAST(p.soff AS BIGINT) AS offset,
           CAST(p.ssz AS BIGINT) AS size,
           md5(substr(z.hx, p.soff * 2 + 1, p.ssz * 2)) AS sample_md5,
           CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height
    FROM po p JOIN z USING (path) JOIN dims d ON d.path = p.path
    """,
)
def llm_mp4_samples(spark, sf_dir):
    """MP4 sample extraction via the ``stbl`` seekable index — the
    production read path: per-sample absolute offsets computed from
    stsz (per-sample sizes), stsc (sample→chunk runs), stco/co64
    (32/64-bit chunk offsets), never scanning ``mdat``. Spark emits
    each sample's md5 digest and its REAL decoded JPEG dimensions
    (the repo's own baseline-JPEG decoder); the oracle re-derives the
    offsets/sizes from the same tables in SQL (run expansion via
    windowed argmax, within-chunk offsets via a prefix-sum window),
    digests the identical byte span, and reads the DECLARED dims from
    the ``stsd`` VisualSampleEntry — so a wrong walk, a wrong offset
    computation, or a decode disagreeing with the container's
    declaration all hash-diverge. ``mp4_{{0,1,2}}`` carry the SAME
    JPEG payloads as ``vid_{{0,1,2}}.avi`` (cross-format twin,
    pytest-pinned byte-identical).

    Scale shape: one task per shard, payloads never shuffle; only
    sample metadata rows move.
    """
    return mp4_samples_df(read_assets(spark, MEDIA_DIR, glob="mp4_*.mp4"))


# ---------------------------------------------------------------------------
# MP3 frame-index walk (operators/mp3.py)
# ---------------------------------------------------------------------------

def _mp3b(off_expr: str) -> str:
    """One byte of ``hx`` at 0-based offset — the MP3 oracle's read
    primitive (headers are big-endian bit fields within single bytes,
    so byte reads + integer shifts express everything)."""
    return f"(('0x' || substr(hx, ({off_expr}) * 2 + 1, 2))::BIGINT)"


#: header bit fields at the walk's current offset ``w.off``
_MP3_B1 = _mp3b("w.off + 1")
_MP3_B2 = _mp3b("w.off + 2")
_MP3_VERB = f"(({_MP3_B1} >> 3) & 3)"   # 3 = MPEG-1, 2 = MPEG-2
_MP3_LAYB = f"(({_MP3_B1} >> 1) & 3)"   # 3 = Layer I ... 1 = Layer III
_MP3_BIDX = f"({_MP3_B2} >> 4)"
_MP3_SIDX = f"(({_MP3_B2} >> 2) & 3)"
_MP3_PAD = f"(({_MP3_B2} >> 1) & 1)"

#: ISO 11172-3 / 13818-3 bitrate tables (kbps), 1-based list indexing;
#: an out-of-range index (0 = free format, 15 = bad) yields NULL, which
#: poisons the frame-length arithmetic and fails the walk predicate —
#: fail closed without a separate guard
_MP3_BR = f"""(CASE
    WHEN {_MP3_VERB} = 3 AND {_MP3_LAYB} = 3 THEN
        [32,64,96,128,160,192,224,256,288,320,352,384,416,448]
    WHEN {_MP3_VERB} = 3 AND {_MP3_LAYB} = 2 THEN
        [32,48,56,64,80,96,112,128,160,192,224,256,320,384]
    WHEN {_MP3_VERB} = 3 THEN
        [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
    WHEN {_MP3_LAYB} = 3 THEN
        [32,48,56,64,80,96,112,128,144,160,176,192,224,256]
    ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160]
    END)[{_MP3_BIDX}]"""
_MP3_SR = (
    f"(CASE WHEN {_MP3_VERB} = 3 THEN [44100,48000,32000]"
    f" ELSE [22050,24000,16000] END)[{_MP3_SIDX} + 1]"
)
#: frame length: Layer I counts 4-byte slots; Layer II always 144
#: coefficient; Layer III halves to 72 for MPEG-2 — integer division
#: (values positive, so DuckDB's truncating // == the walker's floor //)
_MP3_FLEN = f"""(CASE
    WHEN {_MP3_LAYB} = 3 THEN (12000 * {_MP3_BR} // {_MP3_SR} + {_MP3_PAD}) * 4
    WHEN {_MP3_LAYB} = 2 OR {_MP3_VERB} = 3 THEN
        144000 * {_MP3_BR} // {_MP3_SR} + {_MP3_PAD}
    ELSE 72000 * {_MP3_BR} // {_MP3_SR} + {_MP3_PAD} END)"""
_MP3_VALID = f"""(w.off + 4 <= n
    AND {_mp3b('w.off')} = 255 AND ({_MP3_B1} & 224) = 224
    AND {_MP3_VERB} IN (2, 3) AND {_MP3_LAYB} <> 0
    AND {_MP3_BIDX} BETWEEN 1 AND 14 AND {_MP3_SIDX} <> 3
    AND w.off + {_MP3_FLEN} <= n)"""


def mp3_frames_df(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of MP3 shards → one row per frame from the
    header-arithmetic walk (operators/mp3.py `mp3_frames`): absolute
    offset, spec-exact length, decoded header fields, and the frame's
    digest. Fail-closed: a torn frame or lost sync stops that shard's
    walk, keeping frames already emitted."""
    from .mp3 import mp3_frames

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "path", "frame_id", "frame_offset", "frame_len", "version",
            "layer", "bitrate_kbps", "samplerate", "padding", "frame_md5",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for row in mp3_frames(bytes(blob)):
                    for k, v in zip(cols[1:], row):
                        out[k].append(v)
                    out["path"].append(path)
            yield pd.DataFrame(out)

    return assets.select("path", "content").mapInPandas(
        run,
        schema=(
            "path string, frame_id long, frame_offset long,"
            " frame_len long, version long, layer long,"
            " bitrate_kbps long, samplerate long, padding long,"
            " frame_md5 string"
        ),
    )


@query(
    "llm_mp3_frames",
    oracle=f"""
    WITH RECURSIVE z AS (
        SELECT filename AS path, hex(content) AS hx,
               octet_length(content) AS n
        FROM read_blob('{{MEDIA}}/mp3_*.mp3')
    ),
    st AS (
        SELECT path,
               CASE WHEN n >= 10 AND substr(hx, 1, 6) = '494433'
                         AND ({_mp3b('6')} & 128) = 0
                         AND ({_mp3b('7')} & 128) = 0
                         AND ({_mp3b('8')} & 128) = 0
                         AND ({_mp3b('9')} & 128) = 0
                    THEN 10 + ({_mp3b('6')} & 127) * 2097152
                            + ({_mp3b('7')} & 127) * 16384
                            + ({_mp3b('8')} & 127) * 128
                            + ({_mp3b('9')} & 127)
                    ELSE 0 END AS s
        FROM z
    ),
    walk(path, frame_id, off) AS (
        SELECT path, 0, s FROM st
        UNION ALL
        SELECT w.path, w.frame_id + 1, w.off + {_MP3_FLEN}
        FROM walk w JOIN z USING (path)
        WHERE {_MP3_VALID}
    )
    SELECT w.path, CAST(w.frame_id AS BIGINT) AS frame_id,
           CAST(w.off AS BIGINT) AS frame_offset,
           CAST({_MP3_FLEN} AS BIGINT) AS frame_len,
           CAST(CASE WHEN {_MP3_VERB} = 3 THEN 1 ELSE 2 END AS BIGINT)
               AS version,
           CAST(4 - {_MP3_LAYB} AS BIGINT) AS layer,
           CAST({_MP3_BR} AS BIGINT) AS bitrate_kbps,
           CAST({_MP3_SR} AS BIGINT) AS samplerate,
           CAST({_MP3_PAD} AS BIGINT) AS padding,
           md5(substr(hx, w.off * 2 + 1, {_MP3_FLEN} * 2)) AS frame_md5
    FROM walk w JOIN z USING (path)
    WHERE {_MP3_VALID}
    """.replace("{MEDIA}", MEDIA_DIR),
)
def llm_mp3_frames(spark, sf_dir):
    """MP3 frame-index walk — the audio member of the container family
    (WARC/tar/ZIP/bz2/MP4): audio corpora overwhelmingly ship as MP3,
    and while the subband DECODE is the engine's declared lossy-codec
    seam, the frame *table* is pure public-spec header arithmetic
    (ISO 11172-3 / 13818-3 bitrate+samplerate tables, padding bit →
    frame-length chain) — so one pass makes an MP3 corpus seekable,
    exactly what the WARC CDX does for crawls. Fixtures rotate through
    MPEG-1/2, Layers I/II/III, CBR and VBR chains, an ID3v2 prefix
    (syncsafe size skip), an ID3v1 trailer (walk terminates at lost
    sync), and a torn final frame (dropped, earlier frames kept).

    The oracle re-walks the same bytes declaratively: a recursive CTE
    stepping the identical byte strides from hex, with the spec tables
    as list lookups — a wrong table entry, padding slip, or
    Layer-I-slot mistake diverges every subsequent offset and digest.

    Scale shape: one ``binaryFile`` task per shard; payload bytes
    never leave the executor; only frame metadata rows move.
    """
    return mp3_frames_df(read_assets(spark, MEDIA_DIR, glob="mp3_*.mp3"))


# ---------------------------------------------------------------------------
# Ogg container page walk (operators/ogg.py)
# ---------------------------------------------------------------------------

def _oggb(off_expr: str) -> str:
    """One byte of ``hx`` at 0-based offset — the Ogg oracle's read
    primitive (multi-byte fields are little-endian, composed from
    byte reads with integer multiplies)."""
    return f"(('0x' || substr(hx, ({off_expr}) * 2 + 1, 2))::BIGINT)"


def _ogg_le(base: str, nbytes: int) -> str:
    """Little-endian unsigned integer of ``nbytes`` at ``base``,
    accumulated in HUGEINT (an 8-byte field tops out at 2^64-1, past
    BIGINT range)."""
    terms = " + ".join(
        f"{_oggb(f'{base} + {i}')}::HUGEINT * {1 << (8 * i)}"
        for i in range(nbytes)
    )
    return f"({terms})"


_OGG_FLAGS = _oggb("w.off + 5")
_OGG_NSEG = _oggb("w.off + 26")
#: granule position is SIGNED 64-bit LE (-1 marks a no-packets-end
#: page), so wrap the unsigned read back into int64 range
_OGG_GRANULE = f"""(CASE
    WHEN {_ogg_le('w.off + 6', 8)} >= 9223372036854775808
    THEN {_ogg_le('w.off + 6', 8)} - 18446744073709551616
    ELSE {_ogg_le('w.off + 6', 8)} END)"""
_OGG_LACING = (
    f"list_transform(range({_OGG_NSEG}),"
    f" i -> ('0x' || substr(hx, (w.off + 27 + i) * 2 + 1, 2))::BIGINT)"
)
_OGG_BODY = f"CAST(COALESCE(list_sum({_OGG_LACING}), 0) AS BIGINT)"
_OGG_PLEN = f"(27 + {_OGG_NSEG} + {_OGG_BODY})"
#: the oracle mirrors every WALKER check except the CRC (declared cap:
#: re-deriving a table-fold CRC per byte in SQL buys nothing on
#: writer-CRC'd fixtures; the corrupt-CRC seam is pytest-pinned on
#: non-fixture bytes — see operators/ogg.py module docstring)
_OGG_VALID = f"""(w.off + 27 <= n
    AND substr(hx, w.off * 2 + 1, 8) = '4F676753'
    AND {_oggb('w.off + 4')} = 0 AND ({_OGG_FLAGS} & 248) = 0
    AND w.off + 27 + {_OGG_NSEG} <= n
    AND w.off + {_OGG_PLEN} <= n)"""


def ogg_pages_df(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of Ogg shards → one row per page from the
    header-arithmetic walk (operators/ogg.py `ogg_pages`): absolute
    offset, self-delimited length, flag bits, granule/serial/sequence
    demux fields, completed-packet count, and the page digest.
    Fail-closed: a torn page, lost capture, reserved flag, or CRC
    mismatch stops that shard's walk, keeping pages already emitted."""
    from .ogg import ogg_pages

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "path", "page_id", "page_offset", "page_len", "continued",
            "bos", "eos", "granule", "serial", "page_seq", "nsegs",
            "body_len", "npackets", "page_md5",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for row in ogg_pages(bytes(blob)):
                    for k, v in zip(cols[1:], row):
                        out[k].append(v)
                    out["path"].append(path)
            yield pd.DataFrame(out)

    return assets.select("path", "content").mapInPandas(
        run,
        schema=(
            "path string, page_id long, page_offset long, page_len long,"
            " continued long, bos long, eos long, granule long,"
            " serial long, page_seq long, nsegs long, body_len long,"
            " npackets long, page_md5 string"
        ),
    )


@query(
    "llm_ogg_pages",
    oracle=f"""
    WITH RECURSIVE z AS (
        SELECT filename AS path, hex(content) AS hx,
               octet_length(content) AS n
        FROM read_blob('{{MEDIA}}/ogg_*.ogg')
    ),
    walk(path, page_id, off) AS (
        SELECT path, 0, 0 FROM z
        UNION ALL
        SELECT w.path, w.page_id + 1, w.off + {_OGG_PLEN}
        FROM walk w JOIN z USING (path)
        WHERE {_OGG_VALID}
    )
    SELECT w.path, CAST(w.page_id AS BIGINT) AS page_id,
           CAST(w.off AS BIGINT) AS page_offset,
           CAST({_OGG_PLEN} AS BIGINT) AS page_len,
           CAST({_OGG_FLAGS} & 1 AS BIGINT) AS continued,
           CAST(({_OGG_FLAGS} >> 1) & 1 AS BIGINT) AS bos,
           CAST(({_OGG_FLAGS} >> 2) & 1 AS BIGINT) AS eos,
           CAST({_OGG_GRANULE} AS BIGINT) AS granule,
           CAST({_ogg_le('w.off + 14', 4)} AS BIGINT) AS serial,
           CAST({_ogg_le('w.off + 18', 4)} AS BIGINT) AS page_seq,
           CAST({_OGG_NSEG} AS BIGINT) AS nsegs,
           {_OGG_BODY} AS body_len,
           CAST(len(list_filter({_OGG_LACING}, x -> x < 255))
                AS BIGINT) AS npackets,
           md5(substr(hx, w.off * 2 + 1, {_OGG_PLEN} * 2)) AS page_md5
    FROM walk w JOIN z USING (path)
    WHERE {_OGG_VALID}
    """.replace("{MEDIA}", MEDIA_DIR),
)
def llm_ogg_pages(spark, sf_dir):
    """Ogg page-index walk — the container family's second audio
    member (MP3 covers raw frame chains; Ogg is the *multiplexed*
    audio container Vorbis/Opus corpora ship in). Pages are
    self-delimiting from the 27-byte header + segment table alone
    (RFC 3533), so one pass makes an Ogg corpus seekable AND
    demuxable: the serial column keys the interleaved logical
    streams, granule positions give the time index, and lacing
    values (< 255 terminates a packet) count packet boundaries
    without touching codec bytes — decode stays the declared
    lossy-codec seam. Fixtures rotate through a single BOS→EOS
    stream, a physically multiplexed pair of streams, a packet
    spanning pages via 255-lacing continuation (plus the exact
    zero-lacing terminator corner), trailing junk after the chain,
    and a torn final page (dropped, earlier pages kept); every CRC is
    writer-computed, and the walker's CRC rejection is pytest-pinned
    on non-fixture bytes (the oracle's declared cap — see
    operators/ogg.py).

    The oracle re-walks the same bytes declaratively: a recursive CTE
    stepping page strides derived from the segment table as a list
    fold over hex — a wrong lacing sum, flag decode, or little-endian
    slip diverges every subsequent offset and digest.

    Scale shape: one ``binaryFile`` task per shard; payload bytes
    never leave the executor; only page metadata rows move.
    """
    return ogg_pages_df(read_assets(spark, MEDIA_DIR, glob="ogg_*.ogg"))


def ogg_streams_df(assets: DataFrame) -> DataFrame:
    """Asset DataFrame of Ogg shards → one row per LOGICAL stream
    (serial) from the demux summary (operators/ogg.py `ogg_streams`):
    codec identified from the BOS page's ID packet, page/packet
    census, granule endpoints, EOS flag, and the codec's declared
    channels / sample rate / pre-skip where the header is known."""
    from .ogg import ogg_streams

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "path", "serial", "codec", "n_pages", "n_packets",
            "first_granule", "last_granule", "eos_seen", "channels",
            "sample_rate", "pre_skip",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, blob in zip(pdf["path"], pdf["content"]):
                for row in ogg_streams(bytes(blob)):
                    for k, v in zip(cols[1:], row):
                        out[k].append(v)
                    out["path"].append(path)
            yield pd.DataFrame(out)

    return assets.select("path", "content").mapInPandas(
        run,
        schema=(
            "path string, serial long, codec string, n_pages long,"
            " n_packets long, first_granule long, last_granule long,"
            " eos_seen long, channels long, sample_rate long,"
            " pre_skip long"
        ),
    )


#: BOS-page first-packet field reads for the streams oracle: absolute
#: byte offsets into the page body (b.boff = page offset + 27 + nsegs)
def _oggsb(off_expr: str) -> str:
    return f"(('0x' || substr(hx, ({off_expr}) * 2 + 1, 2))::BIGINT)"


@query(
    "llm_ogg_streams",
    oracle=f"""
    WITH RECURSIVE z AS (
        SELECT filename AS path, hex(content) AS hx,
               octet_length(content) AS n
        FROM read_blob('{{MEDIA}}/ogg_*.ogg')
    ),
    walk(path, page_id, off) AS (
        SELECT path, 0, 0 FROM z
        UNION ALL
        SELECT w.path, w.page_id + 1, w.off + {_OGG_PLEN}
        FROM walk w JOIN z USING (path)
        WHERE {_OGG_VALID}
    ),
    p AS (
        SELECT w.path, w.page_id, w.off,
               {_OGG_FLAGS} AS flags, {_OGG_NSEG} AS nsegs,
               CAST({_OGG_GRANULE} AS BIGINT) AS granule,
               CAST({_ogg_le('w.off + 14', 4)} AS BIGINT) AS serial,
               CAST(len(list_filter({_OGG_LACING}, x -> x < 255))
                    AS BIGINT) AS npackets
        FROM walk w JOIN z USING (path)
        WHERE {_OGG_VALID}
    ),
    agg AS (
        SELECT path, serial,
               CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(SUM(npackets) AS BIGINT) AS n_packets,
               arg_min(granule, page_id) AS first_granule,
               arg_max(granule, page_id) AS last_granule,
               CAST(MAX((flags >> 2) & 1) AS BIGINT) AS eos_seen
        FROM p GROUP BY path, serial
    ),
    bosp AS (
        SELECT p.path, p.serial,
               p.off + 27 + p.nsegs AS boff,
               CASE WHEN p.nsegs > 0
                    THEN {_oggsb('p.off + 27')} ELSE 0 END AS plen,
               hx
        FROM p JOIN z USING (path)
        WHERE (p.flags >> 1) & 1 = 1
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p.path, p.serial
                                   ORDER BY p.page_id DESC) = 1
    ),
    ident AS (
        SELECT path, serial,
               CASE
                 WHEN plen >= 19 AND substr(hx, boff * 2 + 1, 16)
                      = '4F70757348656164' THEN 'opus'
                 WHEN plen >= 16 AND substr(hx, boff * 2 + 1, 14)
                      = '01766F72626973' THEN 'vorbis'
                 WHEN plen >= 7 AND substr(hx, boff * 2 + 1, 14)
                      = '807468656F7261' THEN 'theora'
                 ELSE 'unknown' END AS codec,
               CASE
                 WHEN plen >= 19 AND substr(hx, boff * 2 + 1, 16)
                      = '4F70757348656164'
                 THEN {_oggsb('boff + 9')}
                 WHEN plen >= 16 AND substr(hx, boff * 2 + 1, 14)
                      = '01766F72626973'
                 THEN {_oggsb('boff + 11')}
                 END AS channels,
               CASE
                 WHEN plen >= 19 AND substr(hx, boff * 2 + 1, 16)
                      = '4F70757348656164'
                 THEN CAST({_ogg_le('boff + 12', 4)} AS BIGINT)
                 WHEN plen >= 16 AND substr(hx, boff * 2 + 1, 14)
                      = '01766F72626973'
                 THEN CAST({_ogg_le('boff + 12', 4)} AS BIGINT)
                 END AS sample_rate,
               CASE
                 WHEN plen >= 19 AND substr(hx, boff * 2 + 1, 16)
                      = '4F70757348656164'
                 THEN CAST({_ogg_le('boff + 10', 2)} AS BIGINT)
                 END AS pre_skip
        FROM bosp
    )
    SELECT a.path, a.serial, COALESCE(i.codec, 'unknown') AS codec,
           a.n_pages, a.n_packets, a.first_granule, a.last_granule,
           a.eos_seen, i.channels, i.sample_rate, i.pre_skip
    FROM agg a LEFT JOIN ident i USING (path, serial)
    """.replace("{MEDIA}", MEDIA_DIR),
)
def llm_ogg_streams(spark, sf_dir):
    """Ogg logical-stream demux — the layer above `llm_ogg_pages`:
    group the page walk by bitstream serial into per-stream summaries
    and identify the codec from the BOS page's ID packet, which the
    specs require to sit ALONE on that page (RFC 7845 §4, Vorbis I
    §4.2.1) — so codec, channel count, sample rate, and Opus pre-skip
    are pure byte arithmetic, no cross-page packet reassembly and no
    codec decode (that stays the declared lossy seam). Unknown magics
    and torn-away BOS pages report ``unknown`` with NULL fields —
    fail-closed, never a guess. This is the triage pass a 100 TB
    audio-crawl curator runs first: what codecs, how many streams,
    sample-rate census, which files are truncated (no EOS).

    The oracle re-derives everything from hex: the page-walk
    recursive CTE feeds a per-(path, serial) aggregate plus a
    BOS-packet field parse at the same absolute byte offsets.

    Scale shape: one ``binaryFile`` task per shard; only per-stream
    summary rows (a handful per file) ever move.
    """
    return ogg_streams_df(read_assets(spark, MEDIA_DIR, glob="ogg_*.ogg"))
