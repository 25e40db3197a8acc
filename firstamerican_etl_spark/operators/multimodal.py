"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched pandas over
``mapInPandas``.

Pattern (the 100 TB shape):

- assets live in parquet as ``payload: binary`` + ``meta: struct`` —
  NEVER decoded inside Catalyst expressions; all pixel/sample work
  happens in vectorized Python batches (Arrow transfer, no per-row
  pickling)
- decode / resize / frame-sample are per-row kernels behind
  ``operators/kernels.map_rows`` (one narrow ``mapInPandas`` stage):
  one executor task per input split, ``spark.sql.execution.arrow
  .maxRecordsPerBatch`` bounds batch memory (payloads are big — set it
  low for real assets)
- partitioning: assets are hash-distributed on asset id; a decode stage
  preserves partitioning (narrow), so chained decode→resize→featurize
  incurs zero shuffles

Real codecs (PIL/opencv/torchaudio) are NOT in this container, so the
pixel decoder is gated: ``decode_image_real`` raises
``NotImplementedError`` unless PIL imports, and the default pipeline
uses ``decode_assets`` — a deterministic byte-statistics "decode" that
exercises identical schemas, batch shapes, and row-multiplicity as a
real decoder would.
"""

from __future__ import annotations

import hashlib
import math
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from firstamerican_etl_spark.operators.kernels import map_rows

#: Typed metadata carried alongside every binary payload.
ASSET_META = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", ASSET_META),
    ]
)


def _asset_row(asset_id, payload: bytes, fmt: str, width: int, height: int) -> tuple:
    """One ``ASSET_SCHEMA`` row; ``n_bytes`` is the payload length."""
    meta = {"format": fmt, "width": width, "height": height, "n_bytes": len(payload)}
    return asset_id, payload, meta


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Materialize a deterministic multimodal table from ``documents``:
    payload = utf-8 bytes of the text (an opaque blob as far as the
    engine is concerned), metadata derived from doc_id/text. This is
    the test stand-in for a real ingest of image/audio bytes — the
    engine-side handling (binary column + struct metadata) is identical.
    """
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("fake/rgb8").alias("format"),
            (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
            F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


# ------------------------------------------------------------- decode

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def _decode_row(asset_id, payload: bytes, width: int, height: int, values) -> tuple:
    """One ``DECODE_SCHEMA`` row: ``mean_byte`` is the mean of the
    decoded sample ``values`` (0.0 when empty), ``checksum`` the crc32
    of the raw payload."""
    mean = sum(values) / len(values) if values else 0.0
    return asset_id, width, height, len(payload), mean, zlib.crc32(payload)


def _pil_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode with pillow: (width, height, flat values over all bands)."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload))
    px = list(img.getdata())
    flat = [v for tup in px for v in tup] if px and isinstance(px[0], tuple) else px
    return img.width, img.height, flat


def decode_assets(assets: DataFrame) -> DataFrame:
    """Decode stage: binary → per-asset stats. Deterministic stand-in
    decoder — byte statistics instead of pixel planes, width/height
    from the carried metadata, one row per asset; identical plumbing to
    a real decoder. Narrow (no shuffle); Arrow-batched."""

    def fake_decode(asset_id, payload, meta):
        yield _decode_row(asset_id, payload, meta["width"], meta["height"], payload)

    return map_rows(
        assets.select("asset_id", "payload", "meta"), fake_decode, DECODE_SCHEMA
    )


def decode_image_real(assets: DataFrame) -> DataFrame:
    """Real pixel decode — requires PIL, which is intentionally absent
    in this container. Gate, don't fake: without pillow, callers get a
    loud error, not wrong data. With pillow present the stage emits the
    same ``DECODE_SCHEMA`` contract as ``decode_assets`` — width/height
    come from the DECODED image (not the carried metadata), mean_byte
    is the mean pixel value across all bands, checksum stays the crc32
    of the raw payload — so fake and real decoders are drop-in swaps.
    Same 100 TB shape: narrow mapInPandas, Arrow batches, no shuffle.
    The PIL path is pinned by tests/test_multimodal_real.py (skipped
    where pillow is absent)."""
    try:
        import PIL  # noqa: F401
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "real image decode needs pillow; this environment ships no "
            "codec libs — use decode_assets (deterministic fake) instead"
        ) from e

    def real_decode(asset_id, payload):
        yield _decode_row(asset_id, payload, *_pil_pixels(payload))

    return map_rows(assets.select("asset_id", "payload"), real_decode, DECODE_SCHEMA)


# ---------------------------------------------------- netpbm pixels


def _decode_netpbm(payload: bytes) -> tuple[int, int, int, list[int]]:
    """Pure-python Netpbm decode — P6/P3 (PPM color) and P5/P2 (PGM
    gray), the classic uncompressed formats whose spec fits in a
    paragraph; no codec library needed. Returns (width, height,
    channels, flat pixel values). Raises ValueError on malformed input
    (loud, never wrong data)."""
    if len(payload) < 2 or payload[0:1] != b"P" or payload[1:2] not in b"2356":
        raise ValueError("not a supported netpbm payload (P2/P3/P5/P6)")
    magic = payload[:2].decode()
    # header tokens (width, height, maxval) allow whitespace + comments
    pos = 2
    tokens: list[int] = []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated netpbm header")
        tokens.append(int(payload[start:pos]))
    w, h, maxval = tokens
    if w <= 0 or h <= 0 or not (0 < maxval < 65536):
        raise ValueError(f"bad netpbm dimensions {w}x{h} maxval={maxval}")
    channels = 3 if magic in ("P3", "P6") else 1
    n = w * h * channels
    if magic in ("P5", "P6"):
        pos += 1  # exactly one whitespace byte after maxval
        # maxval > 255 means TWO big-endian bytes per sample (the
        # Netpbm spec's 16-bit variant). The pre-r10 decoder read one
        # byte regardless: the length check passed on half the raster
        # and 'exceeds maxval' could never fire (bytes <= 255 <
        # maxval), so 16-bit images decoded to garbage silently —
        # exactly the "loud, never wrong data" violation (r10 review).
        width_bytes = 2 if maxval > 255 else 1
        raster = payload[pos : pos + n * width_bytes]
        if len(raster) != n * width_bytes:
            raise ValueError(
                f"raster holds {len(raster)} bytes, need {n * width_bytes}"
            )
        if width_bytes == 1:
            pixels = list(raster)
        else:
            pixels = [
                (raster[i] << 8) | raster[i + 1]
                for i in range(0, len(raster), 2)
            ]
    else:  # ascii variants
        vals = payload[pos:].split()
        if len(vals) != n:
            raise ValueError(f"ascii raster holds {len(vals)} values, need {n}")
        pixels = [int(v) for v in vals]
    if any(p > maxval for p in pixels):
        raise ValueError("pixel value exceeds maxval")
    return w, h, channels, pixels


def encode_ppm(width: int, height: int, value: int | tuple[int, int, int]) -> bytes:
    """Deterministic P6 encoder (solid color) — the writer half of the
    dependency-free pixel round-trip used by tests and the registry
    query."""
    rgb = (value, value, value) if isinstance(value, int) else value
    return b"P6\n%d %d\n255\n" % (width, height) + bytes(rgb) * (width * height)


def documents_as_ppm_assets(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-image ingest stand-in: every document becomes
    a solid-color P6 PPM whose dimensions and gray level derive from
    doc_id — so the pixel decoder downstream produces values an exact
    SQL oracle can recompute (mean pixel == doc_id % 256). Narrow
    mapInPandas generate stage (the binary raster can't be built from
    Catalyst expressions), zero shuffles."""

    def ppm_asset(doc_id):
        w, h = doc_id % 13 + 2, doc_id % 7 + 2
        payload = encode_ppm(w, h, doc_id % 256)
        yield _asset_row(doc_id, payload, "image/x-portable-pixmap", w, h)

    return map_rows(docs.select("doc_id"), ppm_asset, ASSET_SCHEMA)


def decode_image_pixels(assets: DataFrame) -> DataFrame:
    """REAL pixel decode with no library dependency: Netpbm payloads
    (P2/P3/P5/P6) are parsed by the pure-python decoder above; any
    other format falls through to PIL when importable, else raises
    NotImplementedError naming the format — loud, never fake numbers.

    Same ``DECODE_SCHEMA`` contract as ``decode_assets`` /
    ``decode_image_real``: width/height from the DECODED raster (not
    carried metadata), mean_byte = mean pixel value over all channels,
    checksum = crc32 of the raw payload. Same 100 TB shape: narrow
    Arrow-batched mapInPandas, zero shuffles, partitioning preserved."""

    def pixel_decode(asset_id, payload):
        payload = bytes(payload)
        if payload[:2] in (b"P2", b"P3", b"P5", b"P6"):
            w, h, _, px = _decode_netpbm(payload)
        else:
            try:
                w, h, px = _pil_pixels(payload)
            except ImportError as e:
                raise NotImplementedError(
                    "non-netpbm payload needs a codec lib (pillow); "
                    "this environment ships none"
                ) from e
        yield _decode_row(asset_id, payload, w, h, px)

    return map_rows(
        assets.select("asset_id", "payload"), pixel_decode, DECODE_SCHEMA
    )


# ------------------------------------------------------------- resize

def resize_assets(assets: DataFrame, max_dim: int = 64) -> DataFrame:
    """Resize stage: shrink payloads so max(width, height) == max_dim,
    scaling n_bytes proportionally (the fake keeps a prefix of the
    payload — a real resize re-encodes pixels). Output schema == input
    schema, so resize stages compose/chain."""

    def resize(asset_id, payload, meta):
        w, h = meta["width"], meta["height"]
        scale = min(1.0, max_dim / max(w, h, 1))
        nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
        keep = max(1, int(len(payload) * scale * scale))
        yield _asset_row(asset_id, bytes(payload[:keep]), meta["format"], nw, nh)

    return map_rows(
        assets.select("asset_id", "payload", "meta"), resize, ASSET_SCHEMA
    )


# --------------------------------------------------------- frame sample

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_len", T.LongType()),
        T.StructField("frame_checksum", T.LongType()),
    ]
)


def frame_sample(assets: DataFrame, frame_bytes: int = 256, every: int = 1) -> DataFrame:
    """Frame sampling: treat the payload as a fixed-frame-size "video"
    and emit every ``every``-th frame — a row-EXPLODING mapInPandas
    (one input row → many output rows), the shape a real video
    frame-sampler has. Frames are fixed byte windows here; a real
    impl would seek keyframes."""

    def frames(asset_id, payload):
        for i in range(0, math.ceil(len(payload) / frame_bytes), every):
            chunk = bytes(payload[i * frame_bytes : (i + 1) * frame_bytes])
            yield asset_id, i, len(chunk), zlib.crc32(chunk)

    return map_rows(assets.select("asset_id", "payload"), frames, FRAME_SCHEMA)


# ------------------------------------------------------ featurization

def featurize(assets: DataFrame, dim: int = 8) -> DataFrame:
    """Feature extraction: payload → fixed-dim vector (the shape an
    embedding model produces). Deterministic: dimension j is a scaled
    32-bit slice of sha256(payload ‖ ascii(j)) — the ASCII-digit salt
    and the exact power-of-two divide keep every feature SQL-
    recomputable (DuckDB sha256 + hex-prefix cast), which is what lets
    the downstream KNN query carry a full value oracle. Doubles, not
    float32: float32 products would round differently from any SQL
    engine and poison value comparison at the last bits."""
    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def vec(asset_id, payload):
        out = []
        for j in range(dim):
            h = hashlib.sha256(payload + str(j).encode()).digest()
            out.append(int.from_bytes(h[:4], "big") / 2**32)
        yield asset_id, out

    return map_rows(assets.select("asset_id", "payload"), vec, out_schema)


# ------------------------------------------------- perceptual hashing

#: Fixed raster for the deterministic gradient fixture: 18x16 so the
#: dHash 9x8 grid falls on exact 2x2 pixel blocks (integer box sums,
#: no resampling error for the SQL oracle to approximate).
GRADIENT_W, GRADIENT_H = 18, 16

#: Per-asset dHash output: the 64-bit gradient fingerprint carried as
#: four 16-bit band values (two grid rows each) — the banding IS the
#: LSH blocking key downstream, and staying in 16-bit longs sidesteps
#: int64 sign-bit issues a packed 64-bit fingerprint would hit when
#: bit 63 is set.
DHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("b0", T.LongType()),
        T.StructField("b1", T.LongType()),
        T.StructField("b2", T.LongType()),
        T.StructField("b3", T.LongType()),
    ]
)


def encode_pgm(width: int, height: int, pixels: bytes) -> bytes:
    """Deterministic P5 (binary grayscale PGM) encoder — the writer
    half of the gradient-image fixture; decoded by ``_decode_netpbm``."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    return b"P5\n%d %d\n255\n" % (width, height) + bytes(pixels)


def _gradient_pixels(doc_id: int) -> bytes:
    """Pixel raster for the perceptual-dedup fixture. Quadratic field
    ``(a*x^2 + b*y^2 + x*y + c) % 256`` with (a, b, c) derived from
    ``doc_id // 2`` and ``c`` perturbed by ``doc_id % 2`` — so
    consecutive even/odd ids form designed NEAR-DUPLICATE pairs (a
    uniform +1 brightness shift changes cell sums identically except
    at mod-256 wrap pixels → small nonzero Hamming distance), while
    different bases produce uncorrelated gradient-sign patterns. Every
    term is integer, so a SQL oracle recomputes the raster exactly."""
    base, delta = doc_id // 2, doc_id % 2
    a = (base * 7) % 11 + 1
    b = (base * 3) % 13 + 1
    c = (base * 31 + delta) % 256
    x = np.arange(GRADIENT_W, dtype=np.int64)
    y = np.arange(GRADIENT_H, dtype=np.int64)
    xg, yg = np.meshgrid(x, y)  # row-major (H, W)
    px = (a * xg * xg + b * yg * yg + xg * yg + c) % 256
    return px.astype(np.uint8).tobytes()


def documents_as_gradient_assets(docs: DataFrame) -> DataFrame:
    """Deterministic STRUCTURED-image ingest stand-in for perceptual
    hashing: unlike the solid-color PPM fixture (whose dHash would be
    degenerately all-zero), every document becomes an 18x16 grayscale
    P5 raster with a doc-derived quadratic intensity field, and
    consecutive even/odd doc_ids are designed near-duplicates. Narrow
    mapInPandas generate stage, zero shuffles."""

    def gradient_asset(doc_id):
        payload = encode_pgm(GRADIENT_W, GRADIENT_H, _gradient_pixels(doc_id))
        fmt = "image/x-portable-graymap"
        yield _asset_row(doc_id, payload, fmt, GRADIENT_W, GRADIENT_H)

    return map_rows(docs.select("doc_id"), gradient_asset, ASSET_SCHEMA)


def image_dhash_bands(assets: DataFrame) -> DataFrame:
    """dHash over DECODED pixels: downsample the raster to a 9x8 grid
    of integer box sums, then emit the 64-bit horizontal-gradient
    fingerprint (bit = left cell mean < right cell mean) as four
    16-bit bands. The perceptual property: any uniform brightness or
    contrast change that preserves left<right orderings leaves the
    fingerprint untouched; local edits flip only the bits whose cells
    they cross.

    Grid cells use integer boundaries ``x0 = gx*w // 9`` and the mean
    comparison is cross-multiplied (``s_l*n_r < s_r*n_l``) so the
    operator is EXACT for any raster size — no float resampling.  On
    the 18x16 fixture the boxes are uniform 2x2 blocks, which is what
    the SQL oracle mirrors.

    100 TB shape: narrow Arrow-batched mapInPandas (the only Python
    stage — everything downstream of the fingerprint is relational),
    partitioning preserved, one int64 row per asset out — the shuffle
    that follows carries 4 ints per image, never pixels."""

    # band packing weights: bit (r, gx) of band k is bits[2k+r, gx]
    # shifted by r*8 + gx
    pack_w = (
        np.int64(1)
        << (np.arange(2)[:, None] * 8 + np.arange(8)[None, :])
    )  # (2, 8)

    def dhash(asset_id, payload):
        w, h, _, px = _decode_netpbm(bytes(payload))
        arr = np.asarray(px, dtype=np.int64)
        if arr.size == 3 * w * h:  # color: sum channels per pixel
            arr = arr.reshape(h * w, 3).sum(axis=1)
        arr = arr.reshape(h, w)
        xs = np.array([(g * w) // 9 for g in range(10)])
        ys = np.array([(g * h) // 8 for g in range(9)])
        # integral image: every 9x8 box sum in three vector ops
        # (the per-block double loop was 72 .sum() calls/image)
        ii = np.zeros((h + 1, w + 1), dtype=np.int64)
        ii[1:, 1:] = arr.cumsum(axis=0).cumsum(axis=1)
        s = (
            ii[np.ix_(ys[1:], xs[1:])]
            - ii[np.ix_(ys[1:], xs[:-1])]
            - ii[np.ix_(ys[:-1], xs[1:])]
            + ii[np.ix_(ys[:-1], xs[:-1])]
        )  # (8, 9)
        n = np.outer(np.diff(ys), np.diff(xs))  # (8, 9)
        bits = (s[:, :-1] * n[:, 1:] < s[:, 1:] * n[:, :-1]).astype(
            np.int64
        )  # (8 rows, 8 cols)
        vals = (bits.reshape(4, 2, 8) * pack_w).sum(axis=(1, 2))
        yield (asset_id, *vals.tolist())

    return map_rows(assets.select("asset_id", "payload"), dhash, DHASH_SCHEMA)
