"""Multimodal column plumbing (north-star extension).

Image/audio/video payloads are opaque ``binary`` columns + typed metadata.
The Spark-side machinery — schema, partition-friendly layout, Arrow-batched
``mapInPandas`` feature extraction — is real and tested. Decoding is REAL
for 24-bit BMP (a pure numpy/struct codec below — no external library
needed): :func:`decode_image` sniffs the ``BM`` magic and parses/round-trips
actual pixels; :func:`resize_image` nearest-neighbor-resamples real BMPs.
PNG — a genuinely COMPRESSED format — is also REAL as of round 3: DEFLATE
comes from the stdlib ``zlib`` module, so :func:`encode_png` /
:func:`decode_png` below implement the container + all five scanline
filters with no external library. Baseline JPEG is REAL as of round 4:
:func:`encode_jpeg` / :func:`decode_jpeg` implement the lossy transform
path from the public spec (DCT, quantization, zigzag, DPCM, canonical
Huffman, byte stuffing) in pure numpy + stdlib. Video is REAL as of round
4 for the MJPEG-AVI layout: :func:`encode_avi_mjpeg` /
:func:`decode_avi_mjpeg` walk the RIFF container (same chunk discipline
as the WAV codec) with one baseline JPEG per frame, and
``sample_frames(fake=False)`` decodes and re-encodes real frames.
Inter-frame-compressed codecs (H.264 etc.) still need libraries not in
this environment and raise ``NotImplementedError``; the ``fake=``
deterministic stand-ins keep that plumbing testable.

At 100 TB the rules encoded here:
  * keep payload bytes in their own column so column pruning skips them for
    metadata-only queries (parquet reads only requested columns);
  * metadata (length, magic, checksums) computed natively where possible;
  * per-batch Python (mapInPandas) only for genuine byte-level work, sized
    by spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wiki_mysql_spark.sources.tables import map_in_pandas_spread

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("head_hex", StringType()),
    ]
)


def attach_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload column (here: UTF-8 bytes of the
    text — a stand-in for image/audio bytes with identical plumbing)."""
    return docs.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def payload_metadata(docs: DataFrame) -> DataFrame:
    """Typed metadata over the binary column, fully native (no Python):
    byte length and a lowercase hex 'magic' prefix."""
    return docs.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.lower(F.hex(F.substring(F.col("payload"), 1, 4))).alias("head_hex"),
    )


def extract_features(docs: DataFrame) -> DataFrame:
    """Arrow-batched byte-level feature extraction via mapInPandas —
    the real multimodal hot path shape (decode/resize/frame-sample would
    slot in here); features chosen to be independently checkable."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "head_hex": payloads.map(lambda b: bytes(b[:4]).hex()),
                }
            )

    return map_in_pandas_spread(
        docs.select("doc_id", "payload"), _extract, FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# real codec: 24-bit uncompressed BMP (pure struct/numpy — format is public:
# 14-byte BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER, BGR rows bottom-up,
# each row zero-padded to a 4-byte boundary)
# ---------------------------------------------------------------------------


def encode_bmp(pixels: "np.ndarray") -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit BMP."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError("expected (h, w, 3) RGB")
    row_size = (w * 3 + 3) & ~3
    data_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    return header + info + rows.tobytes()


def decode_bmp(payload: bytes) -> "np.ndarray":
    """Decode a 24-bit uncompressed BMP to an (h, w, 3) uint8 RGB array."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BMP supported")
    flipped = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * h, offset=data_off
    ).reshape(h, row_size)
    img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    return img[::-1] if flipped else img


# ---------------------------------------------------------------------------
# real codec: PNG (a genuinely COMPRESSED format — DEFLATE via the stdlib
# zlib module, so no external codec library is needed after all). 8-bit
# greyscale / RGB / RGBA, no interlace; the decoder implements all five
# scanline filter types (None/Sub/Up/Average/Paeth) and the encoder can
# apply any of them, so round-trip tests exercise the full filter matrix.
# ---------------------------------------------------------------------------


def encode_png(pixels: "np.ndarray", *, filter_type: int | None = 0) -> bytes:
    """Encode a uint8 array ((h, w) grey, (h, w, 3) RGB or (h, w, 4) RGBA)
    as a PNG. ``filter_type`` picks the scanline filter (0-4); ``None``
    cycles ``row % 5`` so every filter appears — handy for decoder tests."""
    if pixels.ndim == 2:
        color_type, bpp = 0, 1
        flat = pixels
    elif pixels.ndim == 3 and pixels.shape[2] in (3, 4):
        color_type = {3: 2, 4: 6}[pixels.shape[2]]
        bpp = pixels.shape[2]
        flat = pixels.reshape(pixels.shape[0], -1)
    else:
        raise ValueError("expected (h,w), (h,w,3) or (h,w,4) uint8")
    h, w = pixels.shape[0], pixels.shape[1]
    flat = flat.astype(np.uint8)
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.uint8)
    for y in range(h):
        row = flat[y]
        ft = (y % 5) if filter_type is None else filter_type
        raw.append(ft)
        raw.extend(_png_filter_row(row, prev, ft, bpp).tobytes())
        prev = row
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        )
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> "np.ndarray":
    """Decode an 8-bit non-interlaced PNG (grey/RGB/RGBA, filters 0-4) to a
    uint8 array of shape (h, w[, channels])."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (size,), ctype = struct.unpack_from(">I", payload, pos), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + size]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + size  # length + type + data + CRC
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, color_type, _, _, interlace = ihdr
    if depth != 8 or interlace != 0 or color_type not in (0, 2, 6):
        raise NotImplementedError(
            "only 8-bit non-interlaced grey/RGB/RGBA PNG supported"
        )
    bpp = {0: 1, 2: 3, 6: 4}[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        ft = raw[off]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        prev = _png_unfilter_row(row, prev, ft, bpp)
        out[y] = prev
    return out if color_type == 0 else out.reshape(h, w, bpp)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_filter_row(
    row: "np.ndarray", prev: "np.ndarray", ft: int, bpp: int
) -> "np.ndarray":
    """Apply PNG scanline filter ``ft`` (spec §6: a=left, b=up, c=up-left;
    all arithmetic mod 256, which uint8 wraparound gives for free)."""
    r = row.astype(np.int32)
    a = np.concatenate([np.zeros(bpp, np.int32), r[:-bpp]])
    b = prev.astype(np.int32)
    c = np.concatenate([np.zeros(bpp, np.int32), b[:-bpp]])
    if ft == 0:
        out = r
    elif ft == 1:
        out = r - a
    elif ft == 2:
        out = r - b
    elif ft == 3:
        out = r - (a + b) // 2
    elif ft == 4:
        out = r - _paeth(a, b, c)
    else:
        raise ValueError(f"bad filter type {ft}")
    return (out % 256).astype(np.uint8)


def _png_unfilter_row(
    row: "np.ndarray", prev: "np.ndarray", ft: int, bpp: int
) -> "np.ndarray":
    """Invert a scanline filter. None/Up vectorize whole-row; Sub is a
    per-channel prefix sum (cumsum); only Average/Paeth genuinely recur on
    the just-reconstructed left pixel and run per-pixel (rows are short —
    one scanline — and this is the decode hot loop only for filtered
    data)."""
    if ft == 0:
        return row.copy()
    if ft == 2:
        return ((row.astype(np.int32) + prev) % 256).astype(np.uint8)
    if ft == 1:
        # Sub's recurrence out[i] = row[i] + out[i-bpp] is a per-channel
        # prefix sum — vectorized instead of the per-pixel loop below
        return (
            np.cumsum(row.reshape(-1, bpp).astype(np.int64), axis=0) % 256
        ).astype(np.uint8).reshape(-1)
    out = np.zeros_like(row)
    for i in range(len(row)):
        a = int(out[i - bpp]) if i >= bpp else 0
        b = int(prev[i])
        c = int(prev[i - bpp]) if i >= bpp else 0
        if ft == 3:
            rec = row[i] + (a + b) // 2
        elif ft == 4:
            rec = row[i] + int(_paeth(np.int32(a), np.int32(b), np.int32(c)))
        else:
            raise ValueError(f"bad filter type {ft}")
        out[i] = rec % 256
    return out


def _paeth(a: "np.ndarray", b: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


# ---------------------------------------------------------------------------
# real codec: 16-bit PCM WAV (RIFF header + raw samples — also library-free)
# ---------------------------------------------------------------------------


def encode_wav(samples: "np.ndarray", *, rate: int = 8000) -> bytes:
    """Encode int16 PCM samples ((n,) mono or (n, ch)) as a WAV file."""
    ch = 1 if samples.ndim == 1 else samples.shape[1]
    data = samples.astype("<i2").tobytes()
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16
        )
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def _g711_mulaw_decode(codes: "np.ndarray") -> "np.ndarray":
    """ITU-T G.711 mu-law byte -> linear PCM16 (public spec): complement,
    split sign/exponent/mantissa, expand with the 0x84 bias."""
    u = (~codes) & 0xFF
    sign = (u & 0x80) != 0
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant.astype(np.int32) << 3) + 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def _g711_alaw_decode(codes: "np.ndarray") -> "np.ndarray":
    """ITU-T G.711 A-law byte -> linear PCM16: XOR 0x55, expand segments
    (segment 0 is linear, others shift with the implicit leading 1). Note
    A-law's sign convention is inverted vs mu-law: bit 7 SET means
    POSITIVE (0xD5 -> +8, 0x55 -> -8, 0xAA -> +32256)."""
    a = codes ^ 0x55
    positive = (a & 0x80) != 0
    exp = (a >> 4) & 0x07
    mant = (a & 0x0F).astype(np.int32)
    mag = np.where(
        exp == 0,
        (mant << 4) + 8,
        ((mant << 4) + 0x108) << np.maximum(exp - 1, 0),
    )
    return np.where(positive, mag, -mag).astype(np.int16)


def decode_wav(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Decode a WAV to (sample_rate, channels, samples[n, ch]).

    Formats: 16-bit PCM (code 1), 32-bit IEEE float (code 3, returned as
    float32), and the G.711 telephony pair — A-law (6) and mu-law (7),
    expanded to linear PCM16 per the public ITU-T tables. Other
    format/bit-depth combinations raise NotImplementedError honestly."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    # walk the chunk list (fmt / data may be preceded by others, e.g. LIST)
    pos, rate, ch, bits, data, fmt_code = 12, None, None, None, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        if cid == b"fmt ":
            fmt_code, ch, rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", payload, pos + 8
            )
            if (fmt_code, bits) not in ((1, 16), (3, 32), (6, 8), (7, 8)):
                raise NotImplementedError(
                    "supported WAV formats: PCM16, IEEE-float32, G.711 "
                    f"A-law/mu-law (got format {fmt_code} at {bits} bits)"
                )
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if fmt_code == 1:
        samples = np.frombuffer(data, dtype="<i2")
    elif fmt_code == 3:
        samples = np.frombuffer(data, dtype="<f4")
    elif fmt_code == 6:
        samples = _g711_alaw_decode(np.frombuffer(data, dtype=np.uint8))
    else:  # 7
        samples = _g711_mulaw_decode(np.frombuffer(data, dtype=np.uint8))
    return rate, ch, samples.reshape(-1, ch)


# ---------------------------------------------------------------------------
# real codec: baseline sequential JPEG (ITU-T T.81 / ISO 10918-1 — the spec
# is public). Pure numpy + stdlib, same posture as the PNG codec above:
# container markers, quantization (Annex K tables, IJG quality scaling),
# 2-D DCT/IDCT as an 8x8 matrix product, zigzag, DC DPCM, run-length +
# canonical Huffman entropy coding with byte stuffing. Scope: 8-bit
# baseline (SOF0), grayscale or color at 4:4:4 / 4:2:2 / 4:2:0 (encoder
# emits any of the three; decoder takes arbitrary integer sampling
# factors with box-replication upsampling), restart intervals honored on
# decode; progressive streams raise NotImplementedError honestly.
# ---------------------------------------------------------------------------

# Annex K example quantization tables (public spec text)
_JPEG_QL = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)
_JPEG_QC = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)


def _jpeg_scaled_q(table: "np.ndarray", quality: int) -> "np.ndarray":
    """IJG quality scaling (public libjpeg behavior): 50 -> tables as-is,
    higher -> finer quantization."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


def _jpeg_zigzag() -> "np.ndarray":
    """(64, 2) (row, col) pairs in zigzag order, derived from the walk rule
    (anti-diagonals, alternating direction) rather than hand-typed."""
    cells = [(i, j) for i in range(8) for j in range(8)]
    cells.sort(key=lambda p: (p[0] + p[1], p[1] if (p[0] + p[1]) % 2 == 0 else p[0]))
    return np.array(cells, dtype=np.int64)


_ZZ = _jpeg_zigzag()
_ZZ_ROWS, _ZZ_COLS = _ZZ[:, 0], _ZZ[:, 1]


def _dct_matrix() -> "np.ndarray":
    k = np.arange(8).reshape(8, 1)
    n = np.arange(8).reshape(1, 8)
    m = np.cos((2 * n + 1) * k * np.pi / 16)
    m[0, :] *= np.sqrt(1 / 2)
    return m * 0.5  # orthonormal: X = M @ x @ M.T, x = M.T @ X @ M


_DCT_M = _dct_matrix()

# Fixed canonical Huffman tables covering the full baseline alphabet (DC
# size 0-11; AC run/size for sizes 1-10 plus EOB/ZRL). Written into DHT and
# read back table-driven, so any conformant baseline table also decodes.
_HUFF_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_HUFF_DC_VALS = list(range(12))
_HUFF_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_HUFF_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _huff_canonical(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), JPEG canonical code assignment."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_TABLES: list = []


def _encoder_code_tables() -> tuple[dict, dict]:
    """The encoder's fixed DC/AC code maps, built once per process (they
    never vary — the per-frame rebuild showed up in the video profile)."""
    if not _ENC_TABLES:
        _ENC_TABLES.append(_huff_canonical(_HUFF_DC_BITS, _HUFF_DC_VALS))
        _ENC_TABLES.append(_huff_canonical(_HUFF_AC_BITS, _HUFF_AC_VALS))
    return _ENC_TABLES[0], _ENC_TABLES[1]


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _rgb_to_ycbcr(px: "np.ndarray") -> "np.ndarray":
    r, g, b = (px[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(px: "np.ndarray") -> "np.ndarray":
    y, cb, cr = (px[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.stack([r, g, b], axis=-1)


def encode_jpeg(
    pixels: "np.ndarray", *, quality: int = 95, subsampling: str = "444"
) -> bytes:
    """Encode (h, w, 3) RGB or (h, w) grayscale uint8 as baseline JPEG.

    ``subsampling``: ``"444"`` (one block per component per MCU — the r4
    layout, bit-identical output to it) or ``"420"`` (2x2 box-averaged
    chroma, 16x16 MCUs of 4 Y + 1 Cb + 1 Cr blocks — the layout virtually
    every camera/web JPEG uses, giving the decoder a real round-trip
    fixture)."""
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if gray:
        planes = [pixels.astype(np.float64)]
        sampling = [(1, 1)]
    elif subsampling == "444":
        ycc = _rgb_to_ycbcr(pixels)
        planes = [ycc[..., i] for i in range(3)]
        sampling = [(1, 1)] * 3
    elif subsampling == "420":
        ycc = _rgb_to_ycbcr(pixels)
        # pad to even dims (edge), then 2x2 box-average the chroma planes
        pe = np.pad(ycc, ((0, h % 2), (0, w % 2), (0, 0)), mode="edge")
        sub = (
            pe[0::2, 0::2] + pe[0::2, 1::2] + pe[1::2, 0::2] + pe[1::2, 1::2]
        ) / 4.0
        planes = [ycc[..., 0], sub[..., 1], sub[..., 2]]
        sampling = [(2, 2), (1, 1), (1, 1)]
    elif subsampling == "422":
        ycc = _rgb_to_ycbcr(pixels)
        pe = np.pad(ycc, ((0, 0), (0, w % 2), (0, 0)), mode="edge")
        sub = (pe[:, 0::2] + pe[:, 1::2]) / 2.0  # horizontal pair average
        planes = [ycc[..., 0], sub[..., 1], sub[..., 2]]
        sampling = [(2, 1), (1, 1), (1, 1)]
    else:
        raise ValueError("subsampling must be '444', '422', or '420'")
    qtabs = [_jpeg_scaled_q(_JPEG_QL, quality)]
    if not gray:
        qtabs.append(_jpeg_scaled_q(_JPEG_QC, quality))

    dc_codes, ac_codes = _encoder_code_tables()

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))

    # quantized zigzag coefficients per component as a (BY, BX, 64) block
    # grid — each component's grid is padded to exactly its MCU coverage
    # (mcy*v_i x mcx*h_i blocks), so the interleave below never indexes off
    comp_coeffs = []
    for ci, plane in enumerate(planes):
        ph = mcy * sampling[ci][1] * 8
        pw = mcx * sampling[ci][0] * 8
        padded = np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )
        blocks = padded.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
        centered = blocks - 128.0
        coeffs = np.einsum("ki,yxij,lj->yxkl", _DCT_M, centered, _DCT_M)
        q = qtabs[min(ci, len(qtabs) - 1)]
        quant = np.round(coeffs / q).astype(np.int64)
        zz = quant[:, :, _ZZ_ROWS, _ZZ_COLS]  # (BY, BX, 64)
        # keep AC within the baseline size-10 alphabet and DC diffs within
        # size-11 (pathological all-black blocks at quality 100 only; error
        # bounded by one quantization step)
        comp_coeffs.append(np.clip(zz, -1023, 1023))

    # Entropy coding: bits accumulate into one Python int per MCU (code and
    # amplitude fused into a single shift), visiting only the NONZERO
    # coefficient positions — one writer call per MCU instead of one per
    # symbol (the per-symbol form dominated the video-entry profile).
    # Interleave per spec: each MCU carries h_i x v_i blocks per component
    # in raster order (1 each at 4:4:4, 4Y+Cb+Cr at 4:2:0).
    writer = _BitWriter()
    w_write = writer.write
    zrl_code, zrl_len = ac_codes[0xF0]
    eob_code, eob_len = ac_codes[0x00]
    prev_dc = [0] * len(planes)
    n_comp = len(planes)
    for m in range(mcy * mcx):
        my, mx = divmod(m, mcx)
        acc = 0
        nbits = 0
        for ci in range(n_comp):
            hi_, vi_ = sampling[ci]
            for yy in range(vi_):
                for xx in range(hi_):
                    block = comp_coeffs[ci][my * vi_ + yy, mx * hi_ + xx]
                    dc = int(block[0])
                    diff = dc - prev_dc[ci]
                    prev_dc[ci] = dc
                    size = (diff if diff > 0 else -diff).bit_length()
                    bits = diff if diff >= 0 else diff + (1 << size) - 1
                    code, length = dc_codes[size]
                    acc = (acc << (length + size)) | (code << size) | bits
                    nbits += length + size
                    nz = np.nonzero(block[1:])[0]
                    last = int(nz[-1]) + 1 if nz.size else 0
                    prev_k = 0
                    for k in nz:
                        k = int(k)
                        run = k - prev_k
                        prev_k = k + 1
                        v = int(block[k + 1])
                        while run > 15:
                            acc = (acc << zrl_len) | zrl_code
                            nbits += zrl_len
                            run -= 16
                        size = (v if v > 0 else -v).bit_length()
                        bits = v if v >= 0 else v + (1 << size) - 1
                        code, length = ac_codes[(run << 4) | size]
                        acc = (acc << (length + size)) | (code << size) | bits
                        nbits += length + size
                    if last < 63:
                        acc = (acc << eob_len) | eob_code
                        nbits += eob_len
        w_write(acc, nbits)
    entropy = writer.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0))
    for ti, q in enumerate(qtabs):
        out += seg(0xFFDB, bytes([ti]) + bytes(q[_ZZ_ROWS, _ZZ_COLS].astype(np.uint8)))
    nc = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes(
            [ci + 1, (sampling[ci][0] << 4) | sampling[ci][1],
             min(ci, len(qtabs) - 1)]
        )
    out += seg(0xFFC0, sof)
    out += seg(0xFFC4, bytes([0x00]) + bytes(_HUFF_DC_BITS) + bytes(_HUFF_DC_VALS))
    out += seg(0xFFC4, bytes([0x10]) + bytes(_HUFF_AC_BITS) + bytes(_HUFF_AC_VALS))
    sos = bytes([nc]) + b"".join(bytes([ci + 1, 0x00]) for ci in range(nc))
    out += seg(0xFFDA, sos + bytes([0, 63, 0]))
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """MSB-first bit reader over de-stuffed entropy bytes. Reads past the
    end see zero padding — the MCU loop bounds consumption exactly, so
    only the final code's don't-care peek bits ever land there."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self, need: int) -> None:
        while self.nbits < need:
            byte = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            # mask away already-consumed high bits so acc stays a small int
            # (otherwise it grows with the whole stream and bigint shifts
            # turn the reader quadratic)
            self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | byte
            self.nbits += 8

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def read_sym(self, peek: list, maxlen: int) -> int:
        """One table lookup per symbol: peek `maxlen` bits, the prefix code
        they start with determines (symbol, real length)."""
        self._fill(maxlen)
        idx = (self.acc >> (self.nbits - maxlen)) & ((1 << maxlen) - 1)
        entry = peek[idx]
        if entry is None:
            raise ValueError("invalid Huffman code")
        self.nbits -= entry[1]
        return entry[0]


_PEEK_CACHE: dict = {}


def _huff_peek_table(bits: tuple, vals: tuple) -> tuple[list, int]:
    """(peek table of 2^maxlen (sym, length) entries, maxlen) for a DHT —
    cached, so a million frames sharing one table build it once."""
    key = (bits, vals)
    hit = _PEEK_CACHE.get(key)
    if hit is not None:
        return hit
    codes = _huff_canonical(list(bits), list(vals))
    maxlen = max(length for _, length in codes.values())
    table: list = [None] * (1 << maxlen)
    for sym, (code, length) in codes.items():
        base = code << (maxlen - length)
        for i in range(1 << (maxlen - length)):
            table[base + i] = (sym, length)
    _PEEK_CACHE[key] = (table, maxlen)
    return table, maxlen


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - ((1 << size) - 1)


def decode_jpeg(payload: bytes) -> "np.ndarray":
    """Decode a baseline (SOF0) JPEG to (h, w, 3) RGB or (h, w) grayscale
    uint8. Table-driven: any conformant DQT/DHT decodes, not just this
    module's encoder output. Handles arbitrary integer sampling factors —
    4:4:4, 4:2:0 (the dominant camera/web layout), 4:2:2, 4:4:0 — with
    box-replication chroma upsampling; progressive SOFs still raise
    NotImplementedError honestly."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] = []  # (cid, h_i, v_i, q table id)
    h = w = 0
    restart = 0
    scan_comps: list[tuple[int, int, int]] = []
    entropy_segments: list[bytes] = []
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xFFD9:
            break
        length = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xFFDB:
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                t = np.zeros((8, 8), dtype=np.int32)
                if pq == 0:
                    t[_ZZ_ROWS, _ZZ_COLS] = np.frombuffer(
                        body[off + 1 : off + 65], dtype=np.uint8
                    )
                    off += 65
                else:  # pq=1: 16-bit big-endian entries (high-bitdepth DQT)
                    t[_ZZ_ROWS, _ZZ_COLS] = np.frombuffer(
                        body[off + 1 : off + 129], dtype=">u2"
                    ).astype(np.int32)
                    off += 129
                qtabs[tq] = t
        elif marker == 0xFFC2:
            # progressive: its own scan-state machine (spectral selection +
            # successive approximation over multiple SOS scans)
            return _decode_jpeg_progressive(payload)
        elif marker in (0xFFC1, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
                        0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise NotImplementedError(
                "only baseline (SOF0) and progressive (SOF2) JPEG"
            )
        elif marker == 0xFFC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                hi_, vi_ = hv >> 4, hv & 0xF
                if not (1 <= hi_ <= 4 and 1 <= vi_ <= 4):
                    raise ValueError("invalid sampling factors")
                comps.append((cid, hi_, vi_, tq))
        elif marker == 0xFFC4:
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0xF
                bits = tuple(body[off + 1 : off + 17])
                nvals = sum(bits)
                vals = tuple(body[off + 17 : off + 17 + nvals])
                huff[(tc, th)] = _huff_peek_table(bits, vals)
                off += 17 + nvals
        elif marker == 0xFFDD:
            restart = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xFFDA:
            ns = body[0]
            for i in range(ns):
                cid, tabs = body[1 + 2 * i : 3 + 2 * i]
                scan_comps.append((cid, tabs >> 4, tabs & 0xF))
            # entropy data runs until the next non-RST marker; de-stuff and
            # split on RSTn (DC predictors reset per segment)
            seg = bytearray()
            while pos + 1 < len(payload):
                b = payload[pos]
                if b != 0xFF:
                    seg.append(b)
                    pos += 1
                    continue
                nxt = payload[pos + 1]
                if nxt == 0x00:
                    seg.append(0xFF)
                    pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    entropy_segments.append(bytes(seg))
                    seg = bytearray()
                    pos += 2
                else:
                    break
            entropy_segments.append(bytes(seg))
    if not comps or not entropy_segments:
        raise ValueError("missing SOF/SOS")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    comp_q = {cid: qtabs[tq] for cid, _, _, tq in comps}
    comp_samp = {cid: (hi_, vi_) for cid, hi_, vi_, _ in comps}
    # each component's plane spans exactly its MCU coverage; cropped to its
    # true (sub)resolution after the scan, then upsampled to full frame
    planes = [
        np.zeros((mcy * vi_ * 8, mcx * hi_ * 8), dtype=np.float64)
        for _, hi_, vi_, _ in comps
    ]
    comp_pos = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
    seg_iter = iter(entropy_segments)
    reader = _BitReader(next(seg_iter))
    prev_dc = {cid: 0 for cid, _, _ in scan_comps}
    since_restart = 0
    for m in range(mcy * mcx):
        if restart and since_restart == restart:
            reader = _BitReader(next(seg_iter))
            prev_dc = {cid: 0 for cid, _, _ in scan_comps}
            since_restart = 0
        since_restart += 1
        my, mx = divmod(m, mcx)
        for cid, dc_t, ac_t in scan_comps:
            hi_, vi_ = comp_samp[cid]
            plane = planes[comp_pos[cid]]
            for yy in range(vi_):
                for xx in range(hi_):
                    zz = np.zeros(64, dtype=np.int64)
                    size = reader.read_sym(*huff[(0, dc_t)])
                    diff = _extend(reader.read_bits(size), size)
                    prev_dc[cid] += diff
                    zz[0] = prev_dc[cid]
                    k = 1
                    while k < 64:
                        sym = reader.read_sym(*huff[(1, ac_t)])
                        if sym == 0x00:  # EOB
                            break
                        run, size = sym >> 4, sym & 0xF
                        if size == 0 and run == 15:  # ZRL
                            k += 16
                            continue
                        k += run
                        if k > 63:
                            raise ValueError("AC run past block end")
                        zz[k] = _extend(reader.read_bits(size), size)
                        k += 1
                    block = np.zeros((8, 8), dtype=np.float64)
                    block[_ZZ_ROWS, _ZZ_COLS] = zz
                    block *= comp_q[cid]
                    spatial = _DCT_M.T @ block @ _DCT_M + 128.0
                    py = (my * vi_ + yy) * 8
                    px = (mx * hi_ + xx) * 8
                    plane[py : py + 8, px : px + 8] = spatial
    # crop each component to its true resolution, then box-replicate up to
    # the full frame (the nearest-neighbor upsampling baseline decoders use)
    full = []
    for i, (cid, hi_, vi_, _) in enumerate(comps):
        cw = -(-w * hi_ // hmax)
        ch = -(-h * vi_ // vmax)
        p = planes[i][:ch, :cw]
        if hi_ != hmax or vi_ != vmax:
            if hmax % hi_ or vmax % vi_:
                raise NotImplementedError(
                    "non-integer sampling ratio (e.g. 3:2) unsupported"
                )
            p = np.repeat(np.repeat(p, vmax // vi_, axis=0), hmax // hi_, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    rgb = _ycbcr_to_rgb(np.stack(full, axis=-1))
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# progressive JPEG (SOF2, Huffman): spectral selection + successive
# approximation over multiple scans (ITU-T T.81 Annex G, public spec).
# The web's second JPEG layout after baseline 4:2:0. The encoder emits a
# 4-phase scan script (DC first/refine at Al=1/0, then per-component AC
# first/refine) so every scan type the decoder implements is exercised;
# the decoder accumulates coefficients across scans and reconstructs with
# the SAME dequant+IDCT as baseline — which pins a strong self-test:
# progressive decode of the same quantized coefficients must be
# BIT-IDENTICAL to the baseline decode.
# ---------------------------------------------------------------------------

# progressive AC alphabet: EOBn (r<<4|0 for r=0..14, run length 2^r+bits),
# ZRL, and the (run, size) symbols — all at one canonical code length
_PROG_AC_VALS = (
    [r << 4 for r in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_PROG_AC_BITS = [0] * 16
_PROG_AC_BITS[8] = len(_PROG_AC_VALS)  # all codes length 9 (176 < 2^9)


def _prog_ac_codes() -> dict:
    return _huff_canonical(_PROG_AC_BITS, _PROG_AC_VALS)


def _size_of(v: int) -> int:
    return (v if v > 0 else -v).bit_length()


def encode_jpeg_progressive(
    pixels: "np.ndarray", *, quality: int = 95
) -> bytes:
    """Encode (h, w, 3) RGB or (h, w) grayscale uint8 as PROGRESSIVE JPEG
    (grayscale or 4:4:4). Scan script: interleaved DC first (Al=1) and DC
    refine, then per component AC first (1..63, Al=1) and AC refine —
    every Annex-G scan type, including EOB-run coding across blocks."""
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if gray:
        planes = [pixels.astype(np.float64)]
    else:
        ycc = _rgb_to_ycbcr(pixels)
        planes = [ycc[..., i] for i in range(3)]
    qtabs = [_jpeg_scaled_q(_JPEG_QL, quality)]
    if not gray:
        qtabs.append(_jpeg_scaled_q(_JPEG_QC, quality))
    n_comp = len(planes)

    by, bx = -(-h // 8), -(-w // 8)
    comp_zz = []
    for ci, plane in enumerate(planes):
        padded = np.pad(
            plane, ((0, by * 8 - h), (0, bx * 8 - w)), mode="edge"
        )
        blocks = padded.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
        coeffs = np.einsum("ki,yxij,lj->yxkl", _DCT_M, blocks - 128.0, _DCT_M)
        q = qtabs[min(ci, len(qtabs) - 1)]
        zz = np.round(coeffs / q).astype(np.int64)[:, :, _ZZ_ROWS, _ZZ_COLS]
        comp_zz.append(np.clip(zz, -1023, 1023).reshape(-1, 64))

    dc_codes = _encoder_code_tables()[0]
    ac_codes = _prog_ac_codes()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0))
    for ti, q in enumerate(qtabs):
        out += seg(0xFFDB, bytes([ti]) + bytes(q[_ZZ_ROWS, _ZZ_COLS].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, n_comp)
    for ci in range(n_comp):
        sof += bytes([ci + 1, 0x11, min(ci, len(qtabs) - 1)])
    out += seg(0xFFC2, sof)
    out += seg(0xFFC4, bytes([0x00]) + bytes(_HUFF_DC_BITS) + bytes(_HUFF_DC_VALS))
    out += seg(0xFFC4, bytes([0x10]) + bytes(_PROG_AC_BITS) + bytes(_PROG_AC_VALS))

    def sos_header(comp_ids: list[int], tab: int, ss: int, se: int,
                   ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, tab])
        return seg(0xFFDA, body + bytes([ss, se, (ah << 4) | al]))

    # scan 1: DC first, interleaved, Al=1 (arithmetic shift on both ends)
    out += sos_header(list(range(1, n_comp + 1)), 0x00, 0, 0, 0, 1)
    wtr = _BitWriter()
    prev = [0] * n_comp
    for m in range(by * bx):
        for ci in range(n_comp):
            v = int(comp_zz[ci][m][0]) >> 1
            diff = v - prev[ci]
            prev[ci] = v
            size = _size_of(diff)
            code, length = dc_codes[size]
            wtr.write(code, length)
            if size:
                wtr.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    out += wtr.flush()

    # scan 2: DC refine, Al=0 — one raw bit per block
    out += sos_header(list(range(1, n_comp + 1)), 0x00, 0, 0, 1, 0)
    wtr = _BitWriter()
    for m in range(by * bx):
        for ci in range(n_comp):
            wtr.write(int(comp_zz[ci][m][0]) & 1, 1)
    out += wtr.flush()

    for ci in range(n_comp):
        # scan 3+2ci: AC first for component ci, band 1..63, Al=1
        out += sos_header([ci + 1], 0x10, 1, 63, 0, 1)
        wtr = _BitWriter()
        eobrun = 0

        def flush_eobrun(wtr, eobrun, br=()):
            if eobrun:
                r = eobrun.bit_length() - 1
                code, length = ac_codes[r << 4]
                wtr.write(code, length)
                if r:
                    wtr.write(eobrun - (1 << r), r)
            for b in br:
                wtr.write(b, 1)
            return 0

        for m in range(by * bx):
            block = comp_zz[ci][m]
            r = 0
            for k in range(1, 64):
                v = int(block[k])
                av = (v if v >= 0 else -v) >> 1
                if av == 0:
                    r += 1
                    continue
                vv = av if v >= 0 else -av
                eobrun = flush_eobrun(wtr, eobrun)
                while r > 15:
                    code, length = ac_codes[0xF0]
                    wtr.write(code, length)
                    r -= 16
                size = _size_of(vv)
                code, length = ac_codes[(r << 4) | size]
                wtr.write(code, length)
                wtr.write(vv if vv >= 0 else vv + (1 << size) - 1, size)
                r = 0
            if r > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = flush_eobrun(wtr, eobrun)
        flush_eobrun(wtr, eobrun)
        out += wtr.flush()

        # scan 4+2ci: AC refine, band 1..63, Ah=1 -> Al=0 (correction bits)
        out += sos_header([ci + 1], 0x10, 1, 63, 1, 0)
        wtr = _BitWriter()
        eobrun, pend_br = 0, []
        for m in range(by * bx):
            block = comp_zz[ci][m]
            r, br = 0, []
            for k in range(1, 64):
                v = int(block[k])
                t = v if v >= 0 else -v  # abs >> Al with Al=0
                if t == 0:
                    r += 1
                    continue
                # ZRL check at EVERY nonzero position (history included) —
                # the bits buffered so far belong positionally BEFORE this
                # coefficient, so they must flush with the ZRL that covers
                # that stretch, not with a later symbol
                while r > 15:
                    if eobrun:
                        eobrun = flush_eobrun(wtr, eobrun, pend_br)
                        pend_br = []
                    code, length = ac_codes[0xF0]
                    wtr.write(code, length)
                    for b in br:
                        wtr.write(b, 1)
                    br = []
                    r -= 16
                if t > 1:  # sent in the first scan: one correction bit
                    br.append(t & 1)
                    continue
                # newly nonzero at this level: (run, 1) + sign, then the
                # buffered correction bits of the history coefs passed over
                if eobrun:
                    eobrun = flush_eobrun(wtr, eobrun, pend_br)
                    pend_br = []
                code, length = ac_codes[(r << 4) | 1]
                wtr.write(code, length)
                wtr.write(1 if v > 0 else 0, 1)
                for b in br:
                    wtr.write(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                pend_br.extend(br)
                if eobrun == 0x7FFF:
                    eobrun = flush_eobrun(wtr, eobrun, pend_br)
                    pend_br = []
        flush_eobrun(wtr, eobrun, pend_br)
        out += wtr.flush()

    out += b"\xff\xd9"
    return bytes(out)


def _decode_jpeg_progressive(payload: bytes) -> "np.ndarray":
    """Progressive (SOF2) Huffman JPEG decoder: accumulates per-component
    zigzag coefficients across DC/AC first and refinement scans (Annex G
    successive approximation), then dequantizes and IDCTs exactly like the
    baseline path. Arbitrary integer sampling factors; interleaved DC
    scans and non-interleaved AC scans over each component's OWN block
    grid; restart intervals reset predictors and the EOB run."""
    pos = 2
    qtabs: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], tuple] = {}
    comps: list[tuple[int, int, int, int]] = []
    h = w = 0
    restart = 0
    coef: list["np.ndarray"] = []  # per component (BY, BX, 64), zigzag space
    geom: dict = {}

    def init_geometry():
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcx = -(-w // (8 * hmax))
        mcy = -(-h // (8 * vmax))
        cw = [-(-w * hi_ // hmax) for _, hi_, _, _ in comps]
        ch = [-(-h * vi_ // vmax) for _, _, vi_, _ in comps]
        geom.update(hmax=hmax, vmax=vmax, mcx=mcx, mcy=mcy, cw=cw, ch=ch)
        for _, hi_, vi_, _ in comps:
            coef.append(
                np.zeros((mcy * vi_, mcx * hi_, 64), dtype=np.int32)
            )

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xFFD9:
            break
        length = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xFFDB:
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                t = np.zeros((8, 8), dtype=np.int32)
                if pq == 0:
                    t[_ZZ_ROWS, _ZZ_COLS] = np.frombuffer(
                        body[off + 1 : off + 65], dtype=np.uint8
                    )
                    off += 65
                else:
                    t[_ZZ_ROWS, _ZZ_COLS] = np.frombuffer(
                        body[off + 1 : off + 129], dtype=">u2"
                    ).astype(np.int32)
                    off += 129
                qtabs[tq] = t
        elif marker == 0xFFC2:
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            init_geometry()
        elif marker == 0xFFC4:
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0xF
                bits = tuple(body[off + 1 : off + 17])
                nvals = sum(bits)
                huff[(tc, th)] = _huff_peek_table(
                    bits, tuple(body[off + 17 : off + 17 + nvals])
                )
                off += 17 + nvals
        elif marker == 0xFFDD:
            restart = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xFFDA:
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cid, tabs = body[1 + 2 * i : 3 + 2 * i]
                scan_comps.append((cid, tabs >> 4, tabs & 0xF))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            # de-stuff entropy, split on RSTn
            segs, segb = [], bytearray()
            while pos + 1 < len(payload):
                b = payload[pos]
                if b != 0xFF:
                    segb.append(b)
                    pos += 1
                    continue
                nxt = payload[pos + 1]
                if nxt == 0x00:
                    segb.append(0xFF)
                    pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    segs.append(bytes(segb))
                    segb = bytearray()
                    pos += 2
                else:
                    break
            segs.append(bytes(segb))
            _progressive_scan(
                coef, comps, geom, huff, scan_comps, ss, se, ah, al,
                segs, restart,
            )
    if not comps:
        raise ValueError("missing SOF")

    # reconstruct: identical dequant + IDCT to the baseline path
    hmax, vmax = geom["hmax"], geom["vmax"]
    full = []
    for i, (cid, hi_, vi_, tq) in enumerate(comps):
        cz = coef[i].astype(np.float64)
        blocks = np.zeros(cz.shape[:2] + (8, 8), dtype=np.float64)
        blocks[:, :, _ZZ_ROWS, _ZZ_COLS] = cz
        blocks *= qtabs[tq]
        # IDCT x = M.T @ X @ M: index form sum_{k,l} M[k,i] X[k,l] M[l,j]
        spatial = np.einsum("ki,yxkl,lj->yxij", _DCT_M, blocks, _DCT_M)
        plane = spatial.transpose(0, 2, 1, 3).reshape(
            cz.shape[0] * 8, cz.shape[1] * 8
        ) + 128.0
        cw = -(-w * hi_ // hmax)
        ch = -(-h * vi_ // vmax)
        p = plane[:ch, :cw]
        if hi_ != hmax or vi_ != vmax:
            if hmax % hi_ or vmax % vi_:
                raise NotImplementedError("non-integer sampling ratio")
            p = np.repeat(np.repeat(p, vmax // vi_, axis=0), hmax // hi_, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    rgb = _ycbcr_to_rgb(np.stack(full, axis=-1))
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _progressive_scan(coef, comps, geom, huff, scan_comps, ss, se, ah, al,
                      segs, restart) -> None:
    """Apply one SOS scan to the coefficient state (T.81 Annex G). Four
    cases: DC first / DC refine (interleaved, possibly multi-component),
    AC first / AC refine (single component, non-interleaved over its own
    block grid, with EOB-run coding)."""
    comp_idx = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
    seg_iter = iter(segs)
    reader = _BitReader(next(seg_iter))

    if ss == 0:  # DC scan (se must be 0)
        mcx, mcy = geom["mcx"], geom["mcy"]
        interleaved = len(scan_comps) > 1
        prev_dc = {cid: 0 for cid, _, _ in scan_comps}
        n_units = (
            mcy * mcx if interleaved
            else _comp_units(comps, comp_idx[scan_comps[0][0]], geom)
        )
        since = 0
        for m in range(n_units):
            if restart and since == restart:
                reader = _BitReader(next(seg_iter))
                prev_dc = {cid: 0 for cid, _, _ in scan_comps}
                since = 0
            since += 1
            for cid, dc_t, _ in scan_comps:
                i = comp_idx[cid]
                _, hi_, vi_, _ = comps[i]
                if interleaved:
                    my, mx = divmod(m, mcx)
                    blocks = [
                        (my * vi_ + yy, mx * hi_ + xx)
                        for yy in range(vi_) for xx in range(hi_)
                    ]
                else:
                    bw = _comp_block_w(comps, i, geom)
                    blocks = [divmod(m, bw)]
                for by_, bx_ in blocks:
                    if ah == 0:
                        size = reader.read_sym(*huff[(0, dc_t)])
                        diff = _extend(reader.read_bits(size), size)
                        prev_dc[cid] += diff
                        coef[i][by_, bx_, 0] = prev_dc[cid] << al
                    else:
                        if reader.read_bits(1):
                            coef[i][by_, bx_, 0] |= 1 << al
        return

    # AC scan: exactly one component, non-interleaved
    cid, _, ac_t = scan_comps[0]
    i = comp_idx[cid]
    cz = coef[i]
    bw = _comp_block_w(comps, i, geom)
    n_units = _comp_units(comps, i, geom)
    peek = huff[(1, ac_t)]
    p1, m1 = 1 << al, -1 << al
    eobrun = 0
    since = 0
    for m in range(n_units):
        if restart and since == restart:
            reader = _BitReader(next(seg_iter))
            eobrun = 0
            since = 0
        since += 1
        by_, bx_ = divmod(m, bw)
        block = cz[by_, bx_]
        if ah == 0:  # AC first
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                sym = reader.read_sym(*peek)
                r, s = sym >> 4, sym & 0xF
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += reader.read_bits(r)
                        break
                    k += 16  # ZRL
                    continue
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                block[k] = _extend(reader.read_bits(s), s) << al
                k += 1
        else:  # AC refine
            k = ss
            if eobrun == 0:
                while k <= se:
                    sym = reader.read_sym(*peek)
                    r, s = sym >> 4, sym & 0xF
                    newval = 0
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += reader.read_bits(r)
                            break  # rest of band handled by eobrun below
                        # ZRL: skip 16 zero-history positions
                    else:
                        newval = p1 if reader.read_bits(1) else m1
                    while k <= se:
                        v = int(block[k])
                        if v != 0:
                            if reader.read_bits(1) and (v & p1) == 0:
                                block[k] = v + (p1 if v >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        block[k] = newval
                    k += 1
            if eobrun > 0:
                # correction bits for every nonzero coef in the remaining band
                while k <= se:
                    v = int(block[k])
                    if v != 0 and reader.read_bits(1) and (v & p1) == 0:
                        block[k] = v + (p1 if v >= 0 else m1)
                    k += 1
                eobrun -= 1


def _comp_block_w(comps, i, geom) -> int:
    _, hi_, _, _ = comps[i]
    return -(-geom["cw"][i] // 8)


def _comp_units(comps, i, geom) -> int:
    return _comp_block_w(comps, i, geom) * -(-geom["ch"][i] // 8)


# ---------------------------------------------------------------------------
# real codec: MJPEG video in an AVI (RIFF) container — the classic
# motion-JPEG layout (public: the RIFF/AVI container spec + per-frame
# baseline JPEG via the codec above). Pure struct + the JPEG codec; the
# container framing mirrors the WAV chunk-walking approach.
# ---------------------------------------------------------------------------


def encode_avi_mjpeg(frames: list, *, fps: int = 10) -> bytes:
    """Encode a list of (h, w, 3) RGB uint8 frames as an MJPEG AVI:
    RIFF('AVI ') -> LIST(hdrl){avih, LIST(strl){strh,strf}} ->
    LIST(movi){00dc: one baseline JPEG per frame} -> idx1."""
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg(f, quality=95) for f in frames]

    def chunk(cid: bytes, data: bytes) -> bytes:
        return cid + struct.pack("<I", len(data)) + data + (b"\x00" * (len(data) & 1))

    def list_chunk(ltype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", ltype + data)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # microseconds per frame
        0, 0, 0x10,        # max bytes/sec, padding, flags (HASINDEX)
        len(frames), 0, 1, 0,
        w, h, 0, 0, 0, 0,
    )
    strh = b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII4H",
        0, 0, 0, 0,            # flags, priority, language, initial frames
        1, fps,                # scale, rate (rate/scale = fps)
        0, len(frames),        # start, length
        0, 0xFFFFFFFF, 0,      # suggested buffer, quality, sample size
        0, 0, 0, 0,            # rcFrame (4 shorts) — full 56-byte header
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = list_chunk(
        b"hdrl", chunk(b"avih", avih)
        + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    )
    movi_items = [chunk(b"00dc", j) for j in jpegs]
    movi = list_chunk(b"movi", b"".join(movi_items))
    # idx1: offsets are relative to the start of the 'movi' list type tag
    idx, off = [], 4
    for j in jpegs:
        idx.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(j)))
        off += 8 + len(j) + (len(j) & 1)
    idx1 = chunk(b"idx1", b"".join(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(payload: bytes) -> tuple[int, list]:
    """Decode an MJPEG AVI to (fps, [frame arrays]) — chunk-walks the RIFF
    tree, reads fps from avih, decodes every '00dc' frame with the real
    baseline-JPEG decoder."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    fps, frames = None, []

    def walk(data: bytes) -> None:
        nonlocal fps
        pos = 0
        while pos + 8 <= len(data):
            cid, size = struct.unpack_from("<4sI", data, pos)
            body = data[pos + 8 : pos + 8 + size]
            if cid == b"LIST":
                walk(body[4:])  # skip the list type tag
            elif cid == b"avih":
                usec = struct.unpack_from("<I", body, 0)[0]
                # int(x + 0.5), not round(): banker's half-to-even would
                # diverge from the SQL oracle's half-up on exact .5 rates
                fps = int(1_000_000 / usec + 0.5) if usec else 0
            elif cid == b"00dc" and body[:2] == b"\xff\xd8":
                frames.append(decode_jpeg(body))
            pos += 8 + size + (size & 1)  # chunks are word-aligned

    walk(payload[12:])
    if fps is None or not frames:
        raise ValueError("missing avih header or frames")
    return fps, frames


def decode_image(payload: bytes, *, fake: bool = False) -> tuple[int, int]:
    """Decode an image payload to (width, height).

    REAL for BMP, PNG, and baseline JPEG (magic-sniffed; all three codecs
    above are validated against full pixel round-trips in tests). Video
    still needs a codec library not in this environment; ``fake=True``
    returns a deterministic length-derived stand-in so that plumbing
    stays testable.
    """
    if fake:
        return (len(payload) % 64 + 1, len(payload) % 48 + 1)
    if payload[:2] == b"BM":
        w, h = struct.unpack_from("<ii", payload, 18)
        return (w, abs(h))
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack_from(">II", payload, 16)  # IHDR is always first
        return (w, h)
    if payload[:2] == b"\xff\xd8":
        # walk markers to SOF0 (dims live there, not at a fixed offset)
        pos = 2
        while pos + 4 <= len(payload):
            marker = struct.unpack_from(">H", payload, pos)[0]
            if marker == 0xFFC0:
                _, h, w = struct.unpack_from(">BHH", payload, pos + 4)
                return (w, h)
            if marker == 0xFFDA or marker == 0xFFD9:
                break
            pos += 2 + struct.unpack_from(">H", payload, pos + 2)[0]
        raise ValueError("JPEG without SOF0 header")
    raise NotImplementedError(
        "only BMP, PNG, and baseline JPEG decode natively (video: MJPEG-AVI "
        "via decode_avi_mjpeg); other formats need a codec library — wire it "
        "in here, the Spark-side plumbing (binary column, mapInPandas "
        "batching, schema) is already in place"
    )


def resize_image(payload: bytes, width: int, height: int, *, fake: bool = False) -> bytes:
    """Resize an image payload to (width, height).

    REAL for BMP, PNG, and baseline JPEG (magic-sniffed): decode,
    nearest-neighbor resample via numpy fancy indexing, re-encode in the
    SAME format. ``fake=True`` returns a deterministic truncation/padding
    of the bytes (plumbing tests for formats with no codec)."""
    if fake:
        target = max(1, width * height)
        return (payload * (target // max(1, len(payload)) + 1))[:target]
    if payload[:2] == b"BM":
        decode, encode = decode_bmp, encode_bmp
    elif payload[:8] == b"\x89PNG\r\n\x1a\n":
        decode, encode = decode_png, encode_png
    elif payload[:2] == b"\xff\xd8":
        decode, encode = decode_jpeg, encode_jpeg
    else:
        raise NotImplementedError(
            "only BMP/PNG/JPEG resize natively; other formats need a codec "
            "library"
        )
    img = decode(payload)
    h, w = img.shape[:2]
    yi = (np.arange(height) * h) // height
    xi = (np.arange(width) * w) // width
    return encode(img[yi][:, xi])


def resize_images(
    docs: DataFrame, *, width: int = 8, height: int = 8, fake: bool = True
) -> DataFrame:
    """Batch resize over the binary column (decode->resize->re-encode shape)."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("n_bytes", LongType()),
        ]
    )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf["payload"].map(
                lambda b: resize_image(bytes(b), width, height, fake=fake)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": out,
                    "n_bytes": out.map(len).astype("int64"),
                }
            )

    return map_in_pandas_spread(docs.select("doc_id", "payload"), _resize, schema)


def sample_frames(
    docs: DataFrame, *, n_frames: int = 4, fake: bool = True
) -> DataFrame:
    """Frame sampling for video-shaped payloads: one output row per sampled
    frame (the 1->N explode shape of multimodal preprocessing).
    ``fake=False`` is REAL as of round 4: payloads are MJPEG AVIs, decoded
    by the container+JPEG codec above; ``n_frames`` are sampled evenly
    across the timeline and re-emitted as standalone JPEG bytes. The fake
    'decoder' slices the payload into n equal chunks deterministically
    (kept for plumbing tests of non-AVI bytes)."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("frame", BinaryType()),
        ]
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if fake:
                    step = max(1, len(b) // n_frames)
                    for i in range(n_frames):
                        ids.append(doc_id)
                        idxs.append(i)
                        frames.append(b[i * step : (i + 1) * step])
                else:
                    _, decoded = decode_avi_mjpeg(b)
                    total = len(decoded)
                    for i in range(n_frames):
                        pick = min(total - 1, (i * total) // n_frames)
                        ids.append(doc_id)
                        idxs.append(i)
                        frames.append(encode_jpeg(decoded[pick], quality=95))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return map_in_pandas_spread(docs.select("doc_id", "payload"), _sample, schema)


def decode_image_features(docs: DataFrame, *, fake: bool = True) -> DataFrame:
    """mapInPandas wrapper around decode_image (fake-decoder default, since
    no codec ships in this environment)."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
        ]
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["payload"].map(lambda b: decode_image(bytes(b), fake=fake))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": dims.map(lambda d: d[0]).astype("int64"),
                    "height": dims.map(lambda d: d[1]).astype("int64"),
                }
            )

    return map_in_pandas_spread(docs.select("doc_id", "payload"), _decode, schema)
