"""Multimodal (image/audio/video) column plumbing.

Media is carried as an opaque ``binary`` payload column plus typed
metadata — the layout a 100 TB training-data pipeline uses so parquet
scans can prune metadata-only queries without touching payload bytes.

:func:`extract_media_features` walks one tier tuple (``_TIERS``) per
row; the first tier that recognizes the payload names the ``decoder``
output column:

- **Pixel / sample decode** (``pixels:*``, ``samples:wav``):
  stdlib+numpy decoders of the baseline form of each container —
  PNG (zlib + unfilter), GIF first frame (hand-rolled LZW), BMP
  (slice-and-reshape), 8-bit sequential JPEG (Huffman + dequant +
  IDCT + YCbCr), uncompressed WAV (PCM 8/16-bit, IEEE float32).
- **Header decode** (``header:*``, :func:`parse_image_header`,
  :func:`parse_wav_header`): fixed-offset container headers — PNG
  IHDR, GIF logical screen, BMP info header, any JPEG SOFn, WAV
  RIFF/fmt/data — give real width/height or duration. Every other
  variant of a recognized container (progressive, lossless or 12-bit
  JPEG, interlaced GIF/PNG, compressed WAV codes) lands here.
- **Stub** (``_decode_stub``): video rows and unrecognized payloads
  get deterministic properties derived from the payload hash.

Everything runs inside one ``mapInPandas`` batch loop; adding a codec
is one more entry in ``_TIERS`` and touches no plan.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KINDS = ("image", "audio", "video")

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_std", T.DoubleType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def _hex_byte(col) -> F.Column:
    """Dynamic int (0..255) → 2-hex-digit string, JVM-side."""
    return F.lower(F.lpad(F.hex(col.cast("long")), 2, "0"))


def _hex_le32(col) -> F.Column:
    """Dynamic int → 8-hex-digit little-endian string, JVM-side (the
    RIFF/WAV size fields)."""
    c = col.cast("long")
    return F.concat(
        _hex_byte(c % 256),
        _hex_byte(F.floor(c / 256) % 256),
        _hex_byte(F.floor(c / 65536) % 256),
        _hex_byte(F.floor(c / 16777216) % 256),
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the ``documents`` testdata. Kind
    round-robins by doc_id; IMAGE payloads carry a REAL container
    header (PNG / GIF / BMP / JPEG-SOF0 rotating by doc_id) with deterministic
    doc_id-derived dimensions, followed by the UTF-8 text bytes as
    body, so the header-decode path is exercised end-to-end on real
    bytes. AUDIO payloads get a real 8-bit-PCM WAV container whose
    data chunk is the text bytes — the sample-decode tier
    (:func:`decode_wav_samples`) runs for real on every audio row.
    Video payloads stay raw text (stub-decoded — see module
    docstring). Header synthesis is pure Catalyst (hex-string
    concat → ``to_binary``): no Python between the scan and the
    decode stage.
    """
    w = F.lit(64) + F.col("doc_id") % 192
    h = F.lit(64) + (F.col("doc_id") * 7) % 192
    png_hex = F.concat(
        # magic ‖ IHDR length(13) ‖ "IHDR" ‖ width BE32 ‖ height BE32 ‖
        # bit-depth/color-type/compression/filter/interlace
        F.lit("89504e470d0a1a0a0000000d49484452"),
        F.lit("000000"), _hex_byte(w), F.lit("000000"), _hex_byte(h),
        F.lit("0806000000"),
    )
    gif_hex = F.concat(  # "GIF89a" ‖ width LE16 ‖ height LE16
        F.lit("474946383961"), _hex_byte(w), F.lit("00"), _hex_byte(h), F.lit("00")
    )
    bmp_hex = F.concat(  # "BM" ‖ 16 filler bytes ‖ width LE32 ‖ height LE32
        F.lit("424d"), F.lit("00" * 16),
        _hex_byte(w), F.lit("000000"), _hex_byte(h), F.lit("000000"),
    )
    jpeg_hex = F.concat(
        # SOI ‖ SOF0 marker ‖ length(17) ‖ precision 8 ‖ height BE16 ‖
        # width BE16 ‖ 3 components (id, sampling, quant-table id)
        F.lit("ffd8ffc0001108"),
        F.lit("00"), _hex_byte(h), F.lit("00"), _hex_byte(w),
        F.lit("03011100021101031101"),
    )
    img_header = F.to_binary(
        F.element_at(
            F.array(png_hex, gif_hex, bmp_hex, jpeg_hex),
            (F.floor(F.col("doc_id") / 3) % 4 + 1).cast("int"),
        ),
        F.lit("hex"),
    )
    body = F.encode("text", "UTF-8")
    body_len = F.octet_length(body)
    wav_header = F.to_binary(
        F.concat(
            # "RIFF" ‖ 36+data LE32 ‖ "WAVE" ‖ "fmt " ‖ 16 LE32 ‖
            # PCM=1, mono, 8 kHz sample+byte rate, align 1, 8-bit ‖
            # "data" ‖ data size LE32 — the text bytes ARE the samples,
            # so audio rows exercise the real decode_wav_samples tier
            F.lit("52494646"), _hex_le32(body_len + 36), F.lit("57415645"),
            F.lit("666d742010000000"),
            F.lit("01000100401f0000401f000001000800"),
            F.lit("64617461"), _hex_le32(body_len),
        ),
        F.lit("hex"),
    )
    kind = F.element_at(F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.when(kind == "image", F.concat(img_header, body))
        .when(kind == "audio", F.concat(wav_header, body))
        .otherwise(body).alias("payload"),
        F.create_map(F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")).alias("meta"),
    )


def parse_image_header(payload: bytes | None) -> tuple[str, int, int] | None:
    """(format, width, height) from a PNG/GIF/BMP/JPEG container
    header, or None if the bytes aren't a recognized image.

    Pure stdlib — each format keeps its dimensions at a fixed (or, for
    JPEG, marker-addressed) offset, so no pixel codec is needed:
    PNG IHDR bytes 16..24 (BE32), GIF logical screen bytes 6..10
    (LE16), BMP info-header bytes 18..26 (LE32, height signed — may be
    negative for top-down rows), JPEG SOFn segment scan.
    """
    if not payload:
        return None
    b = bytes(payload)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return ("png", w, h)
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return ("gif", w, h)
    if b[:2] == b"BM" and len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return ("bmp", w, abs(h))
    if b[:2] == b"\xff\xd8":  # JPEG: walk segments to a SOFn marker
        i = 2
        while i + 9 <= len(b) and b[i] == 0xFF:
            marker, seg_len = b[i + 1], struct.unpack(">H", b[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return ("jpeg", w, h)
            i += 2 + seg_len
        return None
    return None


def parse_wav_header(payload: bytes | None) -> float | None:
    """Duration in seconds from a RIFF/WAVE header, or None.

    Walks the chunk list for ``fmt `` (byte rate at chunk offset 8)
    and ``data`` (payload size); duration = data_size / byte_rate.
    """
    if not payload:
        return None
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    byte_rate = data_size = None
    i = 12
    while i + 8 <= len(b):
        cid, size = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 20 <= len(b):
            byte_rate = struct.unpack("<I", b[i + 16 : i + 20])[0]
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if byte_rate and data_size is not None:
        return data_size / byte_rate
    return None


def _wav_chunks(b: bytes) -> "tuple[bytes | None, bytes | None]":
    """(fmt chunk bytes, data chunk bytes) from a RIFF/WAVE container,
    or (None, None) — the sample decoder's chunk walk (word-aligned
    chunk sizes)."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None, None
    fmt = data = None
    i = 12
    while i + 8 <= len(b):
        cid, size = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
        body = b[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)
    return fmt, data


def decode_wav_samples(payload: bytes | None):
    """REAL WAV sample decode (stdlib + numpy): RIFF chunk walk →
    (n_frames, channels) float64 in [-1, 1] for the uncompressed
    encodings (PCM 8-bit unsigned / 16-bit signed, IEEE float32 — a
    frombuffer+reshape+scale, no entropy stage). Returns None for any
    other format code (G.711, ADPCM, MP3-in-WAV, ...) — callers fall
    back to the header tier, exactly like the image decoders.
    """
    import numpy as np

    if not payload:
        return None
    fmt, data = _wav_chunks(bytes(payload))
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_fmt, nch, _rate, _brate, _balign, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if nch < 1:
        return None
    if audio_fmt == 1 and bits == 8:
        raw = np.frombuffer(data, dtype=np.uint8)
        samples = (raw.astype(np.float64) - 128.0) / 128.0
    elif audio_fmt == 1 and bits == 16:
        raw = np.frombuffer(data[: len(data) - (len(data) % 2)],
                            dtype="<i2")
        samples = raw.astype(np.float64) / 32768.0
    elif audio_fmt == 3 and bits == 32:
        raw = np.frombuffer(data[: len(data) - (len(data) % 4)],
                            dtype="<f4")
        samples = raw.astype(np.float64)
    else:
        return None
    n = (len(samples) // nch) * nch
    if n == 0:
        return None
    return samples[:n].reshape(-1, nch)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type → samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png_pixels(payload: bytes | None):
    """REAL PNG pixel decode using only the stdlib: chunk walk → IDAT
    ``zlib.decompress`` → scanline unfilter (all five PNG filters) →
    (H, W, C) uint8 array; palette images are expanded through PLTE.
    Returns None for non-PNG bytes or unsupported variants (bit depth
    ≠ 8, interlaced) — callers fall back to header-only decode.

    Filters None/Up are vectorized over the row; Sub/Average/Paeth
    recur on the previous pixel so they run a per-byte loop — fine for
    thumbnails/test assets. A production path would swap this for a
    codec library; the POINT here is that pixel statistics are
    genuinely computed from genuinely decoded samples, with zero
    non-stdlib dependencies.
    """
    import numpy as np

    b = bytes(payload or b"")
    if b[:8] != _PNG_SIG:
        return None
    pos, idat, ihdr, plte = 8, b"", None, None
    while pos + 8 <= len(b):
        (ln,), typ = struct.unpack(">I", b[pos : pos + 4]), b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + CRC
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        return None
    w, h, depth, ctype, comp, filt, interlace = ihdr
    nch = _PNG_CHANNELS.get(ctype)
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0 or nch is None:
        return None
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    stride = w * nch
    if len(raw) < h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for row in range(h):
        f = raw[pos]
        line = np.frombuffer(raw[pos + 1 : pos + 1 + stride], dtype=np.uint8).astype(
            np.int32
        )
        pos += 1 + stride
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) % 256
        elif f in (1, 3, 4):  # Sub / Average / Paeth: previous-pixel recurrence
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = int(cur[i - nch]) if i >= nch else 0
                up = int(prev[i])
                ul = int(prev[i - nch]) if i >= nch else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + up) // 2
                else:
                    p = a + up - ul
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - ul)
                    pred = a if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                cur[i] = (line[i] + pred) % 256
        else:
            return None
        out[row] = cur.astype(np.uint8)
        prev = cur
    arr = out.reshape(h, w, nch)
    if ctype == 3:
        if plte is None or len(plte) % 3:
            return None
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(arr.max()) >= len(pal):
            return None
        arr = pal[arr[:, :, 0]]
    return arr




def _gif_lzw_decode(data: bytes, min_code_size: int, max_pixels: int):
    """GIF-variant LZW decode → color-index bytes, or None on a corrupt
    stream. Pure stdlib: little-endian bit unpacking, clear/EOI codes,
    dictionary growth to the 12-bit ceiling, the deferred-clear rule
    (a full table keeps emitting 12-bit codes until the encoder sends
    a clear)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    prev = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                if code >= clear:
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
            else:
                return None
            out += entry
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
            prev = entry
            if len(out) >= max_pixels:
                return bytes(out)
    return bytes(out)


def decode_gif_pixels(payload: bytes | None):
    """REAL first-frame GIF pixel decode using only the stdlib: block
    walk → :func:`_gif_lzw_decode` → palette expansion → (H, W, 3)
    uint8 RGB. Returns None for non-GIF bytes or unsupported variants
    (interlaced, missing color table) — callers fall back to
    header-only decode, exactly like the PNG path's unsupported tiers.

    Animated GIFs decode as their FIRST image descriptor (the
    feature-extraction contract for thumbnails/statistics); extensions
    (graphic control, comments, app blocks) are skipped by sub-block
    walking. Like decode_png_pixels this favors clarity over speed —
    the LZW loop is per-code Python, fine for thumbnails/test assets;
    a production path would swap in a codec library.
    """
    import numpy as np

    b = bytes(payload or b"")
    if b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        if pos + 3 * n > len(b):
            return None
        gct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    while pos < len(b):
        blk = b[pos]
        if blk == 0x21:  # extension: label byte then sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif blk == 0x2C:  # image descriptor
            if pos + 10 > len(b):
                return None
            w, h = struct.unpack("<HH", b[pos + 5 : pos + 9])
            ipacked = b[pos + 9]
            pos += 10
            ct = gct
            if ipacked & 0x80:  # local color table wins
                n = 2 ** ((ipacked & 0x07) + 1)
                if pos + 3 * n > len(b):
                    return None
                ct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
                pos += 3 * n
            if ipacked & 0x40 or ct is None or w == 0 or h == 0:
                return None  # interlace / no palette: header-tier fallback
            mcs = b[pos]
            pos += 1
            data = bytearray()
            while pos < len(b) and b[pos] != 0:
                ln = b[pos]
                data += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx_bytes = _gif_lzw_decode(bytes(data), mcs, w * h)
            if idx_bytes is None or len(idx_bytes) < w * h:
                return None
            idx = np.frombuffer(idx_bytes[: w * h], dtype=np.uint8).reshape(h, w)
            if int(idx.max()) >= len(ct):
                return None
            return ct[idx.astype(np.int32)]
        elif blk == 0x3B:  # trailer
            break
        else:
            return None
    return None



def decode_bmp_pixels(payload: bytes | None):
    """REAL BMP pixel decode (stdlib-only): BITMAPINFOHEADER walk →
    (H, W, C) uint8 array for the uncompressed 24-bit BGR and 32-bit
    BGRA variants (BI_RGB), honoring row padding (rows align to 4
    bytes) and row order (positive height = bottom-up, negative =
    top-down). Returns None for non-BMP bytes or compressed /
    palettized variants — callers fall back to header-only decode.

    BMP is the one mainstream raster format whose pixel data is plain
    bytes, so unlike PNG (zlib) and GIF (LZW) there is no entropy
    stage at all: this is a slice-and-reshape, fully vectorized.
    """
    import numpy as np

    if not payload:
        return None
    b = bytes(payload)
    if len(b) < 54 or b[:2] != b"BM":
        return None
    data_off = struct.unpack("<I", b[10:14])[0]
    hdr_size = struct.unpack("<I", b[14:18])[0]
    if hdr_size < 40:  # BITMAPCOREHEADER etc. — out of scope
        return None
    w, h = struct.unpack("<ii", b[18:26])
    bpp = struct.unpack("<H", b[28:30])[0]
    compression = struct.unpack("<I", b[30:34])[0]
    if compression != 0 or bpp not in (24, 32) or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    ch = bpp // 8
    stride = (w * ch + 3) & ~3  # rows pad to 4-byte boundaries
    need = data_off + stride * h
    if len(b) < need:
        return None
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = rows.reshape(h, stride)[:, : w * ch].reshape(h, w, ch)
    if not top_down:
        rows = rows[::-1]
    # BGR(A) → RGB(A)
    rgb = rows[..., [2, 1, 0] + ([3] if ch == 4 else [])]
    return np.ascontiguousarray(rgb)


# --------------------------------------------------------------- JPEG
#
# 8-bit sequential JPEG (SOF0/SOF1, Huffman, interleaved MCUs, 4:4:4 /
# 4:2:2 / 4:2:0 subsampling, restart markers), pure stdlib + numpy.
# Every other frame type (progressive, lossless, 12-bit, arithmetic,
# hierarchical) returns None and falls back to the header tier. Like
# the PNG Paeth path, the Huffman loop is per-bit Python — fine for
# thumbnails; a production path would swap in a codec library.


def _jpeg_zigzag() -> "list[int]":
    """Natural (row-major) index of each zigzag position, generated
    rather than transcribed (diagonal d: odd d walks rows down, even d
    walks rows up — pinned against the standard table in tests)."""
    out = []
    for d in range(15):
        rows = range(max(0, d - 7), min(d, 7) + 1)
        for r in (rows if d % 2 == 1 else reversed(rows)):
            out.append(r * 8 + (d - r))
    return out


_JPEG_ZZ = _jpeg_zigzag()


def _dct_basis():
    """Orthonormal 8-point DCT-II basis C[u, x]; coefficients =
    C @ block @ C.T, block = C.T @ coefficients @ C."""
    import numpy as np

    x = np.arange(8)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) * np.sqrt(0.25)
    c[0] = np.sqrt(0.125)
    return c


class _JpegError(Exception):
    pass


def _huff_table(bits: bytes, values: bytes) -> dict:
    """Canonical Huffman (JPEG B.2.4.2): {(length, code): symbol}."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_read(bits_arr, pos: int, table: dict) -> "tuple[int, int]":
    code = 0
    n = len(bits_arr)
    for ln in range(1, 17):
        if pos >= n:
            raise _JpegError("bitstream exhausted")
        code = (code << 1) | int(bits_arr[pos])
        pos += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym, pos
    raise _JpegError("invalid Huffman code")


def _receive_extend(bits_arr, pos: int, s: int) -> "tuple[int, int]":
    if s == 0:
        return 0, pos
    if pos + s > len(bits_arr):
        raise _JpegError("bitstream exhausted")
    v = 0
    for i in range(s):
        v = (v << 1) | int(bits_arr[pos + i])
    if v < (1 << (s - 1)):  # negative branch (F.12 EXTEND)
        v -= (1 << s) - 1
    return v, pos + s


def decode_jpeg_pixels(payload: bytes | None):
    """REAL 8-bit sequential JPEG pixel decode using only the stdlib +
    numpy: segment walk (DQT/SOF/DHT/DRI/SOS) → entropy-coded segment
    split at restart markers with 0xFF00 unstuffing → Huffman decode
    (per-MCU DC predictor + AC run-length, F.12 EXTEND) → dequantize →
    IDCT (orthonormal basis gemm) → chroma upsample → YCbCr→RGB →
    (H, W, C) uint8. Returns None for non-JPEG bytes and every other
    frame type (progressive, lossless, 12-bit, arithmetic,
    hierarchical, fractional sampling ratios) — callers fall back to
    header-only decode, exactly like the PNG/GIF unsupported tiers.
    """
    import numpy as np

    b = bytes(payload or b"")
    if b[:2] != b"\xff\xd8":
        return None
    try:
        return _decode_jpeg(np, b)
    except (_JpegError, IndexError, ValueError, struct.error):
        return None


def _jpeg_scan_bounds(b: bytes, start: int) -> "list[bytes]":
    """Entropy-coded data from ``start``: 0xFF00-unstuffed byte runs
    split at RSTn markers, up to the terminating marker."""
    segs, cur, j = [], bytearray(), start
    while j < len(b):
        c = b[j]
        if c == 0xFF:
            nxt = b[j + 1] if j + 1 < len(b) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                j += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segs.append(bytes(cur))
                cur = bytearray()
                j += 2
                continue
            break
        cur.append(c)
        j += 1
    segs.append(bytes(cur))
    return segs


def _decode_jpeg(np, b: bytes):
    qtabs: dict[int, "list[int]"] = {}
    htabs: dict[tuple, dict] = {}
    sof = None
    restart = 0
    i = 2
    scan_at = None
    scomp = None
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise _JpegError("marker sync lost")
        marker = b[i + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
        data = b[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT: one or more 65-byte 8-bit tables
            p = 0
            while p < len(data):
                if data[p] >> 4:
                    return None  # 16-bit table: the 12-bit profile
                qtabs[data[p] & 15] = list(data[p + 1 : p + 65])
                p += 65
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            prec, h, w, nc = data[0], *struct.unpack(">HH", data[1:5]), data[5]
            if nc not in (1, 3) or prec != 8:
                return None
            if w == 0 or h == 0 or w * h > (1 << 26):
                return None  # declared-dims bomb guard: a tiny payload
                # claiming 65535x65535 would allocate 34 GB of planes
            if w * h > max(1 << 22, len(b) * 512):
                return None  # payload-relative bomb guard: a genuine
                # image codes >= 1 Huffman bit per 8x8 luma block, so
                # it carries >= w*h/512 payload bytes; a few-KB stream
                # claiming ~64M px would otherwise allocate multi-GB
                # float planes and spin the per-bit Huffman loop
                # inside mapInPandas
            comps = []
            for ci in range(nc):
                cid, hv, tq = data[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            sof = (w, h, comps)
        elif 0xC2 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # progressive / lossless / arithmetic / hierarchical
        elif marker == 0xC4:  # DHT: one or more tables
            p = 0
            while p < len(data):
                tc, th = data[p] >> 4, data[p] & 15
                bits = data[p + 1 : p + 17]
                nv = sum(bits)
                htabs[(tc, th)] = _huff_table(bits, data[p + 17 : p + 17 + nv])
                p += 17 + nv
        elif marker == 0xDD:
            restart = struct.unpack(">H", data[:2])[0]
        elif marker == 0xDA:  # SOS
            ns = data[0]
            scomp = {}
            for ci in range(ns):
                cid, tabs = data[1 + 2 * ci], data[2 + 2 * ci]
                scomp[cid] = (tabs >> 4, tabs & 15)
            scan_at = i + 2 + seg_len
            break
        i += 2 + seg_len
    if sof is None or scan_at is None:
        return None
    w, h, comps = sof
    if len(comps) == 1:
        comps[0]["h"] = comps[0]["v"] = 1  # single-component scan: 1 MCU = 1 block
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if any(c["h"] < 1 or c["v"] < 1 or hmax % c["h"] or vmax % c["v"]
           for c in comps):
        return None
    if len(scomp) != len(comps):
        return None
    # entropy-coded data: unstuff 0xFF00, split at RSTn
    segs = _jpeg_scan_bounds(b, scan_at)

    basis = _dct_basis()
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        for c in comps
    ]
    for c in comps:
        if c["tq"] not in qtabs or c["id"] not in scomp:
            return None
        dc_t, ac_t = scomp[c["id"]]
        if (0, dc_t) not in htabs or (1, ac_t) not in htabs:
            return None
    preds = [0] * len(comps)
    seg_idx = 0
    bits_arr = np.unpackbits(np.frombuffer(segs[0], dtype=np.uint8))
    pos = 0
    coef = np.zeros(64, dtype=np.float64)
    for m in range(mcux * mcuy):
        if restart and m and m % restart == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise _JpegError("missing restart segment")
            bits_arr = np.unpackbits(np.frombuffer(segs[seg_idx], dtype=np.uint8))
            pos = 0
            preds = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, c in enumerate(comps):
            dc_tab = htabs[(0, scomp[c["id"]][0])]
            ac_tab = htabs[(1, scomp[c["id"]][1])]
            q = qtabs[c["tq"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coef[:] = 0.0
                    s, pos = _huff_read(bits_arr, pos, dc_tab)
                    diff, pos = _receive_extend(bits_arr, pos, s)
                    preds[ci] += diff
                    coef[0] = preds[ci] * q[0]
                    k = 1
                    while k < 64:
                        rs, pos = _huff_read(bits_arr, pos, ac_tab)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise _JpegError("AC index out of range")
                        v, pos = _receive_extend(bits_arr, pos, s)
                        coef[_JPEG_ZZ[k]] = v * q[k]
                        k += 1
                    block = basis.T @ coef.reshape(8, 8) @ basis + 128.0
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
    # chroma upsample + crop + YCbCr→RGB
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["v"] != vmax or c["h"] != hmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return out[:, :, None]
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bl = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, bl], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_stub(payload: bytes, kind: str) -> dict:
    """Deterministic fake decode: properties derived from the payload's
    sha256 so outputs are stable across runs/partitionings."""
    h = hashlib.sha256(payload or b"").digest()
    w = 64 + h[0] % 192  # 64..255 px
    ht = 64 + h[1] % 192
    dur = round(1.0 + (h[2] % 120), 1)  # 1..121 s
    frames = 1 if kind == "image" else int(dur * 8)
    return {
        "width": w if kind != "audio" else 0,
        "height": ht if kind != "audio" else 0,
        "duration_s": 0.0 if kind == "image" else dur,
        "n_frames": frames,
    }


_NO_PX = {"channels": None, "px_mean": None, "px_std": None}


def _stats(arr) -> dict:
    """Channel count (last axis) and rounded mean/std of decoded
    pixels or samples."""
    return {
        "channels": int(arr.shape[-1]),
        "px_mean": round(float(arr.mean()), 4),
        "px_std": round(float(arr.std()), 4),
    }


def _pixel_tier(decode, name: str):
    """Image tier over a pixel decoder returning (H, W, C) or None."""

    def tier(payload) -> dict | None:
        px = decode(payload)
        if px is None:
            return None
        return {
            "width": int(px.shape[1]), "height": int(px.shape[0]),
            "duration_s": 0.0, "n_frames": 1, **_stats(px), "decoder": name,
        }

    return tier


def _image_header_tier(payload) -> dict | None:
    parsed = parse_image_header(payload)
    if parsed is None:
        return None
    fmt, w, h = parsed
    return {
        "width": w, "height": h, "duration_s": 0.0, "n_frames": 1,
        **_NO_PX, "decoder": f"header:{fmt}",
    }


def _wav_samples_tier(payload) -> dict | None:
    smp = decode_wav_samples(payload)
    if smp is None:
        return None
    dur = parse_wav_header(payload)
    return {
        "width": 0, "height": 0,
        "duration_s": round(dur, 3) if dur is not None else 0.0,
        "n_frames": int(smp.shape[0]), **_stats(smp), "decoder": "samples:wav",
    }


def _wav_header_tier(payload) -> dict | None:
    dur = parse_wav_header(payload)
    if dur is None:
        return None
    return {
        "width": 0, "height": 0, "duration_s": round(dur, 3), "n_frames": 0,
        **_NO_PX, "decoder": "header:wav",
    }


#: (kind, tier) in probe order: the first tier of a row's kind that
#: returns a feature dict wins; video rows and payloads no tier
#: recognizes fall to :func:`_decode_stub`
_TIERS = (
    ("image", _pixel_tier(decode_png_pixels, "pixels:png")),
    ("image", _pixel_tier(decode_gif_pixels, "pixels:gif")),
    ("image", _pixel_tier(decode_bmp_pixels, "pixels:bmp")),
    ("image", _pixel_tier(decode_jpeg_pixels, "pixels:jpeg")),
    ("image", _image_header_tier),
    ("audio", _wav_samples_tier),
    ("audio", _wav_header_tier),
)


def _decode_one(payload, kind: str) -> dict:
    for tier_kind, tier in _TIERS:
        if tier_kind == kind:
            row = tier(payload)
            if row is not None:
                return row
    return {**_decode_stub(payload, kind), **_NO_PX, "decoder": "stub"}


def extract_media_features(media: DataFrame) -> DataFrame:
    """Per-payload feature extraction via ``mapInPandas``: each row
    walks ``_TIERS`` (see the module docstring).

    Arrow streams whole column batches into Python; each batch is
    processed and yielded back — no per-row pickling. This is the
    narrow (shuffle-free) stage: features compute where the payload
    bytes already live.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                _decode_one(p, k) for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "sha256": [
                        hashlib.sha256(p or b"").hexdigest() for p in pdf["payload"]
                    ],
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "duration_s": [d["duration_s"] for d in decoded],
                    "n_frames": [d["n_frames"] for d in decoded],
                    "channels": [d["channels"] for d in decoded],
                    "px_mean": [d["px_mean"] for d in decoded],
                    "px_std": [d["px_std"] for d in decoded],
                    "decoder": [d["decoder"] for d in decoded],
                }
            )

    return media.mapInPandas(extract, schema=FEATURES_SCHEMA)
