from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from b2b_data_pipeline_indiamart_spark import catalog
from b2b_data_pipeline_indiamart_spark.operators import multimodal as mm

MEDIA_DDL = "media_id long, kind string, payload binary, meta map<string,string>"
META = {"source": "t", "lang": "en"}


@pytest.fixture(scope="module")
def media(spark, sf_small):
    docs = catalog.load(spark, sf_small, "documents").limit(60)
    m = mm.media_from_documents(docs)
    m.cache().count()
    return m


# ---------------------------------------------------------------------------
# encoder fixtures: minimal writers for the container variants the package
# decodes
# ---------------------------------------------------------------------------


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png(w: int, h: int, ctype: int, raw: bytes, plte: bytes = b"") -> bytes:
    """8-bit, non-interlaced PNG around already-filtered scanlines."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        + (_png_chunk(b"PLTE", plte) if plte else b"")
        + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")
    )


_PNG_CTYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels → color type


def _encode_png(arr) -> bytes:
    """8-bit gray/GA/RGB/RGBA PNG, every row filter 0."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nch = a.shape
    raw = b"".join(b"\x00" + a[r].tobytes() for r in range(h))
    return _png(w, h, _PNG_CTYPE[nch], raw)


def _png_with_filters(expected, filters):
    """Build a PNG whose rows use the given per-row filter types, by
    FORWARD-filtering the expected pixels per the PNG spec."""
    a = np.asarray(expected, dtype=np.int32)
    h, w, nch = a.shape
    flat = a.reshape(h, w * nch)
    raw = b""
    for r, f in zip(range(h), filters):
        cur = flat[r]
        prev = flat[r - 1] if r > 0 else np.zeros(w * nch, dtype=np.int32)
        line = np.zeros(w * nch, dtype=np.int32)
        for i in range(w * nch):
            left = int(cur[i - nch]) if i >= nch else 0
            up = int(prev[i])
            ul = int(prev[i - nch]) if i >= nch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            line[i] = (int(cur[i]) - pred) % 256
        raw += bytes([f]) + line.astype(np.uint8).tobytes()
    return _png(w, h, _PNG_CTYPE[nch], raw)


def _gif_lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW encode of color-index bytes: real dictionary
    growth with code-size bookkeeping MIRRORING the decoder's timing,
    clear-and-reset at the 12-bit ceiling."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, size: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    code_size = min_code_size + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, code_size)
    s = b""
    for px in indices:
        c = bytes([px])
        if s + c in table:
            s += c
            continue
        emit(table[s], code_size)
        table[s + c] = next_code
        next_code += 1
        # decoder grows its table one entry behind the emitted code and
        # widens when the table fills the current width — mirror that
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        elif next_code - 1 == 4096:
            emit(clear, code_size)
            code_size = min_code_size + 1
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
        s = c
    if s:
        emit(table[s], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _encode_gif(*frames, delay_cs: int = 10) -> bytes:
    """GIF89a with one shared ≤256-color global palette and one
    graphic-control extension + image descriptor per same-size frame
    (2-D frames are gray)."""
    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    arrs = [np.stack([a, a, a], axis=-1) if a.ndim == 2 else a for a in arrs]
    h, w, _ = arrs[0].shape
    allpx = np.concatenate([a.reshape(-1, 3) for a in arrs])
    palette, inv = np.unique(allpx, axis=0, return_inverse=True)
    inv = inv.reshape(-1).astype(np.uint8)
    bits = max(2, (len(palette) - 1).bit_length())  # GIF minimum 2
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += pal.tobytes()
    for k in range(len(arrs)):
        out += b"\x21\xf9\x04\x04" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + bytes([bits])
        data = _gif_lzw_encode(inv[k * h * w : (k + 1) * h * w].tobytes(), bits)
        for i in range(0, len(data), 255):
            out += bytes([len(data[i : i + 255])]) + data[i : i + 255]
        out += b"\x00"
    return bytes(out + b"\x3b")


def _encode_bmp(arr) -> bytes:
    """24-bit bottom-up BMP (2-D input is gray)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.stack([a, a, a], axis=-1)
    h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for row in a[::-1]:  # bottom-up
        line = row[:, [2, 1, 0]].tobytes()  # RGB → BGR
        body += line + b"\x00" * (stride - len(line))
    header = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def _wav(fmt: bytes, data: bytes) -> bytes:
    """RIFF/WAVE container around a fmt chunk and a data chunk."""
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )


def _encode_wav(samples, sample_rate: int, bits: int = 16) -> bytes:
    """PCM WAV (8-bit unsigned or 16-bit signed) from (n,) or
    (n, channels) floats in [-1, 1]."""
    a = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    if a.ndim == 1:
        a = a[:, None]
    if bits == 8:
        body = (np.round(a * 127.0) + 128).astype(np.uint8).tobytes()
    else:
        body = np.round(a * 32767.0).astype("<i2").tobytes()
    align = a.shape[1] * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, a.shape[1], sample_rate, sample_rate * align, align, bits
    )
    return _wav(fmt, body)


class _JpegBitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:  # pad the final byte with 1-bits (F.1.2.3)
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _encode_jpeg(arr, quality: int = 95, subsampling=(1, 1),
                 restart_interval: int = 0) -> bytes:
    """8-bit baseline JPEG (SOF0). 2-D input → grayscale, (H, W, 3) →
    YCbCr with luma sampling ``subsampling`` ((1, 1) = 4:4:4,
    (2, 2) = 4:2:0; chroma is averaged over the sampling box). A
    uniform quant table is scaled by ``quality`` (IJG formula;
    quality=100 → all-ones). Huffman tables are valid single-length
    canonical tables: 12 DC categories at 4 bits, the 162 AC symbols at
    8 bits. Optional RSTn markers every ``restart_interval`` MCUs."""
    a = np.asarray(arr, dtype=np.float64)
    h, w = a.shape[:2]
    if a.ndim == 2:
        planes, samp = [a], [(1, 1)]
    else:
        r, g, bl = a[..., 0], a[..., 1], a[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * bl,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * bl,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * bl,
        ]
        samp = [tuple(subsampling), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    qtab = np.full((8, 8), float(max(1, min(255, (16 * scale + 50) // 100))))
    basis = mm._dct_basis()

    dc_vals = bytes(range(12))
    ac_vals = bytes(sorted(
        [r << 4 | s for r in range(16) for s in range(1, 11)] + [0x00, 0xF0]
    ))
    dc_codes = {v: (i, 4) for i, v in enumerate(dc_vals)}
    ac_codes = {v: (i, 8) for i, v in enumerate(ac_vals)}

    padded = []
    for pl, (ch, cv) in zip(planes, samp):
        ph, pw = mcuy * vmax * 8, mcux * hmax * 8
        p = np.pad(pl, ((0, ph - h), (0, pw - w)), mode="edge")
        if (ch, cv) != (hmax, vmax):  # box-average downsample
            fy, fx = vmax // cv, hmax // ch
            p = p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        padded.append(p)

    def write_mag(v: int, s: int) -> None:
        if s:
            bw.write(v if v > 0 else v + (1 << s) - 1, s)

    bw = _JpegBitWriter()
    body = bytearray()
    preds = [0] * len(planes)
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            body += bw.out
            body += bytes([0xFF, 0xD0 + ((m // restart_interval - 1) % 8)])
            bw = _JpegBitWriter()
            preds = [0] * len(planes)
        my, mx = divmod(m, mcux)
        for ci, (pl, (ch, cv)) in enumerate(zip(padded, samp)):
            for by in range(cv):
                for bx in range(ch):
                    y0 = (my * cv + by) * 8
                    x0 = (mx * ch + bx) * 8
                    blk = pl[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                    coefs = np.round((basis @ blk @ basis.T) / qtab).astype(int)
                    diff = int(coefs[0, 0]) - preds[ci]
                    preds[ci] = int(coefs[0, 0])
                    s = abs(diff).bit_length()
                    bw.write(*dc_codes[s])
                    write_mag(diff, s)
                    run = 0
                    for k in range(1, 64):
                        v = int(coefs.flat[mm._JPEG_ZZ[k]])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            bw.write(*ac_codes[0xF0])
                            run -= 16
                        s = abs(v).bit_length()
                        bw.write(*ac_codes[run << 4 | s])
                        write_mag(v, s)
                        run = 0
                    if run:
                        bw.write(*ac_codes[0x00])
    bw.flush()
    body += bw.out

    def seg(marker: int, data: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes(int(qtab.flat[k]) for k in mm._JPEG_ZZ))
    sof = struct.pack(">BHHB", 8, h, w, len(planes))
    for ci, (ch, cv) in enumerate(samp):
        sof += bytes([ci + 1, ch << 4 | cv, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, b"\x00" + bytes([0, 0, 0, 12] + [0] * 12) + dc_vals)
    out += seg(0xC4, b"\x10" + bytes([0] * 7 + [len(ac_vals)] + [0] * 8) + ac_vals)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        sos += bytes([ci + 1, 0x00])
    out += seg(0xDA, sos + b"\x00\x3f\x00")
    return bytes(out + body + b"\xff\xd9")


def _with_sof(jpeg: bytes, marker: int, precision: int = 8) -> bytes:
    """``jpeg`` with its SOF0 marker and sample precision rewritten —
    the other frame types, whose bodies the decoder must decline."""
    b = bytearray(jpeg)
    i = b.index(b"\xff\xc0")
    b[i + 1], b[i + 4] = marker, precision
    return bytes(b)


def _extract_one(spark, kind: str, payload: bytes):
    media = spark.createDataFrame(
        [(1, kind, bytearray(payload), META)], MEDIA_DDL
    )
    [row] = mm.extract_media_features(media).collect()
    return row


# ---------------------------------------------------------------------------
# Spark plumbing, header tier and stub tier on the registry's media table
# ---------------------------------------------------------------------------


def test_media_schema(media):
    assert [f.name for f in media.schema.fields] == ["media_id", "kind", "payload", "meta"]
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds <= set(mm.KINDS)


def test_extract_media_features(media):
    feats = mm.extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == media.count()
    for r in rows:
        assert r["n_bytes"] > 0
        assert len(r["sha256"]) == 64
        if r["kind"] == "image":
            assert r["n_frames"] == 1 and r["duration_s"] == 0.0
        if r["kind"] == "audio":
            assert r["width"] == 0 and r["height"] == 0
        if r["kind"] == "video":
            assert r["n_frames"] >= 8


def test_extract_deterministic_across_partitionings(media):
    a = sorted(map(tuple, mm.extract_media_features(media).collect()))
    b = sorted(map(tuple, mm.extract_media_features(media.repartition(7)).collect()))
    assert a == b


def test_parse_image_header_known_bytes():
    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00" + b"junkbody"
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"trailer"
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600) + b"rest"
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 15) + b"JFIF\x00" + b"\x00" * 8  # APP0
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 1080, 1920)
        + b"\x03" + b"\x00" * 9
    )
    assert mm.parse_image_header(png) == ("png", 640, 480)
    assert mm.parse_image_header(gif) == ("gif", 320, 200)
    assert mm.parse_image_header(bmp) == ("bmp", 800, 600)  # abs(top-down h)
    assert mm.parse_image_header(jpeg) == ("jpeg", 1920, 1080)
    assert mm.parse_image_header(b"plain text, not an image") is None
    assert mm.parse_image_header(None) is None
    assert mm.parse_image_header(b"\x89PNG\r\n\x1a\n" + b"tr") is None  # truncated


def test_parse_wav_header_known_bytes():
    byte_rate, data = 8000, b"\x00" * 4000  # 0.5 s of 8 kHz 8-bit mono
    wav = _wav(struct.pack("<HHIIHH", 1, 1, 8000, byte_rate, 1, 8), data)
    assert mm.parse_wav_header(wav) == 0.5
    assert mm.parse_wav_header(b"not riff") is None


def test_image_rows_decode_real_headers(media):
    """media_from_documents synthesizes valid PNG/GIF/BMP/JPEG headers
    for image rows; the feature extractor must decode the REAL
    dimensions (64 + id % 192 by 64 + 7*id % 192), not the stub's
    hash-derived fakes — and report which header format it parsed."""
    feats = mm.extract_media_features(media.filter("kind = 'image'")).collect()
    assert feats
    seen = set()
    for r in feats:
        assert r["decoder"].startswith("header:"), r
        seen.add(r["decoder"])
        assert r["width"] == 64 + r["media_id"] % 192
        assert r["height"] == 64 + (r["media_id"] * 7) % 192
    assert seen == {"header:png", "header:gif", "header:bmp", "header:jpeg"}


def test_non_image_rows_decode_audio_stub_video(media):
    """Audio rows carry a real 8-bit-PCM WAV container (text bytes as
    samples) and must hit the samples:wav tier; raw-text video rows
    stay on the deterministic stub."""
    feats = mm.extract_media_features(media.filter("kind != 'image'")).collect()
    assert feats
    for r in feats:
        if r["kind"] == "audio":
            assert r["decoder"] == "samples:wav", r
            # 8 kHz mono 8-bit: duration tracks byte count exactly
            data_bytes = r["n_bytes"] - 44
            assert r["n_frames"] == data_bytes and r["channels"] == 1
            assert abs(r["duration_s"] - round(data_bytes / 8000, 3)) < 1e-9
            # (byte-128)/128 with printable ASCII 32..126 spans
            # [-0.75, -0.02] -- mean must land in that band
            assert -0.76 <= r["px_mean"] <= 0.0
        else:
            assert r["decoder"] == "stub", r


# ---------------------------------------------------------------------------
# PNG pixel tier
# ---------------------------------------------------------------------------


def test_png_roundtrip_gray_rgb_rgba():
    for nch in (1, 3, 4):
        arr = (np.arange(5 * 4 * nch, dtype=np.uint8).reshape(5, 4, nch) * 7) % 256
        out = mm.decode_png_pixels(_encode_png(arr))
        assert out is not None and out.shape == (5, 4, nch)
        assert (out == arr).all()


def test_png_all_filter_types_decode_exactly():
    rng = np.random.RandomState(7)
    expected = rng.randint(0, 256, size=(5, 6, 3)).astype(np.uint8)
    payload = _png_with_filters(expected, filters=[0, 1, 2, 3, 4])
    out = mm.decode_png_pixels(payload)
    assert out is not None and (out == expected).all()


def test_png_palette_expansion():
    # 2x2 indexed image over a 3-color palette
    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(2))
    payload = _png(2, 2, 3, raw, plte=pal)
    out = mm.decode_png_pixels(payload)
    assert out is not None and out.shape == (2, 2, 3)
    assert tuple(out[0, 0]) == (255, 0, 0)
    assert tuple(out[0, 1]) == (0, 255, 0) == tuple(out[1, 1])
    assert tuple(out[1, 0]) == (0, 0, 255)


def test_extract_features_reports_real_pixel_stats(spark):
    arr = np.full((4, 4, 3), 100, dtype=np.uint8)
    arr[0, 0] = [200, 200, 200]  # one bright pixel
    row = _extract_one(spark, "image", _encode_png(arr))
    assert row["decoder"] == "pixels:png"
    assert (row["width"], row["height"], row["channels"]) == (4, 4, 3)
    expect_mean = round(float(arr.mean()), 4)
    assert row["px_mean"] == expect_mean and row["px_std"] > 0


# ---------------------------------------------------------------------------
# GIF pixel tier (first frame)
# ---------------------------------------------------------------------------


def test_gif_roundtrip_rgb_and_gray():
    rng = np.random.RandomState(7)
    pal = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    img = pal[rng.randint(0, 16, size=(24, 31))]
    out = mm.decode_gif_pixels(_encode_gif(img))
    assert out is not None and np.array_equal(out, img)
    g = rng.randint(0, 250, size=(9, 5), dtype=np.uint8)
    out_g = mm.decode_gif_pixels(_encode_gif(g))
    assert np.array_equal(out_g, np.stack([g, g, g], axis=-1))


def test_gif_lzw_dictionary_growth_and_12bit_reset():
    # a long low-entropy stream forces code-size growth to the 12-bit
    # ceiling and an encoder clear/reset — the decoder must track both
    data = bytes(range(16)) * 2000 + b"\x05" * 100000
    enc = _gif_lzw_encode(data, 4)
    assert len(enc) < len(data) // 4  # real compression, not clear-spam
    assert mm._gif_lzw_decode(enc, 4, len(data)) == data


def test_gif_decode_rejects_bad_inputs():
    assert mm.decode_gif_pixels(None) is None
    assert mm.decode_gif_pixels(b"notagif") is None
    full = _encode_gif(np.zeros((4, 4, 3), dtype=np.uint8))
    assert mm.decode_gif_pixels(full[:15]) is None  # truncated
    # interlace flag set → header-tier fallback (None here)
    tampered = bytearray(full)
    # image descriptor packed byte: separator + 4 LE16 fields
    idx = full.index(b"\x2c") + 9
    tampered[idx] |= 0x40
    assert mm.decode_gif_pixels(bytes(tampered)) is None


def test_extract_features_reports_real_gif_pixel_stats(spark):
    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    arr = pal[rng.randint(0, 8, size=(6, 10))]
    row = _extract_one(spark, "image", _encode_gif(arr))
    assert row["decoder"] == "pixels:gif"
    assert (row["width"], row["height"], row["channels"]) == (10, 6, 3)
    assert row["px_mean"] == round(float(arr.mean()), 4)
    assert row["px_std"] == round(float(arr.std()), 4)


def test_gif_animation_roundtrip_and_first_frame_tier(spark):
    """A multi-frame GIF decodes as its FIRST image descriptor on the
    image tier; as a video row it has no frame tier and lands on the
    stub."""
    frames = [np.full((12, 9, 3), i * 30, dtype=np.uint8) for i in range(5)]
    frames[2][3:6, 2:5] = [200, 10, 99]
    gif = _encode_gif(*frames, delay_cs=25)
    assert (mm.decode_gif_pixels(gif) == frames[0]).all()
    row = _extract_one(spark, "video", gif)
    assert row["decoder"] == "stub" and row["channels"] is None


# ---------------------------------------------------------------------------
# BMP pixel tier
# ---------------------------------------------------------------------------


def test_bmp_roundtrip_rgb_and_gray():
    rng = np.random.default_rng(11)
    for shape in [(5, 7, 3), (4, 4), (3, 5, 3)]:  # odd widths hit padding
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = mm.decode_bmp_pixels(_encode_bmp(arr))
        want = arr if arr.ndim == 3 else np.stack([arr] * 3, axis=-1)
        assert out.shape == want.shape
        assert (out == want).all()


def test_bmp_top_down_negative_height():
    arr = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    b = bytearray(_encode_bmp(arr))
    # flip to top-down: negate height, reverse the stored row order
    h = struct.unpack("<i", bytes(b[22:26]))[0]
    b[22:26] = struct.pack("<i", -h)
    stride = (2 * 3 + 3) & ~3
    rows = [bytes(b[54 + i * stride : 54 + (i + 1) * stride]) for i in range(2)]
    b[54:] = rows[1] + rows[0]
    out = mm.decode_bmp_pixels(bytes(b))
    assert (out == arr).all()


def test_bmp_rejects_compressed_and_short_payloads():
    assert mm.decode_bmp_pixels(None) is None
    assert mm.decode_bmp_pixels(b"BM" + b"\x00" * 10) is None  # truncated
    assert mm.decode_bmp_pixels(b"\x89PNG\r\n\x1a\n") is None  # not a BMP


def test_extract_features_bmp_pixel_tier(spark):
    arr = np.full((3, 5, 3), 64, dtype=np.uint8)
    row = _extract_one(spark, "image", _encode_bmp(arr))
    assert row["decoder"] == "pixels:bmp"
    assert (row["width"], row["height"], row["channels"]) == (5, 3, 3)
    assert row["px_mean"] == 64.0 and row["px_std"] == 0.0


# ---------------------------------------------------------------------------
# JPEG pixel tier (8-bit sequential); every other frame type → header tier
# ---------------------------------------------------------------------------


def test_jpeg_zigzag_matches_standard_table():
    # the generated order must equal the standard JPEG zigzag (pinned
    # so a shared-constant bug can't cancel between encoder and decoder)
    assert mm._JPEG_ZZ[:16] == [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    ]
    assert mm._JPEG_ZZ[-8:] == [53, 60, 61, 54, 47, 55, 62, 63]
    assert sorted(mm._JPEG_ZZ) == list(range(64))


def test_jpeg_solid_gray_exact_at_q100():
    img = np.full((16, 24), 128, dtype=np.uint8)
    px = mm.decode_jpeg_pixels(_encode_jpeg(img, quality=100))
    assert px.shape == (16, 24, 1)
    assert int(np.abs(px[:, :, 0].astype(int) - 128).max()) == 0


def test_jpeg_gray_roundtrip_q100_within_1lsb():
    g = (np.arange(32 * 48).reshape(32, 48) * 7 % 251).astype(np.uint8)
    px = mm.decode_jpeg_pixels(_encode_jpeg(g, quality=100))
    assert px.shape == (32, 48, 1)
    assert int(np.abs(px[:, :, 0].astype(int) - g.astype(int)).max()) <= 1


def test_jpeg_rgb_444_roundtrip():
    rgb = np.zeros((24, 40, 3), dtype=np.uint8)
    rgb[..., 0] = (np.arange(40)[None, :] * 6) % 256
    rgb[..., 1] = (np.arange(24)[:, None] * 10) % 256
    rgb[..., 2] = 77
    px = mm.decode_jpeg_pixels(_encode_jpeg(rgb, quality=100))
    assert px.shape == (24, 40, 3)
    # YCbCr forward+inverse rounding + unit quant: a couple of LSB
    assert int(np.abs(px.astype(int) - rgb.astype(int)).max()) <= 3


def test_jpeg_420_subsampling_constant_color_exact():
    c = np.zeros((30, 34, 3), dtype=np.uint8)
    c[..., 0], c[..., 1], c[..., 2] = 200, 60, 110
    px = mm.decode_jpeg_pixels(_encode_jpeg(c, quality=100, subsampling=(2, 2)))
    assert px.shape == (30, 34, 3)  # odd dims crop back from the MCU grid
    assert int(np.abs(px.astype(int) - c.astype(int)).max()) <= 1


def test_jpeg_restart_markers_resync():
    g = (np.arange(32 * 48).reshape(32, 48) * 7 % 251).astype(np.uint8)
    plain = _encode_jpeg(g, quality=100)
    rst = _encode_jpeg(g, quality=100, restart_interval=2)
    assert any(bytes([0xFF, 0xD0 + i]) in rst for i in range(8))
    a = mm.decode_jpeg_pixels(plain)
    b = mm.decode_jpeg_pixels(rst)
    assert (a == b).all()


def test_jpeg_lossy_quality_still_tracks_smooth_image():
    smooth = np.clip(
        np.add.outer(np.arange(32) * 3, np.arange(32) * 2), 0, 255
    ).astype(np.uint8)
    px = mm.decode_jpeg_pixels(_encode_jpeg(smooth, quality=75))
    assert int(np.abs(px[:, :, 0].astype(int) - smooth.astype(int)).max()) <= 8


def test_jpeg_rejects_progressive_truncated_and_garbage():
    jb = _encode_jpeg(np.full((8, 8), 10, dtype=np.uint8), quality=100)
    assert mm.decode_jpeg_pixels(None) is None
    assert mm.decode_jpeg_pixels(b"not a jpeg") is None
    assert mm.decode_jpeg_pixels(jb[:20]) is None  # truncated mid-header
    # progressive (SOF2), lossless (SOF3), 12-bit extended (SOF1) and
    # arithmetic (SOF9) frames have no pixel tier: the decoder declines
    # them cleanly and the header tier still reads the dims
    for variant in (_with_sof(jb, 0xC2), _with_sof(jb, 0xC3),
                    _with_sof(jb, 0xC1, precision=12), _with_sof(jb, 0xC9)):
        assert mm.decode_jpeg_pixels(variant) is None
        assert mm.parse_image_header(variant) == ("jpeg", 8, 8)
    # 8-bit SOF1 is the same sequential process and still decodes
    assert mm.decode_jpeg_pixels(_with_sof(jb, 0xC1)) is not None


def test_jpeg_header_parse_of_own_bytes():
    jb = _encode_jpeg(np.full((6, 9), 50, dtype=np.uint8), quality=90)
    assert mm.parse_image_header(jb) == ("jpeg", 9, 6)


def test_extract_features_jpeg_pixel_tier(spark):
    arr = np.full((16, 8, 3), 90, dtype=np.uint8)
    jb = _encode_jpeg(arr, quality=100)
    row = _extract_one(spark, "image", jb)
    assert row["decoder"] == "pixels:jpeg"
    assert (row["width"], row["height"], row["channels"]) == (8, 16, 3)
    assert abs(row["px_mean"] - 90.0) <= 1.0
    assert row["px_std"] <= 1.0
    # a progressive frame lands on the header tier, not an exception
    row = _extract_one(spark, "image", _with_sof(jb, 0xC2))
    assert row["decoder"] == "header:jpeg"
    assert (row["width"], row["height"], row["channels"]) == (8, 16, None)


def test_jpeg_bomb_guard_rejects_inflated_dims():
    """The 512:1 payload-ratio guard: every block's DC coefficient costs
    >= 1 Huffman bit, so a genuine stream carries >= w*h/512 bytes. A
    tiny payload whose SOF dims are inflated past that bound is
    rejected to header-only decode, cheaply, at header time, while the
    unmodified encode decodes fine."""
    img = np.full((16, 16), 128, dtype=np.uint8)
    payload = _encode_jpeg(img, quality=90)
    assert mm.decode_jpeg_pixels(payload) is not None
    b = bytearray(payload)
    i = b.index(b"\xff\xc0")
    b[i + 5 : i + 9] = struct.pack(">HH", 8192, 8192)  # 1<<26 px
    assert mm.decode_jpeg_pixels(bytes(b)) is None
    assert mm.parse_image_header(bytes(b)) == ("jpeg", 8192, 8192)


# ---------------------------------------------------------------------------
# WAV sample tier (PCM 8/16-bit, float32); compressed codes → header tier
# ---------------------------------------------------------------------------


def test_wav_sample_roundtrip_8_and_16_bit():
    t = np.linspace(0.0, 1.0, 800)
    s = np.stack([np.sin(2 * np.pi * 5 * t), np.cos(2 * np.pi * 3 * t)],
                 axis=1) * 0.5
    out16 = mm.decode_wav_samples(_encode_wav(s, 800, bits=16))
    assert out16.shape == (800, 2)
    assert float(np.abs(out16 - s).max()) < 1.0 / 32000
    out8 = mm.decode_wav_samples(_encode_wav(s[:, 0], 800, bits=8))
    assert out8.shape == (800, 1)
    assert float(np.abs(out8[:, 0] - s[:, 0]).max()) < 1.0 / 120
    assert mm.parse_wav_header(_encode_wav(s, 800, bits=16)) == 1.0


def test_wav_sample_rejects_non_pcm_and_garbage():
    assert mm.decode_wav_samples(None) is None
    assert mm.decode_wav_samples(b"not riff") is None
    # ADPCM (fmt 2) must fall back to the header tier
    adpcm = _wav(struct.pack("<HHIIHH", 2, 1, 8000, 4000, 1, 4), b"\x00" * 4)
    assert mm.decode_wav_samples(adpcm) is None
    assert mm.parse_wav_header(adpcm) is not None
    # float32 path decodes
    f = np.array([0.25, -0.5, 0.125], dtype="<f4")
    wav = _wav(struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32), f.tobytes())
    out = mm.decode_wav_samples(wav)
    assert out.shape == (3, 1) and float(abs(out[:, 0] - f).max()) == 0.0


def test_wav_decode_rejects_unknown_compression():
    # MPEG-in-WAV (0x55), G.711 A-law (6) / µ-law (7) and IMA ADPCM
    # (0x11) have no sample tier: each falls back to the header tier,
    # which still reads the duration (8000 data bytes at 2000 B/s)
    for code, bits in ((0x55, 0), (6, 8), (7, 8), (0x11, 4)):
        fmt = struct.pack("<HHIIHH", code, 1, 8000, 2000, 1, bits)
        wav = _wav(fmt, b"\x00" * 8000)
        assert mm.decode_wav_samples(wav) is None, code
        assert mm.parse_wav_header(wav) == 4.0, code
