"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns with a typed metadata struct.
The Spark-side schema, partitioning, and Arrow batch shape are real and
tested, and — since r3/r4 — so is the decode for FIVE containers this
sandbox can parse WITHOUT codec libraries:

- **BMP** (24-bpp uncompressed, BITMAPINFOHEADER): full byte-level parse —
  file/info headers validated against the payload length, pixel rows
  (bottom-up, 4-byte padded, BGR) decoded via numpy, body statistics
  (mean pixel value) computed from the actual pixels;
- **WAV** (RIFF/PCM 16-bit): fmt/data chunks parsed, duration derived from
  the sample count/rate, RMS computed from the actual samples;
- **PNG** (8-bit gray/RGB/LA/RGBA, non-interlaced): full pixel decode —
  chunk walk with CRC validation, stdlib-zlib inflate of the IDAT stream,
  per-scanline unfiltering (all five PNG filter types, spec §9) in numpy,
  body statistics from the actual pixels;
- **JPEG** (baseline sequential, SOF0/SOF1, 8-bit, 1 or 3 components, any
  sampling factors, DRI restarts — NEW r4): full pixel decode per public
  ITU T.81 — canonical Huffman entropy decode with byte unstuffing,
  dequantize, de-zigzag, matrix IDCT, upsample, YCbCr→RGB;
- **GIF** (87a/89a, global/local color tables, interlace, animation
  delays — NEW r4): full pixel decode with a real LZW decompressor
  (variable code width, table resets/growth), first frame reduced.

Degradation ladder (reference decode-error tolerance): full pixel decode →
REAL metadata probe (the ffprobe analog — e.g. progressive/arithmetic JPEG
keeps true width/height/channels from the SOF walk, truncated streams keep
their header metadata; body_mean honestly null) → `_decode_bytes_stub`, a
clearly-marked deterministic fake for formats needing codec libraries
(MP3/H264/...), so pipelines over mixed corpora keep flowing. Swap the
fallback for PIL/ffmpeg on a real cluster; every signature stays the same.

All operators are `mapInPandas` iterators: one Arrow batch in, one out, so
decode cost amortizes across the batch and memory stays bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch`.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_DDL = (
    "media_type string, width int, height int, n_channels int, "
    "duration_ms int, codec string, body_mean double"
)

# BMP + WAV + PNG + GIF + JPEG (baseline AND progressive) decode is REAL
# (byte-level container parse, stdlib zlib, numpy DCT/LZW body math);
# remaining JPEG variants (arithmetic-coded, 12-bit, lossless,
# hierarchical) and truncated streams degrade to a REAL metadata probe;
# formats needing codec libraries still stub.
_DECODE_IS_STUB = False
DECODE_REAL_FORMATS = ("bmp", "wav", "png", "gif", "jpeg", "jpeg-progressive")
PROBE_REAL_FORMATS = ("jpeg-arithmetic", "jpeg-12bit", "jpeg-lossless", "jpeg-hierarchical")


# ---------------------------------------------------------------------------
# real codecs (public container formats: Windows BMP spec, RIFF/WAVE spec)
# ---------------------------------------------------------------------------

def encode_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Build a real 24-bpp bottom-up BMP (constant fill). Test/datagen
    helper: the bytes round-trip through _decode_bmp."""
    row_len = (width * 3 + 3) & ~3
    img_size = row_len * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    row = (bytes([rgb[2] % 256, rgb[1] % 256, rgb[0] % 256]) * width).ljust(row_len, b"\0")
    return header + row * height


def encode_wav(n_samples: int, sample_rate: int, amplitude: int) -> bytes:
    """Build a real RIFF/PCM-16 mono WAV: an alternating-sign square wave of
    constant |amplitude| (so RMS == amplitude exactly)."""
    samples = np.full(n_samples, amplitude, dtype=np.int16)
    samples[1::2] *= -1
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", 16) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
    )


def _decode_bmp(p: bytes) -> dict:
    """Strict 24-bpp BMP parse: header fields validated against the payload
    (a text blob that merely starts with 'BM' fails validation and falls
    through to the stub)."""
    if len(p) < 54:
        raise ValueError("short bmp")
    magic, file_size, _, _, data_off = struct.unpack_from("<2sIHHI", p, 0)
    (hdr, width, height, planes, bpp, comp, img_size, *_rest) = struct.unpack_from(
        "<IiiHHII", p, 14
    )
    if magic != b"BM" or hdr < 40 or planes != 1 or comp != 0 or bpp != 24:
        raise ValueError("unsupported bmp")
    if width <= 0 or height == 0 or file_size != len(p):
        raise ValueError("corrupt bmp header")
    h = abs(height)
    row_len = (width * 3 + 3) & ~3
    if data_off + row_len * h > len(p):
        raise ValueError("truncated bmp body")
    rows = np.frombuffer(p, dtype=np.uint8, offset=data_off, count=row_len * h)
    px = rows.reshape(h, row_len)[:, : width * 3]  # strip row padding
    return {
        "media_type": "image",
        "width": width,
        "height": h,
        "n_channels": 3,
        "duration_ms": None,
        "codec": "bmp",
        "body_mean": float(px.mean()),
    }


def _decode_wav(p: bytes) -> dict:
    """RIFF/PCM WAV parse: walks chunks, requires PCM 16-bit, computes RMS
    over the actual samples."""
    if len(p) < 44 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not riff/wave")
    off, fmt, data = 12, None, None
    while off + 8 <= len(p):
        cid, sz = struct.unpack_from("<4sI", p, off)
        body = p[off + 8 : off + 8 + sz]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        off += 8 + sz + (sz & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16 or n_ch < 1 or rate <= 0:
        raise ValueError("unsupported wav encoding")
    samples = np.frombuffer(data, dtype="<i2")
    n_frames = len(samples) // n_ch
    return {
        "media_type": "audio",
        "width": None,
        "height": None,
        "n_channels": n_ch,
        "duration_ms": int(n_frames * 1000 // rate),
        "codec": "pcm_s16le",
        "body_mean": float(np.sqrt(np.mean(samples.astype(np.float64) ** 2))),
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    body = typ + data
    return (
        struct.pack(">I", len(data))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Build a real 8-bit RGB PNG (constant fill, filter-0 scanlines, one
    zlib IDAT). Test/datagen helper; the decoder handles any writer."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = (bytes([0]) + bytes(rgb) * width) * height
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(p: bytes) -> dict:
    """Full PNG pixel decode with stdlib zlib + numpy scanline unfiltering
    (all five filter types, PNG spec §9). Supports the common web profile:
    8-bit depth, color types 0/2/4/6, non-interlaced. Chunk CRCs are
    validated, so a payload that merely starts with the signature falls
    through to the stub. Filter-0/Up rows are pure numpy; Sub/Average/Paeth
    rows carry a left-neighbor dependency and walk the scanline."""
    if p[:8] != _PNG_SIG:
        raise ValueError("not png")
    off, ihdr, idat = 8, None, []
    while off + 12 <= len(p):
        ln, typ = struct.unpack_from(">I4s", p, off)
        data = p[off + 8 : off + 8 + ln]
        if len(data) != ln or off + 12 + ln > len(p):
            raise ValueError("truncated png chunk")
        (crc,) = struct.unpack_from(">I", p, off + 8 + ln)
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError("bad png crc")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        off += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if (
        w <= 0 or h <= 0 or depth != 8 or ctype not in _PNG_CHANNELS
        or comp != 0 or filt != 0 or interlace != 0
    ):
        raise ValueError("unsupported png variant")
    ch = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != (stride + 1) * h:
        raise ValueError("bad png body size")
    arr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    img = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        f = int(arr[y, 0])
        line = arr[y, 1:].astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 1:  # Sub
            cur = line
            for x in range(ch, stride):
                cur[x] = (cur[x] + cur[x - ch]) & 0xFF
        elif f == 3:  # Average
            cur = line
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                cur[x] = (cur[x] + ((a + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = line
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError("bad png filter type")
        img[y] = cur.astype(np.uint8)
        prev = cur
    return {
        "media_type": "image",
        "width": int(w),
        "height": int(h),
        "n_channels": ch,
        "duration_ms": None,
        "codec": "png",
        "body_mean": float(img.mean()),
    }


_JPEG_SOF = frozenset(
    {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
)


class _JpegUnsupported(Exception):
    """Structurally valid JPEG outside the decodable profiles (arithmetic
    coding, 12-bit, lossless, hierarchical): pixel decode degrades to the
    SOF metadata probe instead of the stub. Baseline sequential AND
    progressive (SOF0/1/2) decode for real."""


# orthonormal 8x8 DCT basis: spatial = C.T @ coef @ C (IDCT, DCT-III),
# coef = C @ spatial @ C.T (FDCT) — JPEG spec A.3.3 in matrix form
_DCT_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)

# zig-zag scan order (JPEG spec figure 5): zz[i] = raster index of the
# i-th coefficient in transmission order
_JPEG_ZZ = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

# quantization tables: Annex K.1/K.2 example tables (the de-facto
# "quality 50" tables every camera scales)
_JPEG_QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_JPEG_QT_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)


def _jpeg_huff_spec(symbols: list[int]) -> tuple[list[int], list[int]]:
    """Canonical two-length Huffman spec over `symbols` for the encoder:
    the 12 most common symbols at 4 bits, the rest at 10 — valid under
    Kraft with the all-ones code unused (spec C.2 convention). The DECODER
    accepts arbitrary DHT specs; this just keeps the test encoder honest
    about multi-length codes."""
    if len(symbols) <= 12:
        bits = [0] * 16
        bits[3] = len(symbols)  # all at length 4
        return bits, list(symbols)
    bits = [0] * 16
    bits[3], bits[9] = 12, len(symbols) - 12
    return bits, list(symbols)


def _jpeg_huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) canonical assignment (spec C.2)."""
    out, code = {}, 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc, self.n = 0, 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put(0x7F, 8 - self.n)  # pad with 1s per spec F.1.2.3
        return bytes(self.buf)


def _jpeg_mag(v: int) -> tuple[int, int]:
    """(size, raw bits) of a DC diff / AC coefficient (spec F.1.2.1.1)."""
    size = int(abs(v)).bit_length()
    raw = v if v >= 0 else v + (1 << size) - 1
    return size, raw


def _jpeg_prepare(rgb: "np.ndarray", subsample: bool):
    """Shared encoder front half: RGB → JFIF YCbCr (optional 4:2:0) → padded
    MCU grid → FDCT → Annex-K quantized int32 blocks. Returns
    (h, w, planes, comp_blocks, mcux, mcuy) where planes is
    [(plane, h_i, v_i, qt_id)] and comp_blocks[ci][(by, bx)] is the 8x8
    quantized coefficient block in raster order."""
    rgb = np.asarray(rgb, dtype=np.float64)
    h, w = rgb.shape[:2]
    # JFIF YCbCr
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = 128 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
    cr = 128 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
    if subsample:  # 4:2:0 — average 2x2 neighborhoods
        He, We = (h + 1) & ~1, (w + 1) & ~1
        def _down(c):
            cpad = np.pad(c, ((0, He - h), (0, We - w)), mode="edge")
            return (cpad[0::2, 0::2] + cpad[1::2, 0::2]
                    + cpad[0::2, 1::2] + cpad[1::2, 1::2]) / 4.0
        planes = [(y, 2, 2, 0), (_down(cb), 1, 1, 1), (_down(cr), 1, 1, 1)]
    else:
        planes = [(y, 1, 1, 0), (cb, 1, 1, 1), (cr, 1, 1, 1)]
    hmax = max(p[1] for p in planes)
    vmax = max(p[2] for p in planes)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    qts = (_JPEG_QT_LUM, _JPEG_QT_CHR)

    # pad each plane to its MCU grid and FDCT+quantize all blocks
    comp_blocks = []
    for plane, ch_, cv_, qid in planes:
        bw, bh = mcux * ch_ * 8, mcuy * cv_ * 8
        ppad = np.pad(plane, ((0, bh - plane.shape[0]), (0, bw - plane.shape[1])),
                      mode="edge") - 128.0
        qt = qts[qid].reshape(8, 8)
        blocks = {}
        for by in range(bh // 8):
            for bx in range(bw // 8):
                blk = ppad[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
                coef = _DCT_C @ blk @ _DCT_C.T
                blocks[(by, bx)] = np.round(coef / qt).astype(np.int32)
        comp_blocks.append(blocks)
    return h, w, planes, comp_blocks, mcux, mcuy


def _jpeg_headers(h: int, w: int, planes, sof_marker: int,
                  restart_interval: int, dc_spec, ac_spec) -> bytes:
    """SOI → JFIF APP0 → DQT×2 → SOF → DHT(dc0+ac0) → [DRI] prefix shared
    by the sequential and progressive encoders."""

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(tc: int, th: int, spec) -> bytes:
        bits, vals = spec
        return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)

    out = bytes([0xFF, 0xD8])  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(_JPEG_QT_LUM.ravel()[_JPEG_ZZ].astype(np.uint8)))
    out += seg(0xDB, bytes([1]) + bytes(_JPEG_QT_CHR.ravel()[_JPEG_ZZ].astype(np.uint8)))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(planes)])
    for cid, (_, ch_, cv_, qid) in enumerate(planes, start=1):
        sof += bytes([cid, (ch_ << 4) | cv_, qid])
    out += seg(sof_marker, sof)
    out += seg(0xC4, dht(0, 0, dc_spec) + dht(1, 0, ac_spec))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    return out


def encode_jpeg(
    rgb: "np.ndarray", *, subsample: bool = False, restart_interval: int = 0
) -> bytes:
    """Build a real baseline JFIF JPEG from an (h, w, 3) uint8 array —
    level shift, 8x8 FDCT, Annex-K quantization, canonical Huffman DC/AC
    entropy coding, optional 4:2:0 subsampling and DRI restart markers.
    Test/datagen helper: lossy like any JPEG, so tests compare decoded
    pixels within quantization tolerance."""
    h, w, planes, comp_blocks, mcux, mcuy = _jpeg_prepare(rgb, subsample)

    # entropy-code MCU-interleaved with shared canonical tables
    dc_spec = _jpeg_huff_spec(list(range(12)))
    ac_spec = _jpeg_huff_spec([0x00, 0xF0] + [s for s in range(1, 251) if s not in (0x00, 0xF0)])
    dc_codes = _jpeg_huff_codes(*dc_spec)
    ac_codes = _jpeg_huff_codes(*ac_spec)
    bw_ = _JpegBitWriter()
    pred = [0, 0, 0]
    chunks: list[bytes] = []
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                chunks.append(bw_.flush())
                chunks.append(bytes([0xFF, 0xD0 + ((mcu_count // restart_interval - 1) % 8)]))
                bw_ = _JpegBitWriter()
                pred = [0, 0, 0]
            mcu_count += 1
            for ci, (_, ch_, cv_, _) in enumerate(planes):
                for vy in range(cv_):
                    for vx in range(ch_):
                        zz = comp_blocks[ci][(my * cv_ + vy, mx * ch_ + vx)].ravel()[_JPEG_ZZ]
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        size, raw = _jpeg_mag(diff)
                        c, ln = dc_codes[size]
                        bw_.put(c, ln)
                        if size:
                            bw_.put(raw, size)
                        run = 0
                        last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
                        for k in range(1, 64):
                            if k > last_nz:
                                c, ln = ac_codes[0x00]  # EOB
                                bw_.put(c, ln)
                                break
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run >= 16:
                                c, ln = ac_codes[0xF0]  # ZRL
                                bw_.put(c, ln)
                                run -= 16
                            size, raw = _jpeg_mag(v)
                            c, ln = ac_codes[(run << 4) | size]
                            bw_.put(c, ln)
                            bw_.put(raw, size)
                            run = 0
    chunks.append(bw_.flush())
    scan = b"".join(chunks)

    out = _jpeg_headers(h, w, planes, 0xC0, restart_interval, dc_spec, ac_spec)
    sos = bytes([3])
    for cid in (1, 2, 3):
        sos += bytes([cid, 0x00])  # DC table 0 / AC table 0 for all
    sos += bytes([0, 63, 0])
    out += bytes([0xFF, 0xDA]) + struct.pack(">H", len(sos) + 2) + sos
    out += scan + bytes([0xFF, 0xD9])  # EOI
    return out


def encode_jpeg_progressive(
    rgb: "np.ndarray", *, subsample: bool = False, restart_interval: int = 0
) -> bytes:
    """Build a real PROGRESSIVE JFIF JPEG (SOF2, ITU T.81 Annex G) from an
    (h, w, 3) uint8 array. Four-scan script exercising both progressive
    dimensions:

      1. DC first pass, all components interleaved, Al=1
      2. AC first pass per component, full band Ss=1..63, Al=1
         (EOBn run-length codes across all-zero bands)
      3. DC refinement, interleaved, Ah=1 → raw appended bits, no Huffman
      4. AC refinement per component, Ah=1 → newly-significant coefficients
         plus buffered correction bits folded into EOB runs

    Same quantized coefficients as `encode_jpeg` (shared `_jpeg_prepare`),
    so decoding both encodings of one image yields IDENTICAL pixels — the
    test oracle. Test/datagen helper."""
    h, w, planes, comp_blocks, mcux, mcuy = _jpeg_prepare(rgb, subsample)
    ncomp = len(planes)
    hmax = max(p[1] for p in planes)
    vmax = max(p[2] for p in planes)
    # zig-zag coefficient vector per block, per component
    zz_blocks = [
        {bk: blk.ravel()[_JPEG_ZZ] for bk, blk in blocks.items()}
        for blocks in comp_blocks
    ]
    dc_spec = _jpeg_huff_spec(list(range(12)))
    ac_spec = _jpeg_huff_spec([0x00, 0xF0] + [s for s in range(1, 251) if s not in (0x00, 0xF0)])
    dc_codes = _jpeg_huff_codes(*dc_spec)
    ac_codes = _jpeg_huff_codes(*ac_spec)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    def comp_dims(ch_: int, cv_: int) -> tuple[int, int]:
        """Non-interleaved (ceil) block grid of one component (A.2.2)."""
        return -(-(w * ch_) // (8 * hmax)), -(-(h * cv_) // (8 * vmax))

    out = _jpeg_headers(h, w, planes, 0xC2, restart_interval, dc_spec, ac_spec)

    # ---- scan 1: DC first pass (interleaved, Al=1) ----
    al = 1
    bw_ = _JpegBitWriter()
    chunks: list[bytes] = []
    pred = [0] * ncomp
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                chunks.append(bw_.flush())
                chunks.append(bytes([0xFF, 0xD0 + ((n_mcu // restart_interval - 1) % 8)]))
                bw_ = _JpegBitWriter()
                pred = [0] * ncomp
            n_mcu += 1
            for ci, (_, ch_, cv_, _) in enumerate(planes):
                for vy in range(cv_):
                    for vx in range(ch_):
                        dc = int(zz_blocks[ci][(my * cv_ + vy, mx * ch_ + vx)][0]) >> al
                        diff = dc - pred[ci]
                        pred[ci] = dc
                        size, raw = _jpeg_mag(diff)
                        c, ln = dc_codes[size]
                        bw_.put(c, ln)
                        if size:
                            bw_.put(raw, size)
    chunks.append(bw_.flush())
    out += sos(list(range(1, ncomp + 1)), 0, 0, 0, al) + b"".join(chunks)

    # ---- scans 2..: AC first pass per component (Ss=1..63, Al=1) ----
    for ci, (_, ch_, cv_, _) in enumerate(planes):
        bwc, bhc = comp_dims(ch_, cv_)
        bw_ = _JpegBitWriter()
        chunks = []
        eobrun = 0

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun:
                rr = eobrun.bit_length() - 1
                c, ln = ac_codes[rr << 4]
                bw_.put(c, ln)
                if rr:
                    bw_.put(eobrun - (1 << rr), rr)
                eobrun = 0

        n_blk = 0
        for by in range(bhc):
            for bx in range(bwc):
                if restart_interval and n_blk and n_blk % restart_interval == 0:
                    flush_eob()
                    chunks.append(bw_.flush())
                    chunks.append(bytes([0xFF, 0xD0 + ((n_blk // restart_interval - 1) % 8)]))
                    bw_ = _JpegBitWriter()
                n_blk += 1
                zz = zz_blocks[ci][(by, bx)]
                # magnitude shift toward zero (G.1.2.2), sign preserved
                vals = [
                    (abs(int(v)) >> al) * (1 if v >= 0 else -1) for v in zz[1:64]
                ]
                nz = [k for k, v in enumerate(vals) if v]
                if not nz:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                for k in range(nz[-1] + 1):
                    v = vals[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        c, ln = ac_codes[0xF0]  # ZRL
                        bw_.put(c, ln)
                        run -= 16
                    size, raw = _jpeg_mag(v)
                    c, ln = ac_codes[(run << 4) | size]
                    bw_.put(c, ln)
                    bw_.put(raw, size)
                    run = 0
                if nz[-1] < 62:  # trailing zeros → this block opens an EOB run
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()
        chunks.append(bw_.flush())
        out += sos([ci + 1], 1, 63, 0, al) + b"".join(chunks)

    # ---- scan: DC refinement (interleaved, Ah=1 → raw bit per block) ----
    bw_ = _JpegBitWriter()
    chunks = []
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                chunks.append(bw_.flush())
                chunks.append(bytes([0xFF, 0xD0 + ((n_mcu // restart_interval - 1) % 8)]))
                bw_ = _JpegBitWriter()
            n_mcu += 1
            for ci, (_, ch_, cv_, _) in enumerate(planes):
                for vy in range(cv_):
                    for vx in range(ch_):
                        dc = int(zz_blocks[ci][(my * cv_ + vy, mx * ch_ + vx)][0])
                        bw_.put(dc & 1, 1)
    chunks.append(bw_.flush())
    out += sos(list(range(1, ncomp + 1)), 0, 0, 1, 0) + b"".join(chunks)

    # ---- scans: AC refinement per component (Ah=1, Al=0) ----
    for ci, (_, ch_, cv_, _) in enumerate(planes):
        bwc, bhc = comp_dims(ch_, cv_)
        bw_ = _JpegBitWriter()
        chunks = []
        eobrun = 0
        pending: list[int] = []  # correction bits buffered across the EOB run

        def flush_eob_refine() -> None:
            nonlocal eobrun, pending
            if eobrun:
                rr = eobrun.bit_length() - 1
                c, ln = ac_codes[rr << 4]
                bw_.put(c, ln)
                if rr:
                    bw_.put(eobrun - (1 << rr), rr)
                eobrun = 0
            for b in pending:
                bw_.put(b, 1)
            pending = []

        n_blk = 0
        for by in range(bhc):
            for bx in range(bwc):
                if restart_interval and n_blk and n_blk % restart_interval == 0:
                    flush_eob_refine()
                    chunks.append(bw_.flush())
                    chunks.append(bytes([0xFF, 0xD0 + ((n_blk // restart_interval - 1) % 8)]))
                    bw_ = _JpegBitWriter()
                n_blk += 1
                zz = zz_blocks[ci][(by, bx)]
                absv = [abs(int(v)) for v in zz[1:64]]  # Al=0: no shift
                # last NEWLY-significant coefficient (|v| at this precision == 1)
                eob = max((k for k, a in enumerate(absv) if a == 1), default=-1)
                run = 0
                block_br: list[int] = []
                for k in range(63):
                    a = absv[k]
                    if a == 0:
                        run += 1
                        continue
                    while run > 15 and k <= eob:
                        flush_eob_refine()
                        c, ln = ac_codes[0xF0]
                        bw_.put(c, ln)
                        run -= 16
                        for b in block_br:
                            bw_.put(b, 1)
                        block_br = []
                    if a > 1:  # history-nonzero: buffer its correction bit
                        block_br.append(a & 1)
                        continue
                    flush_eob_refine()
                    c, ln = ac_codes[(run << 4) | 1]
                    bw_.put(c, ln)
                    bw_.put(1 if int(zz[1 + k]) > 0 else 0, 1)
                    for b in block_br:
                        bw_.put(b, 1)
                    block_br = []
                    run = 0
                if run > 0 or block_br:
                    eobrun += 1
                    pending.extend(block_br)
                    if eobrun == 0x7FFF:
                        flush_eob_refine()
        flush_eob_refine()
        chunks.append(bw_.flush())
        out += sos([ci + 1], 1, 63, 1, 0) + b"".join(chunks)

    return out + bytes([0xFF, 0xD9])  # EOI


class _JpegBitReader:
    """MSB-first entropy-segment reader: un-stuffs 0xFF00, stops at any
    marker (caller handles RSTn)."""

    def __init__(self, p: bytes, off: int) -> None:
        self.p, self.off = p, off
        self.acc, self.n = 0, 0

    def _fill(self) -> None:
        b = self.p[self.off]
        if b == 0xFF:
            nxt = self.p[self.off + 1]
            if nxt == 0x00:
                self.off += 2
            else:
                raise _JpegMarkerHit(nxt)
        else:
            self.off += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        return v

    def sync_to_marker(self) -> int:
        """Discard pad bits and consume the next marker byte pair."""
        self.acc, self.n = 0, 0
        self.off = _jpeg_find_marker(self.p, self.off)
        m = self.p[self.off + 1]
        self.off += 2
        return m


def _jpeg_find_marker(p: bytes, o: int) -> int:
    """Offset of the 0xFF whose next byte is the next marker id at or after
    `o`: skips entropy bytes, stuffed 0xFF00 pairs and any run of 0xFF fill
    bytes, which T.81 B.1.1.2 allows before every marker."""
    while o + 1 < len(p) and (p[o] != 0xFF or p[o + 1] in (0x00, 0xFF)):
        o += 1
    return o


class _JpegMarkerHit(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _jpeg_build_decoder(bits: bytes, vals: bytes) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol lookup from a DHT spec (canonical codes)."""
    out, code, i = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return out


def _jpeg_read_symbol(r: _JpegBitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.bits(1)
        s = table.get((ln, code))
        if s is not None:
            return s
    raise ValueError("bad jpeg huffman code")


def _jpeg_extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_jpeg_baseline(p: bytes) -> dict:
    """Full JPEG pixel decode in numpy + pure Python (public ITU T.81
    spec): marker walk (DQT/DHT/SOF/DRI/SOS), canonical Huffman entropy
    decode with byte-unstuffing and restart markers, dequantize,
    de-zigzag, matrix IDCT, per-component upsampling, YCbCr->RGB. Supports
    8-bit sequential (SOF0/SOF1) in one pass and PROGRESSIVE (SOF2, Annex
    G) as a multi-scan coefficient accumulation — spectral selection
    (Ss/Se bands, EOBn run codes) and successive approximation (Ah/Al
    first + refinement passes for DC and AC) both handled, 1 or 3
    components, any sampling factors. Raises _JpegUnsupported for
    arithmetic/12-bit/lossless/hierarchical (degrades to the SOF probe)
    and ValueError for malformed streams (degrades to the stub)."""
    if p[:3] != b"\xff\xd8\xff":
        raise ValueError("not jpeg")
    off = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    restart = 0
    progressive = False
    coefs: list | None = None
    grid = None  # (hmax, vmax, mcux, mcuy) once SOF is parsed
    saw_eoi = False
    while off + 2 <= len(p):
        if p[off] != 0xFF:
            raise ValueError("bad jpeg marker stream")
        m = p[off + 1]
        if m == 0xFF:  # fill byte before a marker
            off += 1
            continue
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            off += 2
            continue
        if m == 0xD9:  # EOI — only reached by the progressive multi-scan walk
            saw_eoi = True
            break
        if off + 4 > len(p):
            raise ValueError("truncated jpeg segment header")
        (ln,) = struct.unpack_from(">H", p, off + 2)
        if ln < 2:
            raise ValueError("bad jpeg segment length")
        body = p[off + 4 : off + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("truncated jpeg segment")
        if m == 0xDB:  # DQT
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                if pq != 0:
                    raise _JpegUnsupported("16-bit quant table")
                if o + 65 > len(body):
                    raise ValueError("truncated jpeg DQT")
                tbl = np.frombuffer(body, np.uint8, count=64, offset=o + 1).astype(np.int32)
                dq = np.zeros(64, np.int32)
                dq[_JPEG_ZZ] = tbl
                qt[tq] = dq.reshape(8, 8)
                o += 65
        elif m == 0xC4:  # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                bits_ = body[o + 1 : o + 17]
                n = sum(bits_)
                if o + 17 + n > len(body):
                    raise ValueError("truncated jpeg DHT")
                vals_ = body[o + 17 : o + 17 + n]
                huff[(tc, th)] = _jpeg_build_decoder(bits_, vals_)
                o += 17 + n
        elif m in _JPEG_SOF:
            if m not in (0xC0, 0xC1, 0xC2):
                raise _JpegUnsupported(f"unsupported SOF {m:#x}")
            progressive = m == 0xC2
            prec, ih, iw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or nc not in (1, 3):
                raise _JpegUnsupported("precision/components outside 8-bit profile")
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated jpeg SOF")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            sof = (iw, ih, comps)
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            grid = (hmax, vmax, -(-iw // (8 * hmax)), -(-ih // (8 * vmax)))
        elif m == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif m == 0xDA:  # SOS
            if sof is None:
                raise ValueError("jpeg SOS before SOF")
            iw, ih, comps = sof
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3:
                raise ValueError("truncated jpeg SOS")
            if not progressive:
                sel = {}
                for i in range(ns):
                    cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                    sel[cs] = (tt >> 4, tt & 0xF)
                for c in comps:
                    if c["id"] not in sel:
                        raise ValueError("jpeg scan misses a component")
                    c["td"], c["ta"] = sel[c["id"]]
                return _jpeg_decode_scan(p, off + 2 + ln, iw, ih, comps, qt, huff, restart)
            # progressive: accumulate this scan's coefficients, keep walking
            hmax, vmax, mcux, mcuy = grid
            if coefs is None:
                coefs = [
                    np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int32)
                    for c in comps
                ]
            scan_comps = []
            ids = {c["id"]: ci for ci, c in enumerate(comps)}
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                if cs not in ids:
                    raise ValueError("jpeg scan references unknown component")
                ci = ids[cs]
                scan_comps.append((ci, comps[ci], tt >> 4, tt & 0xF))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            off = _jpeg_prog_scan(
                p, off + 2 + ln, iw, ih, scan_comps, ss, se,
                ahal >> 4, ahal & 0xF, coefs, huff, restart,
                hmax, vmax, mcux, mcuy,
            )
            continue
        off += 2 + ln
    if progressive and coefs is not None:
        if not saw_eoi:
            raise ValueError("truncated progressive jpeg (no EOI)")
        iw, ih, comps = sof
        for c in comps:
            if c["tq"] not in qt:
                raise ValueError("jpeg references missing quant table")
        return _jpeg_prog_finish(iw, ih, comps, qt, coefs, grid[0], grid[1])
    raise ValueError("jpeg without SOS")


def _jpeg_prog_scan(
    p, off, iw, ih, scan_comps, ss, se, ah, al, coefs, huff, restart,
    hmax, vmax, mcux, mcuy,
) -> int:
    """Decode ONE progressive scan (T.81 Annex G) into the per-component
    zig-zag coefficient arrays, returning the offset of the next marker.

    DC scans (Ss=0): interleaved MCU order when the scan holds >1
    component, else the component's own ceil block grid; first pass codes
    Huffman diffs shifted left Al, refinement appends one raw bit per
    block. AC scans (Ss>0): single-component by spec; first pass codes
    (run,size) symbols plus EOBn end-of-band runs, refinement codes
    newly-significant ±1<<Al coefficients with correction bits for
    already-nonzero history (the libjpeg-documented G.1.2.3 bit order)."""
    r = _JpegBitReader(p, off)

    def expect_rst() -> None:
        m_ = r.sync_to_marker()
        if not 0xD0 <= m_ <= 0xD7:
            raise ValueError("expected jpeg restart marker")

    try:
        _jpeg_prog_scan_body(
            r, iw, ih, scan_comps, ss, se, ah, al, coefs, huff, restart,
            hmax, vmax, mcux, mcuy, expect_rst,
        )
    except (_JpegMarkerHit, IndexError) as e:
        # entropy data ran into a marker / past the buffer mid-scan: the
        # stream is structurally truncated — degrade to the SOF probe via
        # the ladder's ValueError, never leak the internal signal
        raise ValueError("truncated progressive jpeg scan") from e
    # skip any pad bits, position at the next marker for the outer walk
    return _jpeg_find_marker(p, r.off)


def _jpeg_prog_scan_body(
    r, iw, ih, scan_comps, ss, se, ah, al, coefs, huff, restart,
    hmax, vmax, mcux, mcuy, expect_rst,
) -> None:
    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("progressive DC scan with nonzero Se")
        pred = {ci: 0 for ci, *_ in scan_comps}
        if ah == 0:
            for _, _, td, _ in scan_comps:
                if (0, td) not in huff:
                    raise ValueError("jpeg references missing table")

        def dc_block(ci: int, td: int, by: int, bx: int) -> None:
            blk = coefs[ci]
            if ah == 0:
                s = _jpeg_read_symbol(r, huff[(0, td)])
                diff = _jpeg_extend(r.bits(s), s) if s else 0
                pred[ci] += diff
                blk[by, bx, 0] = pred[ci] << al
            elif r.bits(1):
                blk[by, bx, 0] = int(blk[by, bx, 0]) | (1 << al)

        i_unit = 0
        if len(scan_comps) > 1:  # interleaved MCU order
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart and i_unit and i_unit % restart == 0:
                        expect_rst()
                        pred = {ci: 0 for ci, *_ in scan_comps}
                    i_unit += 1
                    for ci, c, td, _ in scan_comps:
                        for vy in range(c["v"]):
                            for vx in range(c["h"]):
                                dc_block(ci, td, my * c["v"] + vy, mx * c["h"] + vx)
        else:
            ci, c, td, _ = scan_comps[0]
            bwc = -(-(iw * c["h"]) // (8 * hmax))
            bhc = -(-(ih * c["v"]) // (8 * vmax))
            for by in range(bhc):
                for bx in range(bwc):
                    if restart and i_unit and i_unit % restart == 0:
                        expect_rst()
                        pred = {ci: 0}
                    i_unit += 1
                    dc_block(ci, td, by, bx)
    else:  # AC scan: single component, band Ss..Se
        if len(scan_comps) != 1:
            raise ValueError("progressive AC scan must be single-component")
        if not ss <= se <= 63:
            raise ValueError("bad progressive spectral band")
        ci, c, _, ta = scan_comps[0]
        ac_t = huff.get((1, ta))
        if ac_t is None:
            raise ValueError("jpeg references missing table")
        bwc = -(-(iw * c["h"]) // (8 * hmax))
        bhc = -(-(ih * c["v"]) // (8 * vmax))
        arr = coefs[ci]
        eobrun = 0
        p1, m1 = 1 << al, -(1 << al)
        i_blk = 0
        for by in range(bhc):
            for bx in range(bwc):
                if restart and i_blk and i_blk % restart == 0:
                    expect_rst()
                    eobrun = 0
                i_blk += 1
                blk = arr[by, bx]
                if ah == 0:  # first pass (G.1.2.2)
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = _jpeg_read_symbol(r, ac_t)
                        rr, s = rs >> 4, rs & 15
                        if s == 0:
                            if rr == 15:
                                k += 16  # ZRL
                                continue
                            eobrun = (1 << rr) - 1
                            if rr:
                                eobrun += r.bits(rr)
                            break
                        k += rr
                        if k > se:
                            raise ValueError("jpeg AC index overflow")
                        blk[k] = _jpeg_extend(r.bits(s), s) << al
                        k += 1
                else:  # refinement (G.1.2.3)
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = _jpeg_read_symbol(r, ac_t)
                            rr, s = rs >> 4, rs & 15
                            val = 0
                            if s == 0:
                                if rr != 15:
                                    eobrun = 1 << rr
                                    if rr:
                                        eobrun += r.bits(rr)
                                    break
                                # rr == 15: ZRL — skip 16 zero-history coefs
                            elif s != 1:
                                raise ValueError("bad jpeg refinement symbol")
                            else:
                                val = p1 if r.bits(1) else m1
                            # advance over rr zero-history coefficients,
                            # reading correction bits at nonzero-history ones
                            while k <= se:
                                v = int(blk[k])
                                if v != 0:
                                    if r.bits(1) and (v & p1) == 0:
                                        blk[k] = v + (p1 if v >= 0 else m1)
                                else:
                                    if rr == 0:
                                        break
                                    rr -= 1
                                k += 1
                            if val:
                                if k > se:
                                    raise ValueError("jpeg refinement overflow")
                                blk[k] = val
                            k += 1
                    if eobrun > 0:
                        # rest of this block: correction bits only
                        while k <= se:
                            v = int(blk[k])
                            if v != 0 and r.bits(1) and (v & p1) == 0:
                                blk[k] = v + (p1 if v >= 0 else m1)
                            k += 1
                        eobrun -= 1


def _jpeg_prog_finish(iw, ih, comps, qt, coefs, hmax, vmax) -> dict:
    """All scans consumed: dequantize + de-zigzag + IDCT every block of
    every component (vectorized einsum over the whole block grid), then
    the shared upsample/color tail."""
    planes = []
    for c, arr in zip(comps, coefs):
        dq = qt[c["tq"]]
        bh, bw = arr.shape[:2]
        blk = np.zeros((bh, bw, 64), np.int64)
        blk[..., _JPEG_ZZ] = arr  # de-zigzag
        coef = blk.reshape(bh, bw, 8, 8) * dq
        spatial = np.einsum("ij,xyjk,kl->xyil", _DCT_C.T, coef, _DCT_C) + 128.0
        planes.append(spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8))
    return _jpeg_finish_planes(iw, ih, comps, planes, hmax, vmax)


def _jpeg_decode_scan(p, off, iw, ih, comps, qt, huff, restart) -> dict:
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-iw // (8 * hmax))
    mcuy = -(-ih // (8 * vmax))
    planes = []
    for c in comps:
        planes.append(np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), np.float64))
    for c in comps:
        if c["tq"] not in qt or (0, c["td"]) not in huff or (1, c["ta"]) not in huff:
            raise ValueError("jpeg references missing table")
    r = _JpegBitReader(p, off)
    pred = [0] * len(comps)
    n_mcu = mcux * mcuy
    i_mcu = 0
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                if restart and i_mcu and i_mcu % restart == 0:
                    m = r.sync_to_marker()
                    if not 0xD0 <= m <= 0xD7:
                        raise ValueError("expected jpeg restart marker")
                    pred = [0] * len(comps)
                i_mcu += 1
                for ci, c in enumerate(comps):
                    dq = qt[c["tq"]]
                    dc_t, ac_t = huff[(0, c["td"])], huff[(1, c["ta"])]
                    for vy in range(c["v"]):
                        for vx in range(c["h"]):
                            zz = np.zeros(64, np.int32)
                            s = _jpeg_read_symbol(r, dc_t)
                            diff = _jpeg_extend(r.bits(s), s) if s else 0
                            pred[ci] += diff
                            zz[0] = pred[ci]
                            k = 1
                            while k < 64:
                                rs = _jpeg_read_symbol(r, ac_t)
                                rrrr, size = rs >> 4, rs & 0xF
                                if size == 0:
                                    if rrrr == 15:
                                        k += 16  # ZRL
                                        continue
                                    break  # EOB
                                k += rrrr
                                if k > 63:
                                    raise ValueError("jpeg AC index overflow")
                                zz[k] = _jpeg_extend(r.bits(size), size)
                                k += 1
                            blk = np.zeros(64, np.int32)
                            blk[_JPEG_ZZ] = zz
                            coef = blk.reshape(8, 8) * dq
                            spatial = _DCT_C.T @ coef @ _DCT_C + 128.0
                            py0 = (my * c["v"] + vy) * 8
                            px0 = (mx * c["h"] + vx) * 8
                            planes[ci][py0 : py0 + 8, px0 : px0 + 8] = spatial
    except (_JpegMarkerHit, IndexError) as e:
        if i_mcu < n_mcu:
            raise ValueError(f"truncated jpeg scan at MCU {i_mcu}/{n_mcu}") from e
    return _jpeg_finish_planes(iw, ih, comps, planes, hmax, vmax)


def _jpeg_finish_planes(iw, ih, comps, planes, hmax, vmax) -> dict:
    """Shared decoder back half: upsample each component plane to the full
    MCU-grid resolution, crop to frame size, YCbCr→RGB, summarize."""
    full = []
    for c, plane in zip(comps, planes):
        if c["h"] != hmax or c["v"] != vmax:
            plane = np.repeat(np.repeat(plane, vmax // c["v"], 0), hmax // c["h"], 1)
        full.append(plane[:ih, :iw])
    if len(comps) == 1:
        img = np.clip(full[0], 0, 255)
        nch = 1
    else:
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        rgb = np.stack([
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ], axis=-1)
        img = np.clip(rgb, 0, 255)
        nch = 3
    _jpeg_decode_scan.last_pixels = np.round(img).astype(np.uint8)  # test hook
    return {
        "media_type": "image",
        "width": int(iw),
        "height": int(ih),
        "n_channels": nch,
        "duration_ms": None,
        "codec": "jpeg",
        "body_mean": float(img.mean()),
    }


def _decode_jpeg(p: bytes) -> dict:
    """Baseline pixel decode with graceful degradation: non-baseline JPEG
    variants (progressive/arithmetic/12-bit) and structurally truncated
    scans keep their REAL metadata via the SOF probe (body_mean null);
    streams too malformed even for the probe raise ValueError to the stub
    fallback."""
    try:
        return _decode_jpeg_baseline(p)
    except _JpegUnsupported:
        return _probe_jpeg(p)
    except (ValueError, struct.error):
        return _probe_jpeg(p)  # probe re-raises ValueError for garbage


def _probe_jpeg(p: bytes) -> dict:
    """JPEG metadata probe — walk the marker stream to the SOF frame header
    (the ffprobe analog). Width/height/channels are decoded for REAL; pixel
    statistics need an inverse-DCT codec, so body_mean stays null."""
    if p[:3] != b"\xff\xd8\xff":
        raise ValueError("not jpeg")
    off = 2
    while off + 4 <= len(p):
        if p[off] != 0xFF:
            raise ValueError("bad jpeg marker stream")
        m = p[off + 1]
        if m == 0xFF:  # fill byte
            off += 1
            continue
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:  # standalone markers
            off += 2
            continue
        (ln,) = struct.unpack_from(">H", p, off + 2)
        if ln < 2:
            raise ValueError("bad jpeg segment length")
        if m in _JPEG_SOF:
            _prec, h, w, nc = struct.unpack_from(">BHHB", p, off + 4)
            if w <= 0 or h <= 0 or nc not in (1, 3, 4):
                raise ValueError("bad jpeg frame header")
            return {
                "media_type": "image",
                "width": int(w),
                "height": int(h),
                "n_channels": int(nc),
                "duration_ms": None,
                "codec": "jpeg",
                "body_mean": None,
            }
        if m == 0xDA:  # start of scan before any SOF: malformed
            break
        off += 2 + ln
    raise ValueError("no jpeg SOF marker")


# ---------------------------------------------------------------------------
# GIF: REAL pixel decode since r4 (GIF89a spec + LZW, no codec libs).
# ---------------------------------------------------------------------------

def _gif_lzw_encode(indices: "np.ndarray", min_code_size: int) -> bytes:
    """GIF-variant LZW encoder (test/datagen helper): variable code width
    starting at min_code_size+1, CLEAR/EOI codes, dictionary reset at 4096.
    Real compression — the round-trip exercises the decoder's table-growth
    and width-bump paths, not just literal codes."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out_bits: list[int] = []
    width = min_code_size + 1

    def emit(code: int) -> None:
        for i in range(width):
            out_bits.append((code >> i) & 1)

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    seq = b""
    for v in indices.tolist():
        cand = seq + bytes([v])
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        table[cand] = next_code
        next_code += 1
        # GIF quirk: width bumps when next_code EXCEEDS the current range
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code > 4095:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        seq = bytes([v])
    if seq:
        emit(table[seq])
    emit(eoi)
    bits = np.array(out_bits, dtype=np.uint8)
    return np.packbits(bits, bitorder="little").tobytes()


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF LZW decode (spec appendix F): LSB-first bitstream, variable code
    width, CLEAR resets the table, KwKwK case handled. Returns uint8 palette
    indices. Raises ValueError on any malformed stream so corrupt payloads
    fall through to the stub."""
    if not 2 <= min_code_size <= 8:
        raise ValueError("bad gif lzw min code size")
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    bits = np.unpackbits(np.frombuffer(data, np.uint8), bitorder="little")
    pos, width = 0, min_code_size + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    prev: bytes | None = None
    while len(out) < n_pixels:
        if pos + width > len(bits):
            raise ValueError("truncated gif lzw stream")
        code = 0
        for i in range(width):
            code |= int(bits[pos + i]) << i
        pos += width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first gif code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]  # KwKwK
            table.append(entry)
        else:
            raise ValueError("gif code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < n_pixels:
        raise ValueError("gif pixel underrun")
    return np.frombuffer(bytes(out[:n_pixels]), np.uint8)


#: row order of the 4 GIF interlace passes: (start, step)
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    indices: "np.ndarray | None" = None,
    interlace: bool = False,
) -> bytes:
    """Build a real single-frame GIF89a (global color table, one image
    descriptor, real LZW body). Test/datagen helper; `indices=None` fills
    with a deterministic gradient so the LZW table actually grows."""
    if indices is None:
        indices = (
            (np.arange(width * height, dtype=np.int64) * 7) % len(palette)
        ).astype(np.uint8)
    indices = np.asarray(indices, np.uint8).reshape(height, width)
    if interlace:
        order = [y for s, st in _GIF_INTERLACE for y in range(s, height, st)]
        indices = indices[order]
    pal_bits = max(1, (max(len(palette), 2) - 1).bit_length())
    pal = list(palette) + [(0, 0, 0)] * ((1 << pal_bits) - len(palette))
    gct = b"".join(bytes(c) for c in pal)
    lsd = struct.pack("<HHBBB", width, height, 0x80 | ((pal_bits - 1) << 4) | (pal_bits - 1), 0, 0)
    idesc = struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0x40 if interlace else 0)
    mcs = max(2, pal_bits)
    body = _gif_lzw_encode(indices.ravel(), mcs)
    subs = b"".join(
        bytes([min(255, len(body) - i)]) + body[i : i + 255]
        for i in range(0, len(body), 255)
    )
    return (
        b"GIF89a" + lsd + gct + idesc + bytes([mcs]) + subs + b"\x00" + b"\x3b"
    )


def _probe_gif(p: bytes) -> dict:
    """GIF metadata probe — logical screen descriptor only (the ffprobe
    analog), for streams whose pixel data is missing or corrupt."""
    if p[:6] not in (b"GIF87a", b"GIF89a") or len(p) < 13:
        raise ValueError("not gif")
    w, h = struct.unpack_from("<HH", p, 6)
    if w <= 0 or h <= 0:
        raise ValueError("bad gif dimensions")
    return {
        "media_type": "image",
        "width": int(w),
        "height": int(h),
        "n_channels": 3,
        "duration_ms": None,
        "codec": "gif",
        "body_mean": None,
    }


def _decode_gif(p: bytes) -> dict:
    """Full pixel decode with graceful degradation: a valid logical screen
    descriptor whose image data is truncated/corrupt keeps its REAL header
    metadata via the probe (body_mean null); anything less raises to the
    stub fallback."""
    try:
        return _decode_gif_full(p)
    except (ValueError, struct.error):
        return _probe_gif(p)  # probe re-raises ValueError for garbage


def _decode_gif_full(p: bytes) -> dict:
    """Full GIF pixel decode: logical screen descriptor + color tables +
    block walk + REAL LZW decompression (variable code width, table resets,
    deinterlacing). body_mean is over the first frame's palette-mapped RGB
    pixels; animated GIFs report duration_ms as the summed GCE frame delays.
    Any structural error raises so the payload falls through to the probe."""
    if p[:6] not in (b"GIF87a", b"GIF89a") or len(p) < 13:
        raise ValueError("not gif")
    w, h = struct.unpack_from("<HH", p, 6)
    if w <= 0 or h <= 0:
        raise ValueError("bad gif dimensions")
    flags = p[10]
    off = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(p, np.uint8, offset=off, count=3 * n).reshape(n, 3)
        off += 3 * n

    def _skip_subblocks(o: int) -> int:
        while True:
            if o >= len(p):
                raise ValueError("truncated gif sub-blocks")
            n = p[o]
            o += 1
            if n == 0:
                return o
            o += n

    body_mean = None
    n_frames, total_delay_cs = 0, 0
    while off < len(p):
        b0 = p[off]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            if off + 2 > len(p):
                raise ValueError("truncated gif extension")
            label = p[off + 1]
            if label == 0xF9 and off + 7 <= len(p) and p[off + 2] == 4:
                (delay,) = struct.unpack_from("<H", p, off + 4)
                total_delay_cs += delay
            off = _skip_subblocks(off + 2)
            continue
        if b0 != 0x2C:
            raise ValueError("bad gif block introducer")
        ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", p, off + 1)
        off += 10
        lct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            lct = np.frombuffer(p, np.uint8, offset=off, count=3 * n).reshape(n, 3)
            off += 3 * n
        if lct is None:
            raise ValueError("gif image without color table")
        mcs = p[off]
        off += 1
        chunks = []
        while True:
            if off >= len(p):
                raise ValueError("truncated gif image data")
            n = p[off]
            off += 1
            if n == 0:
                break
            chunks.append(p[off : off + n])
            off += n
        n_frames += 1
        if body_mean is None:  # decode pixels of the FIRST frame only
            idx = _gif_lzw_decode(b"".join(chunks), mcs, iw * ih)
            if int(idx.max(initial=0)) >= len(lct):
                raise ValueError("gif index outside color table")
            rows = idx.reshape(ih, iw)
            if iflags & 0x40:  # interlaced: undo the 4-pass row order
                order = [y for s, st in _GIF_INTERLACE for y in range(s, ih, st)]
                out = np.empty_like(rows)
                out[order] = rows
                rows = out
            body_mean = float(lct[rows].mean())
    if body_mean is None:
        raise ValueError("gif without image data")
    return {
        "media_type": "image",
        "width": int(w),
        "height": int(h),
        "n_channels": 3,
        "duration_ms": int(total_delay_cs * 10) if total_delay_cs else None,
        "codec": "gif",
        "body_mean": body_mean,
    }


def _decode_bytes_stub(payload: bytes) -> dict:
    """STUB decode for formats whose codecs aren't in this container:
    deterministic pseudo-metadata from the payload bytes, so tests are
    reproducible and the Spark plumbing (schema, batching, null handling)
    is exercised for real. Swap for PIL/ffmpeg on a real cluster."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError("empty payload: real decoder would raise codec error")
    h = hashlib.sha256(payload).digest()
    return {
        "media_type": ["image", "audio", "video"][h[0] % 3],
        "width": 64 + h[1] * 8,
        "height": 64 + h[2] * 8,
        "n_channels": 1 + h[3] % 4,
        "duration_ms": int.from_bytes(h[4:7], "big") % 600_000,
        "codec": ["raw", "jpegish", "wavish", "h264ish"][h[7] % 4],
        "body_mean": None,
    }


def _decode_bytes(payload: bytes) -> dict:
    """Magic-byte dispatch: real BMP/WAV/PNG parse + real JPEG/GIF metadata
    probe, stub for everything else. A payload that merely LOOKS like a
    container (e.g. text starting with 'BM', or a PNG signature with corrupt
    CRCs) fails strict validation and uses the stub."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError("empty payload")
    dispatch = (
        (payload[:2] == b"BM", _decode_bmp),
        (payload[:4] == b"RIFF" and payload[8:12] == b"WAVE", _decode_wav),
        (payload[:8] == _PNG_SIG, _decode_png),
        (payload[:3] == b"\xff\xd8\xff", _decode_jpeg),
        (payload[:6] in (b"GIF87a", b"GIF89a"), _decode_gif),
    )
    for hit, fn in dispatch:
        if hit:
            try:
                return fn(payload)
            except (ValueError, struct.error):
                break
    return _decode_bytes_stub(payload)


def decode_media(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """binary payload → typed metadata struct (mapInPandas, Arrow-batched).

    Null/empty payloads yield a null struct instead of failing the batch —
    the reference's decode-error tolerance
    (/root/reference/internal/mongo/replay_producer.go:71-74)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", meta struct<{MEDIA_META_DDL}>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = []
            for p in pdf[payload_col]:
                try:
                    metas.append(_decode_bytes(p))
                except (NotImplementedError, TypeError):
                    metas.append(None)
            pdf = pdf.copy()
            pdf["meta"] = metas
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def extract_features(df: DataFrame, payload_col: str = "payload", dim: int = 16) -> DataFrame:
    """binary → fixed-dim float feature vector (stubbed embedding model).

    Vectorized inside the Arrow batch via numpy; output column `features`
    array<float>. Deterministic: bytes → sha256 → unit-normalized floats."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", features array<float>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for p in pdf[payload_col]:
                if p is None or len(p) == 0:
                    feats.append(None)
                    continue
                raw = hashlib.sha256(p).digest() + hashlib.sha256(b"1" + p).digest()
                v = np.frombuffer(raw[: dim * 4], dtype=np.uint32).astype(np.float64)
                v = (v / 2**32) - 0.5
                v /= np.linalg.norm(v) or 1.0
                feats.append(v.astype(np.float32).tolist())
            pdf = pdf.copy()
            pdf["features"] = feats
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def sample_frames(df: DataFrame, payload_col: str = "payload", n_frames: int = 4) -> DataFrame:
    """video binary → n_frames evenly-spaced frame payloads (stub: byte
    slices standing in for decoded frames). Output `frames` array<binary>."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", frames array<binary>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            frames = []
            for p in pdf[payload_col]:
                if p is None or len(p) < n_frames:
                    frames.append(None)
                    continue
                step = len(p) // n_frames
                frames.append([bytes(p[i * step : i * step + step]) for i in range(n_frames)])
            pdf = pdf.copy()
            pdf["frames"] = frames
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def synthesize_containers(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a REAL container payload per row (mapInPandas), id mod 5
    picking the format, with every parameter a closed-form function of the
    id — so an external oracle (DuckDB SQL) can verify the DECODED values
    without parsing a single byte:

      i%5==0: BMP  w=4+i%13, h=3+i%9, fill rgb=(i, 3i+7, 5i+11) mod 256
              ⇒ body_mean = (r+g+b)/3
      i%5==1: WAV  n=50+i%100 samples @ 8000+(i%5)*1000 Hz, square wave of
              |amplitude| = 1000+i%2000 ⇒ body_mean (RMS) = amplitude
      i%5==2: PNG  w=5+i%11, h=4+i%7, fill rgb=(7i+1, 2i+3, 11i+5) mod 256
              ⇒ body_mean = (r+g+b)/3 (round-trips zlib + unfiltering)
      i%5==3: GIF  w=3+i%10, h=2+i%6, 2-entry palette, flat index-0 fill
              rgb=(13i+2, 5i+9, 17i+3) mod 256, interlaced when i%2==1
              ⇒ body_mean = (r+g+b)/3 (round-trips real LZW + deinterlace)
      i%5==4: JPEG w=8+i%9, h=8+i%5, flat fill rgb=(11i+4, 7i+6, 3i+8)
              mod 256; baseline 4:2:0 when i%2==0, PROGRESSIVE (SOF2,
              4-scan spectral-selection + successive-approximation script)
              when i%2==1 ⇒ body_mean ≈ (r+g+b)/3 within quantization
              error (lossy codec; the contract query asserts
              |decoded − expected| ≤ 3.5 instead of exact equality)
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", payload binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for v in pdf[id_col]:
                i = int(v)
                if i % 5 == 0:
                    payloads.append(
                        encode_bmp(
                            4 + i % 13, 3 + i % 9,
                            (i % 256, (3 * i + 7) % 256, (5 * i + 11) % 256),
                        )
                    )
                elif i % 5 == 1:
                    payloads.append(
                        encode_wav(50 + i % 100, 8000 + (i % 5) * 1000, 1000 + i % 2000)
                    )
                elif i % 5 == 2:
                    payloads.append(
                        encode_png(
                            5 + i % 11, 4 + i % 7,
                            ((7 * i + 1) % 256, (2 * i + 3) % 256, (11 * i + 5) % 256),
                        )
                    )
                elif i % 5 == 3:
                    w, h = 3 + i % 10, 2 + i % 6
                    c0 = ((13 * i + 2) % 256, (5 * i + 9) % 256, (17 * i + 3) % 256)
                    payloads.append(
                        encode_gif(
                            w, h, [c0, (255 - c0[0], 255 - c0[1], 255 - c0[2])],
                            indices=np.zeros(w * h, np.uint8),
                            interlace=bool(i % 2),
                        )
                    )
                else:
                    w, h = 8 + i % 9, 8 + i % 5
                    c = ((11 * i + 4) % 256, (7 * i + 6) % 256, (3 * i + 8) % 256)
                    enc = encode_jpeg if i % 2 == 0 else encode_jpeg_progressive
                    payloads.append(
                        enc(
                            np.full((h, w, 3), c, np.uint8),
                            subsample=(i % 2 == 0),
                        )
                    )
            pdf = pdf.copy()
            pdf["payload"] = payloads
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def synthetic_media(spark, n_rows: int, *, seed: int = 11) -> DataFrame:
    """Deterministic binary-column fixture: payload = repeated sha512 bytes
    keyed by row id (distributed, no driver data)."""
    return (
        spark.range(0, n_rows, 1, max(4, n_rows // 100_000))
        .select(
            F.col("id").alias("media_id"),
            F.repeat(
                F.sha2(F.concat(F.lit(seed), F.col("id").cast("string")), 512),
                (F.pmod(F.xxhash64(F.lit(seed), F.col("id")), F.lit(20)) + 1).cast("int"),
            ).cast("binary").alias("payload"),
        )
    )
