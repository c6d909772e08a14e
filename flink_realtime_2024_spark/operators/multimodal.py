"""Multimodal columns (SURVEY §2.10 L6): opaque binary payloads + typed
metadata, processed by Arrow-batched kernels.

Pattern for image/audio/video at 100 TB: the payload is a BinaryType
column (never parsed by Catalyst), a typed metadata struct rides along
for pruning/partitioning, and decode / feature-extract / resize /
frame-sample run as mapInPandas kernels (one Arrow batch of payloads at
a time — bounded executor memory, no driver involvement).

The decode step is REAL across both container classes:

- uncompressed: 24-bit BMP and binary PPM (P6) images, 16-bit PCM WAV
  audio, YUV4MPEG2 (Y4M) 4:2:0 video — header/chunk/frame parsing +
  numpy pixel/sample/luma statistics;
- COMPRESSED, no external libraries: PNG (zlib inflate + full
  scanline unfiltering incl. Paeth — interoperable 8-bit truecolor),
  G.711 μ-law WAV (log-companded 8-bit telephony audio expanded to
  PCM16), JFIF JPEG (operators/_jpeg.py: full Huffman entropy coding
  + quant + 2-D DCT per ITU-T T.81 — baseline SOF0 in 4:4:4 / 4:2:0 /
  grayscale AND progressive SOF2 with successive approximation + EOB
  runs per Annex G, r7) — encoder AND decoder, so the lossy path is
  PSNR/structure-tested end to end — and GIF89a (operators/_gif.py:
  palette + variable-code-width LZW per the spec's Appendix F,
  encoder AND decoder, lossless round-trip-tested).

Each container has ONE parser (``decode_pixels``, ``_wav_parse``,
``_y4m_frames``) shared by the decode and ``resize_stats`` kernels, and
every payload kernel is one Arrow-batch loop (``_map_rows``) over a row
function; a ``*_tolerant`` kernel wraps its strict row function in
``_tolerant``, which turns ``_PAYLOAD_ERRORS`` into error rows.

All are asserted against hand-built fixtures and round-trips in
tests/test_semantics.py. For MP3 and H.264 the STRUCTURE layer is
also real (operators/_mpeg.py: ISO 11172-3 frame-header walk + ID3v2
skip; Annex-B NAL segmentation + exp-Golomb SPS parse — the
`mm_stream_meta` full-oracle id); only their entropy decode
(Huffman audio data, CABAC/CAVLC slices) remains the external
integration point — swap ``decode_video``'s body for ffmpeg/PyAV on
a real cluster, the mapInPandas plumbing is identical.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.io import load_table
from ..plans.registry import register
from ._util import widen


# =============================================================================
# codecs (pure numpy/struct — no external libraries)
# =============================================================================


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit BMP
    (BITMAPINFOHEADER, bottom-up rows, BGR byte order, 4-byte row pad)."""
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    pad = b"\x00" * (row_size - w * 3)
    rows = [pixels[y, :, ::-1].tobytes() + pad for y in range(h - 1, -1, -1)]
    return header + info + b"".join(rows)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary PPM (P6)."""
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + pixels.tobytes()


def _wav_container(data: bytes, fmt_tag: int, rate: int, bits: int) -> bytes:
    """Wrap mono sample bytes in the canonical RIFF/WAVE layout: a
    16-byte ``fmt `` chunk, then one ``data`` chunk. The single header
    writer behind both WAV encoders."""
    align = bits // 8
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, fmt_tag, 1, rate, rate * align, align, bits,
        b"data", len(data),
    )
    return hdr + data


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Encode an int16 sample array as mono 16-bit PCM WAV."""
    return _wav_container(samples.astype("<i2").tobytes(), 1, rate, 16)


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a real, interoperable PNG
    (8-bit truecolor, filter 0 scanlines, one zlib IDAT, CRC-32 chunk
    checksums). zlib is the Python standard library — an actual
    COMPRESSED codec with zero external dependencies."""
    h, w, _ = pixels.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int = 3) -> np.ndarray:
    """Reverse PNG scanline filtering (types 0-4 incl. Paeth) into an
    (h, w*bpp) uint8 array. Sequential by spec — each byte depends on
    the reconstructed left/up/up-left neighbors."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, offset=y * (stride + 1) + 1, count=stride
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, dtype=np.int32)
        if f == 0:
            rec = line
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        elif f == 1:  # Sub: per-lane prefix sum mod 256 — fully vectorized
            rec = (np.cumsum(line.reshape(w, bpp), axis=0) & 0xFF).reshape(stride)
        elif f in (3, 4):  # Average / Paeth: left-neighbor recurrence —
            # iterate PIXELS, vectorize the bpp channel lanes per step
            lanes = line.reshape(w, bpp)
            prev_l = prev.reshape(w, bpp)
            rec_l = np.zeros((w, bpp), dtype=np.int32)
            a = np.zeros(bpp, dtype=np.int32)  # reconstructed left pixel
            c = np.zeros(bpp, dtype=np.int32)  # up-left pixel
            for x in range(w):
                b = prev_l[x]
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                a = (lanes[x] + pred) & 0xFF
                rec_l[x] = a
                c = b
            rec = rec_l.reshape(stride)
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = rec.astype(np.uint8)
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """Decode an 8-bit truecolor PNG: walk chunks, inflate the IDAT
    stream, reverse scanline filters. Returns (h, w, 3) uint8 RGB."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    off, w = 8, None
    idat = bytearray()
    while off + 8 <= len(payload):
        (size,) = struct.unpack_from(">I", payload, off)
        tag = payload[off + 4 : off + 8]
        body = payload[off + 8 : off + 8 + size]
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError("only 8-bit truecolor non-interlaced PNG supported")
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        off += 12 + size
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    return _png_unfilter(raw, w, h).reshape(h, w, 3)


# G.711 μ-law companding (WAV format tag 7) — a real compressed
# telephony codec: 16-bit PCM → 8 bits/sample, logarithmic.
_MULAW_BIAS = 0x84
_MULAW_CLIP = 32635


def _mulaw_compress(samples: np.ndarray) -> np.ndarray:
    s = samples.astype(np.int32)
    sign = (s < 0).astype(np.uint8) * 0x80
    mag = np.minimum(np.abs(s), _MULAW_CLIP) + _MULAW_BIAS
    exp = (np.floor(np.log2(mag)) - 7).astype(np.int32)
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp.astype(np.uint8) << 4) | mant.astype(np.uint8))).astype(
        np.uint8
    )


def _mulaw_expand(codes: np.ndarray) -> np.ndarray:
    u = (~codes.astype(np.uint8)).astype(np.int32)
    sign, exp, mant = u & 0x80, (u >> 4) & 0x07, u & 0x0F
    mag = ((mant << 3) + _MULAW_BIAS) << exp
    mag -= _MULAW_BIAS
    return np.where(sign > 0, -mag, mag).astype(np.int16)


def encode_wav_mulaw(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Encode int16 samples as mono G.711 μ-law WAV (format tag 7,
    8 bits/sample — half the bytes of PCM16)."""
    return _wav_container(_mulaw_compress(samples).tobytes(), 7, rate, 8)


def decode_pixels(payload: bytes) -> np.ndarray:
    """Decode a PNG, JPEG, GIF, BMP or PPM payload to an (h, w, 3)
    uint8 RGB array. The single image parser: it owns the magic-byte
    dispatch, so decode_image and resize_stats read every payload the
    same way, and anything it does not recognise raises ValueError.
    PNG (zlib inflate + unfiltering), GIF (LZW), and JPEG (Huffman +
    dequant + IDCT, operators/_jpeg.py) are genuinely COMPRESSED
    containers."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from ._jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from ._gif import decode_gif

        return decode_gif(payload)
    if payload[:2] == b"BM":
        data_off = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        if bpp != 24:
            raise ValueError(f"only 24-bit BMP supported, got {bpp}")
        ah = abs(h)
        row_size = (w * 3 + 3) & ~3
        arr = np.frombuffer(payload, dtype=np.uint8, offset=data_off, count=row_size * ah)
        rgb = arr.reshape(ah, row_size)[:, : w * 3].reshape(ah, w, 3)[:, :, ::-1]
        # a positive height stores the rows bottom-up, a negative one top-down
        return rgb[::-1] if h > 0 else rgb
    if payload[:2] == b"P6":
        # header: "P6" <ws> width <ws> height <ws> maxval <single-ws> data
        parts = payload.split(b"\n", 3)
        w, h = (int(x) for x in parts[1].split())
        return np.frombuffer(parts[3], dtype=np.uint8, count=w * h * 3).reshape(h, w, 3)
    raise ValueError(f"unknown image magic {payload[:2]!r}")


def decode_image(payload: bytes) -> dict:
    """Pixel stats of an image payload (decoded by ``decode_pixels``):
    width, height, mean pixel value over all RGB samples, plus the
    exact integer (sum, count) pair behind that mean — integer sums
    survive any aggregation order bit-exactly, which is what lets the
    per-mime rollup carry a full DuckDB oracle."""
    px = decode_pixels(payload)
    h, w = px.shape[:2]
    return {
        "width": int(w),
        "height": int(h),
        "mean_value": float(px.mean()),
        "value_sum": int(px.astype(np.int64).sum()),
        "value_count": int(px.size),
    }


def _wav_parse(payload: bytes) -> tuple[int, int, int, int, np.ndarray]:
    """Walk RIFF chunks to fmt/data (tolerating extra chunks like LIST
    in any order — the one correct way to locate WAV samples) and
    return (fmt_tag, channels, rate, bits, samples-as-int16). The
    single WAV parser, as ``decode_pixels`` is for images and
    ``_y4m_frames`` for Y4M: decode_audio and resize_stats both call
    it, so a non-canonical chunk layout can never be read two different
    ways."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    off, rate, bits, channels, fmt_tag = 12, None, None, None, None
    data = None
    while off + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, off)
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack_from("<HHI", payload, off + 8)
            bits = struct.unpack_from("<H", payload, off + 22)[0]
        elif cid == b"data":
            data = (off + 8, size)
        off += 8 + size + (size & 1)
    if rate is None or data is None:
        raise ValueError("unsupported WAV layout (need fmt + data chunks)")
    d_off, d_size = data
    if fmt_tag == 1 and bits == 16:
        samples = np.frombuffer(payload, dtype="<i2", offset=d_off, count=d_size // 2)
    elif fmt_tag == 7 and bits == 8:
        codes = np.frombuffer(payload, dtype=np.uint8, offset=d_off, count=d_size)
        samples = _mulaw_expand(codes)
    else:
        raise ValueError(f"unsupported WAV encoding (fmt={fmt_tag}, bits={bits})")
    return fmt_tag, channels, rate, bits, samples


def decode_audio(payload: bytes) -> dict:
    """Decode a WAV payload — 16-bit PCM (format 1) or G.711 μ-law
    (format 7, a real compressed telephony codec: 8-bit log-companded
    samples expanded back to int16). Walks RIFF chunks to fmt/data,
    returns sample rate, duration, RMS amplitude."""
    _, channels, rate, _, samples = _wav_parse(payload)
    n = len(samples) // channels
    sq = int((samples.astype(np.int64) ** 2).sum())
    return {
        "sample_rate": int(rate),
        "duration_ms": 1000.0 * n / rate,
        "mean_value": float(np.sqrt(sq / max(len(samples), 1))),
        "value_sum": sq,  # Σ sample² — RMS's exact integer numerator
        "value_count": int(len(samples)),
    }


def resize_nearest(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, 3) uint8 array — the
    downsample-for-features step (thumbnailing, patch grids) with zero
    dependencies. Index math only; exactly reproducible."""
    h, w, _ = px.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return px[ys][:, xs]


def frame_sample(samples: np.ndarray, n_frames: int, frame_len: int) -> np.ndarray:
    """Evenly-spaced fixed-length frames from a 1-D sample array (the
    audio/video 'sample K frames' step). Returns (n_frames, frame_len);
    frames past the end are zero-padded."""
    out = np.zeros((n_frames, frame_len), dtype=samples.dtype)
    if len(samples) == 0:
        return out
    starts = (np.arange(n_frames) * max(len(samples) - frame_len, 0)) // max(n_frames - 1, 1)
    for i, s in enumerate(starts):
        chunk = samples[s : s + frame_len]
        out[i, : len(chunk)] = chunk
    return out


def encode_y4m(
    y: np.ndarray, u: np.ndarray, v: np.ndarray, fps: tuple[int, int] = (5, 1)
) -> bytes:
    """Encode planar YUV420 frames as YUV4MPEG2 (the standard
    uncompressed video interchange format ffmpeg reads/writes — real
    container, no codec required). ``y``: (n, h, w) uint8 luma;
    ``u``/``v``: (n, h//2, w//2) uint8 chroma."""
    n, h, w = y.shape
    hdr = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C420jpeg\n".encode("ascii")
    frames = [
        b"FRAME\n" + y[i].tobytes() + u[i].tobytes() + v[i].tobytes() for i in range(n)
    ]
    return hdr + b"".join(frames)


def _y4m_frames(payload: bytes) -> tuple[int, int, int, int, list[int]]:
    """Validate a YUV4MPEG2 (Y4M) stream and return (width, height,
    fps numerator, fps denominator, byte offset of each frame's luma
    plane). The single Y4M parser: it checks the stream magic, the
    W/H tags, 4:2:0 chroma, every FRAME marker and that every frame is
    whole, and reads no plane, so decode_video (all frames) and
    resize_stats (a few sampled frames) each read only the planes they
    use."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    w = h = None
    num, den = 25, 1
    for tok in payload[9:nl].split():
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"F":
            num, den = (int(x) for x in tok[1:].split(b":"))
        elif tok[:1] == b"C" and tok != b"C420jpeg":
            raise ValueError(f"unsupported chroma mode {tok!r}")
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    frame_bytes = w * h + 2 * ((w // 2) * (h // 2))
    off, planes = nl + 1, []
    while off < len(payload):
        fnl = payload.index(b"\n", off)
        if payload[off : off + 5] != b"FRAME":
            raise ValueError("malformed Y4M frame marker")
        off = fnl + 1 + frame_bytes
        if off > len(payload):
            raise ValueError("truncated Y4M frame")
        planes.append(fnl + 1)
    return w, h, num, den, planes


def _luma_plane(payload: bytes, off: int, w: int, h: int) -> np.ndarray:
    return np.frombuffer(payload, dtype=np.uint8, offset=off, count=w * h).reshape(h, w)


def decode_video(payload: bytes) -> dict:
    """Decode a YUV4MPEG2 (Y4M) payload: walk the stream with
    ``_y4m_frames`` and compute per-stream stats from the luma planes —
    width, height, frame count, duration from the fps fraction, mean
    luma. Uncompressed 4:2:0 only, like the BMP/PPM/WAV siblings; swap
    in ffmpeg/PyAV here for compressed codecs on a real cluster."""
    w, h, num, den, planes = _y4m_frames(payload)
    n_frames = len(planes)
    luma_sum = sum(int(_luma_plane(payload, off, w, h).astype(np.int64).sum()) for off in planes)
    return {
        "width": int(w),
        "height": int(h),
        "n_frames": n_frames,
        "duration_ms": 1000.0 * n_frames * den / num,
        # mean luma as an exact integer ratio (frames are equal-sized,
        # so this equals the mean of per-frame means)
        "mean_value": luma_sum / max(n_frames * w * h, 1),
        "value_sum": luma_sum,
        "value_count": int(n_frames * w * h),
    }


# =============================================================================
# Spark pipeline
# =============================================================================

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("mean_value", T.DoubleType()),
        T.StructField("checksum", T.StringType()),
        # exact integer numerator/denominator behind mean_value (pixel
        # sum, Σ sample², or luma sum): integer partial sums are
        # aggregation-order-independent, so per-mime rollups built from
        # them hash-match a DuckDB oracle bit-for-bit
        T.StructField("value_sum", T.LongType()),
        T.StructField("value_count", T.LongType()),
    ]
)


def _seq_bytes(n: int, a: int, b: int, p: int) -> np.ndarray:
    """Deterministic pseudo-noise byte sequence: the i-th value is
    ``(a + b*i + (i*i) % p) % 256``. Chosen over an RNG on purpose —
    the same closed form is a one-line DuckDB expression, so every
    pixel/sample the synthesizer emits can be re-derived by the
    independent SQL oracle (the r9 change that flips mm_decode_stats /
    mm_resize_stats from rows-only to full-oracle). The quadratic term
    keeps runs non-periodic enough to exercise PNG filtering, LZW, and
    Huffman coding for real."""
    i = np.arange(n, dtype=np.int64)
    return ((a + b * i + (i * i) % p) % 256).astype(np.uint8)


def _jpeg_block_values(w: int, h: int, s: int) -> np.ndarray:
    """Per-8×8-block constant values for the synthetic JPEG class:
    ``v = 128 + 5*m`` with ``m = ((s + 7*blockno) % 51) - 25``. The
    restriction to multiples of 5 around 128 makes the quality-85
    quant roundtrip EXACTLY lossless (q00 = 5 for both tables, so
    DC = 8m quantizes/dequantizes to 40m and the IDCT reconstructs
    5m + 128 = v bit-for-bit; AC and chroma coefficients quantize to
    exact zero for block-constant gray input) — pytest-pinned for both
    the baseline and progressive encoders. That exactness is what lets
    a DuckDB oracle state the decoded pixel sums of a LOSSY codec."""
    W8, H8 = (w + 7) // 8, (h + 7) // 8
    bi = np.arange(H8 * W8, dtype=np.int64).reshape(H8, W8)
    m = (s + 7 * bi) % 51 - 25
    return (128 + 5 * m).astype(np.uint8)


def synthesize_assets(batches):
    """Deterministic media generator: md5(text) seeds every content
    byte via closed-form integer sequences (``_seq_bytes`` — NOT an
    RNG, so a DuckDB oracle can re-derive the decoded statistics), then
    the REAL encoders produce well-formed BMP / PPM / PNG / JPEG / GIF /
    WAV (PCM16 + μ-law) / Y4M bytes. (Stands in for reading actual
    media files, which the fixture set lacks — everything downstream of
    this kernel is a real decode, including zlib-compressed PNG and
    Huffman-coded JPEG.)"""
    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            seed = hashlib.md5((text or "").encode("utf-8")).digest()
            kind = int(doc_id) % 8
            if kind == 7:
                from ._gif import encode_gif

                w, h = 8 + int(seed[0]) % 24, 8 + int(seed[1]) % 24
                p = np.arange(w * h, dtype=np.int64)
                idx = ((int(seed[2]) + 5 * p + (p * p) % 199) % 256).astype(np.uint8)
                j = np.arange(256, dtype=np.int64)
                gray = ((int(seed[3]) + 37 * j) % 256).astype(np.uint8)
                payload = encode_gif(
                    idx.reshape(h, w), np.repeat(gray[:, None], 3, axis=1)
                )
                mime = "image/gif"
            elif kind == 6:
                from ._jpeg import encode_jpeg, encode_jpeg_progressive

                # alternate baseline / PROGRESSIVE (SOF2, r7) payloads:
                # same dims + mime + (exactly-roundtripping) content, so
                # one oracle covers Annex-F and Annex-G decode alike
                enc = encode_jpeg if (int(doc_id) // 8) % 2 == 0 else encode_jpeg_progressive
                w, h = 8 + int(seed[15]) % 24, 8 + int(seed[3]) % 24
                v = _jpeg_block_values(w, h, int(seed[5]))
                px = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1)[:h, :w]
                payload = enc(np.repeat(px[:, :, None], 3, axis=2), quality=85)
                mime = "image/jpeg"
            elif kind == 4:
                w, h = 8 + int(seed[12]) % 24, 8 + int(seed[13]) % 24
                payload = encode_png(_seq_bytes(w * h * 3, int(seed[6]), 17, 239).reshape(h, w, 3))
                mime = "image/png"
            elif kind == 5:
                # content = μ-law CODE points, stored via the companding
                # encoder: expand∘compress∘expand is the identity, so
                # the decoded int16 samples are a closed form of the code
                n = 256 + int(seed[14]) * 8
                codes = ((int(seed[8]) + 7 * np.arange(n, dtype=np.int64)) % 256).astype(np.uint8)
                payload = encode_wav_mulaw(_mulaw_expand(codes), rate=8000)
                mime = "audio/basic+wav"
            elif kind == 0:
                w, h = 8 + int(seed[4]) % 24, 8 + int(seed[5]) % 24
                payload = encode_bmp(_seq_bytes(w * h * 3, int(seed[2]), 11, 251).reshape(h, w, 3))
                mime = "image/bmp"
            elif kind == 1:
                n = 256 + int(seed[6]) * 8
                i = np.arange(n, dtype=np.int64)
                samples = ((int(seed[7]) + 29 * i + (i * i) % 233) % 4096 - 2048).astype(np.int16)
                payload = encode_wav(samples, rate=8000)
                mime = "audio/wav"
            elif kind == 2:
                w, h = 8 + int(seed[7]) % 24, 8 + int(seed[8]) % 24
                payload = encode_ppm(_seq_bytes(w * h * 3, int(seed[3]), 13, 241).reshape(h, w, 3))
                mime = "image/x-portable-pixmap"
            else:
                # even dims (4:2:0 chroma), 4-11 frames; only luma is
                # measured downstream, chroma planes are flat 128
                w, h = 8 + 2 * (int(seed[9]) % 8), 8 + 2 * (int(seed[10]) % 8)
                nf = 4 + int(seed[11]) % 8
                payload = encode_y4m(
                    _seq_bytes(nf * h * w, int(seed[12]), 19, 251).reshape(nf, h, w),
                    np.full((nf, h // 2, w // 2), 128, np.uint8),
                    np.full((nf, h // 2, w // 2), 128, np.uint8),
                    fps=(5, 1),
                )
                mime = "video/x-yuv4mpeg"
            out.append((int(doc_id), mime, payload))
        yield pd.DataFrame(out, columns=ASSET_SCHEMA.names)


def _map_rows(batches, row_fn, columns):
    """The one Arrow-batch loop every payload kernel runs: apply
    ``row_fn(asset_id, mime, payload_bytes)`` to each row of each pandas
    batch and yield the rows as one frame per batch, so executor memory
    stays bounded by the batch size."""
    for pdf in batches:
        rows = [
            row_fn(int(asset_id), mime, bytes(payload))
            for asset_id, mime, payload in zip(pdf["asset_id"], pdf["mime"], pdf["payload"])
        ]
        yield pd.DataFrame(rows, columns=columns)


# What a corrupt payload raises in any parser here (struct/zlib errors
# are not ValueErrors): the tolerant kernels turn exactly these into
# error rows and let anything else fail the task.
_PAYLOAD_ERRORS = (ValueError, IndexError, KeyError, struct.error, zlib.error)


def _tolerant(row_fn, error_row):
    """Error-isolating form of a strict row function: its row plus a
    null error column, or on a payload error ``error_row``'s row plus
    ``"<ExceptionType>: <message>"``."""

    def row(asset_id, mime, payload):
        try:
            return row_fn(asset_id, mime, payload) + (None,)
        except _PAYLOAD_ERRORS as exc:
            return error_row(asset_id, mime, payload) + (f"{type(exc).__name__}: {exc}",)

    return row


def _decode_stats_row(asset_id, mime, payload) -> tuple:
    major, slash, _ = mime.partition("/")
    decode = {"image": decode_image, "audio": decode_audio, "video": decode_video}.get(major)
    if not (slash and decode):
        raise ValueError(f"no decoder for mime {mime}")
    s = decode(payload)  # audio has no width/height, images no duration
    return (asset_id, mime, len(payload), s.get("width"), s.get("height"),
            s.get("duration_ms"), s["mean_value"], hashlib.md5(payload).hexdigest(),
            s["value_sum"], s["value_count"])


def _decode_error_row(asset_id, mime, payload) -> tuple:
    # the checksum survives so quarantined payloads stay auditable
    return (asset_id, mime, len(payload), None, None, None, None,
            hashlib.md5(payload).hexdigest(), None, None)


def decode_stats(batches):
    """Real decode kernel: parses each payload's container format and
    computes pixel/sample statistics in numpy. Arrow batch in → Arrow
    batch out; executor memory is bounded by the batch size."""
    yield from _map_rows(batches, _decode_stats_row, DECODE_STATS_SCHEMA.names)


DECODE_STATS_TOLERANT_SCHEMA = T.StructType(
    DECODE_STATS_SCHEMA.fields + [T.StructField("decode_error", T.StringType())]
)


def decode_stats_tolerant(batches):
    """Error-isolating twin of ``decode_stats`` (same contract as
    ``stream_meta_tolerant``): a corrupt or unknown-mime payload yields
    one typed error row (null stats + ``decode_error``, checksum kept)
    instead of failing the Spark task. The strict kernel stays on the
    oracle ids — fixtures decode clean, and silent nulls there would
    mask codec regressions; this is the ingest-side default for crawled
    media."""
    yield from _map_rows(
        batches,
        _tolerant(_decode_stats_row, _decode_error_row),
        DECODE_STATS_TOLERANT_SCHEMA.names,
    )


def build_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → binary asset table (BinaryType payload + mime)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return widen(docs).mapInPandas(synthesize_assets, ASSET_SCHEMA)


RESIZE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        # exact integer feature numerator/denominator: thumbnail pixel
        # sum (images/video) or Σ frame-sample² (audio) — kept integral
        # so the rollup is aggregation-order independent and a DuckDB
        # oracle can re-derive it bit-exactly
        T.StructField("feat_sum", T.LongType()),
        T.StructField("feat_count", T.LongType()),
        T.StructField("n_units", T.IntegerType()),  # thumb pixels / frames sampled
    ]
)

_THUMB = 8
_N_FRAMES = 4
_FRAME_LEN = 256


def _thumb_sum(px: np.ndarray) -> int:
    return int(resize_nearest(px, _THUMB, _THUMB).astype(np.int64).sum())


def _resize_stats_row(asset_id, mime, payload) -> tuple:
    if mime.startswith("image/"):
        return (asset_id, mime, _thumb_sum(decode_pixels(payload)),
                _THUMB * _THUMB * 3, _THUMB * _THUMB)
    if mime.startswith("video/"):
        # frame-sample: thumbnail the luma plane of up to _N_FRAMES
        # evenly-spaced frames
        w, h, _, _, planes = _y4m_frames(payload)
        n = len(planes)
        take = min(n, _N_FRAMES)
        idx = (np.arange(take) * max(n - 1, 0)) // max(take - 1, 1)
        fs = sum(
            _thumb_sum(np.repeat(_luma_plane(payload, planes[i], w, h)[:, :, None], 3, axis=2))
            for i in idx
        )
        return (asset_id, mime, fs, take * _THUMB * _THUMB * 3, take)
    _, _, _, _, samples = _wav_parse(payload)
    frames = frame_sample(samples, _N_FRAMES, _FRAME_LEN)
    return (asset_id, mime, int((frames.astype(np.int64) ** 2).sum()),
            int(frames.size), _N_FRAMES)


def resize_stats(batches):
    """Feature-extract kernel: images → 8×8 nearest-neighbor thumbnail
    (pixel sum over 8×8×3 samples); video → luma thumbnails of 4
    evenly-spaced frames; audio → pooled energy (Σ sample²) over 4
    evenly-spaced 256-sample frames. Payloads are read by the same
    parsers as ``decode_stats`` (``decode_pixels``, ``_y4m_frames``,
    ``_wav_parse``); sums stay integral for exact rollups."""
    yield from _map_rows(batches, _resize_stats_row, RESIZE_STATS_SCHEMA.names)


def _md5_byte_sql(k: int) -> str:
    """DuckDB expression for byte ``k`` of md5(COALESCE(text,'')) —
    the seed bytes the asset synthesizer derives every container
    dimension AND every content byte from."""
    p = 2 * k + 1
    return (
        f"((strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr(hx, {p + 1}, 1)) - 1))"
    )


# Shared oracle prefix: per-asset synthesis parameters (dims, sample
# counts, content-formula seed bytes) re-derived in SQL from
# md5(text) — the same seed the Python synthesizer uses. ``w``/``hh``
# are pixel dims, ``n`` sample counts, ``nf`` frame counts.
_MM_PARAMS_CTE = f"""
WITH h AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS hx, doc_id % 8 AS kind FROM documents
), d AS (
  SELECT doc_id, kind,
         {_md5_byte_sql(2)} AS s2, {_md5_byte_sql(3)} AS s3,
         {_md5_byte_sql(5)} AS s5, {_md5_byte_sql(6)} AS s6,
         {_md5_byte_sql(7)} AS s7, {_md5_byte_sql(8)} AS s8,
         {_md5_byte_sql(12)} AS s12,
         CASE kind WHEN 0 THEN 8 + {_md5_byte_sql(4)} % 24
                   WHEN 2 THEN 8 + {_md5_byte_sql(7)} % 24
                   WHEN 4 THEN 8 + {_md5_byte_sql(12)} % 24
                   WHEN 6 THEN 8 + {_md5_byte_sql(15)} % 24
                   WHEN 7 THEN 8 + {_md5_byte_sql(0)} % 24
                   WHEN 3 THEN 8 + 2 * ({_md5_byte_sql(9)} % 8) END AS w,
         CASE kind WHEN 0 THEN 8 + {_md5_byte_sql(5)} % 24
                   WHEN 2 THEN 8 + {_md5_byte_sql(8)} % 24
                   WHEN 4 THEN 8 + {_md5_byte_sql(13)} % 24
                   WHEN 6 THEN 8 + {_md5_byte_sql(3)} % 24
                   WHEN 7 THEN 8 + {_md5_byte_sql(1)} % 24
                   WHEN 3 THEN 8 + 2 * ({_md5_byte_sql(10)} % 8) END AS hh,
         CASE kind WHEN 1 THEN 256 + {_md5_byte_sql(6)} * 8
                   WHEN 5 THEN 256 + {_md5_byte_sql(14)} * 8 END AS n,
         CASE kind WHEN 3 THEN 4 + {_md5_byte_sql(11)} % 8 END AS nf
  FROM h
)
"""

_MM_MIME_SQL = """
  CASE kind WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
            WHEN 2 THEN 'image/x-portable-pixmap' WHEN 3 THEN 'video/x-yuv4mpeg'
            WHEN 4 THEN 'image/png' WHEN 5 THEN 'audio/basic+wav'
            WHEN 6 THEN 'image/jpeg' ELSE 'image/gif' END
"""

# G.711 μ-law expansion of code point ``(s8 + 7*i) % 256`` → |sample|
# (the companding roundtrip is the identity on canonical code points,
# so this IS the decoded magnitude; sign squares away).
_MULAW_MAG_SQL = (
    "LATERAL (SELECT 255 - ((s8 + 7 * i) % 256) AS uu) cu,\n"
    "    LATERAL (SELECT (((uu % 16) * 8 + 132) * (1 << ((uu // 16) % 8))) - 132 AS mag) cm"
)

_DECODE_STATS_ORACLE = f"""
{_MM_PARAMS_CTE},
img AS (
  SELECT doc_id,
         SUM(CASE kind WHEN 0 THEN (s2 + 11 * i + (i * i) % 251) % 256
                       WHEN 2 THEN (s3 + 13 * i + (i * i) % 241) % 256
                       ELSE (s6 + 17 * i + (i * i) % 239) % 256 END) AS vs,
         COUNT(*) AS vc
  FROM d, LATERAL (SELECT unnest(generate_series(0, w * hh * 3 - 1)) AS i) u
  WHERE kind IN (0, 2, 4) GROUP BY doc_id
),
jpg AS (
  SELECT doc_id,
         SUM((128 + 5 * (((s5 + 7 * (by * ((w + 7) // 8) + bx)) % 51) - 25))
             * LEAST(8, w - 8 * bx) * LEAST(8, hh - 8 * by) * 3) AS vs,
         w * hh * 3 AS vc
  FROM d,
    LATERAL (SELECT unnest(generate_series(0, (w + 7) // 8 - 1)) AS bx) ux,
    LATERAL (SELECT unnest(generate_series(0, (hh + 7) // 8 - 1)) AS by) uy
  WHERE kind = 6 GROUP BY doc_id, w, hh
),
gif AS (
  SELECT doc_id,
         3 * SUM((s3 + 37 * ((s2 + 5 * i + (i * i) % 199) % 256)) % 256) AS vs,
         3 * COUNT(*) AS vc
  FROM d, LATERAL (SELECT unnest(generate_series(0, w * hh - 1)) AS i) u
  WHERE kind = 7 GROUP BY doc_id
),
pcm AS (
  SELECT doc_id, SUM(smp * smp) AS vs, COUNT(*) AS vc
  FROM d,
    LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) u,
    LATERAL (SELECT (s7 + 29 * i + (i * i) % 233) % 4096 - 2048 AS smp) cs
  WHERE kind = 1 GROUP BY doc_id
),
mul AS (
  SELECT doc_id, SUM(mag * mag) AS vs, COUNT(*) AS vc
  FROM d,
    LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) u,
    {_MULAW_MAG_SQL}
  WHERE kind = 5 GROUP BY doc_id
),
y4m AS (
  SELECT doc_id, SUM((s12 + 19 * g + (g * g) % 251) % 256) AS vs, COUNT(*) AS vc
  FROM d, LATERAL (SELECT unnest(generate_series(0, nf * w * hh - 1)) AS g) u
  WHERE kind = 3 GROUP BY doc_id
),
assets AS (
  SELECT d.doc_id, {_MM_MIME_SQL} AS mime,
         CASE WHEN kind IN (1, 5) THEN NULL ELSE w END AS width,
         CASE WHEN kind IN (1, 5) THEN NULL ELSE hh END AS height,
         CASE WHEN kind IN (1, 5) THEN 1000.0 * n / 8000
              WHEN kind = 3 THEN nf * 200.0 END AS duration_ms,
         COALESCE(img.vs, jpg.vs, gif.vs, pcm.vs, mul.vs, y4m.vs) AS vs,
         COALESCE(img.vc, jpg.vc, gif.vc, pcm.vc, mul.vc, y4m.vc) AS vc
  FROM d
  LEFT JOIN img USING (doc_id) LEFT JOIN jpg USING (doc_id)
  LEFT JOIN gif USING (doc_id) LEFT JOIN pcm USING (doc_id)
  LEFT JOIN mul USING (doc_id) LEFT JOIN y4m USING (doc_id)
)
SELECT mime,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(vc) AS BIGINT) AS total_values,
       AVG(width) AS avg_width,
       AVG(height) AS avg_height,
       AVG(duration_ms) AS avg_duration_ms,
       CASE WHEN mime LIKE 'audio/%'
            THEN sqrt(CAST(SUM(vs) AS DOUBLE) / CAST(SUM(vc) AS DOUBLE))
            ELSE CAST(SUM(vs) AS DOUBLE) / CAST(SUM(vc) AS DOUBLE) END
         AS pooled_mean_value
FROM assets GROUP BY mime
"""

_RESIZE_STATS_ORACLE = f"""
{_MM_PARAMS_CTE},
-- per-asset sums as chained list_transform lambdas instead of chained
-- LATERAL joins: same integer math bound step-by-step to lambda
-- variables (flat index → sample index → value → square), but
-- vectorized per row with no join machinery — measured 7× faster in
-- DuckDB on the sf0.1 fixture, value-identical
rimg AS (
  SELECT doc_id,
         list_sum(list_transform(
           list_transform(generate_series(0, 191),
             s -> ((((s // 24) * hh) // 8) * w + (((s // 3) % 8) * w) // 8) * 3 + s % 3),
           i -> CASE kind WHEN 0 THEN (s2 + 11 * i + (i * i) % 251) % 256
                          WHEN 2 THEN (s3 + 13 * i + (i * i) % 241) % 256
                          ELSE (s6 + 17 * i + (i * i) % 239) % 256 END)) AS fs,
         192 AS fc
  FROM d WHERE kind IN (0, 2, 4)
),
rjpg AS (
  SELECT doc_id,
         3 * list_sum(list_transform(generate_series(0, 63),
           s -> 128 + 5 * (((s5 + 7 * (((((s // 8) * hh) // 8) // 8) * ((w + 7) // 8)
                                       + (((s % 8) * w) // 8) // 8)) % 51) - 25))) AS fs,
         192 AS fc
  FROM d WHERE kind = 6
),
rgif AS (
  SELECT doc_id,
         3 * list_sum(list_transform(
           list_transform(generate_series(0, 63),
             s -> (((s // 8) * hh) // 8) * w + ((s % 8) * w) // 8),
           p0 -> (s3 + 37 * ((s2 + 5 * p0 + (p0 * p0) % 199) % 256)) % 256)) AS fs,
         192 AS fc
  FROM d WHERE kind = 7
),
rpcm AS (
  SELECT doc_id,
         list_sum(list_transform(
           list_transform(
             list_transform(generate_series(0, 1023),
               s -> ((s // 256) * (n - 256)) // 3 + s % 256),
             i -> (s7 + 29 * i + (i * i) % 233) % 4096 - 2048),
           v -> v * v)) AS fs,
         1024 AS fc
  FROM d WHERE kind = 1
),
rmul AS (
  SELECT doc_id,
         list_sum(list_transform(
           list_transform(
             list_transform(generate_series(0, 1023),
               s -> 255 - ((s8 + 7 * (((s // 256) * (n - 256)) // 3 + s % 256)) % 256)),
             u -> (((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))) - 132),
           m -> m * m)) AS fs,
         1024 AS fc
  FROM d WHERE kind = 5
),
rvid AS (
  SELECT doc_id,
         3 * list_sum(list_transform(
           list_transform(generate_series(0, 255),
             s -> (((s // 64) * (nf - 1)) // 3) * w * hh
                  + ((((s // 8) % 8) * hh) // 8) * w + ((s % 8) * w) // 8),
           g -> (s12 + 19 * g + (g * g) % 251) % 256)) AS fs,
         768 AS fc
  FROM d WHERE kind = 3
),
rassets AS (
  SELECT d.doc_id, {_MM_MIME_SQL} AS mime,
         COALESCE(rimg.fs, rjpg.fs, rgif.fs, rpcm.fs, rmul.fs, rvid.fs) AS fs,
         COALESCE(rimg.fc, rjpg.fc, rgif.fc, rpcm.fc, rmul.fc, rvid.fc) AS fc,
         CASE WHEN kind IN (1, 5, 3) THEN 4 ELSE 64 END AS n_units
  FROM d
  LEFT JOIN rimg USING (doc_id) LEFT JOIN rjpg USING (doc_id)
  LEFT JOIN rgif USING (doc_id) LEFT JOIN rpcm USING (doc_id)
  LEFT JOIN rmul USING (doc_id) LEFT JOIN rvid USING (doc_id)
)
SELECT mime,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CASE WHEN mime LIKE 'audio/%'
            THEN sqrt(CAST(SUM(fs) AS DOUBLE) / CAST(SUM(fc) AS DOUBLE))
            ELSE CAST(SUM(fs) AS DOUBLE) / CAST(SUM(fc) AS DOUBLE) END
         AS avg_feature,
       CAST(SUM(n_units) AS BIGINT) AS total_units
FROM rassets GROUP BY mime
"""


def _pooled(num: str, den: str):
    """Per-mime mean from exact integer sums; audio reports the pooled
    RMS (sqrt of the pooled mean square)."""
    ratio = F.col(num).cast("double") / F.col(den).cast("double")
    return F.when(F.col("mime").startswith("audio/"), F.sqrt(ratio)).otherwise(ratio)


@register("mm_resize_stats", oracle=_RESIZE_STATS_ORACLE, section="L6", reverify=9)
def mm_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 feature-extract pipeline with a FULL oracle (r9, previously
    rows-only): decode → 8×8 nearest-neighbor thumbnail (images, incl.
    zlib/LZW/Huffman-compressed PNG+GIF+JPEG), evenly-spaced luma frame
    thumbnails (video), pooled frame energy (audio) — all inside one
    mapInPandas pass, rolled up per mime from EXACT integer sums. The
    oracle re-derives every sampled pixel/sample from the synthesizer's
    md5 seed via the closed-form content sequences (``_seq_bytes``,
    ``_jpeg_block_values``) and replays the same nearest-neighbor /
    frame-sampling index math in SQL; integer numerators make the
    per-mime ratio bit-exact in any aggregation order. One wrong
    decode byte, resize index, or frame offset fails the hash."""
    feats = build_assets(spark, sf_dir).mapInPandas(resize_stats, RESIZE_STATS_SCHEMA)
    g = feats.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("feat_sum").alias("_fs"),
        F.sum("feat_count").alias("_fc"),
        F.sum("n_units").alias("total_units"),
    )
    return g.select("mime", "n_assets", _pooled("_fs", "_fc").alias("avg_feature"), "total_units")


_DECODE_DIMS_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS hx, doc_id % 8 AS kind FROM documents
)
SELECT doc_id AS asset_id,
       CASE kind WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                 WHEN 2 THEN 'image/x-portable-pixmap' WHEN 3 THEN 'video/x-yuv4mpeg'
                 WHEN 4 THEN 'image/png' WHEN 6 THEN 'image/jpeg'
                 WHEN 7 THEN 'image/gif'
                 ELSE 'audio/basic+wav' END AS mime,
       CAST(CASE kind WHEN 4 THEN 8 + {_md5_byte_sql(12)} % 24
                      WHEN 0 THEN 8 + {_md5_byte_sql(4)} % 24
                      WHEN 2 THEN 8 + {_md5_byte_sql(7)} % 24
                      WHEN 3 THEN 8 + 2 * ({_md5_byte_sql(9)} % 8)
                      WHEN 6 THEN 8 + {_md5_byte_sql(15)} % 24
                      WHEN 7 THEN 8 + {_md5_byte_sql(0)} % 24
                      ELSE NULL END AS INTEGER) AS width,
       CAST(CASE kind WHEN 4 THEN 8 + {_md5_byte_sql(13)} % 24
                      WHEN 0 THEN 8 + {_md5_byte_sql(5)} % 24
                      WHEN 2 THEN 8 + {_md5_byte_sql(8)} % 24
                      WHEN 3 THEN 8 + 2 * ({_md5_byte_sql(10)} % 8)
                      WHEN 6 THEN 8 + {_md5_byte_sql(3)} % 24
                      WHEN 7 THEN 8 + {_md5_byte_sql(1)} % 24
                      ELSE NULL END AS INTEGER) AS height,
       CAST(CASE kind WHEN 5 THEN 1000.0 * (256 + {_md5_byte_sql(14)} * 8) / 8000
                      WHEN 1 THEN 1000.0 * (256 + {_md5_byte_sql(6)} * 8) / 8000
                      WHEN 3 THEN (4 + {_md5_byte_sql(11)} % 8) * 200.0
                      ELSE NULL END AS DOUBLE) AS duration_ms
FROM h
"""


@register("mm_decode_dims", oracle=_DECODE_DIMS_ORACLE, section="L6")
def mm_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 with a FULL oracle: every asset's container dimensions as
    reported by the REAL decoders (PNG chunk walk + zlib inflate +
    unfilter, BMP/PPM header parse, RIFF chunk walk incl. μ-law, Y4M
    frame scan) must equal an INDEPENDENT DuckDB derivation of the same
    dimensions from the synthesizer's md5 seed bytes. One mismatched
    header field, stride, or chunk offset anywhere in the
    encode→decode path fails the hash — the binary plumbing is
    oracle-checked end to end, not just rows-only (pixel/sample
    statistics stay pytest-territory: numpy RNG isn't SQL)."""
    decoded = build_assets(spark, sf_dir).mapInPandas(decode_stats, DECODE_STATS_SCHEMA)
    return decoded.select("asset_id", "mime", "width", "height", "duration_ms")


@register("mm_decode_stats", oracle=_DECODE_STATS_ORACLE, section="L6", reverify=9)
def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 multimodal pipeline with a FULL oracle (r9, previously
    rows-only): binary asset table → REAL decode kernel (PNG zlib
    inflate + unfilter, JPEG Huffman + dequant + IDCT, GIF LZW, BMP/PPM
    header+pixel parse, WAV chunk walk incl. μ-law expansion, Y4M frame
    walk) via mapInPandas, aggregated per mime from EXACT integer
    pixel/sample sums. The oracle re-derives every decoded value from
    the synthesizer's md5 seed: content bytes are closed-form integer
    sequences (``_seq_bytes``), the JPEG class is built from
    exactly-roundtripping block constants (``_jpeg_block_values``), and
    μ-law samples are canonical code points whose expansion is a SQL
    one-liner. ``pooled_mean_value`` is SUM(value_sum)/SUM(value_count)
    — an integer ratio, bit-exact in any aggregation order (audio
    reports the pooled RMS, sqrt of the mean square). A single wrong
    bit anywhere in the encode→decode path shifts an integer sum and
    fails the hash. ``total_values`` counts decoded samples, not
    payload bytes: compressed-container byte counts are an encoder
    implementation detail, decoded volume is the invariant."""
    decoded = build_assets(spark, sf_dir).mapInPandas(decode_stats, DECODE_STATS_SCHEMA)
    g = decoded.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("value_count").alias("total_values"),
        F.avg("width").alias("avg_width"),
        F.avg("height").alias("avg_height"),
        F.avg("duration_ms").alias("avg_duration_ms"),
        F.sum("value_sum").alias("_vs"),
        F.sum("value_count").alias("_vc"),
    )
    return g.select(
        "mime", "n_assets", "total_values", "avg_width", "avg_height", "avg_duration_ms",
        _pooled("_vs", "_vc").alias("pooled_mean_value"),
    )


# =============================================================================
# compressed stream containers: MP3 / H.264 structure parsing (_mpeg.py)
# =============================================================================

STREAM_META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bitrate_kbps", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
    ]
)


def synthesize_stream_assets(batches):
    """Deterministic compressed-stream generator (same md5-seed scheme as
    synthesize_assets): even doc_ids become MPEG-1 Layer III streams
    (seeded bitrate/sample-rate/frame-count, sometimes ID3v2-tagged),
    odd doc_ids become H.264 Annex-B streams (seeded 16-multiple dims,
    SPS+PPS+IDR slices). Structure is real — _mpeg.py writes bit-exact
    headers; only the entropy payload is rng filler."""
    from ._mpeg import encode_h264, encode_mp3

    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            seed = hashlib.md5((text or "").encode("utf-8")).digest()
            rng = np.random.RandomState(np.frombuffer(seed[4:8], dtype=np.uint32)[0])
            if int(doc_id) % 2 == 0:
                payload = encode_mp3(
                    n_frames=4 + int(seed[6]) % 60,
                    bitrate_idx=1 + int(seed[2]) % 14,
                    sr_idx=int(seed[5]) % 3,
                    rng=rng,
                    id3_size=int(seed[7]) * 4,
                )
                mime = "audio/mpeg"
            else:
                payload = encode_h264(
                    width=16 * (1 + int(seed[8]) % 8),
                    height=16 * (1 + int(seed[9]) % 8),
                    n_slices=2 + int(seed[10]) % 10,
                    rng=rng,
                )
                mime = "video/h264"
            out.append((int(doc_id), mime, payload))
        yield pd.DataFrame(out, columns=ASSET_SCHEMA.names)


def _stream_meta_row(asset_id, mime, payload) -> tuple:
    from ._mpeg import parse_h264, parse_mp3

    if mime == "audio/mpeg":
        m = parse_mp3(payload)
        return (asset_id, mime, None, None, m["sample_rate"],
                m["bitrate_kbps"], m["n_frames"], m["duration_ms"])
    m = parse_h264(payload)
    return (asset_id, mime, m["width"], m["height"], None,
            None, m["n_frames"], None)


def _stream_error_row(asset_id, mime, payload) -> tuple:
    return (asset_id, mime) + (None,) * (len(STREAM_META_SCHEMA) - 2)


def stream_meta(batches):
    """Metadata-extraction kernel: MP3 frame walk (every frame's sync
    validated, ID3v2 skipped) / H.264 NAL walk + exp-Golomb SPS parse.
    Arrow batch in → Arrow batch out."""
    yield from _map_rows(batches, _stream_meta_row, STREAM_META_SCHEMA.names)


STREAM_META_TOLERANT_SCHEMA = T.StructType(
    STREAM_META_SCHEMA.fields + [T.StructField("parse_error", T.StringType())]
)


def stream_meta_tolerant(batches):
    """Error-isolating twin of ``stream_meta``: a corrupt payload yields
    one typed error row (null metadata + ``parse_error``) instead of
    failing the whole Spark task — at 100 TB a single truncated upload
    must not kill a scan stage and its retries. The oracle id keeps the
    strict kernel (fixtures parse clean, and silent nulls there would
    mask codec regressions); this is the ingest-side default for
    crawled corpora. Same Arrow batch shape, one extra string column."""
    yield from _map_rows(
        batches,
        _tolerant(_stream_meta_row, _stream_error_row),
        STREAM_META_TOLERANT_SCHEMA.names,
    )


def build_stream_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → compressed-stream asset table (MP3 / H.264 payloads)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return widen(docs).mapInPandas(synthesize_stream_assets, ASSET_SCHEMA)


_STREAM_META_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS hx, doc_id % 2 AS kind FROM documents
), d AS (
  SELECT doc_id, kind,
         1 + {_md5_byte_sql(2)} % 14 AS br_idx,
         {_md5_byte_sql(5)} % 3 AS sr_idx,
         4 + {_md5_byte_sql(6)} % 60 AS mp3_frames,
         16 * (1 + {_md5_byte_sql(8)} % 8) AS h264_w,
         16 * (1 + {_md5_byte_sql(9)} % 8) AS h264_h,
         2 + {_md5_byte_sql(10)} % 10 AS h264_slices
  FROM h
)
SELECT doc_id AS asset_id,
       CASE kind WHEN 0 THEN 'audio/mpeg' ELSE 'video/h264' END AS mime,
       CAST(CASE kind WHEN 1 THEN h264_w END AS INTEGER) AS width,
       CAST(CASE kind WHEN 1 THEN h264_h END AS INTEGER) AS height,
       CAST(CASE kind WHEN 0 THEN ([44100, 48000, 32000])[sr_idx + 1] END
            AS INTEGER) AS sample_rate,
       CAST(CASE kind WHEN 0 THEN
              ([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320])[br_idx]
            END AS INTEGER) AS bitrate_kbps,
       CAST(CASE kind WHEN 0 THEN mp3_frames ELSE h264_slices END AS INTEGER)
         AS n_frames,
       CAST(CASE kind WHEN 0 THEN
              mp3_frames * 1152 * 1000.0
              / ([44100, 48000, 32000])[sr_idx + 1]
            END AS DOUBLE) AS duration_ms
FROM d
"""


@register("mm_stream_meta", oracle=_STREAM_META_ORACLE, section="L6")
def mm_stream_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 compressed-stream metadata with a FULL oracle: every MP3's
    sample rate / bitrate / frame count / duration from a real
    ISO 11172-3 frame walk (sync validated at each computed offset,
    ID3v2 skipped) and every H.264 stream's exact luma dims from a
    bit-level exp-Golomb SPS parse (_mpeg.py) must equal an independent
    DuckDB derivation from the synthesizer's md5 seed. One wrong table
    entry, frame-length formula, syncsafe shift, or ue(v) bit anywhere
    fails the hash. Entropy decode (Huffman/CABAC payloads) remains the
    declared external seam — structure parsing no longer is."""
    assets = build_stream_assets(spark, sf_dir)
    return assets.mapInPandas(stream_meta, STREAM_META_SCHEMA)
