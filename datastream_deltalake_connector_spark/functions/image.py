"""Image payload functions: codec, perceptual hash, PSNR — Arrow-vectorized.

The reference has zero UDFs (SURVEY §2.8); all pixel work here is new,
mandated by BASELINE.json input_hint: "vectorized pandas/Arrow UDFs (no
per-row Python)". Codecs:

- **real PNG decode** (``\\x89PNG`` signature): a from-scratch stdlib-only
  decoder — chunk walk (IHDR/PLTE/tRNS/IDAT/IEND), zlib inflate, and all
  five scanline filter types (None/Sub/Up/Average/Paeth) reconstructed in
  numpy. Bit depth 8, color types 0/2/3/4/6, non-interlaced — the shape
  virtually every real-world 8-bit PNG has; anything else raises a clear
  NotImplementedError. This is the engine's real-world ingestion path
  (the reference ingests whatever bytes the dump contains,
  datastream/DatastreamIO.scala:90-95 — a real engine must read real bytes).
- ``fpng``: lossless stand-in — raw RGB zlib-compressed (PSNR capped 99 dB).
- ``fjpg``: lossy stand-in (no libjpeg in this container) — pixels quantized
  to a step of 4 then zlib-compressed. Quantization error uniform in
  [-2, 2) → MSE ≈ 1.25 → PSNR ≈ 47 dB, over the ≥40 dB row-equivalence
  gate, and re-encoding a decoded image is idempotent (stable phash under
  rewrite cycles).

Real JPEG decode would slot into the same header sniff; everything
Spark-side (schemas, pandas-UDF signatures, batch shapes, partitioning) is
real and tested. The per-image zlib calls are C-speed; numpy does all pixel
math. The Spark boundary is always an Arrow batch — no row-at-a-time Python
UDFs anywhere.

Stand-in wire format: magic(4s) | w(u32 LE) | h(u32 LE) | channels(u32 LE) | zlib(payload).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

__all__ = [
    "encode_image_np",
    "decode_image_np",
    "decode_png_np",
    "encode_png_np",
    "phash_np",
    "psnr_np",
    "phash_udf",
    "psnr_udf",
    "decode_dims_udf",
    "PSNR_CAP_DB",
    "PNG_SIGNATURE",
]

MAGIC_PNG = b"FPNG"
MAGIC_JPG = b"FJPG"
_HEADER_FMT = "<4sIII"
_HEADER_SIZE = struct.calcsize(_HEADER_FMT)
JPEG_QUANT_STEP = 4
PSNR_CAP_DB = 99.0
PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (0=gray, 2=RGB, 3=palette, 4=gray+A, 6=RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# ----------------------------------------------------------- real PNG decode
def _png_chunks(data: bytes):
    """Yield (type, payload) for every chunk; stops at IEND. CRCs are not
    verified (zlib's adler32 on the IDAT stream already catches corruption
    of the pixel payload; a CRC pass would double the header-walk cost)."""
    pos = len(PNG_SIGNATURE)
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        yield ctype, payload
        if ctype == b"IEND":
            return
        pos += 12 + length  # length + type + payload + crc
    raise ValueError("truncated PNG: no IEND chunk")


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reconstruct filtered scanlines → (h, stride) uint8. Each row leads
    with a filter-type byte. None/Sub/Up are fully vectorized (Sub via a
    per-lane cumsum — out[i] = raw[i] + out[i-bpp] is exactly a running sum
    mod 256 along each byte lane); Average/Paeth have a true sequential
    dependency on the previous pixel AND previous row, so they fall back to
    a per-pixel-column loop vectorized over the bpp byte lanes."""
    rows = raw.reshape(h, stride + 1)
    ftypes = rows[:, 0]
    scan = rows[:, 1:].astype(np.int32)
    out = np.empty((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = int(ftypes[y])
        cur = scan[y]
        if f == 0:  # None
            rec = cur
        elif f == 1:  # Sub: out[i] = raw[i] + out[i-bpp] ≡ running sum per lane
            rec = (
                np.cumsum(cur.reshape(-1, bpp), axis=0, dtype=np.int64).reshape(-1)
                & 0xFF
            ).astype(np.int32)
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f == 3:  # Average
            rec = cur.copy()
            rec[:bpp] = (rec[:bpp] + (prev[:bpp] >> 1)) & 0xFF
            for x in range(bpp, stride, bpp):
                rec[x : x + bpp] = (
                    cur[x : x + bpp]
                    + ((rec[x - bpp : x] + prev[x : x + bpp]) >> 1)
                ) & 0xFF
        elif f == 4:  # Paeth
            rec = cur.copy()
            rec[:bpp] = (rec[:bpp] + prev[:bpp]) & 0xFF  # left=0, ul=0 → up wins
            for x in range(bpp, stride, bpp):
                a = rec[x - bpp : x]  # left
                b = prev[x : x + bpp]  # up
                c = prev[x - bpp : x]  # upper-left
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
                rec[x : x + bpp] = (cur[x : x + bpp] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        out[y] = rec
        prev = out[y]
    return out.astype(np.uint8)


def encode_png_np(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode (h, w, c) uint8 (c ∈ {1, 2, 3, 4} → gray/gray+A/RGB/RGBA) as a
    standards-compliant 8-bit PNG (stdlib zlib only). ``filter_type`` picks
    the scanline filter applied to EVERY row (0=None … 4=Paeth) — real
    encoders choose per-row heuristically; a fixed type keeps the output
    deterministic and still exercises any spec-correct decoder."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3:
        raise ValueError("encode_png_np expects (h, w, c) uint8")
    h, w, c = pixels.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if color is None or not 0 <= filter_type <= 4:
        raise ValueError(f"unsupported channel count {c} or filter {filter_type}")
    flat = pixels.reshape(h, w * c).astype(np.int32)
    zeros = np.zeros(c, np.int32)
    lines = []
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        left = np.concatenate([zeros, cur[:-c]])
        ul = np.concatenate([zeros, prev[:-c]])
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = cur - left
        elif filter_type == 2:
            enc = cur - prev
        elif filter_type == 3:
            enc = cur - ((left + prev) >> 1)
        else:  # Paeth predictor
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            enc = cur - pred
        lines.append(bytes([filter_type]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), level=6)
    return (
        PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )


# Adam7 pass grid: (x0, y0, dx, dy) per pass, spec order
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unpack_samples(
    rec: np.ndarray, ph: int, pw: int, depth: int, ch: int
) -> np.ndarray:
    """(ph, scanline_bytes) reconstructed bytes → (ph, pw, ch) uint8 samples.
    16-bit channels take the big-endian high byte (the standard 16→8
    downsample); 1/2/4-bit samples unpack MSB-first within each byte."""
    if depth == 8:
        return rec[:, : pw * ch].reshape(ph, pw, ch)
    if depth == 16:
        return rec[:, : pw * ch * 2].reshape(ph, pw * ch, 2)[:, :, 0].reshape(
            ph, pw, ch
        )
    bits = np.unpackbits(rec.astype(np.uint8), axis=1)
    n = bits.shape[1] // depth
    weights = 1 << np.arange(depth - 1, -1, -1)
    vals = (bits[:, : n * depth].reshape(ph, n, depth) * weights).sum(axis=2)
    return vals[:, :pw].astype(np.uint8).reshape(ph, pw, 1)


def decode_png_np(data: bytes) -> np.ndarray:
    """Decode a real PNG (stdlib zlib + numpy only) → (h, w, c) uint8.
    Supports every standard bit depth (1/2/4/8/16 — 16-bit channels are
    downsampled to their high byte), color types 0/2/3/4/6, interlace 0 and
    Adam7; palette images expand through PLTE (+tRNS alpha when present)."""
    if data[: len(PNG_SIGNATURE)] != PNG_SIGNATURE:
        raise ValueError("not a PNG byte stream")
    ihdr = plte = trns = None
    idat = bytearray()
    for ctype, payload in _png_chunks(data):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"PLTE":
            plte = payload
        elif ctype == b"tRNS":
            trns = payload
        elif ctype == b"IDAT":
            idat.extend(payload)
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if color not in _PNG_CHANNELS or comp != 0 or filt != 0:
        raise NotImplementedError(f"PNG color type {color} not supported")
    if depth not in (1, 2, 4, 8, 16) or (depth < 8 and color not in (0, 3)):
        raise ValueError(f"invalid PNG bit depth {depth} for color type {color}")
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    ch = _PNG_CHANNELS[color]
    bpp_bits = ch * depth
    filter_bpp = max(1, bpp_bits // 8)
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)

    def decode_region(off: int, pw: int, ph: int) -> tuple[np.ndarray, int]:
        sbytes = (pw * bpp_bits + 7) // 8
        need = ph * (1 + sbytes)
        if off + need > raw.size:
            raise ValueError("PNG pixel payload size mismatch")
        rec = _png_unfilter(raw[off : off + need], ph, sbytes, filter_bpp)
        return _png_unpack_samples(rec, ph, pw, depth, ch), off + need

    if interlace == 0:
        px, off = decode_region(0, w, h)
        if off != raw.size:
            raise ValueError("PNG pixel payload size mismatch")
    else:  # Adam7: seven independently-filtered sub-images, one zlib stream
        px = np.zeros((h, w, ch), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, off = decode_region(off, pw, ph)
            px[y0::dy, x0::dx] = sub

    if color == 3:  # palette lookup (and optional tRNS alpha)
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        # clamp out-of-palette indices (malformed/truncated PLTE) instead of
        # surfacing a raw numpy IndexError — same policy as the GIF decoder
        idx = np.minimum(px[:, :, 0], len(pal) - 1)
        rgb = pal[idx]
        if trns is not None:
            alpha = np.full(len(pal), 255, dtype=np.uint8)
            t = np.frombuffer(trns, dtype=np.uint8)
            alpha[: len(t)] = t
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if depth < 8:  # scale sub-byte grayscale to full 8-bit range
        return (px * (255 // ((1 << depth) - 1))).astype(np.uint8)
    return px


# ----------------------------------------------------------------- numpy core
def encode_image_np(pixels: np.ndarray, fmt: str) -> bytes:
    """pixels: (h, w, c) uint8 → wire bytes. fmt: 'png' (lossless) | 'jpeg'."""
    h, w, c = pixels.shape
    if fmt == "jpeg":
        q = (pixels.astype(np.int16) // JPEG_QUANT_STEP) * JPEG_QUANT_STEP + (
            JPEG_QUANT_STEP // 2
        )
        payload = np.clip(q, 0, 255).astype(np.uint8)
        magic = MAGIC_JPG
    elif fmt == "png":
        payload = pixels
        magic = MAGIC_PNG
    else:
        raise NotImplementedError(f"codec {fmt!r} not available in this container")
    return struct.pack(_HEADER_FMT, magic, w, h, c) + zlib.compress(payload.tobytes(), level=1)


def decode_image_np(data: bytes) -> np.ndarray:
    if data[: len(PNG_SIGNATURE)] == PNG_SIGNATURE:
        return decode_png_np(data)  # real-world PNG bytes
    if data[:2] == b"\xff\xd8":  # real-world baseline JPEG bytes
        from .jpeg import decode_jpeg_np

        return decode_jpeg_np(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):  # real-world GIF: first frame
        from .gif import decode_gif_np

        return decode_gif_np(data)[0][0]
    if data[:2] == b"BM":  # real-world Windows BMP
        from .bmp import decode_bmp_np

        return decode_bmp_np(data)
    if data[:1] == b"P" and data[1:2] in (b"2", b"3", b"5", b"6"):  # Netpbm
        from .netpbm import decode_netpbm_np

        return decode_netpbm_np(data)
    if data[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00"):  # ICO/CUR
        from .ico import decode_ico_np

        return decode_ico_np(data)
    if data[:2] in (b"II", b"MM") and len(data) >= 4 and data[2:4] in (
        b"\x2a\x00",
        b"\x00\x2a",
    ):  # real-world baseline TIFF
        from .tiff import decode_tiff_np

        return decode_tiff_np(data)
    magic, w, h, c = struct.unpack_from(_HEADER_FMT, data)
    if magic not in (MAGIC_PNG, MAGIC_JPG):
        raise NotImplementedError(
            "unrecognized image byte stream; PNG, baseline JPEG, GIF, BMP, "
            "TIFF, FPNG and FJPG payloads are decodable"
        )
    raw = zlib.decompress(data[_HEADER_SIZE:])
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, c)


def _block_mean_32(gray: np.ndarray) -> np.ndarray:
    """Resize HxW → 32x32 by integer block means (pure numpy). Integer
    inputs use an exact int64 summed-area table (faster than float64)."""
    h, w = gray.shape
    ys = (np.arange(33) * h) // 32
    xs = (np.arange(33) * w) // 32
    acc_t = np.int64 if np.issubdtype(gray.dtype, np.integer) else np.float64
    csum = np.zeros((h + 1, w + 1), dtype=acc_t)
    csum[1:, 1:] = gray.astype(acc_t).cumsum(0).cumsum(1)
    area = (ys[1:, None] - ys[:-1, None]) * (xs[None, 1:] - xs[None, :-1])
    out = (
        csum[ys[1:, None], xs[None, 1:]]
        - csum[ys[:-1, None], xs[None, 1:]]
        - csum[ys[1:, None], xs[None, :-1]]
        + csum[ys[:-1, None], xs[None, :-1]]
    )
    return out / np.maximum(area, 1)


_DCT32 = None


def _dct_matrix() -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(32)[:, None]
        n = np.arange(32)[None, :]
        _DCT32 = np.sqrt(2 / 32) * np.cos(np.pi * (2 * n + 1) * k / 64)
        _DCT32[0] /= np.sqrt(2)
    return _DCT32


def phash_np(pixels: np.ndarray) -> int:
    """64-bit DCT perceptual hash (classic pHash construction):
    grayscale → 32x32 block-mean resize → 2D DCT → top-left 8x8 (minus DC)
    thresholded at its median. Grayscale is the integer channel SUM (not
    mean): the DCT is linear and the median threshold is scale-invariant, so
    the bits are unaffected while the float64 image conversion disappears."""
    gray = pixels[:, :, 0].astype(np.int32) + pixels[:, :, 1] + pixels[:, :, 2]
    small = _block_mean_32(gray)
    d = _dct_matrix()
    freq = d @ small @ d.T
    block = freq[:8, :8].flatten()[1:]  # drop DC
    bits = block > np.median(block)
    # packbits == the MSB-first fold of the 63 bits (1 pad bit at the end)
    val = int.from_bytes(np.packbits(bits).tobytes(), "big") >> 1
    return val - (1 << 63) if val >= (1 << 63) else val  # wrap into int64


def psnr_np(a: np.ndarray, b: np.ndarray) -> float:
    if a.shape != b.shape:
        return 0.0
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return PSNR_CAP_DB
    return min(PSNR_CAP_DB, 10.0 * np.log10(255.0**2 / mse))


# ------------------------------------------------------------------ pandas UDFs
@pandas_udf(LongType())
def phash_udf(data: pd.Series) -> pd.Series:
    """Recompute the perceptual hash from encoded bytes (used by the
    maintenance invariant suite to prove rewrites preserved pixels)."""
    return data.map(lambda b: phash_np(decode_image_np(b)) if b is not None else None)


@pandas_udf(DoubleType())
def psnr_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Decoded-pixel PSNR between two encoded images (row-equivalence gate:
    ≥40 dB for lossy, 99 = exact for lossless)."""

    def one(pair):
        x, y = pair
        if x is None or y is None:
            return 0.0
        return psnr_np(decode_image_np(x), decode_image_np(y))

    return pd.Series(map(one, zip(a, b)))


_DIMS_SCHEMA = StructType(
    [
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("lossy", IntegerType()),
    ]
)


@pandas_udf(_DIMS_SCHEMA)
def decode_dims_udf(data: pd.Series) -> pd.DataFrame:
    """Header-only metadata probe (no pixel decompression): width/height/
    channels/lossy-flag from the wire header — real PNGs read their IHDR
    (always the first chunk, offset 16), stand-ins their packed header. The
    cheap path for schema validation over billions of binaries.

    BMP and ICO report their 3 colour channels. Their decoders return RGBA
    only when some pixel's alpha is actually used, which a header cannot
    show, so a 32-bpp file with real alpha probes as 3 and decodes as 4."""
    rows = []
    for b in data:
        if b is None:
            rows.append((None, None, None, None))
            continue
        if b[: len(PNG_SIGNATURE)] == PNG_SIGNATURE:
            w, h, _depth, color = struct.unpack_from(">IIBB", b, 16)
            rows.append((int(w), int(h), _PNG_CHANNELS.get(color), 0))
            continue
        if b[:2] == b"\xff\xd8":
            from .jpeg import jpeg_dims

            w, h, nc = jpeg_dims(b)
            rows.append((w, h, nc, 1))
            continue
        if b[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack_from("<HH", b, 6)
            rows.append((int(w), int(h), 3, 0))
            continue
        if b[:2] == b"BM":
            from .bmp import bmp_info

            info = bmp_info(b)
            rows.append((info["width"], info["height"], 3, 0))
            continue
        if b[:1] == b"P" and b[1:2] in (b"2", b"3", b"5", b"6"):
            from .netpbm import netpbm_info

            info = netpbm_info(b)
            rows.append((info["width"], info["height"], 3, 0))
            continue
        if b[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00"):
            from .ico import ico_info

            info = ico_info(b)
            rows.append((info["width"], info["height"], 3, 0))
            continue
        if b[:2] in (b"II", b"MM") and b[2:4] in (b"\x2a\x00", b"\x00\x2a"):
            from .tiff import tiff_info

            info = tiff_info(b)
            # decode returns RGBA for 4-sample files and a 3-channel
            # stack for gray/palette, so the probe mirrors that
            nc = 4 if info["samples"] >= 4 else 3
            rows.append((info["width"], info["height"], nc, 0))
            continue
        magic, w, h, c = struct.unpack_from(_HEADER_FMT, b)
        rows.append((int(w), int(h), int(c), int(magic == MAGIC_JPG)))
    return pd.DataFrame(rows, columns=["w", "h", "channels", "lossy"])
