"""REAL BMP (Windows DIB) codec — pure stdlib ``struct`` + numpy.

The reference connector lands payload-agnostic bytes (`DatastreamIO.scala:90-95`);
real web/enterprise corpora still carry plenty of BMP screenshots and scans.
This module parses the format from scratch, fully vectorized:

- ``decode_bmp_np``: BITMAPFILEHEADER + BITMAPINFO/V4/V5 header walk;
  1/4/8-bit palettized, 16/24/32-bit truecolor; BI_RGB, BI_RLE8 run-length,
  and BI_BITFIELDS (arbitrary contiguous masks) compressions; bottom-up and
  top-down row order; 4-byte row padding → (h, w, 3|4) uint8 RGB(A).
- ``encode_bmp_np``: standards-compliant 24-bit BI_RGB and 8-bit palettized
  writer (used by tests / synthetic generators; any BMP reader opens these).
- ``bmp_info``: header probe (dims/bpp/compression) without touching pixels.

Layout facts (row padding, BGR order, bottom-up default, palette BGRA quads)
are from the public Windows BITMAPINFOHEADER documentation.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_bmp_np", "encode_bmp_np", "bmp_info"]

_BI_RGB = 0
_BI_RLE8 = 1
_BI_RLE4 = 2
_BI_BITFIELDS = 3


def _headers(data: bytes) -> dict:
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP stream")
    (data_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:  # BITMAPCOREHEADER not emitted by anything modern
        raise NotImplementedError(f"BMP header size {hdr_size} not supported")
    w, h, _planes, bpp, comp, _img_size = struct.unpack_from(
        "<iihHII", data, 18
    )
    (colors_used,) = struct.unpack_from("<I", data, 46)
    top_down = h < 0
    h = abs(h)
    masks = None
    if comp == _BI_BITFIELDS:
        # masks sit at byte 54 (= 14 + 40) in every supported layout: plain
        # BITMAPINFOHEADER puts three masks directly after its 40 bytes, and
        # the V2+/V4/V5 headers embed them at that same position
        moff = 54
        if len(data) < moff + (16 if hdr_size >= 56 else 12):
            raise ValueError("truncated BMP header")
        r, g, b = struct.unpack_from("<III", data, moff)
        a = struct.unpack_from("<I", data, moff + 12)[0] if hdr_size >= 56 else 0
        masks = (r, g, b, a)
    return {
        "width": int(w),
        "height": int(h),
        "bpp": int(bpp),
        "compression": int(comp),
        "top_down": top_down,
        "data_off": int(data_off),
        "hdr_size": int(hdr_size),
        "colors_used": int(colors_used),
        "masks": masks,
    }


def bmp_info(data: bytes) -> dict:
    hd = _headers(data)
    return {
        "width": hd["width"],
        "height": hd["height"],
        "bpp": hd["bpp"],
        "compression": hd["compression"],
    }


def _palette(data: bytes, hd: dict) -> np.ndarray:
    """Always 2^bpp rows: real files with biClrUsed < 2^bpp may still carry
    pixel indices past the stored quads (formally invalid, observed in the
    wild) — those resolve to black instead of an uncontrolled IndexError."""
    n = hd["colors_used"] or (1 << hd["bpp"])
    off = 14 + hd["hdr_size"]
    if hd["compression"] == _BI_BITFIELDS and hd["hdr_size"] == 40:
        off += 12  # the three masks precede the palette
    quads = np.frombuffer(data, dtype=np.uint8, count=n * 4, offset=off)
    pal = np.zeros((1 << hd["bpp"], 3), dtype=np.uint8)
    pal[:n] = quads.reshape(n, 4)[:, [2, 1, 0]]  # BGRA → RGB
    return pal


def _rle8_decode(raw: bytes, w: int, h: int) -> np.ndarray:
    """BI_RLE8: (count, value) runs, 0-escapes for EOL/EOD/delta/absolute.
    Per-run Python with one final frombuffer — same hot-loop posture as the
    GIF LZW decoder (runs, not pixels, bound the loop count)."""
    out = np.zeros((h, w), dtype=np.uint8)
    row = np.zeros(w + 4, dtype=np.uint8)  # slack for overshooting runs
    x = y = 0
    pos, total = 0, len(raw)

    def flush_row():
        nonlocal x
        out[y, :w] = row[:w]
        x = 0

    while pos + 1 < total and y < h:
        n, v = raw[pos], raw[pos + 1]
        pos += 2
        if n:  # encoded run
            end = min(x + n, w)
            row[x:end] = v
            x = end
            continue
        if v == 0:  # end of line
            flush_row()
            row[:] = 0
            y += 1
        elif v == 1:  # end of data
            break
        elif v == 2:  # delta: move cursor, untouched pixels stay 0
            if pos + 1 >= total:
                break
            dx, dy = raw[pos], raw[pos + 1]
            pos += 2
            if dy:
                old_x = x
                flush_row()
                y += dy
                row[:] = 0
                x = old_x  # the cursor moves relative to its old column
            x = min(x + dx, w)
        else:  # absolute run of v literal bytes, word-aligned
            take = raw[pos : pos + v]
            end = min(x + len(take), w)
            row[x:end] = np.frombuffer(take, dtype=np.uint8)[: end - x]
            x = min(x + v, w)
            pos += v + (v & 1)
    if y < h:  # stream ended without explicit EOL for the last row
        out[y, :w] = row[:w]
    return out


def _mask_shift(mask: int) -> tuple[int, int]:
    if mask == 0:
        return 0, 0
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    return shift, width


def decode_bmp_np(data: bytes) -> np.ndarray:
    """Decode → (h, w, 3) uint8 RGB, or (h, w, 4) RGBA when a 32-bit image
    carries a meaningful alpha channel (any pixel with alpha != 0)."""
    hd = _headers(data)
    w, h, bpp, comp = hd["width"], hd["height"], hd["bpp"], hd["compression"]
    if w <= 0 or h <= 0:
        raise ValueError(f"BMP dims {w}x{h}")
    raw = data[hd["data_off"] :]

    if comp == _BI_RLE8:
        if bpp != 8:
            raise ValueError("BI_RLE8 requires 8 bpp")
        idx = _rle8_decode(raw, w, h)
        px = _palette(data, hd)[idx]
        return px if hd["top_down"] else px[::-1].copy()
    if comp == _BI_RLE4:
        raise NotImplementedError("BI_RLE4 BMP not supported")
    if comp not in (_BI_RGB, _BI_BITFIELDS):
        raise NotImplementedError(f"BMP compression {comp} not supported")

    stride = ((w * bpp + 31) // 32) * 4
    need = stride * h
    if len(raw) < need:
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(raw, dtype=np.uint8, count=need).reshape(h, stride)
    if not hd["top_down"]:
        rows = rows[::-1]

    if bpp in (1, 4, 8):
        pal = _palette(data, hd)
        if bpp == 8:
            idx = rows[:, :w]
        elif bpp == 4:
            nib = np.repeat(rows, 2, axis=1)
            nib[:, 0::2] >>= 4
            nib[:, 1::2] &= 0x0F
            idx = nib[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            idx = bits[:, :w]
        return pal[idx]
    if bpp == 24:
        px = rows[:, : w * 3].reshape(h, w, 3)
        return px[:, :, ::-1].copy()  # BGR → RGB
    if bpp in (16, 32):
        dtype = "<u2" if bpp == 16 else "<u4"
        v = rows[:, : w * (bpp // 8)].copy().view(dtype).reshape(h, w)
        if comp == _BI_BITFIELDS and hd["masks"]:
            rm, gm, bm, am = hd["masks"]
        elif bpp == 16:
            rm, gm, bm, am = 0x7C00, 0x03E0, 0x001F, 0  # default 5-5-5
        else:
            rm, gm, bm, am = 0x00FF0000, 0x0000FF00, 0x000000FF, 0xFF000000
        chans = []
        for m in (rm, gm, bm, am):
            if m == 0:
                chans.append(None)
                continue
            sh, width = _mask_shift(m)
            c = (v & m) >> sh
            if width < 8:  # scale to full 8-bit range
                c = (c * 255) // ((1 << width) - 1)
            elif width > 8:  # e.g. A2R10G10B10 — keep the high bits
                c = c >> (width - 8)
            chans.append(c.astype(np.uint8))
        rgb = np.dstack(chans[:3])
        if chans[3] is not None and bool((chans[3] != 0).any()):
            return np.dstack([rgb, chans[3]])
        return rgb
    raise NotImplementedError(f"BMP bit depth {bpp} not supported")


def encode_bmp_np(pixels: np.ndarray, palettized: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit BI_RGB BMP; with ``palettized`` a
    (h, w) uint8 grayscale array → 8-bit BMP with an identity gray palette."""
    px = np.asarray(pixels, dtype=np.uint8)
    if palettized:
        if px.ndim != 2:
            raise ValueError("palettized encode expects (h, w) gray")
        h, w = px.shape
        stride = (w + 3) & ~3
        body = np.zeros((h, stride), dtype=np.uint8)
        body[:, :w] = px
        body = body[::-1].tobytes()
        pal = np.zeros((256, 4), dtype=np.uint8)
        pal[:, 0] = pal[:, 1] = pal[:, 2] = np.arange(256)
        pal_bytes = pal.tobytes()
        bpp, off = 8, 14 + 40 + len(pal_bytes)
    else:
        if px.ndim != 3 or px.shape[2] != 3:
            raise ValueError("encode expects (h, w, 3) RGB")
        h, w, _ = px.shape
        stride = ((w * 3 + 3) // 4) * 4
        body_arr = np.zeros((h, stride), dtype=np.uint8)
        body_arr[:, : w * 3] = px[:, :, ::-1].reshape(h, w * 3)  # RGB → BGR
        body = body_arr[::-1].tobytes()
        pal_bytes = b""
        bpp, off = 24, 14 + 40
    info = struct.pack(
        "<IiihHIIiiII", 40, w, h, 1, bpp, _BI_RGB, len(body), 2835, 2835,
        256 if palettized else 0, 0,
    )
    file_hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    return file_hdr + info + pal_bytes + body
