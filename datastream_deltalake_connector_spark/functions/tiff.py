"""REAL baseline TIFF codec — pure stdlib ``struct`` + numpy, riding the
engine's existing TIFF-IFD walker (`functions/exif.py:_read_ifd` — the same
structure EXIF APP1 embeds, here at the top of the file per TIFF 6.0).

Scope (TIFF 6.0 "Baseline" plus the two ubiquitous extensions):

- both byte orders (``II``/``MM``), IFD0 with out-of-line values;
- grayscale (1/4/8-bit, WhiteIsZero and BlackIsZero), RGB(A) 8-bit,
  palette-color via ColorMap;
- strips (any RowsPerStrip), PlanarConfiguration=1;
- Compression 1 (none), 32773 (PackBits), and 5 (TIFF-LZW: MSB-first
  bitstream with early code-width change — NOT the GIF flavor);
- Predictor 2 (horizontal differencing) undone by a vectorized cumsum.

Multi-sample bit depths beyond 8, tiles, and planar=2 raise
``NotImplementedError`` honestly. ``encode_tiff_np`` writes gray/RGB strips
with compression none/PackBits/LZW in either byte order, used by tests and
synthetic generators; any TIFF reader opens its output.
"""

from __future__ import annotations

import struct

import numpy as np

from .exif import _read_ifd

__all__ = ["decode_tiff_np", "encode_tiff_np", "tiff_info"]

_T_WIDTH = 256
_T_LENGTH = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS = 273
_T_SAMPLES = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_COUNTS = 279
_T_PLANAR = 284
_T_PREDICTOR = 317
_T_COLORMAP = 320


def _open_ifd0(data: bytes) -> tuple[dict, str]:
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF stream")
    e = "<" if data[:2] == b"II" else ">"
    magic, off = struct.unpack_from(e + "HI", data, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic")
    ifd = _read_ifd(data, off, e)
    if not ifd:
        raise ValueError("empty TIFF IFD0")
    return ifd, e


def _uints(v, e: str) -> list[int]:
    """SHORT or LONG array → python ints."""
    if v is None:
        return []
    typ, count, raw = v
    if typ == 3:
        return list(struct.unpack_from(e + "H" * count, raw))
    if typ == 4:
        return list(struct.unpack_from(e + "I" * count, raw))
    raise ValueError(f"tag type {typ} where SHORT/LONG expected")


def _u1(ifd, tag: int, e: str, default: int | None = None) -> int | None:
    vals = _uints(ifd.get(tag), e)
    return vals[0] if vals else default


def tiff_info(data: bytes) -> dict:
    ifd, e = _open_ifd0(data)
    bits = _uints(ifd.get(_T_BITS), e) or [1]
    return {
        "width": _u1(ifd, _T_WIDTH, e, 0),
        "height": _u1(ifd, _T_LENGTH, e, 0),
        "samples": _u1(ifd, _T_SAMPLES, e, 1),
        "bits": bits[0],
        "compression": _u1(ifd, _T_COMPRESSION, e, 1),
        "photometric": _u1(ifd, _T_PHOTOMETRIC, e, 1),
    }


# ------------------------------------------------------------- compressions
def _packbits_decode(raw: bytes, expect: int) -> bytes:
    """Apple PackBits: n in [0,127] → n+1 literals; n in [-127,-1] → repeat
    next byte 1-n times; -128 no-op. Per-run loop, one final join."""
    parts: list[bytes] = []
    pos, total, n_out = 0, len(raw), 0
    while pos < total and n_out < expect:
        n = raw[pos]
        pos += 1
        if n < 128:  # literal run
            parts.append(raw[pos : pos + n + 1])
            pos += n + 1
            n_out += n + 1
        elif n > 128:
            if pos >= total:
                break
            parts.append(raw[pos : pos + 1] * (257 - n))
            pos += 1
            n_out += 257 - n
        # n == 128: no-op
    out = b"".join(parts)
    if len(out) < expect:
        raise ValueError(f"PackBits strip ended early: {len(out)}/{expect}")
    return out[:expect]


def _packbits_encode(row: bytes) -> bytes:
    """Greedy PackBits: repeat runs ≥3 become replicate runs; literals
    accumulate otherwise (the canonical Apple algorithm)."""
    out = bytearray()
    i, n = 0, len(row)
    lit_start = 0

    def flush_literals(end: int):
        j = lit_start
        while j < end:
            k = min(end - j, 128)
            out.append(k - 1)
            out.extend(row[j : j + k])
            j += k

    while i < n:
        run = 1
        while i + run < n and row[i + run] == row[i] and run < 128:
            run += 1
        if run >= 3:
            flush_literals(i)
            out.append(257 - run)
            out.append(row[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_literals(n)
    return bytes(out)


def _lzw_decode_tiff(raw: bytes, expect: int) -> bytes:
    """TIFF-flavor LZW (spec §13): MSB-first bit packing, codes 256=Clear /
    257=EOI, and the "early change" — code width bumps when the table
    reaches 2^w - 1, one entry before the GIF flavor does."""
    CLEAR, EOI = 256, 257
    parts: list[bytes] = []
    n_out = 0
    acc = bits = 0
    pos, total = 0, len(raw)

    def fresh() -> tuple[list[bytes], int]:
        return [bytes([i]) for i in range(256)] + [b"", b""], 9

    table, width = fresh()
    prev: bytes | None = None
    while n_out < expect:
        while bits < width:
            if pos >= total:
                break
            acc = (acc << 8) | raw[pos]
            pos += 1
            bits += 8
        if bits < width:
            break
        code = (acc >> (bits - width)) & ((1 << width) - 1)
        bits -= width
        # drop consumed high bits: without this the accumulator grows into
        # a strip-sized bignum and every shift turns O(len) — quadratic
        acc &= (1 << bits) - 1
        if code == CLEAR:
            table, width = fresh()
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"corrupt TIFF-LZW stream: code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt TIFF-LZW stream: code {code}")
        parts.append(entry)
        n_out += len(entry)
        prev = entry
        # early change, shifted one entry for the decoder's one-add lag
        # behind the encoder: encoder bumps when ITS next index hits
        # 2^w - 1; the decoder has done one fewer add at that point
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
    out = b"".join(parts)
    if len(out) < expect:
        raise ValueError(f"LZW strip ended early: {len(out)}/{expect}")
    return out[:expect]


def _lzw_encode_tiff(data: bytes) -> bytes:
    """TIFF-flavor LZW writer (early change, MSB-first), dict capped at 4094
    then Clear — mirrors the decoder exactly."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = bits = 0

    def put(code: int, width: int):
        nonlocal acc, bits
        acc = (acc << width) | code
        bits += width
        while bits >= 8:
            out.append((acc >> (bits - 8)) & 0xFF)
            bits -= 8

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, nxt, width = fresh()
    put(CLEAR, width)
    w = b""
    for i in range(len(data)):
        c = data[i : i + 1]
        if w + c in table:
            w += c
            continue
        put(table[w], width)
        table[w + c] = nxt
        nxt += 1
        if nxt == (1 << width) - 1 and width < 12:  # early change
            width += 1
        elif nxt > 4093:
            put(CLEAR, width)
            table, nxt, width = fresh()
        w = c
    if w:
        put(table[w], width)
    put(EOI, width)
    if bits:
        out.append((acc << (8 - bits)) & 0xFF)
    return bytes(out)


# ------------------------------------------------------------------ decode
def _colormap_lookup(ifd: dict, e: str, idx: np.ndarray) -> np.ndarray:
    """ColorMap (3 planes of 16-bit values) → RGB; indices past the stored
    map are rejected as ValueError, not an uncontrolled IndexError."""
    cm = _uints(ifd.get(_T_COLORMAP), e)
    n = len(cm) // 3
    if n == 0:
        raise ValueError("palette TIFF without usable ColorMap")
    if int(idx.max(initial=0)) >= n:
        raise ValueError(f"TIFF palette index {int(idx.max())} >= map size {n}")
    pal = (np.array(cm, dtype=np.uint32).reshape(3, n).T // 257).astype(np.uint8)
    return pal[idx]


def decode_tiff_np(data: bytes) -> np.ndarray:
    """Decode IFD0 → (h, w, 3) uint8 RGB (or (h, w, 4) RGBA when a 4th
    8-bit sample is present)."""
    ifd, e = _open_ifd0(data)
    w = _u1(ifd, _T_WIDTH, e, 0)
    h = _u1(ifd, _T_LENGTH, e, 0)
    if not w or not h:
        raise ValueError("TIFF missing dimensions")
    samples = _u1(ifd, _T_SAMPLES, e, 1)
    bits = _uints(ifd.get(_T_BITS), e) or [1]
    comp = _u1(ifd, _T_COMPRESSION, e, 1)
    photo = _u1(ifd, _T_PHOTOMETRIC, e, 1)
    planar = _u1(ifd, _T_PLANAR, e, 1)
    predictor = _u1(ifd, _T_PREDICTOR, e, 1)
    rows_per = _u1(ifd, _T_ROWS_PER_STRIP, e, h) or h
    offsets = _uints(ifd.get(_T_STRIP_OFFSETS), e)
    counts = _uints(ifd.get(_T_STRIP_COUNTS), e)
    if planar != 1:
        raise NotImplementedError("TIFF PlanarConfiguration=2 not supported")
    if len(set(bits)) != 1:
        raise NotImplementedError(f"mixed bits-per-sample {bits}")
    depth = bits[0]
    if samples > 1 and depth != 8:
        raise NotImplementedError(f"{depth}-bit multi-sample TIFF")
    if depth not in (1, 4, 8):
        raise NotImplementedError(f"{depth}-bit TIFF not supported")
    if not offsets:
        raise ValueError("TIFF missing StripOffsets")
    if not counts:  # allowed only for the single-strip uncompressed case
        if comp != 1 or len(offsets) > 1:
            raise ValueError("TIFF missing StripByteCounts")
        counts = [len(data) - offsets[0]]

    row_bytes = (w * samples * depth + 7) // 8
    chunks: list[bytes] = []
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        nrows = min(rows_per, h - i * rows_per)
        if nrows <= 0:
            break
        expect = row_bytes * nrows
        raw = data[off : off + cnt]
        if comp == 1:
            if len(raw) < expect:
                raise ValueError("truncated TIFF strip")
            chunks.append(raw[:expect])
        elif comp == 32773:
            chunks.append(_packbits_decode(raw, expect))
        elif comp == 5:
            chunks.append(_lzw_decode_tiff(raw, expect))
        else:
            raise NotImplementedError(
                f"TIFF compression {comp} not supported (none/PackBits/LZW)"
            )
    flat = np.frombuffer(b"".join(chunks), dtype=np.uint8)
    if flat.size < row_bytes * h:
        raise ValueError("TIFF strips cover fewer rows than ImageLength")
    rows = flat[: row_bytes * h].reshape(h, row_bytes)

    if depth < 8:
        if predictor != 1:
            raise NotImplementedError(
                f"TIFF predictor {predictor} on {depth}-bit samples"
            )
        bits_arr = np.unpackbits(rows, axis=1)
        if depth == 1:
            idx = bits_arr[:, :w].astype(np.uint8)
            full = 255
        else:  # 4-bit
            nib = bits_arr.reshape(h, -1, 4)
            vals = (nib * np.array([8, 4, 2, 1], dtype=np.uint8)).sum(axis=2)
            idx = vals[:, :w].astype(np.uint8)
            full = 17  # 0..15 → 0..255
        if photo == 3:  # palette-color is legal at 1/4-bit too
            return _colormap_lookup(ifd, e, idx)
        px = (idx * full).astype(np.uint8)
        if photo == 0:  # WhiteIsZero
            px = 255 - px
        return np.dstack([px, px, px])

    px = rows[:, : w * samples].reshape(h, w, samples)
    if predictor == 2:
        px = np.cumsum(px.astype(np.uint32), axis=1).astype(np.uint8)
    elif predictor != 1:
        raise NotImplementedError(f"TIFF predictor {predictor}")
    if photo == 3:  # palette-color: ColorMap is 3 planes of 16-bit
        if samples != 1:
            raise ValueError("palette TIFF with multiple samples/pixel")
        return _colormap_lookup(ifd, e, px[:, :, 0])
    if samples == 1:
        g = 255 - px[:, :, 0] if photo == 0 else px[:, :, 0]
        return np.dstack([g, g, g])
    if samples in (3, 4):
        return px.copy()
    raise NotImplementedError(f"TIFF with {samples} samples/pixel")


# ------------------------------------------------------------------ encode
def encode_tiff_np(
    pixels: np.ndarray,
    compression: int = 1,
    byte_order: str = "II",
    rows_per_strip: int = 0,
    predictor: int = 1,
) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 → baseline TIFF. ``compression``:
    1 none / 32773 PackBits / 5 LZW; strips of ``rows_per_strip`` (default:
    whole image); optional horizontal-differencing predictor for LZW."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("encode expects (h, w) gray or (h, w, 3) RGB")
    h, w = px.shape[:2]
    samples = 1 if gray else 3
    body = px if gray else px.reshape(h, w * 3)
    if predictor == 2:
        d = px.astype(np.int16)
        d[:, 1:] = d[:, 1:] - d[:, :-1]
        body = (d % 256).astype(np.uint8)
        body = body if gray else body.reshape(h, w * 3)
    elif predictor != 1:
        raise ValueError(f"predictor {predictor}")
    rows_per = rows_per_strip or h
    strips: list[bytes] = []
    for y0 in range(0, h, rows_per):
        chunk = body[y0 : y0 + rows_per].tobytes()
        if compression == 1:
            strips.append(chunk)
        elif compression == 32773:
            strips.append(_packbits_encode(chunk))
        elif compression == 5:
            strips.append(_lzw_encode_tiff(chunk))
        else:
            raise ValueError(f"compression {compression}")

    e = "<" if byte_order == "II" else ">"
    entries: list[tuple[int, int, list[int]]] = []  # (tag, type, values)

    def add(tag: int, typ: int, vals: list[int]):
        entries.append((tag, typ, vals))

    n_strips = len(strips)
    add(_T_WIDTH, 4, [w])
    add(_T_LENGTH, 4, [h])
    add(_T_BITS, 3, [8] * samples)
    add(_T_COMPRESSION, 3, [compression])
    add(_T_PHOTOMETRIC, 3, [1 if gray else 2])
    add(_T_STRIP_OFFSETS, 4, [0] * n_strips)  # patched below
    add(_T_SAMPLES, 3, [samples])
    add(_T_ROWS_PER_STRIP, 4, [rows_per])
    add(_T_STRIP_COUNTS, 4, [len(s) for s in strips])
    if predictor == 2:
        add(_T_PREDICTOR, 3, [predictor])
    entries.sort()

    sizes = {3: 2, 4: 4}
    ifd_off = 8
    ifd_len = 2 + 12 * len(entries) + 4
    extra_off = ifd_off + ifd_len
    extra = bytearray()
    # lay out out-of-line value areas first, then strip data
    value_pos: dict[int, int] = {}
    for tag, typ, vals in entries:
        size = sizes[typ] * len(vals)
        if size > 4:
            value_pos[tag] = extra_off + len(extra)
            extra += b"\0" * size
    data_start = extra_off + len(extra)
    strip_offsets = []
    pos = data_start
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)

    def render_vals(typ: int, vals: list[int]) -> bytes:
        fmt = "H" if typ == 3 else "I"
        return struct.pack(e + fmt * len(vals), *vals)

    ifd = bytearray(struct.pack(e + "H", len(entries)))
    for tag, typ, vals in entries:
        if tag == _T_STRIP_OFFSETS:
            vals = strip_offsets
        raw = render_vals(typ, vals)
        if len(raw) <= 4:
            ifd += struct.pack(e + "HHI", tag, typ, len(vals)) + raw.ljust(4, b"\0")
        else:
            voff = value_pos[tag]
            extra[voff - extra_off : voff - extra_off + len(raw)] = raw
            ifd += struct.pack(e + "HHII", tag, typ, len(vals), voff)
    ifd += struct.pack(e + "I", 0)  # no next IFD
    header = struct.pack(e + "2sHI", byte_order.encode(), 42, ifd_off)
    return header + bytes(ifd) + bytes(extra) + b"".join(strips)
