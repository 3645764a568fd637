"""Baseline-sequential AND progressive JPEG (JFIF) codec — pure stdlib + numpy.

The container ships no image library, and the reference ingests whatever
bytes the CDC dump contains (reference: datastream/DatastreamIO.scala:90-95),
so the engine decodes real-world JPEGs itself: marker walk (SOI/APPn/DQT/
SOF0/SOF2/DHT/DRI/SOS/EOI), canonical Huffman decode of the entropy stream
(byte-unstuffing + restart markers), dequantization, inverse zigzag, a
vectorized 8x8 IDCT (all blocks of a component at once), chroma upsampling
for any sampling factors (4:4:4, 4:2:2, 4:2:0, ...), and BT.601 YCbCr→RGB.

Progressive (SOF2, how most web JPEGs are saved) implements the full T.81
Annex G.1.2 successive-approximation decoder: multi-scan coefficient
accumulation, interleaved DC scans (first + refinement), non-interleaved
spectral-selection AC scans with EOB-run coding, AC refinement with
correction bits (including the ZRL-with-history and attach-to-EOBRUN
paths), per-scan restart intervals, and point transforms (Ah/Al).

Scope (honest gates, like the PNG decoder's): sequential + progressive DCT,
8-bit precision, 1 or 3 components. Arithmetic coding, 12-bit, lossless and
hierarchical modes raise NotImplementedError.

Performance posture: the per-symbol Huffman loop is Python (inherently
bit-serial), everything after coefficient extraction is vectorized numpy —
one batched (n_blocks, 8, 8) IDCT per component. This is the correctness
path for real bytes; the bulk synthetic bench path stays on the zlib
stand-in codec. At 100 TB the decode runs inside Arrow-batched mapInPandas
on executors — the engine never ships pixels through the driver.
"""

from __future__ import annotations

import os
import struct

import numpy as np

__all__ = ["decode_jpeg_np", "encode_jpeg_np", "jpeg_dims", "JPEG_SOI"]

JPEG_SOI = b"\xff\xd8"

# zigzag index: ZIGZAG[k] = natural (row-major) position of the k-th
# zigzag-ordered coefficient
ZIGZAG = np.array(
    [
        0,  1,  8, 16,  9,  2,  3, 10,
        17, 24, 32, 25, 18, 11,  4,  5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13,  6,  7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

_IDCT_BASIS = None


def _idct_basis() -> np.ndarray:
    """8x8 DCT-II basis C with C[k, n] = s(k) cos((2n+1)kπ/16); spatial
    block = C.T @ coeffs @ C."""
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        k = np.arange(8)[:, None]
        n = np.arange(8)[None, :]
        c = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8.0)
        c[0] /= np.sqrt(2.0)
        _IDCT_BASIS = c
    return _IDCT_BASIS


class _HuffTable:
    """Canonical JPEG Huffman table (from DHT BITS + HUFFVAL) decoded via a
    full 16-bit peek LUT: one table index replaces the per-bit tree walk
    (codes are ≤16 bits, so every 16-bit window maps to exactly one symbol
    and its length). Plain Python lists — scalar list indexing beats numpy
    scalars in this bit-serial loop."""

    _lut_cache: dict[tuple, tuple[list[int], list[int], list[int]]] = {}

    def __init__(self, bits: list[int], values: bytes) -> None:
        key = (tuple(bits), values)
        cached = self._lut_cache.get(key)
        if cached is None:
            lut_len = np.zeros(1 << 16, dtype=np.uint8)
            lut_val = np.zeros(1 << 16, dtype=np.uint8)
            code = 0
            k = 0
            for length in range(1, 17):
                for _ in range(bits[length - 1]):
                    base = code << (16 - length)
                    span = 1 << (16 - length)
                    lut_len[base : base + span] = length
                    lut_val[base : base + span] = values[k]
                    code += 1
                    k += 1
                code <<= 1
            # packed (length << 8 | value) twin: the baseline hot loop pays
            # ONE list index per coefficient instead of two
            packed = ((lut_len.astype(np.int32) << 8) | lut_val).tolist()
            cached = (lut_len.tolist(), lut_val.tolist(), packed)
            if len(self._lut_cache) < 64:  # bound worker memory
                self._lut_cache[key] = cached
        self.lut_len, self.lut_val, self.lut_packed = cached

    def decode(self, reader: "_BitReader") -> int:
        while reader.nbits < 16:
            reader._fill()
        idx = (reader.acc >> (reader.nbits - 16)) & 0xFFFF
        length = self.lut_len[idx]
        if length == 0:
            raise ValueError("corrupt JPEG: Huffman code over 16 bits")
        reader.nbits -= length
        reader.acc &= (1 << reader.nbits) - 1
        return self.lut_val[idx]


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; RSTn markers are consumed by ``sync_restart``."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                # restart marker reached by over-read (padding bits); feed
                # 1-bits per spec — sync_restart will realign
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
            else:
                # EOI or next segment: pad with 1-bits
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        bit = (self.acc >> self.nbits) & 1
        self.acc &= (1 << self.nbits) - 1
        return bit

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def sync_restart(self) -> None:
        """Byte-align and consume the RSTn marker."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while not (d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7):
            self.pos += 1
        self.pos += 2


def _extend(v: int, t: int) -> int:
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


class _CleanBitReader:
    """Drop-in for ``_BitReader`` over PRE-SPLIT, PRE-UNSTUFFED restart
    segments: refills load 8 bytes per ``int.from_bytes`` with zero
    per-byte 0xFF branches (each segment was unstuffed by one C-level
    ``bytes.replace`` and padded with 1-bits, reproducing the spec's
    feed-1s-past-the-segment behavior). ``term_pos`` is the original-stream
    offset of the scan's terminating marker, so no walk past the entropy
    data is needed afterwards. Same decode interface (`nbits`/`acc`/`_fill`),
    so ``_HuffTable.decode`` works unchanged."""

    __slots__ = ("segs", "term_pos", "si", "buf", "p", "acc", "nbits")

    def __init__(self, data: bytes, pos: int) -> None:
        self.segs: list[bytes] = []
        n = len(data)
        start = p = pos
        self.term_pos = n
        while True:
            q = data.find(b"\xff", p)
            if q < 0 or q + 1 >= n:
                self.segs.append(data[start : n if q < 0 else q])
                break
            nxt = data[q + 1]
            if nxt == 0x00:
                p = q + 2
                continue
            r = q  # skip fill-byte run preceding the marker code
            while r + 1 < n and data[r + 1] == 0xFF:
                r += 1
            if r + 1 >= n:
                self.segs.append(data[start:q])
                break
            nxt = data[r + 1]
            self.segs.append(data[start:q])
            if 0xD0 <= nxt <= 0xD7:
                start = p = r + 2
                continue
            self.term_pos = r  # offset of the terminating true marker
            break
        self.segs = [
            s.replace(b"\xff\x00", b"\xff") + b"\xff" * 64 for s in self.segs
        ]
        self.si = 0
        self.buf = self.segs[0]
        self.p = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        self.acc = (self.acc << 64) | int.from_bytes(
            self.buf[self.p : self.p + 8], "big"
        )
        self.nbits += 64
        self.p += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        bit = (self.acc >> self.nbits) & 1
        self.acc &= (1 << self.nbits) - 1
        return bit

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def sync_restart(self) -> None:
        self.si += 1
        self.buf = self.segs[self.si]
        self.p = 0
        self.acc = 0
        self.nbits = 0


def jpeg_dims(data: bytes) -> tuple[int, int, int]:
    """Header-only probe: walk markers to the first SOF and return
    (w, h, n_components) without touching entropy data — the cheap
    metadata path over billions of binaries."""
    if data[:2] != JPEG_SOI:
        raise ValueError("not a JPEG byte stream")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG header")
        # T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — the marker code is the first non-FF byte of the run
        while data[pos + 1] == 0xFF and pos + 4 <= len(data):
            pos += 1
        if pos + 4 > len(data):  # the fill-byte run ran off the stream
            raise ValueError("truncated JPEG header")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        (seg_len,) = struct.unpack_from(">H", data, pos)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 8 > len(data):
                raise ValueError("truncated JPEG SOF segment")
            h, w = struct.unpack_from(">HH", data, pos + 3)
            return int(w), int(h), data[pos + 7]
        pos += seg_len
    raise ValueError("JPEG has no SOF segment")


def _detect_accel():
    """Probe for an optional accelerated JPEG decoder (ImportError-gated,
    exactly like the ``google-cloud-storage``/``snappy`` optional deps).

    The from-scratch T.81 decoder below is the reference semantics and the
    only hard dependency; its per-MCU Huffman walk is the engine's 100-TB
    real-ingest bound (~0.5 MB/s/core even after the LUT rework). When the
    runtime image ships a native decoder (simplejpeg → libjpeg-turbo, PIL,
    or OpenCV), ``decode_jpeg_np`` routes through it and falls back to the
    pure path on ANY decode error, so capability never shrinks. Returns
    ``(callable | None, name)``; disable with ``DATASTREAM_JPEG_ACCEL=0``.
    Parity vs the pure decoder is pinned in tests/test_jpeg_accel.py
    (dims exact, PSNR ≥ 40 dB — native IDCT/upsampling may differ by LSBs).
    """
    if os.environ.get("DATASTREAM_JPEG_ACCEL", "1").lower() in ("0", "false", "no"):
        return None, "disabled"
    try:
        import simplejpeg  # type: ignore

        def _dec_sj(data: bytes) -> np.ndarray:
            _, _, nc = jpeg_dims(data)
            cs = "GRAY" if nc == 1 else "RGB"
            arr = simplejpeg.decode_jpeg(data, colorspace=cs)
            return arr if arr.ndim == 3 else arr[:, :, None]

        return _dec_sj, "simplejpeg"
    except ImportError:
        pass
    try:
        import io

        from PIL import Image  # type: ignore

        def _dec_pil(data: bytes) -> np.ndarray:
            with Image.open(io.BytesIO(data)) as im:
                if im.mode == "L":
                    return np.asarray(im, dtype=np.uint8)[:, :, None]
                return np.asarray(im.convert("RGB"), dtype=np.uint8)

        return _dec_pil, "PIL"
    except ImportError:
        pass
    try:
        import cv2  # type: ignore

        def _dec_cv(data: bytes) -> np.ndarray:
            arr = cv2.imdecode(np.frombuffer(data, np.uint8), cv2.IMREAD_UNCHANGED)
            if arr is None:
                raise ValueError("cv2 could not decode JPEG")
            if arr.ndim == 2:
                return arr[:, :, None]
            return np.ascontiguousarray(arr[:, :, 2::-1])  # BGR → RGB

        return _dec_cv, "cv2"
    except ImportError:
        pass
    return None, "pure"


_ACCEL_DECODER, _ACCEL_NAME = _detect_accel()


def decode_jpeg_np(data: bytes) -> np.ndarray:
    """Decode JFIF bytes → (h, w, c) uint8 with c ∈ {1, 3}.

    Routes through the optional accelerated decoder when one is importable
    (see ``_detect_accel``); any accel failure falls back to the from-scratch
    T.81 decoder, which defines the engine's semantics.
    """
    if data[:2] != JPEG_SOI:
        raise ValueError("not a JPEG byte stream")
    if _ACCEL_DECODER is not None:
        try:
            return _ACCEL_DECODER(data)
        except Exception:  # noqa: BLE001 — accel is best-effort by contract
            pass
    return _decode_jpeg_pure(data)


def _decode_jpeg_pure(data: bytes) -> np.ndarray:
    """From-scratch baseline + progressive decode (the reference semantics)."""
    if data[:2] != JPEG_SOI:
        raise ValueError("not a JPEG byte stream")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    restart_interval = 0
    pos = 2
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            raise ValueError(f"corrupt JPEG: expected marker at {pos}")
        # T.81 B.1.1.2 fill bytes: skip extra 0xFFs preceding the marker code
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 0xF
                if prec != 0:
                    raise NotImplementedError("16-bit quant tables not supported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8)
                qt[tid] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                huff[(cls, tid)] = _HuffTable(bits, seg[p + 17 : p + 17 + nv])
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, h, w, nc = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG not supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "progressive": marker == 0xC2}
            if frame["progressive"]:
                store = _alloc_store(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0x{marker:02x} (arithmetic/lossless/"
                "hierarchical) not supported — sequential + progressive only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = seg[0]
            scan_comps = []
            for i in range(ns):
                cid, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_comps.append((cid, tt >> 4, tt & 0xF))
            if not frame.get("progressive"):
                scan_tables = {cid: (td, ta) for cid, td, ta in scan_comps}
                return _decode_scan(
                    data, pos + seg_len, frame, scan_tables, qt, huff, restart_interval
                )
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            pos = _decode_progressive_scan(
                data,
                pos + seg_len,
                frame,
                scan_comps,
                huff,
                restart_interval,
                store,
                ss,
                se,
                ahal >> 4,
                ahal & 0xF,
            )
            continue
        pos += seg_len
    if frame is not None and frame.get("progressive"):
        return _reconstruct(frame, store, qt)
    raise ValueError("corrupt JPEG: no SOS segment")


def _geometry(frame) -> tuple[int, int, int, int]:
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcux, mcuy


def _alloc_store(frame) -> list[np.ndarray]:
    """Per-component zigzag coefficient store: (blocks_per_mcu * n_mcus, 64).
    Progressive scans accumulate into it across the whole frame."""
    _, _, mcux, mcuy = _geometry(frame)
    return [
        np.zeros((c["h"] * c["v"] * mcux * mcuy, 64), dtype=np.int32)
        for c in frame["comps"]
    ]


def _entropy_segments(data: bytes, pos: int):
    """Split the entropy-coded stream at RSTn markers (C-level ``find``, no
    per-byte Python loop), yielding each restart interval's raw bytes;
    stops at the first non-RST marker (EOI / next segment). T.81 B.1.1.2
    fill 0xFFs before a marker are excluded from the yielded segment."""
    n = len(data)
    start = p = pos
    while True:
        q = data.find(b"\xff", p)
        if q < 0 or q + 1 >= n:
            yield data[start : n if q < 0 else q]
            return
        nxt = data[q + 1]
        if nxt == 0x00:  # stuffed data byte
            p = q + 2
            continue
        r = q  # skip any fill-byte run preceding the marker code
        while r + 1 < n and data[r + 1] == 0xFF:
            r += 1
        if r + 1 >= n:
            yield data[start:q]
            return
        nxt = data[r + 1]
        yield data[start:q]
        if 0xD0 <= nxt <= 0xD7:  # RSTn: next interval follows
            start = p = r + 2
            continue
        return  # EOI or the next true segment


# magnitude-extension tables: extend(v, t) = v if v >= _EXT_HALF[t]
# else v - _EXT_SUB[t] (T.81 F.2.2.1), table-driven for the hot loop
_EXT_HALF = tuple([1] + [1 << (t - 1) for t in range(1, 16)])
_EXT_SUB = tuple([0] + [(1 << t) - 1 for t in range(1, 16)])


def _decode_scan(data, pos, frame, scan_tables, qt, huff, restart_interval):
    """Baseline sequential scan — the per-coefficient hot loop of real-JPEG
    ingest. Everything bit-serial is inlined over local ints: restart
    intervals are pre-split with C-level ``find`` and unstuffed with ONE
    ``bytes.replace`` each (no per-byte 0xFF branch), the accumulator
    refills 8 bytes per ``int.from_bytes``, Huffman decode + magnitude
    receive share a single ensure/mask, and decoded coefficients buffer
    into Python lists that bulk-scatter into the numpy store once per
    component (a numpy scalar store per coefficient costs more than the
    whole bit walk). ~2.6x over the per-MCU method-call loop it replaces;
    decode-identity vs the spec tests and the progressive==baseline fuzz
    pin exactness."""
    comps = frame["comps"]
    hmax, vmax, mcux, mcuy = _geometry(frame)
    n_mcus = mcux * mcuy
    store = _alloc_store(frame)
    plan = []
    for ci, c in enumerate(comps):
        dc = huff[(0, scan_tables[c["id"]][0])]
        ac = huff[(1, scan_tables[c["id"]][1])]
        plan.append((ci, dc.lut_packed, ac.lut_packed, c["h"] * c["v"]))
    idx_buf: list[list[int]] = [[] for _ in comps]
    val_buf: list[list[int]] = [[] for _ in comps]
    half, sub = _EXT_HALF, _EXT_SUB
    fb = int.from_bytes
    mcu = 0
    for raw_seg in _entropy_segments(data, pos):
        if mcu >= n_mcus:
            break
        # unstuff FF00 -> FF in C; pad with 1-bits so tail over-reads match
        # the spec's "feed 1-bits past the segment" behavior
        seg = raw_seg.replace(b"\xff\x00", b"\xff") + b"\xff" * 64
        acc = 0
        nbits = 0
        p = 0
        pred = [0] * len(comps)
        end_mcu = min(n_mcus, mcu + restart_interval) if restart_interval else n_mcus
        while mcu < end_mcu:
            for ci, dpk, apk, nb in plan:
                row_base = mcu * nb * 64
                iap = idx_buf[ci].append
                vap = val_buf[ci].append
                for b in range(nb):
                    base = row_base + b * 64
                    # ---- DC: huffman code (<=16b) + magnitude (<=15b)
                    if nbits < 31:
                        acc = (acc << 64) | fb(seg[p : p + 8], "big")
                        nbits += 64
                        p += 8
                    pk = dpk[(acc >> (nbits - 16)) & 0xFFFF]
                    if pk < 256:
                        raise ValueError("corrupt JPEG: Huffman code over 16 bits")
                    t = pk & 0xFF
                    nbits -= pk >> 8
                    if t:
                        nbits -= t
                        v = (acc >> nbits) & sub[t]
                        pred[ci] += v if v >= half[t] else v - sub[t]
                    acc &= (1 << nbits) - 1
                    iap(base)
                    vap(pred[ci])
                    # ---- AC run-length loop
                    k = 1
                    while k < 64:
                        if nbits < 31:
                            acc = (acc << 64) | fb(seg[p : p + 8], "big")
                            nbits += 64
                            p += 8
                        pk = apk[(acc >> (nbits - 16)) & 0xFFFF]
                        if pk < 256:
                            raise ValueError("corrupt JPEG: Huffman code over 16 bits")
                        rs = pk & 0xFF
                        nbits -= pk >> 8
                        s = rs & 0xF
                        if s == 0:
                            acc &= (1 << nbits) - 1
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("corrupt JPEG: AC index past 63")
                        nbits -= s
                        v = (acc >> nbits) & sub[s]
                        acc &= (1 << nbits) - 1
                        iap(base + k)
                        vap(v if v >= half[s] else v - sub[s])
                        k += 1
            mcu += 1
    if mcu < n_mcus:
        raise ValueError("corrupt JPEG: entropy data ended early")
    for ci in range(len(comps)):
        if idx_buf[ci]:
            store[ci].ravel()[np.asarray(idx_buf[ci], dtype=np.int64)] = val_buf[ci]
    return _reconstruct(frame, store, qt)


def _reconstruct(frame, store, qt):
    """Dequantize + inverse zigzag + batched IDCT per component, assemble
    planes, chroma-upsample, color-convert. Shared by baseline/progressive."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax, vmax, mcux, mcuy = _geometry(frame)
    planes = []
    basis = _idct_basis()
    for ci, c in enumerate(comps):
        nat = np.zeros_like(store[ci])
        nat[:, ZIGZAG] = store[ci]
        blocks = nat.reshape(-1, 8, 8).astype(np.float64) * qt[c["tq"]]
        # batched IDCT as two BLAS matmuls (C.T @ B @ C broadcast over the
        # block axis) — ~6x the interpreted einsum contraction
        spatial = basis.T @ blocks @ basis
        spatial = np.clip(np.round(spatial) + 128, 0, 255).astype(np.uint8)
        # assemble the component plane from per-MCU block grids
        bw, bh = c["h"], c["v"]
        grid = spatial.reshape(mcuy, mcux, bh, bw, 8, 8)
        plane = grid.transpose(0, 2, 4, 1, 3, 5).reshape(mcuy * bh * 8, mcux * bw * 8)
        # upsample to full resolution (sample replication), then crop
        plane = plane.repeat(vmax // c["v"], axis=0).repeat(hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return planes[0][:, :, None]
    # BT.601 as ONE BLAS matmul over (h*w, 3) centered YCbCr — the three
    # per-channel float expressions cost 3x the memory passes
    ycc = np.stack(planes, axis=2).astype(np.float64).reshape(-1, 3)
    ycc[:, 1:] -= 128.0
    m = np.array(
        [
            [1.0, 0.0, 1.402],
            [1.0, -0.344136, -0.714136],
            [1.0, 1.772, 0.0],
        ]
    )
    rgb = ycc @ m.T
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8).reshape(h, w, 3)


def _decode_progressive_scan(
    data, pos, frame, scan_comps, huff, restart_interval, store, ss, se, ah, al
):
    """One SOF2 scan per T.81 G.1.2: DC scans are (possibly) interleaved,
    AC scans cover exactly one component in its own block-raster order.
    Returns the byte offset of the next marker."""
    comps = frame["comps"]
    hmax, vmax, mcux, mcuy = _geometry(frame)
    cidx = {c["id"]: i for i, c in enumerate(comps)}
    reader = _CleanBitReader(data, pos)
    eobrun = 0

    if ss == 0 and len(scan_comps) > 1:  # ---- interleaved DC scan (MCU order)
        if se != 0:
            raise ValueError("corrupt JPEG: DC scan with Se != 0")
        members = [(cidx[cid], td) for cid, td, _ta in scan_comps]
        pred = [0] * len(comps)
        for m in range(mcux * mcuy):
            if restart_interval and m and m % restart_interval == 0:
                reader.sync_restart()
                pred = [0] * len(comps)
            for ci, td in members:
                c = comps[ci]
                for b in range(c["h"] * c["v"]):
                    row = store[ci][m * c["h"] * c["v"] + b]
                    if ah == 0:  # first DC scan: diff-coded, point transform Al
                        t = huff[(0, td)].decode(reader)
                        pred[ci] += _extend(reader.receive(t), t)
                        row[0] = pred[ci] << al
                    else:  # refinement: one bit per block
                        if reader.read_bit():
                            row[0] |= 1 << al
        return reader.term_pos

    # ---- non-interleaved scan: single component, block-raster order
    if len(scan_comps) != 1:
        raise ValueError("corrupt JPEG: interleaved AC progressive scan")
    cid, td, ta = scan_comps[0]
    ci = cidx[cid]
    c = comps[ci]
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("corrupt JPEG: DC scan with Se != 0")
    dc_pred = 0
    # blocks covering the component's sample region (NOT the MCU-padded grid)
    comp_w = -(-(frame["w"] * c["h"]) // hmax)
    comp_h = -(-(frame["h"] * c["v"]) // vmax)
    bw, bh = -(-comp_w // 8), -(-comp_h // 8)
    p1, m1 = 1 << al, -1 << al
    ch, cv = c["h"], c["v"]

    if is_dc:  # non-interleaved DC scan — one symbol/bit per block, not hot
        for bi in range(bw * bh):
            if restart_interval and bi and bi % restart_interval == 0:
                reader.sync_restart()
                dc_pred = 0
            by, bx = divmod(bi, bw)
            my, sy = divmod(by, cv)
            mx, sx = divmod(bx, ch)
            row = store[ci][(my * mcux + mx) * ch * cv + sy * ch + sx]
            if ah == 0:
                t = huff[(0, td)].decode(reader)
                dc_pred += _extend(reader.receive(t), t)
                row[0] = dc_pred << al
            elif reader.read_bit():
                row[0] |= 1 << al
        return reader.term_pos

    # ---- AC scans: the SA-ladder hot path. Same inlining discipline as the
    # baseline loop — local acc/nbits over the pre-split unstuffed segments,
    # packed-LUT decode, and (for first scans) bulk coefficient scatter. The
    # running acc mask moves to the refill (garbage above nbits is harmless:
    # every extract masks), saving one bigint AND per symbol/bit.
    apk = huff[(1, ta)].lut_packed
    half, sub = _EXT_HALF, _EXT_SUB
    fb = int.from_bytes
    segs = reader.segs
    si = 0
    buf = segs[0]
    acc = 0
    nbits = 0
    p = 0
    cstore = store[ci]
    idxs: list[int] = []
    vals: list[int] = []
    first = ah == 0
    for bi in range(bw * bh):
        if restart_interval and bi and bi % restart_interval == 0:
            si += 1
            if si >= len(segs):
                raise ValueError("corrupt JPEG: missing restart marker")
            buf = segs[si]
            acc = 0
            nbits = 0
            p = 0
            eobrun = 0
        by, bx = divmod(bi, bw)
        my, sy = divmod(by, cv)
        mx, sx = divmod(bx, ch)
        row_idx = (my * mcux + mx) * ch * cv + sy * ch + sx

        if first:  # ---- first AC scan for this band
            if eobrun:
                eobrun -= 1
                continue
            base = row_idx * 64
            k = ss
            while k <= se:
                if nbits < 31:
                    acc = ((acc & ((1 << nbits) - 1)) << 64) | fb(
                        buf[p : p + 8], "big"
                    )
                    nbits += 64
                    p += 8
                pk = apk[(acc >> (nbits - 16)) & 0xFFFF]
                if pk < 256:
                    raise ValueError("corrupt JPEG: Huffman code over 16 bits")
                rs = pk & 0xFF
                nbits -= pk >> 8
                s = rs & 0xF
                if s == 0:
                    r = rs >> 4
                    if r < 15:  # EOBn: run of 2^r + extension bits blocks
                        eobrun = (1 << r) - 1
                        if r:
                            nbits -= r
                            eobrun += (acc >> nbits) & sub[r]
                        break
                    k += 16  # ZRL
                    continue
                k += rs >> 4
                if k > se:
                    raise ValueError("corrupt JPEG: AC index past Se")
                nbits -= s
                v = (acc >> nbits) & sub[s]
                idxs.append(base + k)
                vals.append((v if v >= half[s] else v - sub[s]) << al)
                k += 1
            continue

        # ---- AC refinement (G.1.2.3): correction bits on history-nonzero
        # coefficients, newly-nonzero insertions of ±2^Al. The walk reads
        # nearly every band position, so it runs on a plain-list working
        # copy (numpy scalar getitem is ~5x a list index) written back once.
        row = cstore[row_idx]
        rl = row.tolist()
        k = ss
        if eobrun == 0:
            while k <= se:
                if nbits < 31:
                    acc = ((acc & ((1 << nbits) - 1)) << 64) | fb(
                        buf[p : p + 8], "big"
                    )
                    nbits += 64
                    p += 8
                pk = apk[(acc >> (nbits - 16)) & 0xFFFF]
                if pk < 256:
                    raise ValueError("corrupt JPEG: Huffman code over 16 bits")
                rs = pk & 0xFF
                nbits -= pk >> 8
                r, s = rs >> 4, rs & 0xF
                val = 0
                if s == 0:
                    if r < 15:
                        eobrun = 1 << r
                        if r:
                            nbits -= r
                            eobrun += (acc >> nbits) & sub[r]
                        break
                    # r == 15 → ZRL: skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError("corrupt JPEG: refinement size != 1")
                    if nbits == 0:
                        acc = fb(buf[p : p + 8], "big")
                        nbits = 64
                        p += 8
                    nbits -= 1
                    val = p1 if (acc >> nbits) & 1 else m1
                while k <= se:
                    v = rl[k]
                    if v != 0:
                        if nbits == 0:
                            acc = fb(buf[p : p + 8], "big")
                            nbits = 64
                            p += 8
                        nbits -= 1
                        if (acc >> nbits) & 1 and (v & p1) == 0:
                            rl[k] = v + (p1 if v >= 0 else m1)
                    else:
                        if r == 0:
                            if val:
                                rl[k] = val
                            k += 1
                            break
                        r -= 1
                    k += 1
        if eobrun > 0:
            # inside an EOB run: only correction bits for nonzero history
            while k <= se:
                v = rl[k]
                if v != 0:
                    if nbits == 0:
                        acc = fb(buf[p : p + 8], "big")
                        nbits = 64
                        p += 8
                    nbits -= 1
                    if (acc >> nbits) & 1 and (v & p1) == 0:
                        rl[k] = v + (p1 if v >= 0 else m1)
                k += 1
            eobrun -= 1
        row[ss : se + 1] = rl[ss : se + 1]
    if idxs:
        cstore.ravel()[np.asarray(idxs, dtype=np.int64)] = vals
    return reader.term_pos


# ------------------------------------------------------------------ encoder
# T.81 Annex K example quantization tables (public spec constants), the
# quality scaling used by every mainstream encoder, and simple fixed-length
# canonical Huffman tables (any spec-valid DHT is a legal JPEG; fixed-length
# codes trade a few percent of size for obviously-correct table handling).
_Q_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)
_Q_CHROMA = np.full((8, 8), 99, dtype=np.int32)
_Q_CHROMA[:4, :4] = [[17, 18, 24, 47], [18, 21, 26, 66], [24, 26, 56, 99], [47, 66, 99, 99]]

_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12           # 12 categories @ 4 bits
_ENC_DC_VALS = bytes(range(12))
_ENC_AC_BITS = [0] * 8 + [255, 1] + [0] * 6       # 256 run/size symbols @ 9-10 bits
_ENC_AC_VALS = bytes(range(256))


def _canonical_codes(bits: list[int], vals: bytes) -> dict[int, tuple[int, int]]:
    table: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


_ENC_DC_CODE = _canonical_codes(_ENC_DC_BITS, _ENC_DC_VALS)
_ENC_AC_CODE = _canonical_codes(_ENC_AC_BITS, _ENC_AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self._acc = 0
                self._n = 0

    def align(self) -> None:  # pad final byte with 1-bits (spec F.1.2.3)
        while self._n:
            self.put(1, 1)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def _encode_block(w: _BitWriter, zz: np.ndarray, pred: int) -> int:
    """Sequential-mode symbol emission for one block's zigzag coefficients
    (already quantized by the shared vectorized forward pass, so baseline
    and progressive encodings of the same pixels carry IDENTICAL
    coefficients — the tests pin decode equality on that)."""

    def put_sym(code_table, sym, extra, s):
        code, length = code_table[sym]
        w.put(code, length)
        if s:
            w.put(extra if extra >= 0 else extra + (1 << s) - 1, s)

    diff = int(zz[0]) - pred
    s = int(abs(diff)).bit_length()
    put_sym(_ENC_DC_CODE, s, diff, s)
    nz = np.nonzero(zz[1:])[0]
    last = int(nz[-1]) + 1 if nz.size else 0
    run = 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            put_sym(_ENC_AC_CODE, 0xF0, 0, 0)  # ZRL
            run -= 16
        s = int(abs(v)).bit_length()
        put_sym(_ENC_AC_CODE, (run << 4) | s, v, s)
        run = 0
    if last < 63:
        put_sym(_ENC_AC_CODE, 0x00, 0, 0)  # EOB
    return int(zz[0])


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


# ----------------------------------------------------- progressive encoder
def _quantized_blocks(padded, samp, qs, mcux, mcuy) -> list[np.ndarray]:
    """Vectorized forward path: every 8x8 block of every component DCT'd,
    quantized, zigzagged in ONE einsum per component → (n_blocks, 64) int32
    in MCU order (MCU-major, then row-major sub-blocks)."""
    basis = _idct_basis()
    out = []
    for p, (sh, sv), q in zip(padded, samp, qs):
        grid = (
            p.reshape(mcuy, sv, 8, mcux, sh, 8)
            .transpose(0, 3, 1, 4, 2, 5)
            .reshape(-1, 8, 8)
        )
        coef = np.einsum("km,bmn,ln->bkl", basis, grid - 128.0, basis)
        zz = np.round(coef / q).astype(np.int32).reshape(-1, 64)[:, ZIGZAG]
        out.append(zz)
    return out


class _ACScanState:
    """EOB-run + buffered-correction-bit state shared across the blocks of
    one progressive AC scan (T.81 G.1.2.2-3 encode side). Two classes of
    pending bits, exactly as the spec's decoder consumes them: bits PROMOTED
    at block end (``be``-counted prefix) ride the EOBn symbol; the current
    block's bits ride its own next ZRL / newly-nonzero symbol."""

    def __init__(self, writer: _BitWriter) -> None:
        self.w = writer
        self.eobrun = 0
        self.bits: list[int] = []
        self.be = 0  # prefix of `bits` attached to the pending EOB run

    def flush_bits(self) -> None:
        for b in self.bits:
            self.w.put(b, 1)
        self.bits = []
        self.be = 0

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            code, length = _ENC_AC_CODE[r << 4]
            self.w.put(code, length)
            if r:
                self.w.put(self.eobrun - (1 << r), r)
            self.eobrun = 0
            # only the promoted (block-terminating) correction bits ride the
            # EOBn; the current block's bits wait for its own symbol
            for b in self.bits[: self.be]:
                self.w.put(b, 1)
            self.bits = self.bits[self.be :]
            self.be = 0

    def bump_eobrun(self) -> None:
        self.eobrun += 1
        self.be = len(self.bits)  # promote this block's pending bits
        if self.eobrun == 0x7FFF:  # EOBn caps at r=14
            self.flush_eobrun()


def _enc_ac_first(state: _ACScanState, band: np.ndarray, al: int) -> None:
    """First AC scan of a band: point transform |v| >> al (toward zero),
    run/size symbols with shared EOB runs."""
    shifted = np.sign(band) * (np.abs(band) >> al)
    nz = np.nonzero(shifted)[0]
    if nz.size == 0:
        state.bump_eobrun()
        return
    state.flush_eobrun()
    w = state.w
    run = 0
    last = int(nz[-1])
    for k in range(last + 1):
        v = int(shifted[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = _ENC_AC_CODE[0xF0]
            w.put(code, length)
            run -= 16
        s = abs(v).bit_length()
        code, length = _ENC_AC_CODE[(run << 4) | s]
        w.put(code, length)
        w.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < len(band) - 1:
        state.bump_eobrun()


def _enc_ac_refine(state: _ACScanState, band: np.ndarray, al: int) -> None:
    """AC refinement (T.81 G.1.2.3 encode side): newly-nonzero coefficients
    as (run,1)+sign, history coefficients as buffered correction bits riding
    the next emitted symbol (ZRL / newly-nonzero / EOBn). The ZRL check runs
    at EVERY nonzero position — corrections included — so the zero-run is
    paid down before a correction bit is buffered past it."""
    w = state.w
    absv = np.abs(band) >> al
    newly = np.nonzero(absv == 1)[0]
    eob = int(newly[-1]) if newly.size else -1  # last newly-nonzero index
    run = 0
    for k in range(len(band)):
        t = int(absv[k])
        if t == 0:
            run += 1
            continue
        while run > 15 and k <= eob:
            state.flush_eobrun()
            code, length = _ENC_AC_CODE[0xF0]
            w.put(code, length)
            run -= 16
            state.flush_bits()
        if t > 1:  # history-nonzero: one correction bit
            state.bits.append(t & 1)
            continue
        # newly nonzero (magnitude exactly 1 at this approximation level)
        state.flush_eobrun()
        code, length = _ENC_AC_CODE[(run << 4) | 1]
        w.put(code, length)
        w.put(1 if band[k] > 0 else 0, 1)
        state.flush_bits()
        run = 0
    if run > 0 or state.bits:
        state.bump_eobrun()


def _encode_progressive_scans(
    coefs: list[np.ndarray],
    samp,
    mcux,
    mcuy,
    nc: int,
    successive: bool,
    dims: list[tuple[int, int]],
) -> bytes:
    """Emit the scan sequence: interleaved DC first (+ refinement when
    ``successive``), then per-component spectral-band AC scans (+ mirrored
    refinements). Returns the concatenated SOS segments + entropy data."""
    al = 1 if successive else 0
    out = bytearray()

    def sos(members: list[int], ss: int, se: int, ah: int, a: int) -> bytes:
        seg = bytes([len(members)])
        for ci in members:
            tid = 0 if nc == 1 or ci == 0 else 1
            seg += bytes([ci + 1, (tid << 4) | tid])
        return _seg(0xDA, seg + bytes([ss, se, (ah << 4) | a]))

    # ---- DC first scan (interleaved, diff-coded in the shifted domain)
    out += sos(list(range(nc)), 0, 0, 0, al)
    w = _BitWriter()
    preds = [0] * nc
    for m in range(mcux * mcuy):
        for ci in range(nc):
            sh, sv = samp[ci]
            for b in range(sh * sv):
                dc = int(coefs[ci][m * sh * sv + b, 0]) >> al
                diff = dc - preds[ci]
                preds[ci] = dc
                s = abs(diff).bit_length()
                code, length = _ENC_DC_CODE[s]
                w.put(code, length)
                if s:
                    w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    w.align()
    out += w.out

    # ---- AC first scans: per component, luma split into two bands
    bands = {ci: ([(1, 5), (6, 63)] if ci == 0 else [(1, 63)]) for ci in range(nc)}
    for ci in range(nc):
        for ss, se in bands[ci]:
            out += sos([ci], ss, se, 0, al)
            w = _BitWriter()
            state = _ACScanState(w)
            for row in _comp_raster(coefs[ci], samp[ci], mcux, mcuy, dims[ci]):
                _enc_ac_first(state, row[ss : se + 1], al)
            state.flush_eobrun()
            w.align()
            out += w.out

    if not successive:
        return bytes(out)

    # ---- DC refinement (one raw bit per block)
    out += sos(list(range(nc)), 0, 0, 1, 0)
    w = _BitWriter()
    for m in range(mcux * mcuy):
        for ci in range(nc):
            sh, sv = samp[ci]
            for b in range(sh * sv):
                w.put(int(coefs[ci][m * sh * sv + b, 0]) & 1, 1)
    w.align()
    out += w.out

    # ---- AC refinement scans (mirror the first-scan bands)
    for ci in range(nc):
        for ss, se in bands[ci]:
            out += sos([ci], ss, se, 1, 0)
            w = _BitWriter()
            state = _ACScanState(w)
            for row in _comp_raster(coefs[ci], samp[ci], mcux, mcuy, dims[ci]):
                _enc_ac_refine(state, row[ss : se + 1], 0)
            state.flush_eobrun()
            w.align()
            out += w.out
    return bytes(out)


def _comp_raster(
    coef: np.ndarray,
    samp: tuple[int, int],
    mcux: int,
    mcuy: int,
    dims: tuple[int, int],
):
    """Yield a component's blocks in its own raster order — ONLY the blocks
    covering the component's sample region (``dims`` = (bw, bh)), which is
    what non-interleaved progressive scans cover per T.81 A.2.2 (MCU padding
    blocks get DC only) — from the MCU-ordered store."""
    sh, sv = samp
    bw, bh = dims
    for by in range(bh):
        my, sy = divmod(by, sv)
        for bx in range(bw):
            mx, sx = divmod(bx, sh)
            yield coef[(my * mcux + mx) * sh * sv + sy * sh + sx]


def encode_jpeg_np(
    pixels: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
    successive: bool = True,
) -> bytes:
    """Encode (h, w, c) uint8 with c ∈ {1, 3} as standards-compliant JFIF.
    ``subsample=True`` emits 4:2:0 (chroma = 2x2 block means).
    ``progressive=True`` emits SOF2 with spectral-selection scans (luma AC
    split 1-5/6-63) and, when ``successive`` (default), a full successive-
    approximation ladder (Al=1 first scans + DC/AC refinement scans) —
    ``successive=False`` emits Al=0 scans only, which must decode EXACTLY
    like the baseline encoding of the same pixels (the cross-check the
    tests pin). ``restart_interval`` applies to the baseline path."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] not in (1, 3):
        raise ValueError("encode_jpeg_np expects (h, w, 1|3) uint8")
    h, w, nc = pixels.shape
    ql = _scaled_quant(_Q_LUMA, quality)
    qc = _scaled_quant(_Q_CHROMA, quality)
    if nc == 1:
        planes = [pixels[:, :, 0].astype(np.float64)]
        samp = [(1, 1)]
        qids = [0]
    else:
        r, g, b = (pixels[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            def half(p: np.ndarray) -> np.ndarray:
                p = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
                return (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4

            planes = [y, half(cb), half(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qids = [0, 1, 1]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    padded = [
        np.pad(
            np.clip(np.round(p), 0, 255),
            ((0, mcuy * s[1] * 8 - p.shape[0]), (0, mcux * s[0] * 8 - p.shape[1])),
            mode="edge",
        )
        for p, s in zip(planes, samp)
    ]

    out = bytearray(JPEG_SOI)
    out += _seg(0xDB, bytes([0]) + bytes(ql.reshape(-1)[ZIGZAG].astype(np.uint8)))
    if nc == 3:
        out += _seg(0xDB, bytes([1]) + bytes(qc.reshape(-1)[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i, s in enumerate(samp):
        sof += bytes([i + 1, (s[0] << 4) | s[1], qids[i]])
    out += _seg(0xC2 if progressive else 0xC0, sof)
    for cls in (0, 1):
        for tid in (0,) if nc == 1 else (0, 1):
            bits, vals = (
                (_ENC_DC_BITS, _ENC_DC_VALS) if cls == 0 else (_ENC_AC_BITS, _ENC_AC_VALS)
            )
            out += _seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + vals)
    if progressive:
        qs = [ql if qid == 0 else qc for qid in qids]
        coefs = _quantized_blocks(padded, samp, qs, mcux, mcuy)
        # per-component block coverage: ceil(ceil(dim * sampling / max) / 8)
        dims = []
        for s in samp:
            comp_w = -(-(w * s[0]) // hmax)
            comp_h = -(-(h * s[1]) // vmax)
            dims.append((-(-comp_w // 8), -(-comp_h // 8)))
        out += _encode_progressive_scans(coefs, samp, mcux, mcuy, nc, successive, dims)
        out += b"\xff\xd9"
        return bytes(out)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for i in range(nc):
        tid = 0 if (nc == 1 or i == 0) else 1
        sos += bytes([i + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    writer = _BitWriter()
    preds = [0] * nc
    qs = [ql if qid == 0 else qc for qid in qids]
    coefs = _quantized_blocks(padded, samp, qs, mcux, mcuy)
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            writer.align()
            out += writer.out
            writer = _BitWriter()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            preds = [0] * nc
        for ci, s in enumerate(samp):
            for b in range(s[0] * s[1]):
                preds[ci] = _encode_block(
                    writer, coefs[ci][m * s[0] * s[1] + b], preds[ci]
                )
    writer.align()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)
