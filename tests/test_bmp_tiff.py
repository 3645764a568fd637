"""Real BMP + TIFF codecs: pure-numpy exactness (round-trips, hand-assembled
spec bytes independent of the engine encoders, honest gates) and the shared
image-dispatch paths that consume them (decode_image_np, dims probe)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from datastream_deltalake_connector_spark.functions.bmp import (
    bmp_info,
    decode_bmp_np,
    encode_bmp_np,
)
from datastream_deltalake_connector_spark.functions.image import decode_image_np
from datastream_deltalake_connector_spark.functions.tiff import (
    decode_tiff_np,
    encode_tiff_np,
    tiff_info,
)

RNG = np.random.default_rng(11)


# ----------------------------------------------------------------- BMP pure
def test_bmp_roundtrip_24bit_and_palettized():
    px = RNG.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    data = encode_bmp_np(px)
    assert bmp_info(data) == {"width": 17, "height": 13, "bpp": 24, "compression": 0}
    assert np.array_equal(decode_bmp_np(data), px)
    gray = RNG.integers(0, 256, size=(9, 21), dtype=np.uint8)
    d8 = encode_bmp_np(gray, palettized=True)
    assert np.array_equal(decode_bmp_np(d8), np.dstack([gray] * 3))
    # odd widths exercise the 4-byte row padding on both paths
    for w in (1, 2, 3, 5):
        p = RNG.integers(0, 256, size=(4, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp_np(encode_bmp_np(p)), p)


def _bmp(info_fields: tuple, body: bytes, palette: bytes = b"") -> bytes:
    info = struct.pack("<IiihHIIiiII", *info_fields)
    off = 14 + 40 + len(palette)
    return (
        struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
        + info
        + palette
        + body
    )


def test_bmp_hand_assembled_32bit_topdown_and_16bit():
    """Spec bytes built by hand, no engine encoder involved."""
    h, w = 5, 6
    px4 = RNG.integers(0, 256, size=(h, w, 4), dtype=np.uint8)
    body = px4[:, :, [2, 1, 0, 3]].reshape(h, w * 4).tobytes()  # BGRA rows
    out = decode_bmp_np(_bmp((40, w, -h, 1, 32, 0, len(body), 0, 0, 0, 0), body))
    assert out.shape == (h, w, 4) and np.array_equal(out, px4)
    # all-zero alpha means an X channel → decoder returns RGB
    px4[:, :, 3] = 0
    body = px4[:, :, [2, 1, 0, 3]].reshape(h, w * 4).tobytes()
    out = decode_bmp_np(_bmp((40, w, -h, 1, 32, 0, len(body), 0, 0, 0, 0), body))
    assert out.shape == (h, w, 3) and np.array_equal(out, px4[:, :, :3])
    # 16-bit default 5-5-5 masks: pure channels decode to pure 8-bit
    v = np.array([[0x7C00, 0x03E0, 0x001F, 0x7FFF]], dtype="<u2")
    out = decode_bmp_np(_bmp((40, 4, -1, 1, 16, 0, 8, 0, 0, 0, 0), v.tobytes()))
    assert [list(p) for p in out[0]] == [
        [255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 255]
    ]


def test_bmp_rle8_runs_absolute_delta_eol():
    # row: run 3×65, absolute [1,2,9] (+pad), EOL, EOD — bottom-up 2 rows
    raw = bytes([3, 65]) + bytes([0, 3, 1, 2, 9, 0]) + bytes([0, 0])
    raw += bytes([2, 7]) + bytes([0, 1])  # second row: run 2×7, EOD
    pal = np.zeros((256, 4), np.uint8)
    pal[:, 2] = np.arange(256)  # R in BGRA quad position 2
    d = _bmp((40, 6, 2, 1, 8, 1, len(raw), 0, 0, 256, 0), raw, pal.tobytes())
    out = decode_bmp_np(d)
    assert out.shape == (2, 6, 3)
    assert list(out[1, :, 0]) == [65, 65, 65, 1, 2, 9]  # bottom row first in file
    assert list(out[0, :, 0]) == [7, 7, 0, 0, 0, 0]
    # delta escape moves the cursor relative to its OLD column across rows
    raw2 = bytes([2, 5]) + bytes([0, 2, 2, 1]) + bytes([1, 9]) + bytes([0, 1])
    d2 = _bmp((40, 6, 2, 1, 8, 1, len(raw2), 0, 0, 256, 0), raw2, pal.tobytes())
    out2 = decode_bmp_np(d2)
    assert list(out2[1, :, 0]) == [5, 5, 0, 0, 0, 0]
    assert list(out2[0, :, 0]) == [0, 0, 0, 0, 9, 0]  # x = 2 (old) + 2 (dx)


def test_bmp_1bit_4bit_and_honest_gates():
    # 1-bit: palette [black, red], bits 10110000 → w=4 row
    pal = bytes([0, 0, 0, 0, 0, 0, 255, 0])  # BGRA: black, red
    row = bytes([0b10110000]) + b"\0\0\0"  # padded to 4
    d = _bmp((40, 4, -1, 1, 1, 0, len(row), 0, 0, 2, 0), row, pal)
    out = decode_bmp_np(d)
    assert [list(p) for p in out[0]] == [
        [255, 0, 0], [0, 0, 0], [255, 0, 0], [255, 0, 0]
    ]
    # 4-bit: two pixels per byte
    pal16 = bytes(bytearray(np.repeat(np.arange(16, dtype=np.uint8) * 17, 4)))
    row = bytes([0xAB, 0xC0, 0, 0])
    d = _bmp((40, 3, -1, 1, 4, 0, len(row), 0, 0, 16, 0), row, pal16)
    out = decode_bmp_np(d)
    assert list(out[0, :, 0]) == [0xA * 17, 0xB * 17, 0xC * 17]
    with pytest.raises(ValueError):
        decode_bmp_np(b"XX")
    with pytest.raises(NotImplementedError):  # RLE4 honestly gated
        decode_bmp_np(_bmp((40, 2, 1, 1, 4, 2, 4, 0, 0, 16, 0), b"\0\0\0\0", pal16))


# ---------------------------------------------------------------- TIFF pure
@pytest.mark.parametrize("byte_order", ["II", "MM"])
@pytest.mark.parametrize("compression", [1, 32773, 5])
def test_tiff_roundtrip_gray_rgb_strips(byte_order, compression):
    rgb = RNG.integers(0, 256, size=(23, 31, 3), dtype=np.uint8)
    gray = RNG.integers(0, 256, size=(17, 29), dtype=np.uint8)
    for rps in (0, 5):
        d = encode_tiff_np(rgb, compression=compression, byte_order=byte_order,
                           rows_per_strip=rps)
        assert np.array_equal(decode_tiff_np(d), rgb)
        d2 = encode_tiff_np(gray, compression=compression, byte_order=byte_order,
                            rows_per_strip=rps)
        assert np.array_equal(decode_tiff_np(d2), np.dstack([gray] * 3))


def test_tiff_lzw_width_bumps_clear_and_predictor():
    """A large image pushes LZW through 9→12-bit code widths and a dict
    Clear; the horizontal predictor must be undone exactly, and
    predictor+LZW must actually compress smooth content."""
    big = RNG.integers(0, 256, size=(200, 300, 3), dtype=np.uint8)
    assert np.array_equal(decode_tiff_np(encode_tiff_np(big, compression=5)), big)
    yy, xx = np.mgrid[0:250, 0:350]
    smooth = ((yy * 3 + xx * 2) % 256).astype(np.uint8)
    sm = np.dstack([smooth, smooth // 2, 255 - smooth])
    d = encode_tiff_np(sm, compression=5, predictor=2)
    assert np.array_equal(decode_tiff_np(d), sm)
    assert len(d) < len(encode_tiff_np(sm, compression=1)) / 10
    info = tiff_info(d)
    assert (info["width"], info["height"], info["compression"]) == (350, 250, 5)


def _tiff_hand(entries: list[tuple[int, int, list[int]]], tail: bytes,
               e: str = "<") -> bytes:
    """Minimal hand-rendered single-IFD TIFF (values must fit inline)."""
    bo = b"II" if e == "<" else b"MM"
    ifd = struct.pack(e + "H", len(entries))
    for tag, typ, vals in sorted(entries):
        fmt = "H" if typ == 3 else "I"
        raw = struct.pack(e + fmt * len(vals), *vals)
        assert len(raw) <= 4
        ifd += struct.pack(e + "HHI", tag, typ, len(vals)) + raw.ljust(4, b"\0")
    ifd += struct.pack(e + "I", 0)
    return struct.pack(e + "2sHI", bo, 42, 8) + ifd + tail


def test_tiff_hand_assembled_whitezero_and_palette():
    """Spec bytes independent of the engine encoder: 1-bit WhiteIsZero fax
    convention, and palette-color with a 16-bit ColorMap."""
    # 1-bit WhiteIsZero, w=4 h=1, bits 1011.... → black,white,black,black
    data_off = 8 + 2 + 12 * 7 + 4
    d = _tiff_hand(
        [
            (256, 3, [4]), (257, 3, [1]), (258, 3, [1]), (259, 3, [1]),
            (262, 3, [0]), (273, 4, [data_off]), (279, 4, [1]),
        ],
        bytes([0b10110000]),
    )
    out = decode_tiff_np(d)
    assert list(out[0, :, 0]) == [0, 255, 0, 0]
    # palette-color 8-bit: ColorMap out-of-line (3*256 SHORTs)
    n = 256
    cmap_off = 8 + 2 + 12 * 8 + 4
    data_off2 = cmap_off + 3 * n * 2
    cmap = np.zeros(3 * n, dtype="<u2")
    cmap[:n] = np.arange(n) * 257  # red ramp, green/blue zero
    ifd = struct.pack("<H", 8)
    entries = [
        (256, 3, [3]), (257, 3, [1]), (258, 3, [8]), (259, 3, [1]),
        (262, 3, [3]), (273, 4, [data_off2]), (279, 4, [3]),
    ]
    body = b""
    for tag, typ, vals in sorted(entries + [(320, 3, None)]):
        if tag == 320:
            body += struct.pack("<HHII", 320, 3, 3 * n, cmap_off)
            continue
        fmt = "H" if typ == 3 else "I"
        raw = struct.pack("<" + fmt * len(vals), *vals)
        body += struct.pack("<HHI", tag, typ, len(vals)) + raw.ljust(4, b"\0")
    d2 = (
        struct.pack("<2sHI", b"II", 42, 8)
        + ifd + body + struct.pack("<I", 0)
        + cmap.tobytes()
        + bytes([0, 128, 255])
    )
    out2 = decode_tiff_np(d2)
    assert [list(p) for p in out2[0]] == [[0, 0, 0], [128, 0, 0], [255, 0, 0]]


def test_tiff_honest_gates():
    rgb = RNG.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    good = encode_tiff_np(rgb)
    # unknown compression id → NotImplementedError, bad magic → ValueError
    bad = bytearray(good)
    # patch the compression entry's value (find tag 259 in the IFD)
    e_off = 10
    (n,) = struct.unpack_from("<H", bad, 8)
    for i in range(n):
        tag = struct.unpack_from("<H", bad, e_off + 12 * i)[0]
        if tag == 259:
            struct.pack_into("<H", bad, e_off + 12 * i + 8, 7)  # JPEG-in-TIFF
    with pytest.raises(NotImplementedError):
        decode_tiff_np(bytes(bad))
    with pytest.raises(ValueError):
        decode_tiff_np(b"IX\x2a\x00")


def test_tiff_4bit_palette_and_corrupt_lzw_first_code():
    # 4-bit palette-color: indices must go through the ColorMap, not the
    # grayscale x17 scaling
    n = 16
    cmap_off = 8 + 2 + 12 * 8 + 4
    data_off = cmap_off + 3 * n * 2
    cmap = np.zeros(3 * n, dtype="<u2")
    cmap[n : 2 * n] = np.arange(n) * 17 * 257  # green ramp
    body = b""
    entries = [
        (256, 3, [3]), (257, 3, [1]), (258, 3, [4]), (259, 3, [1]),
        (262, 3, [3]), (273, 4, [data_off]), (279, 4, [2]),
    ]
    for tag, typ, vals in sorted(entries + [(320, 3, None)]):
        if tag == 320:
            body += struct.pack("<HHII", 320, 3, 3 * n, cmap_off)
            continue
        fmt = "H" if typ == 3 else "I"
        raw = struct.pack("<" + fmt * len(vals), *vals)
        body += struct.pack("<HHI", tag, typ, len(vals)) + raw.ljust(4, b"\0")
    d = (
        struct.pack("<2sHI", b"II", 42, 8)
        + struct.pack("<H", 8) + body + struct.pack("<I", 0)
        + cmap.tobytes()
        + bytes([0x5A, 0xF0])  # pixels 5, 10, 15 (w=3, last nibble pad)
    )
    out = decode_tiff_np(d)
    assert [list(p) for p in out[0]] == [
        [0, 85, 0], [0, 170, 0], [0, 255, 0]
    ]
    # a corrupt LZW stream whose FIRST code is out of range must raise the
    # documented ValueError, not IndexError
    from datastream_deltalake_connector_spark.functions.tiff import (
        _lzw_decode_tiff,
    )

    bad = bytes([0x96, 0x40])  # 9-bit codes: 300, junk — no leading Clear
    with pytest.raises(ValueError):
        _lzw_decode_tiff(bad, 8)


def test_bmp_wide_bitfields_and_short_palette():
    # A2R10G10B10: 10-bit channels must keep their high bits, not wrap mod 256
    rm, gm, bm = 0x3FF00000, 0x000FFC00, 0x000003FF
    v = np.array([[512 << 20, 1023 << 10, 256]], dtype="<u4")
    masks = struct.pack("<III", rm, gm, bm)
    info = struct.pack("<IiihHIIiiII", 40, 3, -1, 1, 32, 3, 12, 0, 0, 0, 0)
    off = 14 + 40 + 12
    d = struct.pack("<2sIHHI", b"BM", off + 12, 0, 0, off) + info + masks + v.tobytes()
    out = decode_bmp_np(d)
    assert list(out[0, 0]) == [512 >> 2, 0, 0]  # mid-gray red, not 0
    assert list(out[0, 1]) == [0, 255, 0]
    assert list(out[0, 2]) == [0, 0, 64]
    # biClrUsed smaller than 2^bpp with an out-of-range pixel index → black,
    # not IndexError
    pal = bytes([10, 20, 30, 0] * 4)  # only 4 quads stored
    row = bytes([0, 3, 200, 0])  # index 200 beyond the stored palette
    info = struct.pack("<IiihHIIiiII", 40, 3, -1, 1, 8, 0, 4, 0, 0, 4, 0)
    off = 14 + 40 + len(pal)
    d = struct.pack("<2sIHHI", b"BM", off + 4, 0, 0, off) + info + pal + row
    out = decode_bmp_np(d)
    assert list(out[0, 2]) == [0, 0, 0]
    assert list(out[0, 0]) == [30, 20, 10]


def test_bmp_bitfields_truncated_header_is_value_error():
    # BI_BITFIELDS masks start at byte 54: a stream cut anywhere inside them
    # (or inside a V2+ header's alpha mask) is a ValueError, not struct.error
    masks = struct.pack("<III", 0xFF0000, 0xFF00, 0xFF)
    for hdr_size, tail in ((40, masks[:8]), (40, b""), (56, masks)):
        info = struct.pack("<IiihHIIiiII", hdr_size, 1, -1, 1, 32, 3, 4, 0, 0, 0, 0)
        d = struct.pack("<2sIHHI", b"BM", 54 + len(tail), 0, 0, 54) + info + tail
        with pytest.raises(ValueError, match="truncated BMP header"):
            decode_bmp_np(d)
        with pytest.raises(ValueError, match="truncated BMP header"):
            bmp_info(d)


def test_tiff_missing_strip_byte_counts():
    """Without StripByteCounts only a single uncompressed strip can be
    sized (it runs to end of file); anything else is a ValueError instead
    of feeding the whole file tail to a decoder."""
    data_off = 8 + 2 + 12 * 6 + 4  # six IFD entries
    base = [(256, 3, [4]), (257, 3, [2]), (258, 3, [8]), (262, 3, [1])]
    px = bytes(range(8))
    one = _tiff_hand(base + [(259, 3, [1]), (273, 4, [data_off])], px)
    assert decode_tiff_np(one)[..., 0].reshape(-1).tolist() == list(px)
    # a valid PackBits literal run of all 8 bytes, but its strip size is unknown
    packbits = _tiff_hand(
        base + [(259, 3, [32773]), (273, 4, [data_off])], bytes([7]) + px
    )
    with pytest.raises(ValueError, match="StripByteCounts"):
        decode_tiff_np(packbits)
    data_off += 12  # seven entries: RowsPerStrip added
    two_strips = _tiff_hand(
        base + [(259, 3, [1]), (273, 3, [data_off, data_off + 4]), (278, 3, [1])],
        px,
    )
    with pytest.raises(ValueError, match="StripByteCounts"):
        decode_tiff_np(two_strips)


# ------------------------------------------------------------ shared dispatch
def test_bmp_tiff_through_decode_image_dispatch():
    px = RNG.integers(0, 256, size=(12, 15, 3), dtype=np.uint8)
    assert np.array_equal(decode_image_np(encode_bmp_np(px)), px)
    assert np.array_equal(decode_image_np(encode_tiff_np(px, compression=5)), px)
    assert np.array_equal(
        decode_image_np(encode_tiff_np(px, byte_order="MM")), px
    )


def test_bmp_tiff_dims_probe(spark):
    import pandas as pd

    from datastream_deltalake_connector_spark.functions.image import (
        decode_dims_udf,
    )

    px = RNG.integers(0, 256, size=(7, 9, 3), dtype=np.uint8)
    rows = [
        (bytearray(encode_bmp_np(px)),),
        (bytearray(encode_tiff_np(px)),),
        (bytearray(encode_tiff_np(px, byte_order="MM", compression=32773)),),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["bytes"]))
    out = df.select(decode_dims_udf("bytes").alias("d")).select("d.*").collect()
    for r in out:
        assert (r.w, r.h, r.channels, r.lossy) == (9, 7, 3, 0)


def test_dims_probe_reports_bmp_colour_channels(spark):
    """A 32-bpp BMP whose alpha is really used decodes to RGBA, but the
    header-only probe cannot see pixel alpha: it reports the 3 colour
    channels, as decode_dims_udf documents."""
    import pandas as pd

    from datastream_deltalake_connector_spark.functions.image import (
        decode_dims_udf,
    )

    h, w = 3, 4
    px4 = RNG.integers(1, 256, size=(h, w, 4), dtype=np.uint8)
    body = px4[:, :, [2, 1, 0, 3]].reshape(h, w * 4).tobytes()
    data = _bmp((40, w, -h, 1, 32, 0, len(body), 0, 0, 0, 0), body)
    assert decode_bmp_np(data).shape == (h, w, 4)
    df = spark.createDataFrame(pd.DataFrame([(bytearray(data),)], columns=["bytes"]))
    r = df.select(decode_dims_udf("bytes").alias("d")).select("d.*").collect()[0]
    assert (r.w, r.h, r.channels, r.lossy) == (w, h, 3, 0)


# ---------------------------------------------------------------- Netpbm
def test_netpbm_roundtrip_and_spec_bytes():
    from datastream_deltalake_connector_spark.functions.netpbm import (
        decode_netpbm_np,
        encode_netpbm_np,
        netpbm_info,
    )

    rgb = RNG.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    gray = RNG.integers(0, 256, (7, 11), dtype=np.uint8)
    for ascii_mode in (False, True):
        d = encode_netpbm_np(rgb, ascii_mode=ascii_mode)
        assert np.array_equal(decode_netpbm_np(d), rgb)
        d2 = encode_netpbm_np(gray, ascii_mode=ascii_mode)
        assert np.array_equal(decode_netpbm_np(d2), np.dstack([gray] * 3))
    # hand-built spec bytes: comments anywhere in the header, non-255
    # maxval scaling, 16-bit big-endian raw samples
    out = decode_netpbm_np(b"P2 # c\n#another\n 3 1 \n# x\n15\n0 7 15\n")
    assert list(out[0, :, 0]) == [0, 119, 255]
    v = np.array([[0, 32768, 65535]], dtype=">u2")
    out = decode_netpbm_np(b"P5\n3 1\n65535\n" + v.tobytes())
    assert list(out[0, :, 0]) == [0, 128, 255]
    # the single header-terminating whitespace rule: a first raw sample
    # that happens to BE a whitespace byte must survive
    assert decode_netpbm_np(b"P5\n1 1\n255\n" + bytes([0x0A]))[0, 0, 0] == 0x0A
    assert netpbm_info(encode_netpbm_np(rgb))["raw"] is True
    with pytest.raises(NotImplementedError):
        decode_netpbm_np(b"P4\n1 1\n\x80")
    with pytest.raises(ValueError):
        decode_netpbm_np(b"Px")
    with pytest.raises(ValueError):  # ASCII sample above maxval
        decode_netpbm_np(b"P2\n1 1\n10\n11\n")
    # dims probe + shared dispatch
    assert np.array_equal(decode_image_np(encode_netpbm_np(rgb)), rgb)


# ------------------------------------------------------------------- ICO
def test_ico_png_entry_dib_entry_and_mask():
    from datastream_deltalake_connector_spark.functions.ico import (
        decode_ico_np,
        encode_ico_np,
        ico_info,
    )

    px = RNG.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    d = encode_ico_np(px)
    assert ico_info(d) == {"n_images": 1, "width": 32, "height": 32}
    assert np.array_equal(decode_ico_np(d), px)
    assert np.array_equal(decode_image_np(d), px)  # shared dispatch
    # hand-built classic DIB entry: doubled height, bottom-up BGR XOR rows,
    # then a 1-bit AND mask marking the top-left pixel transparent
    h, w = 2, 4
    xpx = RNG.integers(0, 256, (h, w, 3), dtype=np.uint8)
    xor_rows = np.zeros((h, ((w * 24 + 31) // 32) * 4), np.uint8)
    xor_rows[:, : w * 3] = xpx[::-1][:, :, ::-1].reshape(h, w * 3)
    and_rows = np.zeros((h, 4), np.uint8)
    and_rows[h - 1, 0] = 0b10000000
    dib = struct.pack("<IiihHIIiiII", 40, w, h * 2, 1, 24, 0, 0, 0, 0, 0, 0)
    blob = dib + xor_rows.tobytes() + and_rows.tobytes()
    entry = struct.pack("<BBBBHHII", w, h, 0, 0, 1, 24, len(blob), 22)
    d2 = struct.pack("<HHH", 0, 1, 1) + entry + blob
    out = decode_ico_np(d2)
    assert out.shape == (h, w, 4)
    assert np.array_equal(out[:, :, :3], xpx)
    assert (out[0, 0, 3], out[0, 1, 3], out[1, 0, 3]) == (0, 255, 255)
    # 256 encodes as the 0 size byte; garbage is refused
    big = RNG.integers(0, 256, (256, 256, 3), dtype=np.uint8)
    assert ico_info(encode_ico_np(big))["width"] == 256
    with pytest.raises(ValueError):
        decode_ico_np(b"\x00\x00\x03\x00xxxx")
