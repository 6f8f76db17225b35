"""PNG decoder round-trip tests.

The helper encoder below writes spec-conformant PNG directly (struct +
zlib chunks, per-row filter choice), sharing no code with the decoder
under test.  PNG is lossless, so every round-trip asserts EXACT pixel
equality — including rows filtered with Sub/Up/Average/Paeth.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from ocrd_odem_spark.functions.pngdec import decode_png, decode_png_gray


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + zlib.crc32(ctype + body).to_bytes(4, "big")
    )


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


_ADAM7 = [
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
]


def _pack_rows(px: np.ndarray, nch: int, depth: int) -> np.ndarray:
    """(H, W[, C]) samples -> (H, stride) scanline bytes as int32."""
    h, w = px.shape[:2]
    if depth == 16:
        wide = px.astype(">u2").reshape(h, w * nch)
        flat = np.frombuffer(wide.tobytes(), np.uint8).reshape(h, -1)
    elif depth < 8:
        idx = px.astype(np.uint8).reshape(h, w)
        bits = (
            (idx[..., None] >> np.arange(depth - 1, -1, -1)) & 1
        ).reshape(h, w * depth)
        flat = np.packbits(bits, axis=1)  # pads the last byte with zeros
    else:
        flat = px.astype(np.uint8).reshape(h, w * nch)
    return flat.astype(np.int32)


def _filter_stream(flat: np.ndarray, fu: int, filters) -> bytearray:
    """Apply per-row filters to packed scanlines -> raw stream bytes."""
    h, stride = flat.shape
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = filters[y]
        cur = flat[y]
        if f == 0:
            enc = cur.copy()
        elif f == 1:  # Sub
            enc = cur.copy()
            enc[fu:] = cur[fu:] - cur[:-fu]
        elif f == 2:  # Up
            enc = cur - prev
        elif f == 3:  # Average
            left = np.zeros(stride, dtype=np.int32)
            left[fu:] = cur[:-fu]
            enc = cur - ((left + prev) >> 1)
        else:  # Paeth
            enc = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - fu]) if x >= fu else 0
                c = int(prev[x - fu]) if x >= fu else 0
                enc[x] = cur[x] - _paeth(a, int(prev[x]), c)
        raw.append(f)
        raw += bytes((enc & 0xFF).astype(np.uint8))
        prev = cur
    return raw


def encode_png(
    px: np.ndarray,
    color_type: int,
    filters=None,
    palette: np.ndarray | None = None,
    depth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Independent PNG encoder: ``px`` is (H, W) sample indices/gray or
    (H, W, C); ``filters`` picks the per-row filter (default: cycle
    through all five so every unfilter path is exercised).  ``depth``
    supports 1/2/4 (packed MSB-first), 8, and 16 (big-endian);
    ``interlace=1`` writes Adam7 passes, each independently filtered."""
    h, w = px.shape[:2]
    nch = 1 if px.ndim == 2 else px.shape[2]
    fu = max(1, (nch * depth) // 8)
    if interlace:
        raw = bytearray()
        for x0, dx, y0, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            flat = _pack_rows(sub, nch, depth)
            raw += _filter_stream(
                flat, fu, [(y % 5) for y in range(len(flat))]
            )
    else:
        flat = _pack_rows(px, nch, depth)
        if filters is None:
            filters = [(y % 5) for y in range(h)]
        raw = _filter_stream(flat, fu, filters)
    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += _chunk(
        b"IHDR",
        struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace),
    )
    if palette is not None:
        out += _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += _chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += _chunk(b"IEND", b"")
    return bytes(out)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((yy * 7 + xx * 3) % 251).astype(np.uint8)


def test_gray_roundtrip_all_filters():
    img = _gradient(13, 29)  # odd dims, 13 rows cycle all 5 filters
    got = decode_png(encode_png(img, 0))
    assert got.shape == (13, 29)
    assert np.array_equal(got, img.astype(np.float64))


def test_rgb_roundtrip():
    h, w = 11, 17
    img = np.stack(
        [_gradient(h, w), _gradient(h, w)[::-1], np.full((h, w), 64)], axis=-1
    )
    got = decode_png(encode_png(img, 2))
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, img.astype(np.float64))


def test_rgba_and_gray_alpha():
    h, w = 9, 9
    rgba = np.stack(
        [_gradient(h, w)] * 3 + [np.full((h, w), 200)], axis=-1
    )
    got = decode_png(encode_png(rgba, 6))
    assert got.shape == (h, w, 4)
    assert np.array_equal(got, rgba.astype(np.float64))
    ga = np.stack([_gradient(h, w), np.full((h, w), 128)], axis=-1)
    gray = decode_png_gray(encode_png(ga, 4))
    assert np.array_equal(gray, _gradient(h, w).astype(np.float64))


def test_palette_roundtrip():
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]])
    idx = (_gradient(10, 10) % 4).astype(np.uint8)
    got = decode_png(encode_png(idx, 3, palette=pal))
    assert got.shape == (10, 10, 3)
    assert np.array_equal(got, pal[idx].astype(np.float64))


def test_luma_helper():
    h, w = 8, 8
    red = np.zeros((h, w, 3), dtype=np.uint8)
    red[..., 0] = 255
    gray = decode_png_gray(encode_png(red, 2))
    assert np.allclose(gray, 0.299 * 255)


def test_single_filter_paths_exact():
    img = _gradient(6, 16)
    for f in range(5):
        got = decode_png(encode_png(img, 0, filters=[f] * 6))
        assert np.array_equal(got, img.astype(np.float64)), f"filter {f}"


def test_malformed_and_unsupported():
    img = _gradient(8, 8)
    data = encode_png(img, 0)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"NOPE" + data[4:])
    # illegal depth flag -> ValueError (16-bit is SUPPORTED now)
    deep = bytearray(data)
    ihdr_at = data.index(b"IHDR")
    deep[ihdr_at + 12] = 3  # bit-depth byte: 3 is never legal
    with pytest.raises(ValueError, match="invalid bit depth"):
        decode_png(bytes(deep))
    # interlace byte beyond Adam7 -> ValueError
    inter = bytearray(data)
    inter[ihdr_at + 16] = 2
    with pytest.raises(ValueError, match="interlace"):
        decode_png(bytes(inter))
    # flipping a NON-interlaced stream's flag to Adam7 makes the stream
    # length wrong for the seven-pass layout -> truncation error
    inter[ihdr_at + 16] = 1
    with pytest.raises(ValueError):
        decode_png(bytes(inter))
    # truncated IDAT -> ValueError
    with pytest.raises(ValueError):
        decode_png(data[: len(data) - 20])
    # corrupt zlib stream (bad Adler-32) -> ValueError, not raw zlib.error
    idat_at = data.index(b"IDAT")
    bad = bytearray(data)
    bad[idat_at + 4 + 6] ^= 0xFF  # flip a byte inside the deflate stream
    with pytest.raises(ValueError, match="zlib"):
        decode_png(bytes(bad))


def test_bitonal_1bit_roundtrip():
    """1-bit packed gray — the bitonal archive-scan format — decodes to
    exact 0/255, including odd widths whose last byte is padded."""
    img = (_gradient(9, 21) % 2).astype(np.uint8)  # 21 px = 2.625 bytes/row
    got = decode_png(encode_png(img, 0, depth=1))
    assert got.shape == (9, 21)
    assert np.array_equal(got, img * 255.0)


def test_2bit_4bit_gray_roundtrip():
    for depth in (2, 4):
        hi = (1 << depth) - 1
        img = (_gradient(7, 13) % (hi + 1)).astype(np.uint8)
        got = decode_png(encode_png(img, 0, depth=depth))
        assert np.array_equal(got, img * (255.0 / hi)), f"depth {depth}"


def test_4bit_palette_roundtrip():
    pal = np.array([[i * 16, 255 - i * 16, i] for i in range(16)])
    idx = (_gradient(6, 11) % 16).astype(np.uint8)
    got = decode_png(encode_png(idx, 3, palette=pal, depth=4))
    assert got.shape == (6, 11, 3)
    assert np.array_equal(got, pal[idx].astype(np.float64))


def test_16bit_gray_and_rgb_roundtrip():
    img16 = (_gradient(8, 10).astype(np.uint16) * 257)  # exact /257 inverse
    got = decode_png(encode_png(img16, 0, depth=16))
    assert np.array_equal(got, _gradient(8, 10).astype(np.float64))
    rgb16 = np.stack([img16, img16[::-1], np.full((8, 10), 65535)], axis=-1)
    got = decode_png(encode_png(rgb16, 2, depth=16))
    assert got.shape == (8, 10, 3)
    assert np.allclose(got[..., 2], 255.0)
    assert np.array_equal(got[..., 0], _gradient(8, 10).astype(np.float64))


def test_subbyte_filters_use_one_byte_unit():
    """Sub/Average/Paeth on packed rows operate on BYTES (spec: bpp
    floors to 1) — a same-value column image exercises nonzero deltas."""
    img = np.tile((np.arange(24) % 2).astype(np.uint8), (10, 1))
    for f in range(5):
        got = decode_png(encode_png(img, 0, depth=1, filters=[f] * 10))
        assert np.array_equal(got, img * 255.0), f"filter {f}"


def test_adam7_interlaced_roundtrip():
    """Adam7 passes reassemble pixel-exactly — odd dims exercise empty
    and truncated passes; every pass cycles the five filters."""
    for h, w in [(13, 29), (8, 8), (1, 1), (3, 2), (7, 1)]:
        img = _gradient(h, w)
        got = decode_png(encode_png(img, 0, interlace=1))
        assert got.shape == (h, w)
        assert np.array_equal(got, img.astype(np.float64)), (h, w)


def test_adam7_rgb_and_subbyte():
    h, w = 10, 11
    rgb = np.stack(
        [_gradient(h, w), _gradient(h, w)[::-1], np.full((h, w), 9)], axis=-1
    )
    got = decode_png(encode_png(rgb, 2, interlace=1))
    assert np.array_equal(got, rgb.astype(np.float64))
    bitonal = (_gradient(h, w) % 2).astype(np.uint8)
    got = decode_png(encode_png(bitonal, 0, depth=1, interlace=1))
    assert np.array_equal(got, bitonal * 255.0)
