"""TIFF decoder round-trip tests.

The helper writer below emits spec-conformant baseline TIFF directly
(header + IFD + strips, both byte orders, optional PackBits), sharing no
code with the decoder under test.  All covered layouts are lossless, so
round-trips assert EXACT pixel values."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ocrd_odem_spark.functions.tiffdec import decode_tiff, decode_tiff_gray


def _packbits(row: bytes) -> bytes:
    """Simple PackBits encoder: runs >= 3 become repeats."""
    out = bytearray()
    i = 0
    while i < len(row):
        run = 1
        while i + run < len(row) and row[i + run] == row[i] and run < 127:
            run += 1
        if run >= 3:
            out += bytes([257 - run, row[i]])
            i += run
        else:
            j = i
            lit = bytearray()
            while j < len(row) and len(lit) < 128:
                nxt = 1
                while (
                    j + nxt < len(row) and row[j + nxt] == row[j] and nxt < 3
                ):
                    nxt += 1
                if nxt >= 3:
                    break
                lit += row[j : j + nxt]
                j += nxt
            out += bytes([len(lit) - 1]) + lit
            i = j
    return bytes(out)


def _lzw(data: bytes) -> bytes:
    """Independent TIFF-LZW encoder (MSB-first, early change: code width
    grows one step AFTER the decoder's threshold — validated against
    system libtiff in the cross-check tests below)."""
    out = bytearray()
    acc = nbits = 0
    width = 9

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    def fresh():
        return {bytes([i]): i for i in range(256)}

    table = fresh()
    next_code = 258
    emit(256)  # clear
    prev = b""
    for ch in data:
        cur = prev + bytes([ch])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        table[cur] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        elif next_code == 4094:  # table nearly full: restart
            emit(256)
            table = fresh()
            next_code = 258
            width = 9
        prev = bytes([ch])
    if prev:
        emit(table[prev])
    emit(257)  # EOI
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


_COMP_TAG = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8}


def encode_tiff(
    px: np.ndarray,
    endian: str = "<",
    depth: int = 8,
    photometric: int | None = None,
    compression: str = "none",
    predictor: int = 1,
    rows_per_strip: int | None = None,
    colormap: np.ndarray | None = None,
) -> bytes:
    """Independent baseline-TIFF writer: strip-organised, header ->
    strips -> IFD."""
    import zlib

    h, w = px.shape[:2]
    spp = 1 if px.ndim == 2 else px.shape[2]
    if photometric is None:
        photometric = 2 if spp == 3 else 1
    rows_per_strip = rows_per_strip or h

    if predictor == 2:  # horizontal differencing on the samples
        wide = px.reshape(h, w, spp).astype(
            np.uint8 if depth == 8 else np.uint16
        )
        px = np.concatenate(
            [wide[:, :1], wide[:, 1:] - wide[:, :-1]], axis=1
        ).reshape(px.shape)

    if depth == 1:
        bits = (px.astype(np.uint8).reshape(h, w) & 1)
        rows = np.packbits(bits, axis=1)
    elif depth == 16:
        wide = px.astype(endian.replace("<", "<u2").replace(">", ">u2"))
        rows = np.frombuffer(
            wide.reshape(h, w * spp).tobytes(), np.uint8
        ).reshape(h, -1)
    else:
        rows = px.astype(np.uint8).reshape(h, w * spp)

    squeeze = {
        "none": lambda b: b,
        "packbits": _packbits,
        "lzw": _lzw,
        "deflate": zlib.compress,
    }[compression]
    strips = []
    for y0 in range(0, h, rows_per_strip):
        strips.append(squeeze(rows[y0 : y0 + rows_per_strip].tobytes()))

    offsets = []
    pos = 8
    payload = bytearray()
    for s in strips:
        offsets.append(pos)
        payload += s
        pos += len(s)
    header = struct.pack(
        endian + "2sHI", b"II" if endian == "<" else b"MM", 42, pos
    )
    body = bytearray(header) + payload

    entries = []

    def add(tag, typ, vals):
        entries.append((tag, typ, vals))

    add(256, 4, [w])
    add(257, 4, [h])
    add(258, 3, [depth] * spp)
    add(259, 3, [_COMP_TAG[compression]])
    add(262, 3, [photometric])
    add(273, 4, offsets)
    add(277, 3, [spp])
    add(278, 4, [rows_per_strip])
    add(279, 4, [len(s) for s in strips])
    if predictor != 1:
        add(317, 3, [predictor])
    if colormap is not None:
        add(320, 3, list(colormap.T.reshape(-1).astype(int)))

    # out-of-line values go after the IFD
    ifd_off = pos
    n = len(entries)
    tail_off = ifd_off + 2 + n * 12 + 4
    tail = bytearray()
    fmt = {3: "H", 4: "I"}
    ifd = bytearray(struct.pack(endian + "H", n))
    for tag, typ, vals in sorted(entries):
        sz = {3: 2, 4: 4}[typ] * len(vals)
        packed = struct.pack(endian + fmt[typ] * len(vals), *vals)
        if sz <= 4:
            val = packed + b"\x00" * (4 - sz)
        else:
            val = struct.pack(endian + "I", tail_off + len(tail))
            tail += packed
        ifd += struct.pack(endian + "HHI", tag, typ, len(vals)) + val
    ifd += struct.pack(endian + "I", 0)  # no next IFD
    return bytes(body + ifd + tail)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((yy * 7 + xx * 3) % 251).astype(np.uint8)


def test_gray8_both_endians():
    img = _gradient(9, 14)
    for endian in ("<", ">"):
        got = decode_tiff(encode_tiff(img, endian=endian))
        assert got.shape == (9, 14)
        assert np.array_equal(got, img.astype(np.float64)), endian


def test_rgb8_multistrip():
    h, w = 11, 6
    img = np.stack(
        [_gradient(h, w), _gradient(h, w)[::-1], np.full((h, w), 31)], axis=-1
    )
    got = decode_tiff(encode_tiff(img, rows_per_strip=3))
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, img.astype(np.float64))


def test_bilevel_both_photometrics():
    img = (_gradient(7, 19) % 2).astype(np.uint8)  # odd width: padded rows
    got = decode_tiff(encode_tiff(img, depth=1, photometric=1))
    assert np.array_equal(got, img * 255.0)
    inv = decode_tiff(encode_tiff(img, depth=1, photometric=0))
    assert np.array_equal(inv, 255.0 - img * 255.0)


def test_packbits_roundtrip():
    # long runs + literals; PackBits must restore exactly
    img = np.tile(
        np.concatenate([np.zeros(9), np.full(9, 200), np.arange(9)]), (8, 1)
    ).astype(np.uint8)
    got = decode_tiff(
        encode_tiff(img, compression="packbits", rows_per_strip=2)
    )
    assert np.array_equal(got, img.astype(np.float64))


def test_16bit_gray():
    img16 = _gradient(6, 8).astype(np.uint16) * 257  # exact /257 inverse
    for endian in ("<", ">"):
        got = decode_tiff(encode_tiff(img16, endian=endian, depth=16))
        assert np.array_equal(got, _gradient(6, 8).astype(np.float64))


def test_palette_colormap():
    pal = (np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [17, 34, 51]]
    ) * 257)  # ColorMap entries are 16-bit
    idx = (_gradient(5, 5) % 4).astype(np.uint8)
    cmap = np.zeros((256, 3))
    cmap[:4] = pal
    got = decode_tiff(
        encode_tiff(idx, depth=8, photometric=3, colormap=cmap)
    )
    assert got.shape == (5, 5, 3)
    assert np.array_equal(got, (pal[idx] / 257.0).astype(np.float64))


def test_luma_helper():
    h, w = 4, 4
    blue = np.zeros((h, w, 3), dtype=np.uint8)
    blue[..., 2] = 255
    assert np.allclose(decode_tiff_gray(encode_tiff(blue)), 0.114 * 255)


def test_lzw_roundtrip_all_code_widths():
    """Big noisy image: the LZW table crosses 9->10->11->12 bits and hits
    the 4094-entry restart; decode must stay exact throughout."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(60, 180)).astype(np.uint8)
    got = decode_tiff(encode_tiff(img, compression="lzw"))
    assert np.array_equal(got, img.astype(np.float64))


def test_lzw_rgb_multistrip_both_endians():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(21, 17, 3)).astype(np.uint8)
    for endian in ("<", ">"):
        got = decode_tiff(
            encode_tiff(img, endian=endian, compression="lzw",
                        rows_per_strip=4)
        )
        assert np.array_equal(got, img.astype(np.float64)), endian


def test_lzw_kwkwk_case():
    """Runs of one byte force the code==len(table) (KwKwK) decode branch."""
    img = np.zeros((4, 64), dtype=np.uint8)
    got = decode_tiff(encode_tiff(img, compression="lzw"))
    assert np.array_equal(got, img.astype(np.float64))


def test_predictor2_lzw_and_deflate():
    """Horizontal differencing (tag 317=2) undone by modular cumsum,
    including wraparound deltas."""
    rng = np.random.default_rng(13)
    img = np.cumsum(
        rng.integers(0, 7, size=(30, 50, 3)), axis=1
    ).astype(np.uint8)  # smooth rows: the predictor's target case
    for compression in ("lzw", "deflate"):
        got = decode_tiff(
            encode_tiff(img, compression=compression, predictor=2)
        )
        assert np.array_equal(got, img.astype(np.float64)), compression
    # wraparound: 0 -> 255 delta is -1 mod 256
    hard = np.tile(np.array([0, 255, 3, 250], dtype=np.uint8), (3, 5))
    got = decode_tiff(encode_tiff(hard, compression="lzw", predictor=2))
    assert np.array_equal(got, hard.astype(np.float64))


def test_predictor2_16bit():
    rng = np.random.default_rng(17)
    img16 = (rng.integers(0, 256, size=(9, 12)) * 257).astype(np.uint16)
    got = decode_tiff(
        encode_tiff(img16, depth=16, compression="deflate", predictor=2)
    )
    assert np.array_equal(got, (img16 / 257.0).astype(np.float64))


def test_deflate_roundtrip_legacy_code_point():
    """Compression 32946 (old deflate) decodes like 8."""
    img = _gradient(15, 22)
    data = bytearray(encode_tiff(img, compression="deflate"))
    at = data.index(struct.pack("<HHI", 259, 3, 1))
    data[at + 8 : at + 12] = struct.pack("<I", 32946)
    got = decode_tiff(bytes(data))
    assert np.array_equal(got, img.astype(np.float64))


# libtiff-written G4 TIFF (24x96 bilevel, photometric 0, 4 strips of 7
# rows) whose pixels the test regenerates below — self-contained ground
# truth for the CCITT G4 decoder without needing libtiff at test time.
_G4_FIXTURE = bytes.fromhex(
    "49492a005c00000026a14ef5293d978970b90cf642ec7891cf25c2e00200202506"
    "4148980b890cf2281473863891b0b94e63800800802a41481911a31c4880b92d31"
    "c4e8172b46389985c00400402733b4109330b908638008008000"
    "0a000001030001000000600000000101030001000000180000000201030001000000"
    "010000000301030001000000040000000601030001000000000000001101040004"
    "000000ea0000001501030001000000010000001601030001000000070000001701"
    "040004000000da0000001c0103000100000001000000000000001700000017000000"
    "180000000d000000080000001f000000360000004e000000"
)


def _g4_fixture_pixels() -> np.ndarray:
    img = np.zeros((24, 96), dtype=np.uint8)
    for k in range(12):
        y = 2 * k
        img[y, (k * 7) % 80 : (k * 7) % 80 + 11] = 1
        img[y + 1, (k * 13) % 60 : (k * 13) % 60 + 5] = 1
    img[:, 90:] = 1
    return img


def test_g4_fixture_multistrip():
    """CCITT G4 (T.6) strips decode to exact pixels; photometric 0 means
    the 0-bits (white runs) render as 255."""
    got = decode_tiff(_G4_FIXTURE)
    want = 255.0 - _g4_fixture_pixels() * 255.0
    assert got.shape == (24, 96)
    assert np.array_equal(got, want)


def test_g4_corrupt_stream_raises():
    # All-zero bits hit the T.6 extension/EOL prefix, which this profile
    # treats as invalid.  (All-ones would decode as endless valid V0
    # codes, so 0x00 is the honest corruption pattern.)
    body = bytearray(_G4_FIXTURE)
    body[12:31] = b"\x00" * 19  # clobber strip-0 entropy data
    with pytest.raises(ValueError):
        decode_tiff(bytes(body))


def _libtiff():
    import ctypes

    try:
        lib = ctypes.CDLL("libtiff.so.6")
    except OSError:
        return None
    lib.TIFFOpen.restype = ctypes.c_void_p
    lib.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    lib.TIFFClose.argtypes = [ctypes.c_void_p]
    lib.TIFFWriteScanline.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_uint32, ctypes.c_uint16]
    lib.TIFFReadScanline.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_uint32, ctypes.c_uint16]
    lib.TIFFSetErrorHandler(None)
    lib.TIFFSetWarningHandler(None)
    return lib


@pytest.mark.skipif(_libtiff() is None, reason="system libtiff unavailable")
def test_lzw_cross_checked_against_libtiff(tmp_path):
    """Ground truth beyond round-tripping: system libtiff writes LZW
    strips our decoder must read exactly, and reads strips our test
    encoder wrote — pinning the early-change code-width convention
    against the reference C implementation, both directions."""
    import ctypes

    lib = _libtiff()
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(64, 200)).astype(np.uint8)

    # direction 1: libtiff writes (LZW + predictor), we decode
    for predictor in (1, 2):
        path = str(tmp_path / f"ref{predictor}.tif").encode()
        t = lib.TIFFOpen(path, b"w")
        assert t
        sf = lambda tag, val: lib.TIFFSetField(
            ctypes.c_void_p(t), ctypes.c_uint32(tag), ctypes.c_int(val))
        for tag, val in ((256, 200), (257, 64), (258, 8), (259, 5),
                         (262, 1), (277, 1), (278, 64), (284, 1)):
            sf(tag, val)
        if predictor == 2:
            sf(317, 2)
        for y in range(64):
            assert lib.TIFFWriteScanline(
                ctypes.c_void_p(t), img[y].tobytes(), y, 0) == 1
        lib.TIFFClose(ctypes.c_void_p(t))
        got = decode_tiff(open(path, "rb").read())
        assert np.array_equal(got, img.astype(np.float64)), predictor

    # direction 2: our independent encoder writes, libtiff decodes
    mine = str(tmp_path / "mine.tif")
    with open(mine, "wb") as fh:
        fh.write(encode_tiff(img, compression="lzw"))
    t = lib.TIFFOpen(mine.encode(), b"r")
    assert t
    buf = ctypes.create_string_buffer(200 + 16)
    rows = []
    for y in range(64):
        assert lib.TIFFReadScanline(ctypes.c_void_p(t), buf, y, 0) == 1
        rows.append(bytes(buf[:200]))
    lib.TIFFClose(ctypes.c_void_p(t))
    back = np.frombuffer(b"".join(rows), np.uint8).reshape(64, 200)
    assert np.array_equal(back, img)


@pytest.mark.skipif(_libtiff() is None, reason="system libtiff unavailable")
def test_g4_cross_checked_against_libtiff(tmp_path):
    """Every MH code range exercised against libtiff's G4 encoder:
    sampled run lengths spanning terminating (0-63), per-color makeup
    (64-1728) and extended makeup (1792-2560) codes, plus noise images
    that force pass/vertical modes."""
    import ctypes

    lib = _libtiff()

    def libtiff_g4(img, path):
        h, w = img.shape
        t = lib.TIFFOpen(str(path).encode(), b"w")
        assert t
        sf = lambda tag, val: lib.TIFFSetField(
            ctypes.c_void_p(t), ctypes.c_uint32(tag), ctypes.c_int(val))
        for tag, val in ((256, w), (257, h), (258, 1), (259, 4),
                         (262, 0), (277, 1), (278, h), (284, 1)):
            sf(tag, val)
        packed = np.packbits(img & 1, axis=1)
        for y in range(h):
            assert lib.TIFFWriteScanline(
                ctypes.c_void_p(t), packed[y].tobytes(), y, 0) == 1
        lib.TIFFClose(ctypes.c_void_p(t))
        return open(path, "rb").read()

    def check(img, label):
        data = libtiff_g4(img, tmp_path / "g4.tif")
        got = decode_tiff(data)
        assert np.array_equal(got, 255.0 - img * 255.0), label

    w = 2700
    lengths = (
        list(range(0, 65))                      # every terminating code
        + list(range(64, 2561, 64))             # every makeup code
        + [m + 1 for m in range(64, 2561, 64)]  # makeup + term combos
        + [2600, 2699]                          # chained extended makeup
    )
    for n in lengths:
        row = np.ones((1, w), dtype=np.uint8)
        row[0, :n] = 0
        check(row, f"white run {n}")
        row = np.zeros((1, w), dtype=np.uint8)
        row[0, 1 : 1 + n] = 1
        check(row, f"black run {n}")

    rng = np.random.default_rng(33)
    for trial in range(8):
        h, wd = int(rng.integers(3, 40)), int(rng.integers(5, 300))
        img = (rng.random((h, wd)) < rng.random()).astype(np.uint8)
        check(img, f"noise {trial}")


# Pinned libtiff output for the same pixels as the G4 fixture: CCITT
# G3 with T4Options=1 (mixed 1D/2D lines, EOL tag bits) and pure
# Modified-Huffman RLE (byte-aligned rows, no EOLs), both 4 strips of
# 7 rows so strip-restart is exercised too.
_G3_2D_FIXTURE = bytes.fromhex(
    "49492a00780000000019a85dea400293d97800fc2ee64002219e003d02ec720010"
    "91cf001970ab640019418290008980b800d54c48800445028e003c3dd440021236"
    "17001a73dc10001a90503200111a31c006b2142100089698e003340b510008ad18"
    "e003df05a1000019cf68200109330b800c219990000b0000010300010000006000"
    "000001010300010000001800000002010300010000000100000003010300010000"
    "000300000006010300010000000000000011010400040000001201000015010300"
    "01000000010000001601030001000000070000001701040004000000020100001c"
    "010300010000000100000024010400010000000100000000000000200000002000"
    "0000210000000e00000008000000280000004800000069000000"
)
_RLE_FIXTURE = bytes.fromhex(
    "49492a005e000000350bbd48353d9720f0bb99000cf732d02ec7202669442e156c"
    "8028305230155080553122140a5a40c3dd442b0a2c404e7b82520a06401a325259"
    "0a10802d32a2340b51005a3304df05a10039ed04d8615c80086664000a00000103"
    "000100000060000000010103000100000018000000020103000100000001000000"
    "0301030001000000020000000601030001000000000000001101040004000000ec"
    "000000150103000100000001000000160103000100000007000000170104000400"
    "0000dc0000001c0103000100000001000000000000001a00000018000000190000"
    "000a00000008000000220000003a00000053000000"
)


def test_g3_2d_fixture_multistrip():
    """CCITT G3 with mixed 1D/2D lines decodes to the same exact pixels
    as the G4 fixture (identical image, different codec)."""
    got = decode_tiff(_G3_2D_FIXTURE)
    want = 255.0 - _g4_fixture_pixels() * 255.0
    assert got.shape == (24, 96)
    assert np.array_equal(got, want)


def test_rle_fixture_multistrip():
    """Modified-Huffman RLE (compression 2) decodes the same pixels."""
    got = decode_tiff(_RLE_FIXTURE)
    want = 255.0 - _g4_fixture_pixels() * 255.0
    assert got.shape == (24, 96)
    assert np.array_equal(got, want)


def test_g3_uncompressed_mode_flag_honest():
    # flip T4Options to request uncompressed mode (bit 1) -> honest gap
    body = bytearray(_G3_2D_FIXTURE)
    at = body.index(struct.pack("<HHI", 292, 4, 1))
    body[at + 8] = 3  # 2D + uncompressed
    with pytest.raises(NotImplementedError, match="uncompressed"):
        decode_tiff(bytes(body))


@pytest.mark.skipif(_libtiff() is None, reason="system libtiff unavailable")
def test_g3_rle_cross_checked_against_libtiff(tmp_path):
    """libtiff's G3 encoder in every profile it writes — pure 1D,
    mixed 1D/2D, each with and without fill bits — plus MH-RLE, decode
    bit-exactly: run-length sweep over all three MH code ranges and
    noise images that force 2D pass/vertical modes."""
    import ctypes

    lib = _libtiff()

    def libtiff_fax(img, path, comp, t4opts):
        h, w = img.shape
        t = lib.TIFFOpen(str(path).encode(), b"w")
        assert t
        sf = lambda tag, val: lib.TIFFSetField(
            ctypes.c_void_p(t), ctypes.c_uint32(tag), ctypes.c_int(val))
        for tag, val in ((256, w), (257, h), (258, 1), (259, comp),
                         (262, 0), (277, 1), (278, h), (284, 1)):
            sf(tag, val)
        if t4opts is not None:
            sf(292, t4opts)
        packed = np.packbits(img & 1, axis=1)
        for y in range(h):
            assert lib.TIFFWriteScanline(
                ctypes.c_void_p(t), packed[y].tobytes(), y, 0) == 1
        lib.TIFFClose(ctypes.c_void_p(t))
        return open(path, "rb").read()

    profiles = ((2, None), (3, 0), (3, 1), (3, 4), (3, 5))

    def check(img, label):
        for comp, opts in profiles:
            data = libtiff_fax(img, tmp_path / "fax.tif", comp, opts)
            got = decode_tiff(data)
            assert np.array_equal(
                got, 255.0 - img * 255.0
            ), f"{label} comp={comp} opts={opts}"

    w = 2700
    for n in (0, 1, 63, 64, 65, 128, 1728, 1729, 1792, 2560, 2600, 2699):
        row = np.ones((1, w), dtype=np.uint8)
        row[0, :n] = 0
        check(row, f"white run {n}")
        row = np.zeros((1, w), dtype=np.uint8)
        row[0, 1 : 1 + n] = 1
        check(row, f"black run {n}")

    rng = np.random.default_rng(17)
    for trial in range(6):
        h, wd = int(rng.integers(3, 40)), int(rng.integers(5, 300))
        img = (rng.random((h, wd)) < rng.random()).astype(np.uint8)
        check(img, f"noise {trial}")


# Same pixels again, tile-organised: 32x16 G4 tiles (3x2 grid with
# right/bottom padding the decoder must crop away).
_G4_TILED_FIXTURE = bytes.fromhex(
    "49492a007000000026a1726904b8590cec85f1239c970a46c3726191b0de70e329"
    "ce35001001fe7ce4d471219cc0518c9c2c66b0b26ac600200224cbfffffff00100"
    "10f939c6421c7fc00400402a052419d437152acd8fff8008008026b10843935098"
    "e782e390c2e391b0dff80080080b00000103000100000060000000010103000100"
    "000018000000020103000100000001000000030103000100000004000000060103"
    "0001000000000000001501030001000000010000001c0103000100000001000000"
    "420103000100000020000000430103000100000010000000440104000600000012"
    "0100004501040006000000fa000000000000001e00000014000000090000000a00"
    "00000f0000001400000008000000260000003a000000430000004d0000005c0000"
    "00"
)


def test_tiled_g4_fixture():
    """Tile-organised TIFF stitches onto a padded canvas and crops —
    exact pixel equality with the strip-organised encodings of the same
    image."""
    got = decode_tiff(_G4_TILED_FIXTURE)
    want = 255.0 - _g4_fixture_pixels() * 255.0
    assert got.shape == (24, 96)
    assert np.array_equal(got, want)


def test_tiled_bad_geometry():
    # TileWidth must be a positive multiple of 16
    body = bytearray(_G4_TILED_FIXTURE)
    at = body.index(struct.pack("<HHI", 322, 3, 1))
    body[at + 8 : at + 10] = struct.pack("<H", 24)
    with pytest.raises(ValueError, match="tile geometry"):
        decode_tiff(bytes(body))


@pytest.mark.skipif(_libtiff() is None, reason="system libtiff unavailable")
def test_tiled_cross_checked_against_libtiff(tmp_path):
    """libtiff writes tile-organised files across every codec and sample
    layout the strip path supports; ragged edges force padded tiles."""
    import ctypes

    lib = _libtiff()
    lib.TIFFWriteTile.restype = ctypes.c_long
    lib.TIFFWriteTile.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_uint32, ctypes.c_uint32, ctypes.c_uint32, ctypes.c_uint16]

    def write_tiled(img, path, comp, depth=8, spp=1, photo=1,
                    predictor=None, tw=16, th=16, t4opts=None):
        h, w = img.shape[:2]
        t = lib.TIFFOpen(str(path).encode(), b"w")
        assert t
        sf = lambda tag, val: lib.TIFFSetField(
            ctypes.c_void_p(t), ctypes.c_uint32(tag), ctypes.c_int(val))
        for tag, val in ((256, w), (257, h), (258, depth), (259, comp),
                         (262, photo), (277, spp), (284, 1),
                         (322, tw), (323, th)):
            sf(tag, val)
        if predictor:
            sf(317, predictor)
        if t4opts is not None:
            sf(292, t4opts)
        for j in range((h + th - 1) // th):
            for i in range((w + tw - 1) // tw):
                tile = np.zeros(
                    (th, tw, spp),
                    dtype=np.uint16 if depth == 16 else np.uint8)
                sub = img[j * th : j * th + th, i * tw : i * tw + tw]
                sub = sub.reshape(sub.shape[0], sub.shape[1], spp)
                tile[: sub.shape[0], : sub.shape[1]] = sub
                buf = (np.packbits(tile[:, :, 0] & 1, axis=1).tobytes()
                       if depth == 1 else tile.tobytes())
                assert lib.TIFFWriteTile(
                    ctypes.c_void_p(t), buf, i * tw, j * th, 0, 0) >= 0
        lib.TIFFClose(ctypes.c_void_p(t))
        return open(path, "rb").read()

    rng = np.random.default_rng(5)
    p = tmp_path / "tiled.tif"
    for comp, pred in ((1, None), (5, None), (5, 2), (8, None),
                       (32773, None)):
        for h, w in ((32, 48), (30, 41), (17, 90)):
            img = rng.integers(0, 256, (h, w)).astype(np.uint8)
            got = decode_tiff(write_tiled(img, p, comp, predictor=pred))
            assert np.array_equal(got, img.astype(np.float64)), (comp, h, w)
    img = rng.integers(0, 256, (37, 53, 3)).astype(np.uint8)
    got = decode_tiff(write_tiled(img, p, 5, spp=3, photo=2, tw=32))
    assert np.array_equal(got, img.astype(np.float64))
    img = rng.integers(0, 65536, (20, 40)).astype(np.uint16)
    got = decode_tiff(write_tiled(img, p, 8, depth=16, predictor=2))
    assert np.allclose(got, img.astype(np.float64) / 257.0)
    for comp, opts in ((4, None), (3, 1), (3, 0), (2, None)):
        img = (rng.random((45, 70)) < 0.35).astype(np.uint8)
        got = decode_tiff(
            write_tiled(img, p, comp, depth=1, photo=0, tw=32, t4opts=opts))
        assert np.array_equal(got, 255.0 - img * 255.0), comp


@pytest.mark.skipif(_libtiff() is None, reason="system libtiff unavailable")
def test_jpeg_in_tiff_cross_checked_against_libtiff(tmp_path):
    """Compression 7: strips and tiles carry abbreviated JPEG streams
    with shared tables in tag 347.  The container plumbing is proven
    EXACT — every strip/tile region equals a direct decode of its
    table-merged stream (the JPEG codec itself is pinned by
    test_jpeg_decode.py) — and the gray result equals libtiff's own
    libjpeg decode within IDCT rounding."""
    import ctypes
    import struct as st

    from ocrd_odem_spark.functions.jpegdec import decode_baseline_jpeg
    from ocrd_odem_spark.functions.tiffdec import (
        _merge_jpeg_tables, _read_ifd)

    lib = _libtiff()
    lib.TIFFWriteTile.restype = ctypes.c_long
    lib.TIFFWriteTile.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_uint32, ctypes.c_uint32, ctypes.c_uint32, ctypes.c_uint16]

    def smooth(h, w):
        yy, xx = np.mgrid[0:h, 0:w]
        return (
            (np.sin(xx / 7.0) + np.cos(yy / 5.0)) * 60 + 128
        ).clip(0, 255).astype(np.uint8)

    def segments(data):
        endian = "<" if data[:2] == b"II" else ">"
        tags = _read_ifd(data, endian)
        tables = tags.get(347, [None])[0]
        offs = tags.get(273) or tags.get(324)
        cnts = tags.get(279) or tags.get(325)
        return tables, list(zip(offs, cnts))

    # gray strips: exact plumbing + libjpeg agreement
    img = smooth(40, 64)
    path = tmp_path / "j.tif"
    t = lib.TIFFOpen(str(path).encode(), b"w")
    sf = lambda tag, val: lib.TIFFSetField(
        ctypes.c_void_p(t), ctypes.c_uint32(tag), ctypes.c_int(val))
    for tag, val in ((256, 64), (257, 40), (258, 8), (259, 7), (262, 1),
                     (277, 1), (278, 16), (284, 1)):
        sf(tag, val)
    for y in range(40):
        assert lib.TIFFWriteScanline(
            ctypes.c_void_p(t), img[y].tobytes(), y, 0) == 1
    lib.TIFFClose(ctypes.c_void_p(t))
    data = path.read_bytes()
    got = decode_tiff(data)
    assert got.shape == (40, 64)
    tables, segs = segments(data)
    y = 0
    for o, c in segs:
        px = decode_baseline_jpeg(_merge_jpeg_tables(tables, data[o:o + c]))
        n = min(16, 40 - y)
        assert np.array_equal(got[y:y + n], px[:n, :64])
        y += n
    t = lib.TIFFOpen(str(path).encode(), b"r")
    buf = ctypes.create_string_buffer(64 + 16)
    rows = []
    for y in range(40):
        assert lib.TIFFReadScanline(ctypes.c_void_p(t), buf, y, 0) == 1
        rows.append(bytes(buf[:64]))
    lib.TIFFClose(ctypes.c_void_p(t))
    ref = np.frombuffer(b"".join(rows), np.uint8).reshape(40, 64)
    assert np.abs(got - ref.astype(np.float64)).max() <= 1.5

    # gray tiles (ragged edges): exact plumbing per tile region
    img = smooth(40, 70)
    path2 = tmp_path / "jt.tif"
    t = lib.TIFFOpen(str(path2).encode(), b"w")
    sf = lambda tag, val: lib.TIFFSetField(
        ctypes.c_void_p(t), ctypes.c_uint32(tag), ctypes.c_int(val))
    for tag, val in ((256, 70), (257, 40), (258, 8), (259, 7), (262, 1),
                     (277, 1), (284, 1), (322, 32), (323, 16)):
        sf(tag, val)
    for j in range(3):
        for i in range(3):
            tile = np.zeros((16, 32), np.uint8)
            sub = img[j * 16 : j * 16 + 16, i * 32 : i * 32 + 32]
            tile[: sub.shape[0], : sub.shape[1]] = sub
            assert lib.TIFFWriteTile(
                ctypes.c_void_p(t), tile.tobytes(), i * 32, j * 16, 0, 0
            ) >= 0
    lib.TIFFClose(ctypes.c_void_p(t))
    data = path2.read_bytes()
    got = decode_tiff(data)
    assert got.shape == (40, 70)
    tables, segs = segments(data)
    for idx, (o, c) in enumerate(segs):
        px = decode_baseline_jpeg(_merge_jpeg_tables(tables, data[o:o + c]))
        ty, tx = (idx // 3) * 16, (idx % 3) * 32
        ch, cw = min(16, 40 - ty), min(32, 70 - tx)
        assert np.array_equal(got[ty:ty + ch, tx:tx + cw], px[:ch, :cw])
    assert np.abs(got - img.astype(np.float64)).max() < 40  # sane lossy bound

    # YCbCr color strips: the photometric-6 transform lands in RGB
    rgb = np.zeros((48, 64, 3), np.uint8)
    rgb[..., 0] = smooth(48, 64)
    rgb[..., 1] = np.roll(smooth(48, 64), 9, 1)
    rgb[..., 2] = 77
    path3 = tmp_path / "jc.tif"
    t = lib.TIFFOpen(str(path3).encode(), b"w")
    sf = lambda tag, val: lib.TIFFSetField(
        ctypes.c_void_p(t), ctypes.c_uint32(tag), ctypes.c_int(val))
    for tag, val in ((256, 64), (257, 48), (258, 8), (259, 7), (262, 6),
                     (277, 3), (278, 16), (284, 1)):
        sf(tag, val)
    # pseudo-tag JPEGCOLORMODE: let libtiff accept RGB scanline input
    lib.TIFFSetField(ctypes.c_void_p(t), ctypes.c_uint32(65538),
                     ctypes.c_int(1))
    for y in range(48):
        assert lib.TIFFWriteScanline(
            ctypes.c_void_p(t), rgb[y].tobytes(), y, 0) == 1
    lib.TIFFClose(ctypes.c_void_p(t))
    data = path3.read_bytes()
    got = decode_tiff(data)
    assert got.shape == (48, 64, 3)
    tables, segs = segments(data)
    y = 0
    for o, c in segs:
        px = decode_baseline_jpeg(_merge_jpeg_tables(tables, data[o:o + c]))
        n = min(16, 48 - y)
        assert np.array_equal(got[y:y + n], px[:n, :64])
        y += n
    d = np.abs(got - rgb.astype(np.float64))
    assert d.mean() < 6 and d.max() < 48  # lossy + 4:2:0 subsample bound


def test_unsupported_and_malformed():
    img = _gradient(4, 4)
    data = encode_tiff(img)
    with pytest.raises(ValueError, match="magic"):
        decode_tiff(b"XXXX" + data[4:])
    # old-style JPEG (compression 6, deprecated since TIFF 6.0) is the
    # one remaining codec gap -> honest NotImplementedError
    jp = bytearray(data)
    at = data.index(struct.pack("<HHI", 259, 3, 1))
    jp[at + 8 : at + 10] = struct.pack("<H", 6)
    with pytest.raises(NotImplementedError, match="JPEG"):
        decode_tiff(bytes(jp))
    # truncated strip
    with pytest.raises(ValueError):
        decode_tiff(data[:20])
