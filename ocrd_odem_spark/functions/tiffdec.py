"""Minimal baseline-TIFF decoder in pure numpy.

A standalone reference codec beside ``functions/jpegdec.py``; no query,
job or benchmark decodes pixels.  TIFF is the master format of
digitised-archive holdings (the reference's corpus stores page scans as
TIFF masters; its workers decode them through PIL,
``lib/odem/processing/image.py:37-54``).

Scope, honestly stated: single-image baseline TIFF, both byte orders,
strip- AND tile-organised (tiles stitch onto a padded canvas, every
codec below applies per tile), with

* compression 1 (none), 2 (Modified-Huffman RLE), 3 (CCITT G3/T.4,
  1D and — via T4Options bit 0 — mixed 1D/2D lines, EOL + fill-bit
  tolerant), 4 (CCITT G4/T.6 — the canonical bitonal archive-scan
  codec, full 2D MMR with pass/horizontal/vertical modes and the
  complete T.4 white/black/extended run tables), 5 (LZW with TIFF's
  early-change code widths), 7 (JPEG-in-TIFF: abbreviated per-segment
  streams + shared JPEGTables, decoded by ``functions/jpegdec.py``),
  8/32946 (Deflate via stdlib zlib) and 32773 (PackBits),
* Predictor 2 (horizontal differencing) for 8- and 16-bit samples,
* photometric 0/1 (bilevel+gray, WhiteIsZero inverted), 2 (RGB),
  3 (palette via ColorMap),
* 1-bit packed bilevel rows, 8-bit, and 16-bit samples.

G4, G3 (both line modes), MH-RLE and LZW are cross-checked bit-exactly
against system libtiff (every MH run length 0..2560 individually, plus
noise stress) in ``tests/test_tiff_decode.py``; JPEG-in-TIFF plumbing
is exact against per-segment stream decode with the codec pinned by
the JPEG test suite.  Old-style JPEG (compression 6) and G3
uncompressed mode raise ``NotImplementedError`` like every other codec
gap.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_COMPRESSION_NONE = 1
_COMPRESSION_RLE = 2
_COMPRESSION_G3 = 3
_COMPRESSION_G4 = 4
_COMPRESSION_LZW = 5
_COMPRESSION_DEFLATE = (8, 32946)  # Adobe + legacy code point
_COMPRESSION_JPEG = 7
_COMPRESSION_PACKBITS = 32773
_UNSUPPORTED_COMPRESSION = {
    6: "old JPEG",
}

# tag ids
_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMPRESSION, _T_PHOTOMETRIC = 258, 259, 262
_T_STRIP_OFFSETS, _T_SAMPLES, _T_ROWS_PER_STRIP = 273, 277, 278
_T_STRIP_COUNTS, _T_PREDICTOR, _T_COLORMAP = 279, 317, 320
_T_T4OPTIONS = 292
_T_TILE_WIDTH, _T_TILE_LENGTH = 322, 323
_T_TILE_OFFSETS, _T_TILE_COUNTS = 324, 325
_T_JPEG_TABLES = 347

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i"}


def _read_ifd(data: bytes, endian: str):
    """Parse the first IFD -> {tag: [values]}."""
    (off,) = struct.unpack(endian + "I", data[4:8])
    if off + 2 > len(data):
        raise ValueError("truncated TIFF: IFD offset out of range")
    (n,) = struct.unpack(endian + "H", data[off : off + 2])
    tags: dict[int, list] = {}
    for i in range(n):
        base = off + 2 + i * 12
        ent = data[base : base + 12]
        if len(ent) != 12:
            raise ValueError("truncated TIFF IFD")
        tag, typ, cnt = struct.unpack(endian + "HHI", ent[:8])
        if typ not in _TYPE_SIZES:
            continue  # private/unknown type: skip per spec
        nbytes = _TYPE_SIZES[typ] * cnt
        raw = ent[8:12] if nbytes <= 4 else None
        if raw is None:
            (voff,) = struct.unpack(endian + "I", ent[8:12])
            raw = data[voff : voff + nbytes]
            if len(raw) != nbytes:
                raise ValueError(f"truncated TIFF value for tag {tag}")
        if typ in _TYPE_FMT:
            vals = list(
                struct.unpack(endian + _TYPE_FMT[typ] * cnt, raw[:nbytes])
            )
        elif typ in (5, 10):  # rationals
            parts = struct.unpack(endian + ("I" if typ == 5 else "i") * 2 * cnt, raw)
            vals = [parts[2 * k] / (parts[2 * k + 1] or 1) for k in range(cnt)]
        else:
            vals = [raw[:nbytes]]
        tags[tag] = vals
    return tags


def _unpackbits(src: bytes, expect: int) -> bytes:
    """Apple PackBits decode to exactly ``expect`` bytes."""
    out = bytearray()
    i = 0
    while i < len(src) and len(out) < expect:
        n = src[i]
        i += 1
        if n < 128:  # literal run of n+1
            out += src[i : i + n + 1]
            if i + n + 1 > len(src):
                raise ValueError("truncated PackBits literal")
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(src):
                raise ValueError("truncated PackBits repeat")
            out += bytes([src[i]]) * (257 - n)
            i += 1
        # n == 128: noop
    if len(out) < expect:
        raise ValueError("PackBits underrun")
    return bytes(out[:expect])


def _lzw_decode(src: bytes, expect: int) -> bytes:
    """TIFF-flavour LZW: MSB-first codes, 9→12-bit growth with the
    early-change convention (width bumps when the table reaches
    ``2^width - 1`` entries — one code earlier than vanilla LZW; the
    threshold is pinned empirically against libtiff-written strips,
    see ``tests/test_tiff_decode.py``)."""
    clear_code, eoi_code = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    table = list(base)
    width = 9
    prev = None
    pos = 0
    total = len(src) * 8
    while pos + width <= total and len(out) < expect:
        b0, b1 = pos >> 3, (pos + width + 7) >> 3
        chunk = int.from_bytes(src[b0:b1], "big")
        code = (chunk >> (b1 * 8 - pos - width)) & ((1 << width) - 1)
        pos += width
        if code == eoi_code:
            break
        if code == clear_code:
            table = list(base)
            width = 9
            prev = None
            continue
        if prev is None:
            if code >= 256:
                raise ValueError("corrupt LZW stream: non-literal first code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK: code references its own entry
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream: code beyond table")
        out += entry
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    if len(out) < expect:
        raise ValueError("LZW strip underrun")
    return bytes(out[:expect])


# --- CCITT G4 (T.6) ---------------------------------------------------
# Modified Huffman run tables from T.4 (terminating 0-63, makeup
# 64-1728 per color, extended makeup 1792-2560 shared).  Every entry is
# pinned empirically: tests sweep each run length through libtiff's G4
# encoder and require bit-exact decode.

_G4_WHITE_CODES = (
    "00110101 000111 0111 1000 1011 1100 1110 1111 10011 10100 00111"
    " 01000 001000 000011 110100 110101 101010 101011 0100111 0001100"
    " 0001000 0010111 0000011 0000100 0101000 0101011 0010011 0100100"
    " 0011000 00000010 00000011 00011010 00011011 00010010 00010011"
    " 00010100 00010101 00010110 00010111 00101000 00101001 00101010"
    " 00101011 00101100 00101101 00000100 00000101 00001010 00001011"
    " 01010010 01010011 01010100 01010101 00100100 00100101 01011000"
    " 01011001 01011010 01011011 01001010 01001011 00110010 00110011"
    " 00110100"
)
_G4_WHITE_MAKEUP = (
    "11011 10010 010111 0110111 00110110 00110111 01100100 01100101"
    " 01101000 01100111 011001100 011001101 011010010 011010011"
    " 011010100 011010101 011010110 011010111 011011000 011011001"
    " 011011010 011011011 010011000 010011001 010011010 011000"
    " 010011011"
)
_G4_BLACK_CODES = (
    "0000110111 010 11 10 011 0011 0010 00011 000101 000100 0000100"
    " 0000101 0000111 00000100 00000111 000011000 0000010111 0000011000"
    " 0000001000 00001100111 00001101000 00001101100 00000110111"
    " 00000101000 00000010111 00000011000 000011001010 000011001011"
    " 000011001100 000011001101 000001101000 000001101001 000001101010"
    " 000001101011 000011010010 000011010011 000011010100 000011010101"
    " 000011010110 000011010111 000001101100 000001101101 000011011010"
    " 000011011011 000001010100 000001010101 000001010110 000001010111"
    " 000001100100 000001100101 000001010010 000001010011 000000100100"
    " 000000110111 000000111000 000000100111 000000101000 000001011000"
    " 000001011001 000000101011 000000101100 000001011010 000001100110"
    " 000001100111"
)
_G4_BLACK_MAKEUP = (
    "0000001111 000011001000 000011001001 000001011011 000000110011"
    " 000000110100 000000110101 0000001101100 0000001101101 0000001001010"
    " 0000001001011 0000001001100 0000001001101 0000001110010"
    " 0000001110011 0000001110100 0000001110101 0000001110110"
    " 0000001110111 0000001010010 0000001010011 0000001010100"
    " 0000001010101 0000001011010 0000001011011 0000001100100"
    " 0000001100101"
)
_G4_EXT_MAKEUP = (
    "00000001000 00000001100 00000001101 000000010010 000000010011"
    " 000000010100 000000010101 000000010110 000000010111 000000011100"
    " 000000011101 000000011110 000000011111"
)


def _g4_tables():
    def invert(codes, runs):
        return {
            (len(b), int(b, 2)): r for r, b in zip(runs, codes.split())
        }

    ext = invert(_G4_EXT_MAKEUP, range(1792, 2561, 64))
    white = invert(_G4_WHITE_CODES, range(64))
    white.update(invert(_G4_WHITE_MAKEUP, range(64, 1729, 64)))
    white.update(ext)
    black = invert(_G4_BLACK_CODES, range(64))
    black.update(invert(_G4_BLACK_MAKEUP, range(64, 1729, 64)))
    black.update(ext)
    modes = {
        (1, 0b1): 0, (3, 0b011): 1, (3, 0b010): -1, (3, 0b001): "H",
        (4, 0b0001): "P", (6, 0b000011): 2, (6, 0b000010): -2,
        (7, 0b0000011): 3, (7, 0b0000010): -3,
    }
    return white, black, modes


_G4_WHITE, _G4_BLACK, _G4_MODES = _g4_tables()


class _G4Bits:
    """MSB-first bit reader with prefix-code lookup."""

    __slots__ = ("d", "pos", "n")

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.n = len(data) * 8

    def take(self, table, maxlen=14):
        v = 0
        ln = 0
        while ln < maxlen:
            if self.pos >= self.n:
                raise ValueError("truncated G4 stream")
            v = (v << 1) | (
                (self.d[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
            )
            self.pos += 1
            ln += 1
            hit = table.get((ln, v))
            if hit is not None:
                return hit
        raise ValueError("bad G4 code")


def _g4_run(bits: _G4Bits, table) -> int:
    """One MH run: zero or more makeup codes then a terminating code."""
    total = 0
    while True:
        r = bits.take(table)
        total += r
        if r < 64:
            return total


def _2d_row(bits: _G4Bits, ref: list[int], width: int) -> list[int]:
    """One 2D-coded line (T.6, and T.4 2D lines which use the identical
    pass/horizontal/vertical modes) against the reference line's changing
    elements.  Returns the line's own changing-element positions."""
    cur: list[int] = []
    a0 = -1
    color = 0  # 0 white, 1 black
    ri = 0  # monotone cursor into ref (a0 never moves left)
    while a0 < width:
        while ri < len(ref) and ref[ri] <= a0:
            ri += 1
        i = ri if (ri & 1) == color else ri + 1
        b1 = ref[i] if i < len(ref) else width
        b2 = ref[i + 1] if i + 1 < len(ref) else width
        mode = bits.take(_G4_MODES, maxlen=7)
        prev_a0 = a0
        if mode == "P":
            a0 = b2
        elif mode == "H":
            a0s = max(a0, 0)
            r1 = _g4_run(bits, _G4_WHITE if color == 0 else _G4_BLACK)
            r2 = _g4_run(bits, _G4_BLACK if color == 0 else _G4_WHITE)
            a1 = a0s + r1
            cur.append(min(a1, width))
            cur.append(min(a1 + r2, width))
            a0 = a1 + r2
        else:  # vertical: mode is the signed offset from b1
            a1 = b1 + mode
            cur.append(min(max(a1, 0), width))
            a0 = a1
            color ^= 1
        if a0 <= prev_a0:  # valid T.4/T.6 has strictly increasing a0
            raise ValueError("corrupt G4 stream: stalled position")
    return cur


def _mh_1d_row(bits: _G4Bits, width: int) -> list[int]:
    """One 1D Modified-Huffman line: alternating white/black runs,
    starting white, until exactly ``width`` pixels are coded."""
    cur: list[int] = []
    pos = 0
    color = 0
    while pos < width:
        run = _g4_run(bits, _G4_WHITE if color == 0 else _G4_BLACK)
        pos += run
        if pos > width:
            raise ValueError("MH run overruns row width")
        cur.append(pos)
        color ^= 1
        if len(cur) > 2 * width + 4:  # corrupt stream of zero-runs
            raise ValueError("MH row never terminates")
    return cur


def _paint(rows: np.ndarray, y: int, cur: list[int], width: int) -> None:
    """Fill row ``y`` from changing-element positions (white leads)."""
    prev = 0
    c = 0
    for t in cur:
        if c:
            rows[y, prev:t] = 1
        c ^= 1
        prev = t
    if c:
        rows[y, prev:width] = 1


def _g4_decode(data: bytes, width: int, height: int) -> np.ndarray:
    """Decode a G4 strip to (height, width) uint8 with 0=white 1=black.

    Rows are coded as changing-element transitions against the previous
    row (pass / horizontal / vertical modes); the reference line for the
    first row is the imaginary all-white line.
    """
    bits = _G4Bits(data)
    rows = np.zeros((height, width), dtype=np.uint8)
    ref = [width, width, width]
    for y in range(height):
        cur = _2d_row(bits, ref, width)
        _paint(rows, y, cur, width)
        ref = cur + [width, width, width]
    return rows


def _try_eol(bits: _G4Bits) -> bool:
    """Consume one T.4 EOL (eleven-plus zeros then a one — extra zeros
    are fill bits, T4Options bit 2).  Restores the cursor and returns
    False when the bits there are not an EOL."""
    mark = bits.pos
    zeros = 0
    while bits.pos < bits.n:
        bit = (bits.d[bits.pos >> 3] >> (7 - (bits.pos & 7))) & 1
        bits.pos += 1
        if bit:
            if zeros >= 11:
                return True
            bits.pos = mark
            return False
        zeros += 1
    bits.pos = mark
    return False


def _g3_decode(
    data: bytes, width: int, height: int, opts: int
) -> np.ndarray:
    """Decode a CCITT G3 (T.4) strip.  1D lines are Modified-Huffman
    runs; with T4Options bit 0 each EOL carries a tag bit selecting 1D
    or 2D coding for the following line (2D lines use the same
    pass/horizontal/vertical modes as T.6).  EOLs are optional before
    pure-1D lines (TIFF class-F writers omit them); fill bits before an
    EOL are absorbed."""
    if opts & 2:
        raise NotImplementedError("G3 uncompressed mode")
    two_d = bool(opts & 1)
    bits = _G4Bits(data)
    rows = np.zeros((height, width), dtype=np.uint8)
    ref = [width, width, width]
    for y in range(height):
        saw_eol = _try_eol(bits)
        one_d = True
        if two_d:
            if not saw_eol:
                raise ValueError("G3 2D line without its EOL tag bit")
            if bits.pos >= bits.n:
                raise ValueError("truncated G3 stream")
            one_d = (
                (bits.d[bits.pos >> 3] >> (7 - (bits.pos & 7))) & 1
            ) == 1
            bits.pos += 1
        cur = _mh_1d_row(bits, width) if one_d else _2d_row(bits, ref, width)
        _paint(rows, y, cur, width)
        ref = cur + [width, width, width]
    return rows


def _rle_decode(data: bytes, width: int, height: int) -> np.ndarray:
    """Decode Modified-Huffman RLE (compression 2): pure 1D lines, each
    starting on a byte boundary, no EOLs."""
    bits = _G4Bits(data)
    rows = np.zeros((height, width), dtype=np.uint8)
    for y in range(height):
        bits.pos = (bits.pos + 7) & ~7
        cur = _mh_1d_row(bits, width)
        _paint(rows, y, cur, width)
    return rows


def _undo_predictor(samples: np.ndarray, depth: int) -> np.ndarray:
    """Predictor 2 (horizontal differencing): rows store per-sample
    deltas; reconstruct by modular cumsum along the row."""
    acc_dtype = np.uint8 if depth == 8 else np.uint16
    return np.cumsum(samples, axis=1, dtype=acc_dtype)


def _decompress_segment(
    seg: bytes, comp: int, expect: int, width: int, n_rows: int, t4opts: int
) -> bytes:
    """Decode one strip or tile's payload to exactly ``expect`` bytes of
    row-padded samples.  Fax codecs restart per segment with the segment's
    own width, per the TIFF spec."""
    if comp == _COMPRESSION_G4:
        return np.packbits(_g4_decode(seg, width, n_rows), axis=1).tobytes()
    if comp == _COMPRESSION_G3:
        return np.packbits(
            _g3_decode(seg, width, n_rows, t4opts), axis=1
        ).tobytes()
    if comp == _COMPRESSION_RLE:
        return np.packbits(_rle_decode(seg, width, n_rows), axis=1).tobytes()
    if comp == _COMPRESSION_PACKBITS:
        return _unpackbits(seg, expect)
    if comp == _COMPRESSION_LZW:
        return _lzw_decode(seg, expect)
    if comp in _COMPRESSION_DEFLATE:
        try:
            out = zlib.decompress(seg)
        except zlib.error as exc:
            raise ValueError(f"bad TIFF deflate strip: {exc}") from None
        if len(out) < expect:
            raise ValueError("deflate strip underrun")
        return out[:expect]
    if len(seg) < expect:
        raise ValueError("TIFF strip shorter than its rows")
    return seg[:expect]


def _merge_jpeg_tables(tables: bytes | None, seg: bytes) -> bytes:
    """Splice a TIFF JPEGTables stream (tag 347: SOI <tables> EOI) into
    an abbreviated per-strip/tile JPEG stream.  Tables inside the
    segment still win — the decoder applies later DQT/DHT over earlier
    ones."""
    if seg[:2] != b"\xff\xd8":
        raise ValueError("JPEG-in-TIFF segment missing SOI")
    if not tables:
        return seg
    if tables[:2] != b"\xff\xd8":
        raise ValueError("bad JPEGTables stream")
    body = tables[2:]
    if body.endswith(b"\xff\xd9"):
        body = body[:-2]
    return b"\xff\xd8" + body + seg[2:]


def _decode_jpeg_tiff(
    data, tags, w, h, photo, spp, depth, tiled, offsets, counts,
    rows_per_strip,
):
    """Compression 7: every strip/tile is an (abbreviated) JPEG stream;
    shared tables come from tag 347.  The JPEG codec already yields
    display-space pixels (gray, or RGB via the YCbCr transform that
    photometric 6 declares), so this path bypasses the raw-sample
    assembly entirely."""
    from .jpegdec import decode_baseline_jpeg

    if depth != 8:
        raise NotImplementedError("JPEG-in-TIFF requires 8-bit samples")
    if photo == 2:
        raise NotImplementedError(
            "JPEG-in-TIFF without the YCbCr transform (photometric 2)"
        )
    if photo not in (0, 1, 6):
        raise NotImplementedError(f"JPEG-in-TIFF photometric {photo}")
    tables = tags.get(_T_JPEG_TABLES, [None])[0]
    if isinstance(tables, list):
        tables = bytes(tables)
    color = spp == 3
    out = np.zeros((h, w, 3) if color else (h, w), dtype=np.float64)
    if tiled:
        tw = tags.get(_T_TILE_WIDTH, [0])[0]
        th = tags.get(_T_TILE_LENGTH, [0])[0]
        if tw <= 0 or th <= 0 or tw % 16 or th % 16:
            raise ValueError("bad TIFF tile geometry")
        across = (w + tw - 1) // tw
        down = (h + th - 1) // th
        if len(offsets) < across * down:
            raise ValueError("TIFF tiles do not cover the image")
        for idx in range(across * down):
            o, c = offsets[idx], counts[idx]
            seg = data[o : o + c]
            if len(seg) != c:
                raise ValueError("truncated TIFF tile")
            px = decode_baseline_jpeg(_merge_jpeg_tables(tables, seg))
            if (px.ndim == 3) != color:
                raise ValueError("JPEG component count contradicts IFD")
            ty, tx = (idx // across) * th, (idx % across) * tw
            ch = min(th, h - ty)
            cw = min(tw, w - tx)
            out[ty : ty + ch, tx : tx + cw] = px[:ch, :cw]
    else:
        y = 0
        for o, c in zip(offsets, counts):
            seg = data[o : o + c]
            if len(seg) != c:
                raise ValueError("truncated TIFF strip")
            n_rows = min(rows_per_strip, h - y)
            px = decode_baseline_jpeg(_merge_jpeg_tables(tables, seg))
            if (px.ndim == 3) != color:
                raise ValueError("JPEG component count contradicts IFD")
            if px.shape[0] < n_rows or px.shape[1] < w:
                raise ValueError("JPEG strip smaller than its rows")
            out[y : y + n_rows] = px[:n_rows, :w]
            y += n_rows
        if y < h:
            raise ValueError("TIFF strips cover fewer rows than ImageLength")
    if photo == 0:
        out = 255.0 - out
    return out


def decode_tiff(data: bytes) -> np.ndarray:
    """Decode TIFF bytes -> float64 array: (H, W) gray or (H, W, C)."""
    if data[:4] == b"II*\x00":
        endian = "<"
    elif data[:4] == b"MM\x00*":
        endian = ">"
    else:
        raise ValueError("not a TIFF payload (missing magic)")
    tags = _read_ifd(data, endian)
    tiled = _T_TILE_WIDTH in tags or _T_TILE_LENGTH in tags
    try:
        w = tags[_T_WIDTH][0]
        h = tags[_T_HEIGHT][0]
        if tiled:
            offsets = tags[_T_TILE_OFFSETS]
            counts = tags[_T_TILE_COUNTS]
        else:
            offsets = tags[_T_STRIP_OFFSETS]
            counts = tags[_T_STRIP_COUNTS]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag {exc}") from None
    comp = tags.get(_T_COMPRESSION, [1])[0]
    photo = tags.get(_T_PHOTOMETRIC, [1])[0]
    spp = tags.get(_T_SAMPLES, [1])[0]
    bits = tags.get(_T_BITS, [1] * spp)
    rows_per_strip = tags.get(_T_ROWS_PER_STRIP, [h])[0] or h
    predictor = tags.get(_T_PREDICTOR, [1])[0]
    if len(set(bits)) != 1:
        raise NotImplementedError("mixed per-sample bit depths")
    depth = bits[0]
    if depth not in (1, 8, 16):
        raise NotImplementedError(f"{depth}-bit TIFF samples unsupported")
    if comp in _UNSUPPORTED_COMPRESSION:
        raise NotImplementedError(
            f"TIFF compression {_UNSUPPORTED_COMPRESSION[comp]} needs a "
            "codec library"
        )
    if comp not in (
        _COMPRESSION_NONE,
        _COMPRESSION_RLE,
        _COMPRESSION_G3,
        _COMPRESSION_G4,
        _COMPRESSION_LZW,
        _COMPRESSION_JPEG,
        _COMPRESSION_PACKBITS,
    ) and comp not in _COMPRESSION_DEFLATE:
        raise ValueError(f"unknown TIFF compression {comp}")
    fax = (_COMPRESSION_RLE, _COMPRESSION_G3, _COMPRESSION_G4)
    if comp in fax and (depth != 1 or spp != 1):
        raise ValueError("CCITT compression requires bilevel single-sample")
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor} unsupported")
    if predictor == 2 and depth == 1:
        raise ValueError("horizontal predictor on bilevel samples")
    if len(offsets) != len(counts):
        raise ValueError("strip offset/count mismatch")
    t4opts = tags.get(_T_T4OPTIONS, [0])[0]

    if comp == _COMPRESSION_JPEG:
        return _decode_jpeg_tiff(
            data, tags, w, h, photo, spp, depth, tiled, offsets, counts,
            rows_per_strip,
        )

    if tiled:
        # TileWidth/TileLength are multiples of 16 per spec, so every
        # tile row is byte-aligned at any depth.  Edge tiles are coded
        # at full tile size; the canvas is cropped to (h, w) at the end.
        tw = tags.get(_T_TILE_WIDTH, [0])[0]
        th = tags.get(_T_TILE_LENGTH, [0])[0]
        if tw <= 0 or th <= 0 or tw % 16 or th % 16:
            raise ValueError("bad TIFF tile geometry")
        across = (w + tw - 1) // tw
        down = (h + th - 1) // th
        if len(offsets) < across * down:
            raise ValueError("TIFF tiles do not cover the image")
        trow_bytes = (tw * spp * depth + 7) // 8
        expect = th * trow_bytes
        if depth == 1:
            canvas1 = np.zeros((down * th, across * tw), dtype=np.uint8)
        else:
            canvas = np.zeros(
                (down * th, across * tw, spp),
                dtype=np.uint8 if depth == 8 else np.uint16,
            )
        for idx in range(across * down):
            o, c = offsets[idx], counts[idx]
            seg = data[o : o + c]
            if len(seg) != c:
                raise ValueError("truncated TIFF tile")
            seg = _decompress_segment(seg, comp, expect, tw, th, t4opts)
            tgrid = np.frombuffer(seg, dtype=np.uint8).reshape(
                th, trow_bytes
            )
            ty, tx = (idx // across) * th, (idx % across) * tw
            if depth == 1:
                canvas1[ty : ty + th, tx : tx + tw] = np.unpackbits(
                    tgrid, axis=1
                )[:, :tw]
            else:
                if depth == 16:
                    tile = tgrid.view(endian + "u2").reshape(th, tw, spp)
                else:
                    tile = tgrid.reshape(th, tw, spp)
                if predictor == 2:  # differencing resets per tile row
                    tile = _undo_predictor(tile, depth)
                canvas[ty : ty + th, tx : tx + tw] = tile
        if depth == 1:
            bits_arr = canvas1[:h, :w]
        else:
            ints = canvas[:h, :w]
    else:
        # rows are byte-padded per spec; strips concatenate whole rows
        row_bytes = (w * spp * depth + 7) // 8
        raw = bytearray()
        remaining = h
        for o, c in zip(offsets, counts):
            seg = data[o : o + c]
            if len(seg) != c:
                raise ValueError("truncated TIFF strip")
            n_rows = min(rows_per_strip, remaining)
            expect = n_rows * row_bytes
            raw += _decompress_segment(seg, comp, expect, w, n_rows, t4opts)
            remaining -= n_rows
        if remaining > 0:
            raise ValueError("TIFF strips cover fewer rows than ImageLength")
        grid = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, row_bytes)
        if depth == 1:
            bits_arr = np.unpackbits(grid, axis=1)[:, :w]
        elif depth == 16:
            ints = grid.view(endian + "u2").reshape(h, w, spp)
            if predictor == 2:
                ints = _undo_predictor(ints, depth)
        else:
            ints = grid.reshape(h, w, spp)
            if predictor == 2:
                ints = _undo_predictor(ints, depth)

    if depth == 1:
        px = bits_arr.astype(np.float64) * 255.0
        if photo == 0:  # WhiteIsZero: 0 = white
            px = 255.0 - px
        return px
    samples = ints.astype(np.float64)
    if depth == 16:
        samples = samples / 257.0
    if photo == 3:  # palette: ColorMap holds 16-bit R,G,B planes
        cmap = tags.get(_T_COLORMAP)
        if cmap is None:
            raise ValueError("palette TIFF without ColorMap")
        n = 1 << depth
        table = np.array(cmap, dtype=np.float64).reshape(3, n).T / 257.0
        return table[samples[..., 0].astype(np.int64)]
    if photo == 0:  # inverted gray
        samples = 255.0 - samples
    if spp == 1:
        return samples[..., 0]
    return samples


def decode_tiff_gray(data: bytes) -> np.ndarray:
    """Decode to the 2D luma plane the feature stage consumes (alpha/extra
    samples dropped; palette resolves to RGB first)."""
    img = decode_tiff(data)
    if img.ndim == 2:
        return img
    if img.shape[2] < 3:
        return img[..., 0]
    rgb = img[..., :3]
    return rgb @ np.array([0.299, 0.587, 0.114])
