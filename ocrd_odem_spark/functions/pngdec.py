"""Minimal PNG decoder in pure numpy + stdlib zlib.

A standalone reference codec beside ``functions/jpegdec.py``; no query,
job or benchmark decodes pixels.

Scope: the complete static-PNG format — color types 0 (gray), 2 (RGB),
3 (palette), 4 (gray+alpha), 6 (RGBA) at every legal bit depth
(1/2/4-bit packed samples — bitonal archive scans! — 8-bit, and 16-bit
scaled to the 0-255 float range), all five scanline filters
(None/Sub/Up/Average/Paeth), and both interlace methods (progressive
Adam7 decodes its seven independently-filtered passes).  Malformed
payloads raise ``ValueError``.
Reference tie-in: the reference's workers decode page images through PIL
(``lib/odem/processing/image.py:37-54``).

Performance note: rows whose filter has a horizontal dependency
(Sub/Average/Paeth) unfilter in a per-pixel loop — right for
fixture-scale payloads, not for production decode.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# channels per color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 pass grid: (x_start, x_step, y_start, y_step) per pass
_ADAM7 = [
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
]


def _unfilter_samples(raw: bytes, off: int, h: int, w: int, nch: int,
                      depth: int) -> tuple[np.ndarray, int]:
    """Unfilter ``h`` byte-padded scanlines starting at ``raw[off]`` into
    an integer sample array (h, w, nch); returns (samples, bytes_used)."""
    stride = (w * nch * depth + 7) // 8
    fu = max(1, (nch * depth) // 8)  # spec "bpp": filter unit, >= 1 byte
    need = h * (stride + 1)
    if off + need > len(raw):
        raise ValueError("truncated image data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        base = off + y * (stride + 1)
        f = raw[base]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=base + 1
        ).copy()
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up — vectorized (no horizontal dependency)
            cur = (line.astype(np.int32) + prev).astype(np.uint8)
        elif f in (1, 3, 4):  # Sub / Average / Paeth — sequential in x
            cur = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(cur[x - fu]) if x >= fu else 0
                if f == 1:
                    v = line[x] + a
                elif f == 3:
                    v = line[x] + ((a + int(prev[x])) >> 1)
                else:
                    c = int(prev[x - fu]) if x >= fu else 0
                    v = line[x] + _paeth(a, int(prev[x]), c)
                cur[x] = v & 0xFF
        else:
            raise ValueError(f"invalid scanline filter {f}")
        out[y] = cur
        prev = cur
    if depth == 16:  # big-endian sample pairs
        samples = out.view(">u2").reshape(h, w, nch).astype(np.int64)
    elif depth < 8:  # MSB-first packed samples
        bits = np.unpackbits(out, axis=1)[:, : w * depth]
        samples = (
            bits.reshape(h, w, depth) @ (1 << np.arange(depth - 1, -1, -1))
        )[..., None].astype(np.int64)
    else:
        samples = out.reshape(h, w, nch).astype(np.int64)
    return samples, need


def decode_png(data: bytes) -> np.ndarray:
    """Decode PNG bytes -> float64 array: (H, W) gray or (H, W, C)."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG payload (missing signature)")
    pos = 8
    ihdr = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(data):
        length = int.from_bytes(data[pos : pos + 4], "big")
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("malformed PLTE")
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, ct, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"invalid interlace method {interlace}")
    if ct not in _CHANNELS:
        raise ValueError(f"invalid PNG color type {ct}")
    valid_depths = (1, 2, 4, 8, 16) if ct == 0 else (
        (1, 2, 4, 8) if ct == 3 else (8, 16)
    )
    if depth not in valid_depths:
        raise ValueError(f"invalid bit depth {depth} for color type {ct}")
    if ct == 3 and palette is None:
        raise ValueError("palette color type without PLTE")
    nch = _CHANNELS[ct]

    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:  # truncated/corrupt stream or bad Adler-32
        raise ValueError(f"corrupt PNG zlib stream: {exc}") from None

    if interlace == 0:
        samples, used = _unfilter_samples(raw, 0, h, w, nch, depth)
    else:  # Adam7: seven independently-filtered sub-images, concatenated
        samples = np.zeros((h, w, nch), dtype=np.int64)
        used = 0
        for x0, dx, y0, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:  # pass empty at this image size
                continue
            sub, n = _unfilter_samples(raw, used, hp, wp, nch, depth)
            used += n
            samples[y0::dy, x0::dx] = sub
    if used != len(raw):
        raise ValueError("trailing bytes after image data")

    if ct == 3:
        return palette[samples[..., 0]].astype(np.float64)
    if depth == 16:  # scale to the 0-255 float range exactly
        px = samples.astype(np.float64) / 257.0
    elif depth < 8:
        px = samples.astype(np.float64) * (255.0 / ((1 << depth) - 1))
    else:
        px = samples.astype(np.float64)
    if nch == 1:
        return px[..., 0]
    return px


def decode_png_gray(data: bytes) -> np.ndarray:
    """Decode to the 2D luma plane the feature stage consumes (alpha is
    dropped; palette resolves to RGB first)."""
    img = decode_png(data)
    if img.ndim == 2:
        return img
    if img.shape[2] == 2:  # gray + alpha
        return img[..., 0]
    rgb = img[..., :3]
    return rgb @ np.array([0.299, 0.587, 0.114])
