"""Baseline-JPEG decoder round-trip tests.

The helper encoder below emits spec-conformant baseline JPEG (SOF0) with a
near-lossless quantization table, custom single-length Huffman tables and
optional 4:2:0 subsampling / restart markers; the decoder under test
(``functions/jpegdec.py``) must reproduce the source image within the
quantization error bound.  Encoder and decoder share no code — the encoder
writes markers and bits directly.
"""

from __future__ import annotations

import numpy as np
import pytest

from ocrd_odem_spark.functions.jpegdec import decode_baseline_jpeg, decode_jpeg_gray

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_T = np.array([
    [
        (np.sqrt(0.125) if u == 0 else 0.5) * np.cos((2 * x + 1) * u * np.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
])


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        while self.nbits:
            self.write(1, 1)  # pad with 1-bits


# one shared Huffman table: 255 symbols at 8 bits, symbol 255 at 9 bits
_COUNTS = [0] * 7 + [255, 1] + [0] * 7
_SYMBOLS = bytes(range(256))


def _code(sym: int) -> tuple[int, int]:
    return (sym, 8) if sym < 255 else (510, 9)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(bw: _BitWriter, block: np.ndarray, pred: int) -> int:
    coefs = (_T @ (block - 128.0) @ _T.T).round().astype(int)
    zz = [int(coefs.reshape(-1)[ZIGZAG[k]]) for k in range(64)]
    dc = zz[0]
    diff = dc - pred
    s = _category(diff)
    c, n = _code(s)
    bw.write(c, n)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            c, n = _code(0xF0)  # ZRL
            bw.write(c, n)
            run -= 16
        v = zz[k]
        s = _category(v)
        c, n = _code((run << 4) | s)
        bw.write(c, n)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        c, n = _code(0x00)  # EOB
        bw.write(c, n)
    return dc


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def encode_jpeg(img: np.ndarray, subsample: bool = False, restart: int = 0) -> bytes:
    """Baseline encoder: grayscale (H,W) or RGB (H,W,3); quant table all
    ones (near-lossless); 4:2:0 when ``subsample`` (color only)."""
    color = img.ndim == 3
    h, w = img.shape[:2]
    if color:
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [y, cb, cr]
        hv = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1), (1, 1), (1, 1)]
    else:
        comps = [img.astype(np.float64)]
        hv = [(1, 1)]

    out = bytearray(b"\xff\xd8")
    qt = bytes([0]) + bytes([1] * 64)  # Pq=0 Tq=0, all-ones table
    out += _seg(0xDB, qt)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([len(comps)])
    for ci, (ch, cv) in enumerate(hv):
        sof += bytes([ci + 1, (ch << 4) | cv, 0])
    out += _seg(0xC0, sof)
    for tc in (0, 1):
        out += _seg(0xC4, bytes([(tc << 4) | 0]) + bytes(_COUNTS) + _SYMBOLS)
    if restart:
        out += _seg(0xDD, restart.to_bytes(2, "big") + b"")
    sos = bytes([len(comps)])
    for ci in range(len(comps)):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    hmax = max(x for x, _ in hv)
    vmax = max(x for _, x in hv)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for (ch, cv), plane in zip(hv, comps):
        if (ch, cv) != (hmax, vmax):
            # box-downsample chroma to its sampling grid
            fy, fx = vmax // cv, hmax // ch
            py = -(-h // fy) * fy
            px = -(-w // fx) * fx
            pad = np.pad(plane, ((0, py - h), (0, px - w)), mode="edge")
            plane = pad.reshape(py // fy, fy, px // fx, fx).mean(axis=(1, 3))
        th = mcuy * cv * 8
        tw = mcux * ch * 8
        plane = np.pad(
            plane,
            ((0, th - plane.shape[0]), (0, tw - plane.shape[1])),
            mode="edge",
        )
        planes.append(plane)

    bw = _BitWriter()
    preds = [0] * len(comps)
    n_mcu = 0
    n_rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and n_mcu and n_mcu % restart == 0:
                bw.flush()
                out += bw.out
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + (n_rst % 8)])
                n_rst += 1
                preds = [0] * len(comps)
            for ci, (ch, cv) in enumerate(hv):
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        block = planes[ci][y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = _encode_block(bw, block, preds[ci])
            n_mcu += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((yy * 7 + xx * 3) % 251).astype(np.float64)


def test_grayscale_roundtrip():
    img = _gradient(24, 33)  # non-multiple-of-8 dims exercise edge crop
    got = decode_baseline_jpeg(encode_jpeg(img))
    assert got.shape == (24, 33)
    assert np.abs(got - img).max() <= 3.0  # all-ones quant: rounding only


def test_color_roundtrip_444():
    h, w = 16, 16
    img = np.stack(
        [_gradient(h, w), _gradient(h, w)[::-1], np.full((h, w), 64.0)], axis=-1
    )
    got = decode_baseline_jpeg(encode_jpeg(img))
    assert got.shape == (h, w, 3)
    assert np.abs(got - img).max() <= 6.0  # color transform + rounding


def test_color_roundtrip_420_subsampled():
    h, w = 20, 28  # odd MCU coverage: 2 x 2 MCUs of 16x16
    img = np.stack(
        [_gradient(h, w), np.full((h, w), 100.0), np.full((h, w), 180.0)], axis=-1
    )
    got = decode_baseline_jpeg(encode_jpeg(img, subsample=True))
    assert got.shape == (h, w, 3)
    # chroma is constant, so 4:2:0 loses nothing; luma bound as grayscale
    assert np.abs(got - img).max() <= 6.0


def test_restart_markers():
    img = _gradient(32, 32)
    data = encode_jpeg(img, restart=2)
    assert any(
        data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
        for i in range(len(data) - 1)
    )
    got = decode_baseline_jpeg(data)
    assert np.abs(got - img).max() <= 3.0


def test_arithmetic_coding_rejected_honestly():
    """Progressive (SOF2) decodes natively; the honest
    NotImplementedError gap starts at arithmetic coding (SOF9+)."""
    img = _gradient(8, 8)
    data = bytearray(encode_jpeg(img))
    i = data.index(b"\xff\xc0")
    data[i + 1] = 0xC9  # arithmetic-coded sequential SOF
    with pytest.raises(NotImplementedError, match="non-baseline"):
        decode_baseline_jpeg(bytes(data))


def test_luma_helper():
    img = np.stack([np.full((8, 8), 255.0), np.zeros((8, 8)), np.zeros((8, 8))], -1)
    gray = decode_jpeg_gray(encode_jpeg(img))
    # pure red -> luma ~0.299*255
    assert abs(gray.mean() - 0.299 * 255) < 8
