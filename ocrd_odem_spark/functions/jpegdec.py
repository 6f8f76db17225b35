"""Minimal JPEG decoder in pure numpy.

A standalone reference codec: no query, job or benchmark decodes pixels
(media spans are opaque page refs, see ``functions/multimodal.py``).  It is
kept for block features from JPEG DCT coefficients (the Frequency-Store
line of work in PAPERS.md), which would need its own workload to be wired
in.

Scope, honestly stated: baseline sequential DCT (SOF0/SOF1) AND
progressive DCT (SOF2: spectral selection + successive approximation with
EOB runs — the dominant real-world scan format), 8-bit precision,
grayscale or 3-component YCbCr with any sampling factors up to 4:2:0,
restart markers.  Arithmetic coding, lossless/hierarchical SOFs, 12-bit
and CMYK payloads raise ``NotImplementedError``; malformed payloads raise
``ValueError``.  Reference tie-in: the reference's workers
decode any page image through PIL (``lib/odem/processing/image.py:37-54``).

Performance note: entropy decode is a Python bit loop — right for fixture-
scale payloads, not for production decode.
"""

from __future__ import annotations

import numpy as np

_ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# orthonormal 8-point DCT-II basis: spatial = T.T @ coeffs @ T
_DCT_T = np.array([
    [
        (np.sqrt(0.125) if u == 0 else 0.5)
        * np.cos((2 * x + 1) * u * np.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
])


class _BitReader:
    """MSB-first reader over entropy-coded segments with 0xFF00 unstuffing;
    restart markers reset alignment via ``sync_restart``."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0

    def read_bit(self) -> int:
        d = self.data
        p = self.pos
        if p >= len(d):
            raise ValueError("truncated entropy data")
        if d[p] == 0xFF:
            if p + 1 >= len(d):
                raise ValueError("truncated entropy data")
            nxt = d[p + 1]
            if nxt == 0x00:
                pass  # stuffed literal 0xFF
            else:
                raise _MarkerHit(nxt)
        b = (d[p] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 2 if d[p] == 0xFF else 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.bit = 0
        d = self.data
        while self.pos + 1 < len(d) and (
            d[self.pos] != 0xFF or d[self.pos + 1] == 0x00
        ):
            self.pos += 1
        if self.pos + 1 >= len(d):
            raise ValueError("truncated entropy data")
        m = d[self.pos + 1]
        if not 0xD0 <= m <= 0xD7:
            raise ValueError(f"expected restart marker, found {m:#x}")
        self.pos += 2


class _MarkerHit(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _extend(v: int, n: int) -> int:
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def _build_huffman(counts: list[int], symbols: bytes) -> dict[tuple[int, int], int]:
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _decode_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _decode_block(reader, dc_tbl, ac_tbl, qt, pred: int):
    coef = np.zeros(64, dtype=np.float64)
    t = _decode_symbol(reader, dc_tbl)
    dc = pred + _extend(reader.receive(t), t)
    coef[0] = dc
    k = 1
    while k < 64:
        rs = _decode_symbol(reader, ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC index overrun")
        coef[_ZIGZAG[k]] = _extend(reader.receive(s), s)
        k += 1
    block = (coef * qt).reshape(8, 8)
    spatial = _DCT_T.T @ block @ _DCT_T + 128.0
    return spatial, dc


def decode_baseline_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline JPEG bytes -> float64 array, (H, W) for grayscale or
    (H, W, 3) RGB for YCbCr.  Values clipped to [0, 255]."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None
    prog = None  # progressive coefficient accumulator across scans
    restart = 0
    i = 2
    while i < len(data) - 1:
        if data[i] != 0xFF:
            raise ValueError(f"marker expected at {i}")
        while i < len(data) - 1 and data[i + 1] == 0xFF:
            i += 1  # 0xFF fill bytes before a marker code are legal padding
        m = data[i + 1]
        if m == 0xD9:  # EOI
            break
        if m in (0x01,) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
        seg = data[i + 4 : i + 2 + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated segment")
        if m == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    vals = np.frombuffer(seg[p : p + 64], dtype=np.uint8)
                    p += 64
                else:
                    vals = np.frombuffer(
                        seg[p : p + 128], dtype=">u2"
                    ).astype(np.int64)
                    p += 128
                qt = np.zeros(64)
                qt[_ZIGZAG] = vals
                qts[tq] = qt
        elif m == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                syms = seg[p + 17 : p + 17 + n]
                huff[(tc, th)] = _build_huffman(counts, syms)
                p += 17 + n
        elif m in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (same layout) /
            # SOF2 progressive (multi-scan, spectral selection +
            # successive approximation)
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG unsupported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nf = seg[5]
            if nf not in (1, 3):
                raise NotImplementedError(f"{nf}-component JPEG unsupported")
            comps = []
            for c in range(nf):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "progressive": m == 0xC2}
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker {m:#x}) needs a codec library"
            )
        elif m == 0xDD:  # DRI
            restart = int.from_bytes(seg[:2], "big")
        elif m == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = {}
            order = []
            for c in range(ns):
                cs, tda = seg[1 + 2 * c : 3 + 2 * c]
                scan[cs] = (tda >> 4, tda & 0x0F)
                order.append(cs)
            if not frame["progressive"]:
                return _decode_scan(
                    data, i + 2 + seg_len, frame, scan, qts, huff, restart
                )
            ss = seg[1 + 2 * ns]
            se = seg[2 + 2 * ns]
            a = seg[3 + 2 * ns]
            if prog is None:
                prog = _prog_state(frame)
            i = _decode_progressive_scan(
                data, i + 2 + seg_len, frame, order, scan,
                ss, se, a >> 4, a & 0x0F, huff, restart, prog,
            )
            continue
        i += 2 + seg_len
    if prog is not None:
        return _reconstruct_progressive(prog, frame, qts)
    raise ValueError("no scan data found")


def _decode_scan(data, pos, frame, scan, qts, huff, restart):
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        planes.append(np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8)))
    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and n_mcu and n_mcu % restart == 0:
                reader.sync_restart()
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_tbl = huff[(0, scan[c["id"]][0])]
                ac_tbl = huff[(1, scan[c["id"]][1])]
                qt = qts[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        try:
                            block, preds[ci] = _decode_block(
                                reader, dc_tbl, ac_tbl, qt, preds[ci]
                            )
                        except _MarkerHit as hit:
                            raise ValueError(
                                f"marker {hit.marker:#x} inside entropy data"
                            ) from hit
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            n_mcu += 1
    return _assemble(planes, comps, h, w, hmax, vmax)


def _assemble(planes, comps, h, w, hmax, vmax) -> np.ndarray:
    """Upsample chroma to the luma grid, crop padding, color-convert."""
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(full[0], 0, 255)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255)


# ---------------------------------------------------------------------------
# Progressive (SOF2): coefficients accumulate across scans — spectral
# selection picks a zigzag band [Ss..Se], successive approximation delivers
# the band Al bits at a time (first scan Ah=0, refinements Ah=Al+1).  The
# control flow mirrors the algorithms in ITU-T T.81 §G.2 (the same ones
# libjpeg's decode_mcu_{DC,AC}_{first,refine} implement); all state lives
# in plain ints/arrays here.
# ---------------------------------------------------------------------------


def _prog_state(frame) -> dict:
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    return {
        "hmax": hmax,
        "vmax": vmax,
        "mcux": mcux,
        "mcuy": mcuy,
        # per component: (block_rows, block_cols, 64) natural-order ints
        "coef": [
            np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
            for c in comps
        ],
    }


def _comp_blocks(frame, st, ci) -> tuple[int, int]:
    """Non-interleaved block grid of one component (T.81 A.2.2)."""
    c = frame["comps"][ci]
    cw = -(-frame["w"] * c["h"] // st["hmax"])
    ch = -(-frame["h"] * c["v"] // st["vmax"])
    return -(-ch // 8), -(-cw // 8)


def _next_marker(data: bytes, pos: int) -> int:
    """Skip past a finished scan's entropy bytes to the next true marker."""
    p = pos
    while p < len(data) - 1:
        if data[p] == 0xFF and data[p + 1] not in (0x00,) and not (
            0xD0 <= data[p + 1] <= 0xD7
        ):
            return p
        p += 1
    return len(data) - 1


def _decode_progressive_scan(
    data, pos, frame, order, scan, ss, se, ah, al, huff, restart, st
) -> int:
    """Decode one SOS of a progressive stream into the coefficient
    accumulator; returns the byte offset of the next marker."""
    comps = frame["comps"]
    idx = {c["id"]: ci for ci, c in enumerate(comps)}
    sel = [idx[cs] for cs in order]
    if ss == 0 and se != 0:
        raise ValueError(
            "invalid progressive scan header: DC scan must have Se=0 "
            "(T.81 G.1.1.1.1)"
        )
    if ss > se or se > 63 or (ah and ah != al + 1):
        raise ValueError("invalid progressive scan header")
    if ss != 0 and len(sel) != 1:
        raise ValueError("progressive AC scan must be single-component")
    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    eob = [0]  # EOB run, mutable for the helpers

    def dc_first(coef_block, ci):
        t = _decode_symbol(reader, huff[(0, scan[comps[ci]["id"]][0])])
        preds[ci] += _extend(reader.receive(t), t)
        coef_block[0] = preds[ci] << al

    def dc_refine(coef_block):
        if reader.read_bit():
            coef_block[0] |= 1 << al

    ac_tbl = None
    if ss != 0:
        ac_tbl = huff[(1, scan[comps[sel[0]]["id"]][1])]

    def ac_first(coef_block):
        if eob[0] > 0:
            eob[0] -= 1
            return
        k = ss
        while k <= se:
            rs = _decode_symbol(reader, ac_tbl)
            r, s = rs >> 4, rs & 0x0F
            if s:
                k += r
                if k > se:
                    raise ValueError("AC index overrun")
                coef_block[_ZIGZAG[k]] = _extend(reader.receive(s), s) << al
                k += 1
            else:
                if r != 15:
                    eob[0] = (1 << r) - 1
                    if r:
                        eob[0] += reader.receive(r)
                    return
                k += 16  # ZRL

    def ac_refine(coef_block):
        p1, m1 = 1 << al, -1 << al
        k = ss
        if eob[0] == 0:
            while k <= se:
                rs = _decode_symbol(reader, ac_tbl)
                r, s = rs >> 4, rs & 0x0F
                val = 0
                if s:
                    # s must be 1: a newly nonzero coefficient, sign bit next
                    val = p1 if reader.read_bit() else m1
                else:
                    if r != 15:
                        eob[0] = 1 << r
                        if r:
                            eob[0] += reader.receive(r)
                        break  # fall through to the EOB tail below
                # advance past r zero-history coefficients, emitting a
                # correction bit for every nonzero-history one passed
                while k <= se:
                    z = _ZIGZAG[k]
                    if coef_block[z] != 0:
                        if reader.read_bit() and (coef_block[z] & p1) == 0:
                            coef_block[z] += p1 if coef_block[z] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val:
                    if k > se:
                        # corrupt stream drove the zigzag index past the
                        # band end; raise the documented ValueError instead
                        # of an IndexError
                        raise ValueError("AC index overrun in refinement scan")
                    coef_block[_ZIGZAG[k]] = val
                k += 1
        if eob[0] > 0:
            while k <= se:
                z = _ZIGZAG[k]
                if coef_block[z] != 0:
                    if reader.read_bit() and (coef_block[z] & p1) == 0:
                        coef_block[z] += p1 if coef_block[z] >= 0 else m1
                k += 1
            eob[0] -= 1

    def handle(coef_block, ci):
        if ss == 0:
            if ah == 0:
                dc_first(coef_block, ci)
            else:
                dc_refine(coef_block)
        else:
            if ah == 0:
                ac_first(coef_block)
            else:
                ac_refine(coef_block)

    n_unit = 0

    def maybe_restart():
        nonlocal preds
        if restart and n_unit and n_unit % restart == 0:
            reader.sync_restart()
            preds = [0] * len(comps)
            eob[0] = 0

    try:
        if len(sel) > 1:  # interleaved (DC) scan: MCU raster
            for my in range(st["mcuy"]):
                for mx in range(st["mcux"]):
                    maybe_restart()
                    for ci in sel:
                        c = comps[ci]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                handle(
                                    st["coef"][ci][my * c["v"] + by,
                                                   mx * c["h"] + bx],
                                    ci,
                                )
                    n_unit += 1
        else:  # single-component scan: the component's own block raster
            ci = sel[0]
            bh, bw = _comp_blocks(frame, st, ci)
            for by in range(bh):
                for bx in range(bw):
                    maybe_restart()
                    handle(st["coef"][ci][by, bx], ci)
                    n_unit += 1
    except _MarkerHit as hit:
        raise ValueError(
            f"marker {hit.marker:#x} inside progressive scan"
        ) from hit
    return _next_marker(data, reader.pos)


def _reconstruct_progressive(st, frame, qts) -> np.ndarray:
    comps = frame["comps"]
    planes = []
    for ci, c in enumerate(comps):
        coef = st["coef"][ci].astype(np.float64) * qts[c["tq"]][None, None, :]
        by, bx, _ = coef.shape
        blocks = coef.reshape(by, bx, 8, 8)
        spatial = _DCT_T.T @ blocks @ _DCT_T + 128.0  # batched IDCT
        planes.append(spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8))
    return _assemble(
        planes, comps, frame["h"], frame["w"], st["hmax"], st["vmax"]
    )


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """Decode to the 2D luma plane the feature stage consumes."""
    img = decode_baseline_jpeg(data)
    if img.ndim == 2:
        return img
    return img @ np.array([0.299, 0.587, 0.114])
