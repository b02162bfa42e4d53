"""Fixture-side image encoders for the gate and the codec tests.

These write the FORWARD direction of the formats whose decoders live in
``operators/``: PNG scanline filtering (Filt = Raw - predictor) and GIF's
dict-based variable-width LZW.  They share no code with the engine's
decoders, so a matched encode/decode defect cannot cancel.  Callers do
their own container framing (chunks, sub-blocks, descriptors).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np


def png_forward_filter(
    raw_rows: np.ndarray, bpp: int, ftypes: Sequence[int] = (0, 1, 2, 3, 4)
) -> bytes:
    """Filter each scanline of ``raw_rows`` (h x stride uint8) with filter
    type ``ftypes[y % len(ftypes)]``; returns the filter-byte-prefixed
    scanlines, ready for zlib."""
    h, stride = raw_rows.shape
    out = bytearray()
    prior = bytes(stride)
    for y in range(h):
        row = raw_rows[y].tobytes()
        ft = ftypes[y % len(ftypes)]
        out.append(ft)
        for x in range(stride):
            raw = row[x]
            a = row[x - bpp] if x >= bpp else 0
            b = prior[x]
            c = prior[x - bpp] if x >= bpp else 0
            if ft == 0:
                v = raw
            elif ft == 1:
                v = (raw - a) & 0xFF
            elif ft == 2:
                v = (raw - b) & 0xFF
            elif ft == 3:
                v = (raw - ((a + b) >> 1)) & 0xFF
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (raw - pred) & 0xFF
            out.append(v)
        prior = row
    return bytes(out)


def lzw_encode(indices: Sequence[int], min_code_size: int) -> bytes:
    """GIF LZW code stream of ``indices`` (CLEAR first, EOI last), packed
    LSB-first; no sub-block framing."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    d = {bytes([i]): i for i in range(1 << min_code_size)}
    next_code, width = eoi + 1, min_code_size + 1
    bits: list[int] = []

    def emit(code: int, w: int) -> None:
        for i in range(w):
            bits.append((code >> i) & 1)

    emit(clear, width)
    seq = bytes([indices[0]])
    for k in indices[1:]:
        cand = seq + bytes([k])
        if cand in d:
            seq = cand
            continue
        emit(d[seq], width)
        if next_code < 4096:
            d[cand] = next_code
            next_code += 1
            # encoder lags the decoder's width bump by one code: the
            # decoder installs this entry only AFTER reading the NEXT code
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        seq = bytes([k])
    emit(d[seq], width)
    emit(eoi, width)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, b in enumerate(bits[i : i + 8]):
            byte |= b << j
        out.append(byte)
    return bytes(out)
