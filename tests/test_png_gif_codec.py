"""Real PNG + GIF decode paths (stdlib zlib / pure-Python LZW, no image
libs).  The fixtures are deliberately INDEPENDENT implementations of the
inverse direction (plans/fixture_codec, shared with the gate): PNG
scanlines are FORWARD-filtered (decode_png unfilters), GIF index streams
are LZW-ENCODED (decode_gif's table-growth decoder reconstructs) — so a
matched encode/decode defect cannot cancel."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from dataflow_mm_spark.operators import multimodal as MM
from dataflow_mm_spark.plans.fixture_codec import lzw_encode, png_forward_filter


def _rand_img(rng, h, w, nchan):
    return rng.integers(0, 256, size=(h, w, nchan), dtype=np.uint8)


# --- PNG fixtures (forward filtering lives in plans/fixture_codec) ---------


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        len(data).to_bytes(4, "big")
        + typ
        + data
        + zlib.crc32(typ + data).to_bytes(4, "big")
    )


def _build_png(px: np.ndarray, ctype: int, ftypes=(0, 1, 2, 3, 4), plte=None) -> bytes:
    h, w = px.shape[:2]
    nchan = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    raw = px.reshape(h, w * nchan)
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, ctype, 0, 0, 0])
    )
    body = _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        body += _png_chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    idat = zlib.compress(png_forward_filter(raw, nchan, ftypes))
    # split IDAT across two chunks to exercise concatenation
    half = len(idat) // 2
    body += _png_chunk(b"IDAT", idat[:half]) + _png_chunk(b"IDAT", idat[half:])
    return b"\x89PNG\r\n\x1a\n" + body + _png_chunk(b"IEND", b"")


def test_png_all_filters_rgb_rgba():
    rng = np.random.default_rng(11)
    for ctype, nchan in ((2, 3), (6, 4)):
        for w in (1, 2, 7, 16):
            img = _rand_img(rng, 9, w, nchan)  # 9 rows: every filter ≥ once
            out = MM.decode_png(_build_png(img.reshape(9, w, nchan), ctype))
            assert out.shape == (9, w, nchan)
            assert np.array_equal(out, img)


def test_png_gray_and_gray_alpha_expand():
    rng = np.random.default_rng(12)
    g = rng.integers(0, 256, size=(6, 5, 1), dtype=np.uint8)
    out = MM.decode_png(_build_png(g, 0))
    assert out.shape == (6, 5, 3)
    assert np.array_equal(out, np.repeat(g, 3, axis=2))
    ga = rng.integers(0, 256, size=(6, 5, 2), dtype=np.uint8)
    out = MM.decode_png(_build_png(ga, 4))
    assert out.shape == (6, 5, 4)
    assert np.array_equal(out[..., :3], np.repeat(ga[..., :1], 3, axis=2))
    assert np.array_equal(out[..., 3], ga[..., 1])


def test_png_palette():
    rng = np.random.default_rng(13)
    pal = rng.integers(0, 256, size=(17, 3), dtype=np.uint8)
    idx = rng.integers(0, 17, size=(5, 8, 1), dtype=np.uint8)
    out = MM.decode_png(_build_png(idx, 3, plte=pal))
    assert np.array_equal(out, pal[idx[..., 0]])


def test_png_roundtrip_own_encoder():
    rng = np.random.default_rng(14)
    for nchan in (3, 4):
        img = _rand_img(rng, 12, 11, nchan)
        out = MM.decode_png(MM.encode_png(img))
        assert np.array_equal(out, img)


def test_png_rejects():
    rng = np.random.default_rng(15)
    img = _rand_img(rng, 4, 4, 3)
    good = MM.encode_png(img)
    with pytest.raises(ValueError):
        MM.decode_png(b"")
    with pytest.raises(ValueError):
        MM.decode_png(b"\x89PNG\r\n\x1a\n")  # no chunks
    bad_depth = bytearray(good)
    bad_depth[24] = 16  # IHDR bit depth byte
    with pytest.raises(ValueError):
        MM.decode_png(bytes(bad_depth))
    interlaced = bytearray(good)
    interlaced[28] = 1  # IHDR interlace byte
    with pytest.raises(ValueError):
        MM.decode_png(bytes(interlaced))
    with pytest.raises(ValueError):
        MM.decode_png(good[:40])  # truncated mid-chunk → missing IDAT
    # corrupt DEFLATE stream
    corrupt = bytearray(good)
    corrupt[len(good) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        MM.decode_png(bytes(corrupt))
    # palette index out of range
    pal = np.zeros((2, 3), dtype=np.uint8)
    idx = np.full((2, 2, 1), 7, dtype=np.uint8)
    with pytest.raises(ValueError):
        MM.decode_png(_build_png(idx, 3, plte=pal))


# --- GIF fixtures: the dict-LZW encoder (fixture_codec) and an all-literal
# stream that shares no table logic with it ---------------------------------


def _lzw_encode_uncompressed(indices, min_code_size: int) -> bytes:
    """All-literal 'uncompressed GIF' stream: mirrors the decoder's table
    growth and emits a CLEAR whenever the width would grow — exercises
    clear handling with zero shared table logic."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    bits = []

    def emit(code):
        for i in range(width):
            bits.append((code >> i) & 1)

    emit(clear)
    n_entries = eoi + 1  # decoder's mirrored next-code counter
    prev = False
    for k in indices:
        emit(int(k))
        if prev:
            n_entries += 1
            if n_entries == (1 << width) - 1:
                # one more entry would widen the decoder → reset instead
                emit(clear)
                n_entries = eoi + 1
                prev = False
                continue
        prev = True
    emit(eoi)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, b in enumerate(bits[i : i + 8]):
            byte |= b << j
        out.append(byte)
    return bytes(out)


def _build_gif(
    idx: np.ndarray,
    pal: np.ndarray,
    interlace: bool = False,
    local_palette: bool = False,
    uncompressed: bool = False,
    trailer: bool = True,
) -> bytes:
    h, w = idx.shape
    n_pal = pal.shape[0]
    bits = max(1, (n_pal - 1).bit_length())
    full = np.zeros((1 << bits, 3), dtype=np.uint8)
    full[:n_pal] = pal
    pal_bytes = full.tobytes()
    min_code = max(2, bits)
    hdr = b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    if local_palette:
        hdr += bytes([0x00, 0, 0])  # no GCT
    else:
        hdr += bytes([0x80 | (bits - 1), 0, 0]) + pal_bytes
    # a graphic-control extension to exercise the skip path
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    rows = idx
    if interlace:
        order = np.concatenate(
            [np.arange(0, h, 8), np.arange(4, h, 8),
             np.arange(2, h, 4), np.arange(1, h, 2)]
        )
        rows = idx[order]
    desc = (
        b"\x2c"
        + bytes(4)
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([(0x80 | (bits - 1) if local_palette else 0) | (0x40 if interlace else 0)])
    )
    if local_palette:
        desc += pal_bytes
    flat = rows.reshape(-1).astype(np.uint8)
    enc = (
        _lzw_encode_uncompressed(flat, min_code)
        if uncompressed
        else lzw_encode(flat, min_code)
    )
    blocks = bytearray([min_code])
    for i in range(0, len(enc), 200):  # sub-block split exercises reassembly
        chunk = enc[i : i + 200]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    return hdr + ext + desc + bytes(blocks) + (b"\x3b" if trailer else b"")


def test_gif_lzw_roundtrip_width_growth():
    rng = np.random.default_rng(21)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    # 64x64 random: table grows through several width boundaries
    idx = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    out = MM.decode_gif(_build_gif(idx, pal))
    assert out.shape == (64, 64, 3)
    assert np.array_equal(out, pal[idx])


def test_gif_small_palette_and_local_table():
    rng = np.random.default_rng(22)
    pal = rng.integers(0, 256, size=(5, 3), dtype=np.uint8)
    idx = rng.integers(0, 5, size=(7, 9), dtype=np.uint8)
    for local in (False, True):
        out = MM.decode_gif(_build_gif(idx, pal, local_palette=local))
        assert np.array_equal(out, pal[idx])


def test_gif_interlaced():
    rng = np.random.default_rng(23)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(13, 6), dtype=np.uint8)
    out = MM.decode_gif(_build_gif(idx, pal, interlace=True))
    assert np.array_equal(out, pal[idx])


def test_gif_uncompressed_stream_clear_handling():
    rng = np.random.default_rng(24)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, size=(20, 17), dtype=np.uint8)  # many clears
    out = MM.decode_gif(_build_gif(idx, pal, uncompressed=True))
    assert np.array_equal(out, pal[idx])


def test_gif_kwkwk_case():
    # aaaa... emits the KwKwK self-reference code immediately
    pal = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9], [10, 11, 12]], np.uint8)
    idx = np.zeros((3, 5), dtype=np.uint8)
    out = MM.decode_gif(_build_gif(idx, pal))
    assert np.array_equal(out, pal[idx])


def test_gif_rejects():
    rng = np.random.default_rng(25)
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(4, 4), dtype=np.uint8)
    good = _build_gif(idx, pal)
    with pytest.raises(ValueError):
        MM.decode_gif(b"")
    with pytest.raises(ValueError):
        MM.decode_gif(b"GIF89a")
    with pytest.raises(ValueError):
        MM.decode_gif(good[:20])  # truncated before image data
    # truncate inside the LZW stream (drop final sub-blocks + trailer)
    with pytest.raises(ValueError):
        MM.decode_gif(good[:-10])


def test_decode_image_dispatch():
    rng = np.random.default_rng(26)
    img = _rand_img(rng, 5, 6, 3)
    assert np.array_equal(MM.decode_image(MM.encode_bmp(img)), img)
    assert np.array_equal(MM.decode_image(MM.encode_png(img)), img)
    pal = rng.integers(0, 256, size=(9, 3), dtype=np.uint8)
    idx = rng.integers(0, 9, size=(5, 6), dtype=np.uint8)
    assert np.array_equal(MM.decode_image(_build_gif(idx, pal)), pal[idx])
    with pytest.raises(ValueError):
        MM.decode_image(b"\xff\xd8\xff\xe0 jpeg")
    with pytest.raises(ValueError):
        MM.decode_image(None)


def test_decode_and_featurize_mixed_codecs(spark):
    """The real branch handles BMP, PNG and GIF payloads in one batch;
    width/height come from the actual decode."""
    rng = np.random.default_rng(27)
    img = _rand_img(rng, 6, 4, 3)
    pal = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
    idx = rng.integers(0, 7, size=(6, 4), dtype=np.uint8)
    rows = [
        (1, MM.encode_bmp(img)),
        (2, MM.encode_png(img)),
        (3, bytes(_build_gif(idx, pal))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = MM.decode_and_featurize(df, resize_to=(2, 2)).orderBy("doc_id")
    got = out.collect()
    assert [r.width for r in got] == [4, 4, 4]
    assert [r.height for r in got] == [6, 6, 6]
    # BMP and PNG carry identical pixels → identical features
    assert got[0].feature == got[1].feature
