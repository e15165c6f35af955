"""Focused pins for the r13 optimization-round internal changes.

Each test pins an equivalence the optimization must preserve:
- the grow-dictionary solid LZW encoder round-trips through the general
  decoder and matches the old CLEAR-separated stream's decoded output;
- the repeat-based nearest-neighbor resample equals gather-style fancy
  indexing element for element (up- and down-scale).
"""

from __future__ import annotations

import numpy as np
import pytest


def _old_lzw_encode_solid(index: int, n_pixels: int, min_code_size: int) -> bytes:
    """The pre-r13 CLEAR-before-every-literal encoder, kept here as the
    reference stream generator: 2 codes per pixel, dictionary never grows."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    out = bytearray()
    acc = nacc = 0

    def emit(code: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    emit(clear)
    for _ in range(n_pixels):
        emit(index)
        emit(clear)
    emit(eoi)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def test_grow_lzw_encoder_roundtrips_every_fixture_pixel_count():
    """The r13 solid encoder (dictionary growth, O(√n) codes) must decode
    to the same pixels as the old CLEAR-separated stream for every pixel
    count the GIF fixture can produce (w ≤ 23, h ≤ 23, so n ≤ 529) and
    for the index/min-code-size combos in use, plus margin."""
    from luxor_db_spark.sources.multimodal import (
        _lzw_decode,
        _lzw_encode_solid,
    )

    for mcs in (2, 3):
        for idx in (0, 1):
            for n in list(range(1, 600)) + [1024, 4000]:
                new = _lzw_decode(mcs, _lzw_encode_solid(idx, n, mcs), n)
                old = _lzw_decode(mcs, _old_lzw_encode_solid(idx, n, mcs), n)
                assert new == old == bytes([idx]) * n, (mcs, idx, n)


def test_gif_frame_results_identical_under_new_encoder():
    """decode_gif_frames over make_gif_animated (which now encodes one
    shared stream per container) must return the same
    (frame, w, h, px_sum) tuples as decoding a container built with the
    old per-frame CLEAR-separated streams."""
    import struct

    from luxor_db_spark.sources.multimodal import (
        _gif_frame_dims,
        decode_gif_frames,
        make_gif_animated,
    )

    def old_container(width, height, frame_rgbs):
        out = bytearray(
            b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00"
        )
        for rgb in frame_rgbs:
            out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
            out += b"\x81" + bytes(rgb) + b"\x00" * 9 + b"\x02"
            stream = _old_lzw_encode_solid(0, width * height, 2)
            for i in range(0, len(stream), 255):
                part = stream[i : i + 255]
                out += bytes([len(part)]) + part
            out += b"\x00"
        out += b"\x3b"
        return bytes(out)

    for did in (0, 1, 37, 255, 511, 4999):
        w, h, nf = _gif_frame_dims(did)
        rgbs = [((did + 11 * f) % 256, (3 * f) % 256, 7) for f in range(nf)]
        wanted = set(range(0, nf, 4))
        assert decode_gif_frames(make_gif_animated(w, h, rgbs), wanted) == (
            decode_gif_frames(old_container(w, h, rgbs), wanted)
        )
        assert decode_gif_frames(make_gif_animated(w, h, rgbs)) == (
            decode_gif_frames(old_container(w, h, rgbs))
        )


def test_repeat_resample_equals_gather_resample():
    """resize_rgb's np.repeat materialization must equal the gather form
    arr[iy][:, ix] (floor(src·i/dst) mapping) for upscale, downscale and
    identity, on non-constant pixel data."""
    import luxor_db_spark.sources.multimodal as mm

    rng = np.random.default_rng(7)
    saved = mm._PILImage
    mm._PILImage = None  # pin the numpy branch
    try:
        for (h, w, nh, nw) in [
            (16, 80, 224, 1120),
            (80, 16, 1120, 224),
            (23, 8, 644, 224),
            (33, 47, 224, 319),
            (100, 100, 224, 224),
            (100, 100, 17, 11),  # downscale: some source rows dropped
            (7, 5, 7, 5),  # identity
        ]:
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            out = mm.resize_rgb(arr, nw, nh)
            iy = (np.arange(nh) * h) // nh
            ix = (np.arange(nw) * w) // nw
            assert out.shape == (nh, nw, 3)
            assert np.array_equal(out, arr[iy][:, ix]), (h, w, nh, nw)
    finally:
        mm._PILImage = saved


def test_png_filter0_fast_path_matches_general_loop():
    """A filter-0 (None) PNG must decode identically through the r13
    vectorized fast path and the general per-scanline loop (forced by
    splicing one non-zero filter byte, which disables the fast path)."""
    import struct
    import zlib

    from luxor_db_spark.sources.multimodal import decode_png_pixels

    rng = np.random.default_rng(11)
    w, h = 13, 9
    grad = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)

    def chunk(typ, data):
        c = typ + data
        return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))

    def png_of(raw):
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    raw0 = b"".join(b"\x00" + grad[y].tobytes() for y in range(h))
    fast = decode_png_pixels(png_of(raw0))
    # same pixels, last scanline Up-filtered against the previous row:
    # identical image, but the all-zero-filter fast path cannot fire.
    up_last = bytes(
        (grad[h - 1].tobytes()[i] - grad[h - 2].tobytes()[i]) & 0xFF
        for i in range(w * 3)
    )
    raw_mixed = (
        b"".join(b"\x00" + grad[y].tobytes() for y in range(h - 1))
        + b"\x02"
        + up_last
    )
    slow = decode_png_pixels(png_of(raw_mixed))
    assert np.array_equal(fast, grad)
    assert np.array_equal(slow, grad)
    assert np.array_equal(fast, slow)


def test_resize_counts_cache_is_shape_keyed():
    """The nearest-neighbor count cache must key on (src, dst) so two
    different geometries never alias."""
    from luxor_db_spark.sources.multimodal import _nn_repeat_counts

    c1 = _nn_repeat_counts(16, 224)
    c2 = _nn_repeat_counts(17, 224)
    assert int(c1.sum()) == 224 and int(c2.sum()) == 224
    assert len(c1) == 16 and len(c2) == 17
    # floor mapping: every source index 0..src-1 appears (upscale)
    assert (c1 > 0).all() and (c2 > 0).all()


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
