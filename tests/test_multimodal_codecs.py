"""Pins for the multimodal codecs in ``luxor_db_spark.sources.multimodal``:
the solid LZW encoder, GIF container encode/decode, PNG scanline
decoding and the nearest-neighbour resize.

Each test pins an equivalence a codec rewrite must preserve, or that a
previously silent corruption is now a detectable error:
- the grow-dictionary solid LZW encoder round-trips through the general
  decoder and matches the old CLEAR-separated stream's decoded output,
  byte-identical to its uncapped form below saturation, and stays within
  12-bit codes past it;
- GIF decoding rejects out-of-table indices and returns the closed-form
  checksums of the synthesized fixture payloads;
- the PNG filter-0 fast path equals the general per-scanline loop;
- the repeat-based nearest-neighbour resample equals gather-style fancy
  indexing element for element (up- and down-scale).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from luxor_db_spark.sources.multimodal import (
    _lzw_decode,
    _lzw_encode_solid,
    decode_gif_frames,
    make_gif_animated,
)


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
    from luxor_db_spark.sources.multimodal import _gif_frame_dims

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


def test_lzw_encode_giant_run_stays_within_12_bit_codes():
    """r13 ADVICE #4: runs needing > ~4090 dictionary entries used to emit
    codes >= 4096 that cannot fit the capped 12-bit width — a silently
    corrupt stream. The encoder now repeats the max-run code once the
    table is saturated; the strict general decoder (which raises on any
    out-of-table code) must round-trip a frame well past the old corrupt
    threshold (~8.4M pixels)."""
    n = 9_000_000
    stream = _lzw_encode_solid(1, n, 2)
    decoded = _lzw_decode(2, stream, n)
    assert decoded == bytes([1]) * n


def test_lzw_encode_fixture_sizes_byte_identical_to_r13_form():
    """The cap is inert below saturation: re-deriving the r13 encoder's
    emitted code sequence (uncapped next_len growth) for every fixture
    frame size must give the identical stream bytes — the synthesized
    GIF payloads, and therefore every mm_* oracle hash, are unchanged."""

    def encode_r13(index: int, n_pixels: int, min_code_size: int) -> bytes:
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
        table_len = eoi + 1
        remaining = n_pixels
        next_len = 1
        first = True
        while remaining > 0:
            run = min(next_len, remaining)
            emit(index if run == 1 else eoi + (run - 1))
            remaining -= run
            if not first:
                table_len += 1
                if table_len == (1 << width) and width < 12:
                    width += 1
            first = False
            next_len = run + 1
        emit(eoi)
        if nacc:
            out.append(acc & 0xFF)
        return bytes(out)

    # every (w, h) the GIF fixture synthesizes: w in 8..23, h in 8..23
    for n_pixels in sorted({w * h for w in range(8, 24) for h in range(8, 24)}):
        assert _lzw_encode_solid(0, n_pixels, 2) == encode_r13(0, n_pixels, 2)


def test_gif_decode_rejects_out_of_table_indices():
    """r13 ADVICE #5: the count-based checksum used to silently ignore
    decoded indices outside the local color table (contributing 0 where
    the old per-pixel gather raised IndexError). A frame whose stream
    references index 5 against a 4-entry table must now raise."""
    w = h = 4
    stream = _lzw_encode_solid(5, w * h, 3)  # literal 5 needs min_code 3
    payload = bytearray(
        b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"
    )
    payload += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    payload += b"\x81"  # local color table, 4 entries (indices 0-3 only)
    payload += b"\x10\x20\x30" + b"\x00" * 9
    payload += b"\x03"  # LZW minimum code size 3 (literals 0-7)
    blocks = bytearray()
    for i in range(0, len(stream), 255):
        part = stream[i : i + 255]
        blocks += bytes([len(part)]) + part
    blocks += b"\x00"
    payload += blocks + b"\x3b"
    with pytest.raises(ValueError, match="outside its color table"):
        decode_gif_frames(bytes(payload))


def test_gif_decode_fixture_payload_unchanged():
    """End-to-end pin over the real synthesized container: decode of a
    make_gif_animated payload still yields the closed-form checksums."""
    frames = decode_gif_frames(
        make_gif_animated(9, 11, [(10, 20, 30), (1, 2, 3)])
    )
    assert frames == [
        (0, 9, 11, (10 + 20 + 30) * 9 * 11),
        (1, 9, 11, (1 + 2 + 3) * 9 * 11),
    ]
