"""Equivalence / hardening pins for the r14 optimization round's edits.

Each test pins that a change is either behavior-preserving on fixture
inputs or turns a previously-silent corruption into a detectable error.
"""

from __future__ import annotations

import struct

import pytest

from luxor_db_spark.sources.multimodal import (
    _lzw_decode,
    _lzw_encode_solid,
    decode_gif_frames,
    make_gif_animated,
)


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
