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


def test_simhash_min_band_emission_equals_distinct(spark, sf_dir):
    """r14: llm_dedup_simhash dedups cross-band pair duplicates by
    emitting each pair only from its LOWEST shared band (bit arithmetic
    in the join) instead of a trailing DISTINCT (a full shuffle of every
    qualifying pair). The emitted set must equal the DISTINCT of the raw
    band join — re-derived here from the raw join without the min-band
    filter."""
    from pyspark.sql import functions as F

    from luxor_db_spark.registry import load_all_queries

    q = load_all_queries()
    new = q["llm_dedup_simhash"](spark, sf_dir)
    got = sorted(map(tuple, new.collect()))
    assert got == sorted(set(got)), "min-band emission produced duplicates"

    # raw band join re-derivation (the r13 DISTINCT form's input)
    from luxor_db_spark.catalog import load_table
    from luxor_db_spark.operators.llm import _SIMHASH_BITS, _TOKENS

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_TOKENS).alias("tokens")
    )
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.col("tokens"))).alias("w")
    ).withColumn(
        "h", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    )
    aggs = [
        F.expr(
            f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        ).alias(f"b{b}")
        for b in range(_SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    fp = F.expr(
        " + ".join(
            f"(CASE WHEN b{b} > 0 THEN CAST(1 AS BIGINT) << {b}"
            f" ELSE CAST(0 AS BIGINT) END)"
            for b in range(_SIMHASH_BITS)
        )
    )
    sigs = sums.select("doc_id", fp.alias("simhash"))
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 15 * i).bitwiseAND(
                        F.lit(0x7FFF).cast("long")
                    )
                    for i in range(4)
                ]
            )
        ).alias("blk_i", "blk"),
    )
    a, b_ = blocks.alias("a"), blocks.alias("b")
    old = (
        a.join(
            b_,
            (F.col("a.blk_i") == F.col("b.blk_i"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 7)
        .distinct()
    )
    assert got == sorted(map(tuple, old.collect()))


def test_simhash_eval_broadcast_metric_join_counts(spark, sf_dir):
    """r14: the eval's metric join went full-outer → broadcast-left on
    the checkpointed truth side. The three counts must equal the
    independently-computed set sizes."""
    from luxor_db_spark.registry import load_all_queries

    q = load_all_queries()
    row = q["llm_simhash_eval"](spark, sf_dir).collect()[0]
    cand = {
        (r.doc_a, r.doc_b)
        for r in q["llm_dedup_simhash"](spark, sf_dir).collect()
    }
    truth = {
        (r.doc_a, r.doc_b)
        for r in q["llm_dedup_near"](spark, sf_dir).collect()
    }
    assert row.n_candidates == len(cand)
    assert row.n_truth == len(truth)
    assert row.n_true_positive == len(cand & truth)


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
