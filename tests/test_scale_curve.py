"""Amplifier correctness for tools/scale_curve.build_amplified.

The scaling-curve numbers in docs/SCALE.md are only evidence if the
amplified input is what it claims to be: exact ×f row growth, disjoint
per-copy key spaces, CONSISTENT FK remapping (each copy a self-contained
sub-database — no cross-copy join fan-out), dims untouched, and the
documents rotation preserving length/vocabulary while breaking exact
duplication. These tests pin those claims at sf0.001 (cheap build).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tools.scale_curve import build_amplified  # noqa: E402

from luxor_db_spark.catalog import TABLES, load_table  # noqa: E402

BASE = os.environ.get("LUXOR_TEST_SF_DIR", "/root/testdata/sf0.001")
FACTOR = 2

_FKS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
]

_PKS = [
    ("supplier", "s_suppkey"),
    ("customer", "c_custkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
]


@pytest.fixture(scope="module")
def amp_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scale"))
    return build_amplified(spark, FACTOR, base_dir=BASE, out_root=root)


def test_row_counts_scale_by_factor_facts_only(spark, amp_dir):
    for t in TABLES:
        base_n = load_table(spark, BASE, t).count()
        amp_n = load_table(spark, amp_dir, t).count()
        expected = base_n if t in ("region", "nation") else base_n * FACTOR
        assert amp_n == expected, f"{t}: {amp_n} != {expected}"


@pytest.mark.parametrize("table,col", _PKS, ids=[t for t, _ in _PKS])
def test_primary_keys_stay_unique(spark, amp_dir, table, col):
    df = load_table(spark, amp_dir, table)
    assert df.count() == df.select(col).distinct().count()


@pytest.mark.parametrize(
    "fact,fk,dim,pk", _FKS, ids=[f"{f}.{k}" for f, k, _, _ in _FKS]
)
def test_fk_edges_consistent_within_copies(spark, amp_dir, fact, fk, dim, pk):
    """Every FK resolves (no dangling edges) AND each copy only references
    its own copy's keys — join fan-out per key is unchanged by amplification."""
    f_df = load_table(spark, amp_dir, fact).select(F.col(fk).alias("k"))
    d_df = load_table(spark, amp_dir, dim).select(F.col(pk).alias("k"))
    dangling = f_df.join(d_df, "k", "left_anti").count()
    assert dangling == 0
    # Fan-out preservation: max refs per key must not exceed the base max
    # (cross-copy collisions would inflate it).
    base_max = (
        load_table(spark, BASE, fact)
        .groupBy(fk)
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    amp_max = f_df.groupBy("k").count().agg(F.max("count")).collect()[0][0]
    assert amp_max <= base_max


def test_documents_rotation_contract(spark, amp_dir):
    """Copy c>0: same doc length and word multiset (sorted words equal),
    different exact text for multi-word docs (rotation by 7 is a genuine
    shift whenever 7 % n_words != 0)."""
    base = load_table(spark, BASE, "documents").select(
        "doc_id", F.col("text").alias("t0")
    )
    n_base = base.count()
    unit = base.agg(F.max("doc_id")).collect()[0][0] + 1
    amp = load_table(spark, amp_dir, "documents")
    # Copy-1 rows map back to their originals via the offset unit.
    copy1 = amp.filter(F.col("doc_id") >= unit)
    joined = (
        copy1.withColumn("orig_id", F.col("doc_id") - F.lit(unit))
        .join(base.withColumnRenamed("doc_id", "orig_id"), "orig_id")
    )
    assert joined.count() == n_base
    bad_len = joined.filter(F.length("text") != F.length("t0")).count()
    assert bad_len == 0
    bad_vocab = joined.filter(
        F.array_sort(F.split(F.col("text"), " "))
        != F.array_sort(F.split(F.col("t0"), " "))
    ).count()
    assert bad_vocab == 0
    # Rotation must actually move words whenever the shift is non-trivial.
    unrotated = joined.filter(
        (F.col("text") == F.col("t0"))
        & (F.size(F.split(F.col("t0"), " ")) > 1)
        & (F.lit(7) % F.size(F.split(F.col("t0"), " ")) != 0)
    ).count()
    assert unrotated == 0


def test_dims_are_byte_identical(spark, amp_dir):
    for t in ("region", "nation"):
        base = load_table(spark, BASE, t)
        amp = load_table(spark, amp_dir, t)
        assert base.exceptAll(amp).count() == 0
        assert amp.exceptAll(base).count() == 0


@pytest.fixture(scope="module")
def dir_layout_x1(spark, tmp_path_factory):
    """BASE's data re-written in Spark directory layout (factor=1)."""
    root = str(tmp_path_factory.mktemp("dirlayout"))
    return build_amplified(spark, 1, base_dir=BASE, out_root=root)


@pytest.mark.parametrize(
    "key",
    [
        "stream_tumbling",  # complete mode
        "stream_watermark",  # append mode + watermark drop
        "stream_dedup",  # keyed state
        "stream_checkpoint_resume",  # file-flattening copy path
    ],
)
def test_stream_layouts_agree(spark, dir_layout_x1, key):
    """The streaming source must read a single-file fixture (driver
    layout) and a Spark-written events.parquet/ DIRECTORY (amplified
    layout) to the SAME result — including the one-data-batch guarantee
    that makes append-mode watermark drops deterministic. Guards the
    layout branch in streams.stream_events and the part-file flattening
    in stream_checkpoint_resume (a nested directory copy silently
    produces an EMPTY stream: the file source does not recurse into
    non-partition subdirectories)."""
    from luxor_db_spark.registry import load_all_queries

    q = load_all_queries()[key]
    a = q(spark, BASE)
    b = q(spark, dir_layout_x1)
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    a, b = a.select(cols), b.select(cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0, f"{key}: layouts disagree"
    assert b.exceptAll(a).count() == 0, f"{key}: layouts disagree"
