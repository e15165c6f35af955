"""Fixture amplifier: the sf0.1 tables grown ×f with disjoint key spaces.

``build_amplified(spark, f)`` writes an amplified copy of the fixture
tables in the drop-in ``{dir}/{table}.parquet`` layout, so every
registered ``queries()`` callable runs on it unchanged.
``tools/recall_curve.py`` scores the dedup paths on it and
``tests/test_scale_curve.py`` pins its contract. The wall-time curves
once measured on it are recorded in ``docs/scale_curves.json`` and
``docs/SCALE.md`` ("Round 5 addendum: measured scaling curves" and
"Full-registry sweep"); the timing loop that produced them is retired
(git history, commit 23c7a7e).

Amplification:

- dims (`region`, `nation`) are NOT replicated — facts grow, dims don't,
  matching how a real warehouse scales (and keeping broadcast sides
  constant-grain, per the SURVEY §7.3 hint doctrine).
- star facts get copy-disjoint key spaces with CONSISTENT FK remapping
  (`o_orderkey`/`l_orderkey` share one offset, `o_custkey`/`c_custkey`
  another, …), so each copy is a self-contained sub-database: join
  fan-outs stay realistic instead of exploding quadratically in copies.
- `events`: `event_id`/`user_id` offset per copy, timestamps unchanged —
  more traffic over the same period, which is what stresses the
  (event_type, time-bucket) window rewrites.
- `documents`: `doc_id` offset; for copy c>0 the word sequence is
  ROTATED by 7c words. Rotation keeps length/vocabulary/word-frequency
  identical and breaks EXACT duplication (rotated text ≠ original text,
  so md5-exact dedup scales linearly, measured ×7.7 rows at ×8). It
  deliberately does NOT break near-duplication: a rotation preserves
  every consecutive 3-word shingle except the ~4 spanning the seam, so
  each doc gains f−1 near-identical (Jaccard ≈ 1) variants and the TRUE
  near-dup pair count grows quadratically in the factor (measured via the
  uncapped ground truth in tools/recall_curve.py: 256 pairs at ×1 →
  155,857 at ×8, ≈ 609×; the df-capped path finds 155,227 of them —
  recall 0.9957, see docs/SCALE.md). That makes the amplified corpus
  an ADVERSARIALLY dup-dense stress input for the dedup family — the
  interesting question is whether wall time tracks the ~linear input
  size or the ~quadratic output density. (Measured: llm_dedup_near
  ×8.7 time at ×8 input — the df-cap inverted index holds; see
  docs/SCALE.md "Round 5 addendum: measured scaling curves".) Caveat:
  every shingle's document frequency also grows ×f, so more shingles
  cross _DF_CAP=100 and are dropped as stop-shingles — recall of the
  capped exact-Jaccard path degrades as the corpus grows, which is
  inherent to df-cap designs and why `llm_minhash_lsh` (×1.7 at ×8) is
  the declared scale path.
- `embeddings`: `vec_id` offset, vectors unchanged (ANN/kNN cost is
  value-independent; top-k outputs stay k-bounded).

Amplified data lives under tmp/scale/x{f}/ (gitignored) and is reused
across calls.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from luxor_db_spark.catalog import TABLES, load_table  # noqa: E402

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tmp", "scale"
)

# Per-copy key offsets: column -> offset unit. One unit per ENTITY so FK
# edges stay consistent across tables (copy c adds c*unit to both sides).
_ENTITY_COLS = {
    "suppkey": ["s_suppkey", "l_suppkey"],
    "custkey": ["c_custkey", "o_custkey"],
    "partkey": ["p_partkey", "l_partkey"],
    "orderkey": ["o_orderkey", "l_orderkey"],
    "event_id": ["event_id"],
    "user_id": ["user_id"],
    "doc_id": ["doc_id"],
    "vec_id": ["vec_id"],
}

_DIM_TABLES = {"region", "nation"}


def _entity_units(
    spark: SparkSession, base_dir: str = BASE_SF_DIR
) -> dict[str, int]:
    """One offset unit per entity: 1 + max over every column carrying it."""
    units: dict[str, int] = {}
    cache: dict[str, DataFrame] = {
        t: load_table(spark, base_dir, t) for t in TABLES
    }
    for entity, cols in _ENTITY_COLS.items():
        mx = 0
        for t, df in cache.items():
            for c in cols:
                if c in df.columns:
                    v = df.agg(F.max(c)).collect()[0][0]
                    mx = max(mx, int(v or 0))
        units[entity] = mx + 1
    return units


def _amplify_table(
    df: DataFrame, name: str, factor: int, units: dict[str, int]
) -> DataFrame:
    col_unit = {
        c: units[e] for e, cols in _ENTITY_COLS.items() for c in cols
    }
    copies = []
    for c in range(factor):
        cp = df
        for col in df.columns:
            if col in col_unit and c > 0:
                cp = cp.withColumn(
                    col, (F.col(col) + F.lit(c * col_unit[col])).cast("long")
                )
        if name == "documents" and c > 0:
            # Rotate the word sequence by 7c: same length, vocabulary and
            # intra-copy dup structure; near-zero cross-copy shingle overlap.
            k = 7 * c
            cp = cp.withColumn("w", F.split(F.col("text"), " ")).withColumn(
                "text",
                F.array_join(
                    F.concat(
                        F.expr(f"slice(w, ({k} % size(w)) + 1, size(w))"),
                        F.expr(f"slice(w, 1, {k} % size(w))"),
                    ),
                    " ",
                ),
            ).drop("w")
        copies.append(cp)
    out = copies[0]
    for cp in copies[1:]:
        out = out.unionByName(cp)
    return out


def build_amplified(
    spark: SparkSession,
    factor: int,
    force: bool = False,
    base_dir: str = BASE_SF_DIR,
    out_root: str = OUT_ROOT,
) -> str:
    out_dir = os.path.join(out_root, f"x{factor}")
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker) and not force:
        return out_dir
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    units = _entity_units(spark, base_dir)
    for t in TABLES:
        src = load_table(spark, base_dir, t)
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t in _DIM_TABLES or factor == 1:
            amp = src
        else:
            amp = _amplify_table(src, t, factor, units)
        amp.write.mode("overwrite").parquet(dst)
    with open(marker, "w") as fh:
        fh.write(f"factor={factor} base={base_dir}\n")
    return out_dir
