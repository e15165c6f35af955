#!/usr/bin/env python
"""Recall/precision vs corpus scale for the approximate dedup paths.

The measured scaling curves (`docs/scale_curves.json`, `docs/SCALE.md`
"Round 5 addendum: measured scaling curves") show that the df-capped
exact-Jaccard path (`llm_dedup_near`) and the banded MinHash path
(`llm_minhash_lsh`) keep near-linear COST as the corpus grows — with an
open caveat: the df-cap trades RECALL for that bound (shingle document
frequency grows with the corpus, so ever more shingles cross `_DF_CAP`
and drop out of the index). `llm_near_dup_eval` scores LSH against the *capped* truth at
one scale only, so the caveat was argued, never measured.

This harness measures it. For each amplification factor it computes the
UNCAPPED exact-Jaccard ≥ 0.5 pair set (ground truth — quadratic in the
hottest shingle's posting list, affordable at measurement scale only)
and scores both production paths against it:

- `capped`  — `llm_dedup_near` (df-cap 100, the oracle-checked form)
- `lsh`     — `llm_minhash_lsh` raw band-join candidates
- `lsh_ver` — LSH candidates that survive exact verification, i.e.
  candidates ∩ truth: the output of the full candidate→verify pipeline
  the SCALE doc declares as the 100 TB path. Its precision is 1.0 by
  construction; its recall IS the LSH candidate recall.
- `prefix`  — `llm_dedup_near(prefix_filter=True)`: exact true-Jaccard
  via Bayardo prefix filtering. Recall/precision are 1.0 by theorem
  (CI-asserted); what this harness measures is its COST relative to the
  uncapped truth — the price of losslessness at growing dup density.

Reuses the `tools/scale_curve.build_amplified` amplifier verbatim
(rotation-amplified documents: dup density grows quadratically while
input grows linearly — the adversarial case for recall, since every true
pair must still be found).

Usage:
    python tools/recall_curve.py                 # factors 1,2,4,8
    python tools/recall_curve.py --factors 1,2   # subset
    python tools/recall_curve.py --rebuild       # force re-amplify

Prints one JSON line per factor and a final summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from luxor_db_spark.catalog import load_table  # noqa: E402
from luxor_db_spark.operators.llm import (  # noqa: E402
    llm_dedup_near,
    llm_minhash_lsh,
)
from luxor_db_spark.session import get_spark  # noqa: E402
from tools.scale_curve import build_amplified  # noqa: E402


def pair_metrics(cand: DataFrame, truth: DataFrame) -> dict[str, float]:
    """Precision/recall of a (doc_a, doc_b) candidate set vs a truth set.

    One cached pass per side; the intersection is an inner join on the
    pair key (both sides carry doc_a < doc_b by construction upstream).
    """
    c = cand.select("doc_a", "doc_b").persist()
    t = truth.select("doc_a", "doc_b").persist()
    n_cand = c.count()
    n_truth = t.count()
    tp = c.join(t, ["doc_a", "doc_b"]).count()
    c.unpersist()
    t.unpersist()
    return {
        "n_cand": n_cand,
        "n_truth": n_truth,
        "tp": tp,
        "precision": round(tp / n_cand, 4) if n_cand else None,
        "recall": round(tp / n_truth, 4) if n_truth else None,
    }


def measure_factor(
    spark: SparkSession, sf_dir: str, factor: int
) -> dict[str, object]:
    n_docs = load_table(spark, sf_dir, "documents").count()

    t0 = time.perf_counter()
    truth = (
        llm_dedup_near(spark, sf_dir, skew_safe=True, df_cap=None)
        .select("doc_a", "doc_b")
        .persist()
    )
    n_truth = truth.count()
    truth_s = round(time.perf_counter() - t0, 2)

    capped = pair_metrics(llm_dedup_near(spark, sf_dir), truth)
    lsh = pair_metrics(llm_minhash_lsh(spark, sf_dir), truth)

    t1 = time.perf_counter()
    prefix = pair_metrics(
        llm_dedup_near(spark, sf_dir, prefix_filter=True), truth
    )
    prefix_s = round(time.perf_counter() - t1, 2)
    truth.unpersist()

    row = {
        "factor": factor,
        "n_docs": n_docs,
        "n_truth": n_truth,
        "truth_cost_s": truth_s,
        "capped_precision": capped["precision"],
        "capped_recall": capped["recall"],
        "prefix_recall": prefix["recall"],
        "prefix_precision": prefix["precision"],
        "prefix_cost_s": prefix_s,
        "lsh_n_cand": lsh["n_cand"],
        "lsh_cand_precision": lsh["precision"],
        # verified-pipeline recall == candidate recall (verification is
        # exact, so it keeps every true pair the banding surfaced).
        "lsh_verified_recall": lsh["recall"],
        "cand_per_doc": round(lsh["n_cand"] / n_docs, 2) if n_docs else None,
    }
    return row


def main(argv: list[str]) -> int:
    factors = [1, 2, 4, 8]
    force = "--rebuild" in argv
    argv = [a for a in argv if a != "--rebuild"]
    if "--factors" in argv:
        i = argv.index("--factors")
        factors = [int(x) for x in argv[i + 1].split(",")]

    spark = get_spark(app_name="luxor-db-spark-recall-curve")
    rows = []
    for f in factors:
        sf_dir = build_amplified(spark, f, force=force)
        row = measure_factor(spark, sf_dir, f)
        rows.append(row)
        print(json.dumps(row), flush=True)

    print(
        json.dumps(
            {
                "summary": "recall_curve",
                "factors": factors,
                "capped_recall": [r["capped_recall"] for r in rows],
                "prefix_recall": [r["prefix_recall"] for r in rows],
                "lsh_verified_recall": [
                    r["lsh_verified_recall"] for r in rows
                ],
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
