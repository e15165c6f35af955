#!/usr/bin/env python
"""Whole-registry physical-plan audit: the 100 TB multi-pass sweep.

Executes every registered key at $LUXOR_SWEEP_SF_DIR (default sf0.01) and
inspects the FINAL adaptive plan (post-AQE, after ReusedExchange stage
dedup) for the shape that result-parity can never catch: one query
re-scanning a FACT table N times. That was the graph_pagerank bug (6×
lineitem: un-pinned edges re-derived per unrolled iteration), the
agg_countmin bug (6× events: one union leg per sketch depth + one
broadcast sketch copy per probe join), the profile_table bug (4× orders:
one full aggregate per profiled column), the llm_bm25_search bug (4×
documents: dl/g/tf/idf each re-tokenizing), and the llm_dedup_report bug
(each method's whole dedup subplan in the lineage twice).

Policy: dimension tables (region/nation/customer/supplier/part) are
bounded — re-reading them is broadcast-cheap and never flagged. Fact
tables (lineitem/orders/events/documents/embeddings) get a default cap
of TWO final-plan scans: self-joins and two-branch (stats + detail)
shapes genuinely read twice, and with column pruning + pushdown that is
one logical pass per side. Anything above 2 must be declared in
_ALLOWED_REPEATS with the reason it is scale-safe; an undeclared excess
fails the sweep (exit 1).

Usage: python tools/plan_sweep.py [key ...]   (default: all keys)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("LUXOR_SWEEP_SF_DIR", "/root/testdata/sf0.01")

FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

# key -> {table: (max_final_scans, reason)}. Each entry documents WHY the
# extra passes are scale-safe; an undeclared excess fails CI.
_ALLOWED_REPEATS: dict[str, dict[str, tuple[int, str]]] = {
    "llm_ann_ivfpq": {
        "embeddings": (
            3,
            "three DIFFERENT roles in the build-per-call fixture path: "
            "(1) the full encode lineage (the one real corpus pass), "
            "(2) the 10-query probe side with vec_id<10 pushed to the "
            "scan, (3) the re-rank originals fetch, row-bounded by the "
            "broadcast top-(k*refine) shortlist hash join. Serving off "
            "a LOADED index replaces (1) with the cell-partitioned "
            "coded parquet (DPP-pruned, plan-pinned), leaving one tiny "
            "and one bounded embeddings read",
        )
    },
    "llm_ann_pq_parity": {
        "embeddings": (
            3,
            "same three roles as llm_ann_ivfpq's build-per-call path "
            "(encode lineage, vec_id<10 probe side, re-rank fetch); the "
            "parity harness widens nprobe/refine but adds no pass — it "
            "exists to hash-certify the serving plumbing at fixture "
            "scale, not to run at 100 TB",
        )
    },
    "agg_countmin": {
        "events": (3, "1 sketch-build pass + 2 probe reads with pushed user_id<20 filter (tiny selective reads)")
    },
    "ts_outlier_mad": {
        "events": (3, "exact MAD is inherently median->residual-median->flag; each pass reduces map-side to the |types| grain (docstring names approx_percentile as the 1-pass 100TB drop-in)")
    },
    "llm_dedup_report": {
        "documents": (4, "composes llm_dedup_near + llm_dedup_fuzzy + exact fingerprint; each method's self-join contributes its two sides, partially deduped by ReusedExchange")
    },
    "win_bollinger": {
        "events": (3, "bucket-with-halo: own rows + halo candidates share one exchange (reused); the per-bucket count ledger is a third map-side-combining pass reduced to the bucket grain")
    },
    "ts_cusum_changepoint": {
        "events": (3, "bucket offsets two-level prefix sum: detail + per-bucket sum ledger + halo, each map-side to bucket grain")
    },
    "win_moving_median": {
        "events": (3, "bucket-with-halo, as win_bollinger")
    },
    "win_max_concurrent": {
        "events": (3, "sweep-line with bucket offsets: +1/-1 detail pass + bucket ledger")
    },
    "llm_near_dup_eval": {
        "documents": (4, "evaluates LSH vs exact Jaccard: two independent pipelines (banded minhash + shingle self-join), each with its 2 join sides, partially deduped by ReusedExchange")
    },
    "llm_tfidf_topterms": {
        "documents": (3, "tf and df each read the corpus once; the third read is the 1-row count(*) of the corpus size (no column data), broadcast into the plan so that building the query runs no job")
    },
    "llm_dedup_near": {
        "documents": (3, "r9 skew-safe df-cap default: the hot-shingle count is a deliberate EXTRA map-side-combinable pass (partial (s,count) rows, immune to posting skew) ahead of the self-join's two sides — the alternative single-exchange window form buffers a Zipf-hot posting list in one task (measured in SCALE.md \"Round 9: dedup_near's df-cap forms measured on an amplified Zipf corpus\")")
    },
}


def main(argv: list[str]) -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from luxor_db_spark.registry import load_all_queries
    from luxor_db_spark.session import get_spark

    qs = load_all_queries()
    keys = [a for a in argv if not a.startswith("-")] or sorted(qs)
    spark = get_spark(app_name="plan-sweep")
    flagged: list[dict] = []
    report: list[dict] = []
    for key in keys:
        try:
            df = qs[key](spark, SF_DIR)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            report.append({"key": key, "error": f"{type(e).__name__}: {e}"[:200]})
            continue
        final = plan.split("== Initial Plan ==")[0]
        scans = {
            t: final.count(f"{t}.parquet")
            for t in FACT_TABLES
            if final.count(f"{t}.parquet")
        }
        row = {
            "key": key,
            "scans": scans,
            "cartesian": final.count("CartesianProduct"),
            "reused_exchanges": final.count("ReusedExchange"),
        }
        report.append(row)
        for t, n in scans.items():
            cap = _ALLOWED_REPEATS.get(key, {}).get(t, (2, ""))[0]
            if n > cap:
                flagged.append({"key": key, "table": t, "n": n, "cap": cap})
    for r in report:
        print(json.dumps(r))
    print(
        json.dumps(
            {
                "summary": True,
                "n": len(report),
                "errors": [r["key"] for r in report if "error" in r],
                "flagged": flagged,
            }
        )
    )
    # Errors fail the sweep too: an un-audited key is not a passing key.
    return 1 if flagged or any("error" in r for r in report) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
