"""Run-twice determinism for the nondeterminism-prone keys.

Oracle parity proves a run agreed with DuckDB once; a key with latent
nondeterminism (unsorted collect_list, RNG outside the pinned seed,
partition-order-dependent floats, streaming sink residue) can pass that
gate flakily and then hash-mismatch at the driver. This suite runs each
risk-class key TWICE in the same session and asserts byte-identical
canonical results — the cheap local stand-in for "same answer on every
retry of every task".

Key selection = the machinery that can go nondeterministic:
- seeded randomness: sampling, KMeans quantizer; and minhash banding,
  whose hashes are fixed but whose pairs come out of a band self-join
- order-sensitive aggregation: collect_list → sort_array keys, listagg
- physical-plan artifacts: spark_partition_id prefix sums, persist reuse
- streaming drains: fresh memory-sink per call (a stale sink name or
  leaked state would differ on the second run)
- iterative fixpoints: round counts must not wobble the labels
"""

from __future__ import annotations

import pytest

from luxor_db_spark.registry import load_all_queries
from tests.conftest import canonical_rows

QUERIES = load_all_queries()

KEYS = [
    # seeded randomness
    "llm_sample_seeded",
    "llm_ann_ivf",
    "llm_dedup_minhash",
    "llm_centroids",
    "scan_sample_stratified",
    "llm_dataset_split",
    # order-sensitive aggregation
    "agg_collect",
    "agg_listagg",
    "win_topk_group",
    "stream_windowed_topk",
    "llm_tfidf_topterms",
    # physical-plan artifacts
    "win_ntile",
    "win_pareto",
    "agg_weighted_median",
    "llm_dedup_exact",
    # sink re-read audits (bucket bounds must come from order-independent
    # aggregates — sampled range bounds and merged GK sketches both move
    # run-to-run)
    "sink_zorder",
    # streaming drains
    "stream_tumbling",
    "stream_dedup",
    "stream_stateful",
    # iterative fixpoints
    "llm_dedup_cluster",
    "graph_cc_two_phase",
]


@pytest.mark.parametrize("key", KEYS)
def test_run_twice_identical(spark, sf_dir, key):
    def run():
        df = QUERIES[key](spark, sf_dir)
        return canonical_rows(list(df.columns), [tuple(r) for r in df.collect()])

    first, second = run(), run()
    assert len(first) == len(second), (
        f"[{key}] row count differs between two runs: "
        f"{len(first)} vs {len(second)}"
    )
    if first != second:
        f, s = set(first), set(second)
        raise AssertionError(
            f"[{key}] nondeterministic output\n"
            f"  first-only:  {[r for r in first if r not in s][:5]}\n"
            f"  second-only: {[r for r in second if r not in f][:5]}"
        )
