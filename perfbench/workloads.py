"""The benchmark's workloads: which registry keys one pass runs, and why.

Every key listed here has a DuckDB oracle in the registry, and the benchmark
checks each key's output against it once per run.

The key lists are short because every run pays a JVM start and a cold,
checked first pass before it can time anything, and the runs of both
workloads, repeated, must fit a fixed time. ``BENCHMARK.json`` names
``llm_pipeline`` and ``stream_replay``; ``olap_star`` stays runnable by hand,
traced or not, for changes to the catalog and session layers.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    why: str
    # Untimed passes after the checked cold pass. The llm_pipeline pass is
    # still 10-25% faster on its third warm run than on its first;
    # stream_replay's shows no such drift after one.
    warmup_passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_star",
            (
                "scan_filtered",
                "join_multiway",
                "agg_grouping_sets",
                "win_topk_group",
                "sub_scalar",
                "query_q3",
                "query_q18",
                "query_q21",
            ),
            "short TPC-H-shaped queries over many tables: table loads and "
            "DataFrame construction are a large share of each query, so the "
            "catalog, session and operators layers do most of their work here",
        ),
        Workload(
            "llm_pipeline",
            (
                "llm_dedup_exact",
                "llm_dedup_near",
                "llm_tfidf_topterms",
                "llm_knn_join",
                "mm_resize",
            ),
            "LLM-data-pipeline keys over documents and embeddings: Spark "
            "execution is 60-66% of a pass, with Python workers "
            "(mm_resize) and the one eager build (llm_tfidf_topterms, two "
            "jobs); one table load per key, so catalog changes show here too",
            warmup_passes=3,
        ),
        Workload(
            "stream_replay",
            (
                "stream_tumbling",
                "stream_windowed_topk",
                "stream_chunk_dedup",
            ),
            "streaming drains of the same operator families: state-store "
            "commits, WAL entries, memory sinks and the zero-row "
            "watermark-flush batch (about two fifths of the stream_chunk_dedup "
            "drain); no table loads, so catalog changes should not move it. "
            "query_p50_s is a short drain, query_tail_s is stream_chunk_dedup",
        ),
    )
}
