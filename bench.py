#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + drain) on a warm session,
median of 5 runs, matching BASELINE.md's measurement protocol. The output
carries the machine's 1-min load average sampled before and after the
suite plus the run count: the r4→r5 cross-round comparison burned two
diagnosis sessions on a +11% uniform drift that turned out to be machine
load, which this metadata makes visible at a glance.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from luxor_db_spark.registry import ORACLES, load_all_queries  # noqa: E402
from luxor_db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("LUXOR_BENCH_RUNS", "5"))

# Headline set: one representative per SURVEY.md §2 category, weighted toward
# the expensive shapes (multiway join, windows, knn, dedup).
HEADLINE = [
    "flagship_q1",
    "scan_filtered",
    "join_multiway",
    "join_asof",
    "agg_hash",
    "agg_grouping_sets",
    "win_topk_group",
    "sort_multi",
    "set_except_all",
    "fn_array_hof",
    "udf_pandas",
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_minhash_lsh",
    "llm_tfidf_topterms",
    "llm_cosine_topk",
    "llm_knn_join",
    "llm_langid",
    "llm_corpus_clean",
    "join_skew_salted",
    "sub_scalar",
    "query_q3",
    "query_q18",
    "query_q21",
    "agg_approx_percentile",
    "stream_tumbling",
    "stream_stateful",
    "ts_sessionize",
    "ts_anomaly",
    "llm_bm25_search",
    # round 4 additions (append-only so cross-round totals stay comparable
    # on the shared prefix)
    "llm_dedup_fuzzy",
    "llm_winnow_fingerprint",
    "llm_chunk_overlap",
    "graph_pagerank",
    "agg_gini",
    "win_moving_median",
    # round 5 additions: the rest of the de-weakened event-grain window
    # family (bucket-with-halo / two-level prefix-sum rewrites)
    "win_bollinger",
    "ts_cusum_changepoint",
    "win_max_concurrent",
    # round-5 multi-pass-audit fixes (tools/plan_sweep.py): single-scan
    # sketch build, single-pass profiling, explode-free BM25, window-form
    # bigram LM
    "agg_countmin",
    "profile_table",
    "llm_bigram_lm_score",
    # round 7 addition: the sketch twin, so exact-vs-HLL profiling cost
    # stays visible side by side
    "profile_table_approx",
    # round 8 additions: the driver-visible simhash quality audit and the
    # real-pixel-path resize (decode + resample now do actual pixel work)
    "llm_simhash_eval",
    "mm_resize",
    # round 9 additions: the watermarked streaming near-dup join and the
    # real multi-frame decode path
    "stream_simhash_dedup",
    "mm_frame_sample",
    # round 10 addition: the deduped-STREAM composition (outer join
    # chained into a windowed agg — multi-stateful append mode)
    "stream_dedup_survivors",
    # round 12 swap (r11 verdict ask #2): the registry's two heaviest
    # keys had zero sf0.1 bench history. They replace the two redundant
    # sub-second keys fn_string (fn_array_hof still covers §2.8) and
    # set_intersect_all (set_except_all still covers §2.7), keeping the
    # set at 50 — the cross-round total is comparable on the shared
    # 48-key intersection.
    "stream_chunk_dedup",
    "stream_embed_dedup",
]


def drain(df) -> int:
    """Execute fully without driver-side materialization of values."""
    return df.write.format("noop").mode("overwrite").save() or 0


# Interleaved machine-factor calibration (r12 verdict task 1): the
# pre-suite load gate samples contention only BEFORE the suite starts,
# so co-tenant load arriving mid-run is invisible — BENCH_r12 passed the
# gate yet published 1.57× the same-commit quiet numbers. A fixed
# CPU-saturating probe job (range→sum(xxhash64) across all cores: ~0.14 s
# quiet on local[32], ~2× under 2× CPU oversubscription) now runs between
# headline keys; each key's machine factor is the smaller of its two
# bracketing probes divided by the run's median probe reading (both
# sides must read elevated — see the bracket comment in _run_suite). Keys
# measured above FACTOR_MAX are re-timed once, the lower-contention
# attempt wins, and EVERY key's factor is published so cross-round
# readers can deflate or discard inflated entries per key.
#
# Noise handling (measured during development): a SINGLE probe job's
# wall time jitters ~1.4× from task-scheduling variance and long-run JIT
# drift — far too noisy against the threshold. Two defenses: each
# probe reading is the MEDIAN of 3 back-to-back jobs (sustained
# contention survives a median; one-off scheduler hiccups and
# fast-outlier JIT samples don't), and the baseline is the MEDIAN
# reading of the whole run. Low quantiles were tried first and rejected
# by measurement: a fully quiet 5-run suite still shows a fast-outlier
# tail (turbo/GC-idle moments at ~0.65× the typical reading), and a
# p10 floor reclassified 27 quiet keys as contended. The median
# baseline's known blind spot — a run contaminated END-TO-END
# self-normalizes — is covered by the pre-suite load gate (that case is
# exactly what the gate sees) and by cross-round comparison of the
# published probe_percentiles: the ABSOLUTE p50 probe seconds are
# stable on a given box (~0.105 s on the round-13 driver), so a
# contaminated round's p50 stands out even when its relative factors
# read 1.0.
PROBE_ROWS = 50_000_000
PROBE_SAMPLES = 3
# Threshold calibration: against the median baseline, a QUIET machine's
# min-bracket factors cluster ~0.85–1.2 (GC pauses from the interleaved
# key runs, turbo-state wander), so 1.3 stays above the quiet spread
# while tripping easily on real contention (2× CPU oversubscription
# measures ~2.1×; the BENCH_r12 contamination averaged 1.57×).
FACTOR_MAX = 1.3


def _probe_once(spark) -> float:
    """One calibration reading: median of PROBE_SAMPLES constant
    CPU-bound jobs saturating every core (xxhash64 is not foldable, so
    the JIT cannot optimize the work away as it warms)."""
    samples = []
    for _ in range(PROBE_SAMPLES):
        t0 = time.perf_counter()
        (
            spark.range(0, PROBE_ROWS, 1, os.cpu_count() or 8)
            .selectExpr("sum(xxhash64(id)) AS s")
            .collect()
        )
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def _probe_baseline(probes: list[float]) -> float:
    """The run's typical-machine baseline: the median probe reading
    (robust to BOTH tails — GC-pause spikes and turbo/JIT fast
    outliers; see the noise-handling note above for why not a low
    quantile, and how the whole-run-contamination blind spot is
    covered)."""
    return statistics.median(probes)


# Quiet-machine gate (r6 verdict #7, ENFORCED r12 per the r11 verdict):
# the r6 recorded bench ran at load 4.59 and produced 4 phantom
# regressions; r11's ran at load 1.83→26.89 and contaminated all 50
# numbers. The harness now (a) waits up to QUIESCE_WAIT_S for the 1-min
# load to drop under LOAD_MAX before measuring, and (b) if it HAD to
# start noisy, re-arms the gate after the pass and RE-RUNS the whole
# suite when the machine settles, publishing the quiet pass — a noisy
# artifact is published only when the machine never quiesced inside
# both bounded waits, and it stays self-flagged.
LOAD_MAX = 1.5
QUIESCE_WAIT_S = 600
# Second-chance wait re-armed AFTER a noisy first pass. Shorter: the
# first pass itself took minutes, so transient load has had time to
# drain; this bound only covers the loadavg decay of our own run plus
# a little margin.
RETRY_WAIT_S = 300


def _await_quiet(budget_s: int) -> tuple[float, str]:
    """Wait up to ``budget_s`` for the 1-min load to drop under
    LOAD_MAX; return (load_at_start_of_suite, gate_status)."""
    load = os.getloadavg()[0]
    if load <= LOAD_MAX:
        return round(load, 2), "quiet"
    deadline = time.monotonic() + budget_s
    while time.monotonic() < deadline:
        # never sleep past the deadline, so the final sample below is
        # taken AT suite start, not up to one poll interval before it
        # (r7 ADVICE: the recorded load was ~10 s stale in the noisy path)
        time.sleep(min(10, max(0.0, deadline - time.monotonic())))
        load = os.getloadavg()[0]
        if load <= LOAD_MAX:
            return round(load, 2), "quiet_after_wait"
    return round(os.getloadavg()[0], 2), "noisy"


def _time_key(spark, queries, key: str) -> float:
    samples = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        df = queries[key](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def _run_suite(
    spark, queries, keys: list[str]
) -> tuple[dict[str, float], dict]:
    """Time every key with interleaved calibration probes.

    Returns (timings, calibration_meta). The probe baseline — the run's
    median probe reading — stands in for "this machine, typical"; a key
    bracketed by probes at ~1.0× the baseline was measured under the
    run's prevailing conditions even if the load average says otherwise
    (our own local[32] saturation inflates loadavg but not the
    between-key probes). Bracketing cannot see a burst that starts and
    ends INSIDE one key's samples, so factors are a lower bound; the
    pre-suite gate and load_avg_after remain as the coarse outer signal,
    and cross-round probe_percentiles comparison catches a run that was
    contaminated end-to-end (where relative factors self-normalize).
    """
    probes = [_probe_once(spark)]
    timings: dict[str, float] = {}
    brackets: dict[str, float] = {}
    for key in keys:
        before = probes[-1]
        timings[key] = _time_key(spark, queries, key)
        probes.append(_probe_once(spark))
        # A key's bracket is the SMALLER of its two surrounding probes:
        # flagging requires both sides elevated. Sustained co-tenant
        # load (the r11/r12 contamination ran for minutes) elevates
        # consecutive probes; an isolated spike — a GC pause trailing
        # one heavy key — elevates exactly one, and max() was measured
        # flagging ~20 quiet keys per run on that alone.
        brackets[key] = min(before, probes[-1])
    baseline = _probe_baseline(probes)
    rerun = sorted(
        k for k in keys if brackets[k] / baseline > FACTOR_MAX
    )
    for key in rerun:
        # One bounded retry per flagged key; the attempt measured under
        # less contention wins. Probes from retries also tighten the
        # floor (they may be the quietest moments of the whole run).
        b0 = _probe_once(spark)
        t = _time_key(spark, queries, key)
        b1 = _probe_once(spark)
        probes.extend((b0, b1))
        if min(b0, b1) < brackets[key]:
            brackets[key] = min(b0, b1)
            timings[key] = t
    baseline = _probe_baseline(probes)
    factors = {k: round(brackets[k] / baseline, 2) for k in keys}
    meta = {
        "probe_baseline_s": round(baseline, 3),
        "machine_factor": factors,
        "suite_machine_factor": round(
            statistics.median(factors.values()), 2
        )
        if factors
        else 1.0,
        "rerun_keys": rerun,
        # Keys whose BEST attempt still measured contended: deflate or
        # discard these individually when comparing across rounds.
        "contended_keys": sorted(
            k for k, f in factors.items() if f > FACTOR_MAX
        ),
        "n_probes": len(probes),
        # Raw probe distribution, for judging the floor itself: a wide
        # min→max spread with a quiet gate means machine-speed wander
        # (thermal/JIT), not co-tenant load.
        "probe_percentiles": {
            "min": round(min(probes), 3),
            "p50": round(statistics.median(probes), 3),
            "max": round(max(probes), 3),
        },
    }
    return timings, meta


def main() -> None:
    queries = load_all_queries()
    keys = [k for k in HEADLINE if k in queries]
    load_before, load_gate = _await_quiet(QUIESCE_WAIT_S)
    spark = get_spark(app_name="luxor-db-spark-bench")
    # Warm the JVM + parquet footers with the cheapest key, then
    # stabilize the probe: the first ~6 readings trend downward as C2
    # compilation finishes (measured 0.23 → 0.11 s over the first six) —
    # without this, the run's floor comes from LATE probes and every
    # early key spuriously reads as contended.
    queries[keys[0]](spark, SF_DIR).count()
    # Declared setup (r13 verdict item 1): the streaming keys read staged
    # multi-part copies of single-file fixtures (fixture plumbing — a real
    # ingest directory already exists and is never rebuilt per query).
    # Stage them HERE, before the timed region, and publish the cost below
    # as staging_setup_s so (a) no timed run's median silently includes or
    # excludes a staging write and (b) the parallel-scan share of any
    # streaming gain is separable from the staging cost. Harness note:
    # this moves work that r13 paid inside run 1 of each survivor key (and
    # memoized for runs 2-5, so medians already excluded it) fully out of
    # the timed region — medians are comparable with r13's.
    # A staging failure is published as an error value, never as {}.
    staging_setup_s: dict = {}
    if any(k.startswith("stream_") for k in keys):
        try:
            from luxor_db_spark.streaming.streams import (
                stage_fixture_sources,
            )

            staging_setup_s = stage_fixture_sources(spark, SF_DIR)
        except Exception as e:  # noqa: BLE001
            staging_setup_s = {"error": repr(e)}
            print(
                f"bench: stream fixture staging failed: {e!r}",
                file=sys.stderr,
            )
    prev = _probe_once(spark)
    for _ in range(11):
        cur = _probe_once(spark)
        improving = cur < prev * 0.97
        prev = cur
        if not improving:
            break

    passes = 1
    timings, calib = _run_suite(spark, queries, keys)
    if load_gate == "noisy":
        # First pass ran on a loaded machine — every number in it is
        # suspect (r11). Re-arm the gate; if the machine settles inside
        # the bounded retry wait, the quiet second pass replaces the
        # noisy one wholesale (medians from different load regimes must
        # not be mixed). Comparability note (r12 ADVICE #2): the retry
        # pass runs on a JVM/JIT/page cache fully warmed by the
        # discarded pass, so quiet_retry rounds are systematically
        # warm-biased vs a normal single-pass round — flagged as
        # warm_biased in the output.
        load_retry, gate_retry = _await_quiet(RETRY_WAIT_S)
        if gate_retry != "noisy":
            load_before, load_gate = load_retry, "quiet_retry"
            timings, calib = _run_suite(spark, queries, keys)
            passes = 2

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # Streaming keys' wall time is ≈ n_batches × commit overhead + data
    # work; publishing each drain's batch/state counts makes cross-round
    # streaming comparisons checkable (r12 verdict task 3).
    try:
        from luxor_db_spark.streaming.streams import LAST_DRAIN_STATS

        drain_stats = {
            k: v for k, v in LAST_DRAIN_STATS.items() if k in timings
        }
    except Exception as e:  # noqa: BLE001
        drain_stats = {"error": repr(e)}
        print(f"bench: drain stats unavailable: {e!r}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "n_queries": len(timings),
                "n_registered": len(queries),
                "n_sql_oracles": len(ORACLES),
                # Measurement metadata (r5 VERDICT ask #8): cross-round
                # drift on unchanged keys is only signal if the machine
                # was comparably loaded and the sample count is known.
                "runs_per_query": RUNS,
                "load_avg_before": load_before,
                "load_avg_after": round(os.getloadavg()[0], 2),
                # "quiet" / "quiet_after_wait" / "quiet_retry" / "noisy":
                # whether the quiet-machine gate (load <= LOAD_MAX,
                # waiting up to QUIESCE_WAIT_S s, with one bounded re-run
                # pass after a noisy start) held. "noisy" runs are NOT
                # comparable across rounds.
                "load_gate": load_gate,
                "bench_passes": passes,
                # quiet_retry passes run fully warmed by the discarded
                # noisy pass — systematically faster than a single-pass
                # quiet round (r12 ADVICE #2).
                "warm_biased": load_gate == "quiet_retry",
                "n_cpus": os.cpu_count(),
                # Per-key machine factors from the interleaved probes
                # (r12 verdict task 1): probe_baseline_s is this run's
                # median probe; machine_factor[k] is k's bracketing
                # probe min over that baseline. Keys in contended_keys
                # measured >FACTOR_MAX even after their bounded re-run —
                # deflate or discard them in cross-round reads.
                "probe_rows": PROBE_ROWS,
                "factor_max": FACTOR_MAX,
                **calib,
                # Seconds spent materializing each staged stream-source
                # copy BEFORE the timed suite (declared setup; r13
                # verdict item 1). The streaming keys' timed numbers
                # measure only the streamed computation.
                "staging_setup_s": staging_setup_s,
                "drain_stats": drain_stats,
            }
        )
    )


if __name__ == "__main__":
    main()
