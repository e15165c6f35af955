#!/usr/bin/env python
"""Strong-scaling measurement: FIXED input, varying core count.

`tools/scale_curve.py` answers "does wall time stay ~linear as the DATA
grows?" — this tool answers the complementary cluster question: "does
wall time FALL as CORES grow?" A key whose plan serializes through a
handful of tasks (the constant-cardinality window shape the r6 rewrites
removed) is flat here no matter how clean its data-scaling slope looks,
because the same few tasks do all the work at every core count.

Method: for each requested core count C, a fresh subprocess builds a
`local[C]` session with `spark.sql.shuffle.partitions = C` (a new JVM
per C — Spark masters can't change in-process) and times each key
(median of LUXOR_SCALE_RUNS, default 3, after a warm-up) on the ×4
amplified fixtures from scale_curve's builder (big enough that task
startup doesn't dominate at 32 cores). The parent aggregates speedup =
t(min_cores) / t(max_cores) and flags keys below SPEEDUP_FLAG whose
max-core time is still ≥ T_MIN seconds — small keys are exempt because
a 0.3 s query measures session overhead, not scaling.

Usage:
    python tools/strong_scale.py                      # default key set
    python tools/strong_scale.py k1 k2 ...            # specific keys
    python tools/strong_scale.py --cores 4,16,32      # core counts
    python tools/strong_scale.py --ledger docs/strong_scale.json
    (internal) --worker --master local[N] --dir D k1 k2 ...

Prints one JSON line per key and a final summary line; exits 1 on flags.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SPEEDUP_FLAG = 1.6  # min t(low)/t(high) before a key is called flat
T_MIN = 2.0  # seconds at max cores below which flatness is noise: a query
# whose 32-core time sits near the per-job fixed overhead (~0.3-0.5 s
# scheduling + Python driver round-trips on this box) measures that
# overhead, not parallel work — the x4 pilot run flagged flagship_q1 at
# 1.2 s for exactly this reason, while the x16 fixture separates the two.
RUNS = int(os.environ.get("LUXOR_SCALE_RUNS", "3"))
FACTOR = int(os.environ.get("LUXOR_STRONG_FACTOR", "16"))  # fixture size:
# big enough that parallel work dominates fixed overhead at max cores

# Keys whose flatness is ANALYZED, not a bug: reason must name the
# bounded grain that makes core count irrelevant (mirrors scale_curve's
# EXPECTED_INVERSIONS). They still print, with flag true, but don't fail
# the run.
EXPECTED_FLAT = {
    "graph_pagerank": (
        "iteration grain is |nations|^2 <= 625 edge rows (broadcast "
        "joins, AQE-coalesced aggs); only the edge DERIVATION scales "
        "with data/cores and the persist pins it to one pass - extra "
        "cores only add per-round task overhead to the tiny iterate"
    ),
    "graph_cc_two_phase": (
        "the graph is CONSTANT-SIZE by construction (doc_id % 97 -> "
        "<= 97 nodes at every SF), so after the one parallel documents "
        "scan the star-contraction rounds iterate a <= 97-edge frame: "
        "per-round cost is task scheduling, which cores cannot speed up "
        "(measured 3.45 s @4 -> 3.18 s @32). llm_dedup_cluster runs the "
        "SAME kernel on the SF-scaled near-dup graph and speeds up 2.38x"
    ),
    "stream_simhash_dedup": (
        "after the r9 epoch-keyed band join removed the hot-bucket "
        "quadratic (220 s -> ~18 s at x16), the remaining time is "
        "streaming FIXED OVERHEAD: query startup, the 32-instance "
        "state-store commit, and the per-side fingerprint of the one "
        "replayed micro-batch - none of which a bigger local core "
        "count parallelizes (measured 23.5 s @4 -> 17.7 s @32)"
    ),
    "stream_dedup_survivors": (
        "same streaming fixed-overhead class as stream_simhash_dedup, "
        "doubled: TWO stateful operators (outer join + windowed agg) "
        "each commit shuffle.partitions state stores per micro-batch, "
        "plus the driver-side fixture staging (~1 s); the x16 data "
        "term is small next to that (r12 batch-normalized run: 24.0 s "
        "@4 -> 15.3 s @32 at a pinned 2 micro-batches, 1.56x - the "
        "band-join work does spread across cores but the commit "
        "fan-out eats the rest; end-state 8 rows at every core count, "
        "so watermark cleanup holds)"
    ),
    "stream_embed_dedup": (
        "streaming fixed overhead in its purest form: the x16 corpus "
        "is 8k vectors, so per-partition join work is microseconds and "
        "wall time is ~C state-store commits per stateful side - "
        "measured INVERSE scaling 2.6 s @4 -> 9.8 s @32. At real "
        "ingest volume the work term dominates and the (blk, epoch) "
        "key spreads it across all stores; the data-scaling curve "
        "(slope -0.02 to x16) is the relevant axis for this key"
    ),
    "stream_chunk_dedup": (
        "same streaming fixed-overhead class as stream_embed_dedup: "
        "one stateful outer join, so per-batch wall is ~C state-store "
        "commits while the x16 chunk-join work is microseconds per "
        "partition - measured INVERSE 8.1 s @4 -> 14.2 s @32 at a "
        "PINNED 2 micro-batches when a windowed agg was still chained "
        "behind the join (2C commits), end-state 2 rows at every core "
        "count (watermark cleanup holds; r12 batch-normalized run). The "
        "data-scaling curve (sf0.001 -> sf0.1 at flat wall, SCALE.md "
        "r11) is the relevant axis"
    ),
    "stream_stream_join": (
        "same fixed-overhead class: one stateful join over the 7k-row "
        "x16 replay leaves ~1 392 state rows and microseconds of "
        "per-partition probe work, so wall is the C-proportional "
        "commit fan-out - measured INVERSE 4.1 s @4 -> 9.1 s @32 at a "
        "PINNED 2 micro-batches (r12). This batch-normalized row is "
        "the control metric the r11 ledger-noise verdict lacked: any "
        "future cross-round drift must exceed what commit fan-out "
        "alone predicts before it counts as code regression"
    ),
    "llm_ann_ivfpq": (
        "dominated by quantizer TRAINING, which is bounded-size BY "
        "DESIGN (hash-fraction sample with a per-codeword floor): the "
        "8 concurrent subspace fits + the coarse fit do near-constant "
        "work no matter the cores, and x16 serving (8k vectors) is "
        "small (measured 26.4 s @4 -> 19.4 s @16 -> 20.2 s @32). The "
        "SERVING path scales with data like llm_ann_ivf's - cells "
        "partition the ADC scan - while build cost is deliberately "
        "capped; rebuilds at 100 TB cost the same as at x16"
    ),
}

# The de-weakened keys (should now scale with cores), the heavy
# join/stream/dedup/retrieval shapes, and a few always-parallel controls.
DEFAULT_KEYS = [
    "win_rank_dense",
    "win_percent",
    "win_range_frame",
    "win_ntile",
    "agg_gini",
    "agg_weighted_median",
    "llm_dpo_pairs",
    "win_moving_median",
    "flagship_q1",
    "join_multiway",
    "llm_dedup_exact",
    "llm_tokenize",
    "llm_dedup_near",
    "llm_minhash_lsh",
    "llm_knn_join",
    "join_skew_salted",
    "stream_stateful",
    "query_q21",
    "agg_countmin",
    "profile_table",
    "graph_pagerank",
]


def worker(master: str, sf_dir: str, keys: list[str]) -> int:
    """Child process: one session at the requested core count, time keys.

    Streaming keys additionally report the LAST_DRAIN_STATS of each run
    (micro-batch count, total state rows, checkpoint manager): a
    finite-replay streaming key's wall time is ≈ n_batches × per-batch
    commit cost + data work, so a cross-core (or cross-round) comparison
    is only a measurement when n_batches is PINNED — the parent flags
    any key whose batch count differs across arms (r11 verdict task 3)."""
    cores = master.split("[")[1].rstrip("]")
    # Pin streaming drains' state partitions to the arm's core count:
    # _drain otherwise clamps local streaming to 8 partitions (r12
    # verdict task 3 — fixture-scale commit overhead), which would make
    # this probe's streaming rows flat-by-construction instead of a
    # measurement of core scaling. --clamp-default instead measures the
    # SHIPPED local behavior (the 8-partition clamp), the r13 arm used
    # to show the old inverse-scaling rows were the state-store fan-out
    # the clamp removed.
    if os.environ.get("LUXOR_STRONG_CLAMP_DEFAULT") != "1":
        os.environ["LUXOR_STREAM_SHUFFLE_PARTITIONS"] = cores
    from luxor_db_spark.registry import load_all_queries
    from luxor_db_spark.session import get_spark
    from luxor_db_spark.streaming import streams as _streams

    queries = load_all_queries()
    spark = get_spark(
        app_name=f"luxor-strong-scale-{cores}",
        master=master,
        shuffle_partitions=int(cores),
    )
    # Warm JVM + parquet footers.
    queries[keys[0]](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    out = {}
    for key in keys:
        samples, batch_counts, state_rows, errors = [], [], [], []
        managers = []
        for _ in range(RUNS):
            _streams.LAST_DRAIN_STATS.pop(key, None)
            t0 = time.perf_counter()
            queries[key](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(time.perf_counter() - t0)
            stats = _streams.LAST_DRAIN_STATS.get(key)
            if stats is None:
                continue
            if "error" in stats:
                errors.append(stats["error"])
            else:
                batch_counts.append(stats.get("n_batches"))
                state_rows.append(stats.get("state_rows_total"))
                managers.append(stats.get("checkpoint_manager"))
        row = {"s": round(statistics.median(samples), 3)}
        if errors:
            row["drain_stats_error"] = errors
        if managers:
            # checkpoint manager the drains ran with: a comparison whose
            # arms mix managers measures the manager, not core scaling
            row["checkpoint_manager"] = sorted(set(managers))
        if batch_counts:
            row["n_batches"] = (
                batch_counts[0]
                if len(set(batch_counts)) == 1
                else batch_counts  # unpinned across runs: report all
            )
            sr = [r for r in state_rows if r is not None]
            if sr:
                row["state_rows"] = max(sr)
        out[key] = row
    print("WORKER_RESULT " + json.dumps(out), flush=True)
    return 0


def main(argv: list[str]) -> int:
    if "--worker" in argv:
        i = argv.index("--master")
        master = argv[i + 1]
        j = argv.index("--dir")
        sf_dir = argv[j + 1]
        keys = [
            a
            for a in argv
            if not a.startswith("--") and a not in (master, sf_dir)
        ]
        return worker(master, sf_dir, keys)

    cores = [4, 16, 32]
    if "--cores" in argv:
        i = argv.index("--cores")
        if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
            print("usage: --cores 4,16,32", file=sys.stderr)
            return 2
        cores = sorted({int(x) for x in argv[i + 1].split(",")})
        del argv[i : i + 2]
    ledger_path = None
    if "--ledger" in argv:
        i = argv.index("--ledger")
        if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
            print("usage: --ledger <path>", file=sys.stderr)
            return 2
        ledger_path = argv[i + 1]
        del argv[i : i + 2]
    merge = "--merge" in argv
    argv = [a for a in argv if a != "--merge"]
    if "--clamp-default" in argv:
        os.environ["LUXOR_STRONG_CLAMP_DEFAULT"] = "1"
        argv = [a for a in argv if a != "--clamp-default"]
    keys = [a for a in argv if not a.startswith("-")] or DEFAULT_KEYS

    from luxor_db_spark.registry import load_all_queries

    queries = load_all_queries()
    unknown = [k for k in keys if k not in queries]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    factor = FACTOR
    if "--factor" in argv:
        i = argv.index("--factor")
        if i + 1 >= len(argv) or not argv[i + 1].isdigit():
            print("usage: --factor <n>", file=sys.stderr)
            return 2
        factor = int(argv[i + 1])
        del argv[i : i + 2]
        keys = [a for a in argv if not a.startswith("-")] or DEFAULT_KEYS

    # Build the amplified fixture once, with a throwaway session.
    from luxor_db_spark.session import get_spark
    from tools.scale_curve import build_amplified

    spark = get_spark(app_name="luxor-strong-scale-build")
    sf_dir = build_amplified(spark, factor)
    spark.stop()

    per_cores: dict[int, dict[str, float]] = {}
    for c in cores:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--worker",
                "--master",
                f"local[{c}]",
                "--dir",
                sf_dir,
                *keys,
            ],
            capture_output=True,
            text=True,
        )
        line = next(
            (
                ln
                for ln in proc.stdout.splitlines()
                if ln.startswith("WORKER_RESULT ")
            ),
            None,
        )
        if proc.returncode != 0 or line is None:
            print(
                f"worker local[{c}] failed:\n{proc.stderr[-2000:]}",
                file=sys.stderr,
            )
            return 1
        per_cores[c] = json.loads(line[len("WORKER_RESULT ") :])

    lo, hi = cores[0], cores[-1]
    flagged = []
    batch_unpinned = []
    results = {}
    for key in keys:
        rows = {c: per_cores[c][key] for c in cores}
        # Workers historically emitted bare floats; current ones emit
        # {"s": ..., "n_batches": ...}. Accept both so --merge over an
        # old ledger keeps working.
        times = {
            c: (r["s"] if isinstance(r, dict) else r)
            for c, r in rows.items()
        }
        speedup = round(times[lo] / max(times[hi], 1e-6), 2)
        flat = speedup < SPEEDUP_FLAG and times[hi] >= T_MIN
        if flat and key not in EXPECTED_FLAT:
            flagged.append(key)
        results[key] = {
            "times_s": {str(c): t for c, t in times.items()},
            "speedup": speedup,
            "flag": flat,
        }
        nb = {
            c: r.get("n_batches")
            for c, r in rows.items()
            if isinstance(r, dict) and r.get("n_batches") is not None
        }
        if nb:
            # ints only when pinned within a worker; a list means the
            # count varied across RUNS inside one arm — also unpinned.
            pinned = all(isinstance(v, int) for v in nb.values()) and (
                len({v for v in nb.values()}) == 1
            )
            results[key]["n_batches"] = {str(c): v for c, v in nb.items()}
            results[key]["batch_pinned"] = pinned
            if pinned:
                b = next(iter(nb.values()))
                results[key]["s_per_batch"] = {
                    str(c): round(t / b, 3) for c, t in times.items()
                }
            else:
                batch_unpinned.append(key)
            sr = {
                c: r.get("state_rows")
                for c, r in rows.items()
                if isinstance(r, dict) and r.get("state_rows") is not None
            }
            if sr:
                results[key]["state_rows"] = {
                    str(c): v for c, v in sr.items()
                }
        managers = {
            str(c): r["checkpoint_manager"]
            for c, r in rows.items()
            if isinstance(r, dict) and "checkpoint_manager" in r
        }
        if managers:
            results[key]["checkpoint_manager"] = managers
        errors = {
            str(c): r["drain_stats_error"]
            for c, r in rows.items()
            if isinstance(r, dict) and "drain_stats_error" in r
        }
        if errors:
            results[key]["drain_stats_error"] = errors
        print(json.dumps({"key": key, **results[key]}), flush=True)

    summary = {
        "summary": "strong_scale",
        "fixture": sf_dir,
        "factor": factor,
        "cores": cores,
        "runs": RUNS,
        "speedup_flag_below": SPEEDUP_FLAG,
        "t_min": T_MIN,
        "flagged_flat": flagged,
        "expected_flat": sorted(
            k for k in keys if k in EXPECTED_FLAT and results[k]["flag"]
        ),
        # Streaming keys whose micro-batch count varied across arms:
        # their times_s rows compare scheduling overhead, not code, and
        # must not feed cross-round regression verdicts.
        "batch_unpinned": batch_unpinned,
    }
    print(json.dumps(summary))
    if ledger_path:
        if merge and os.path.exists(ledger_path):
            with open(ledger_path) as fh:
                old = json.load(fh)
            results = {**old.get("curves", {}), **results}
            summary = {**old.get("meta", {}), "last_merge": summary}
        with open(ledger_path, "w") as fh:
            json.dump(
                {"meta": summary, "curves": results},
                fh,
                indent=1,
                sort_keys=True,
            )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
