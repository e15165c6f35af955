#!/usr/bin/env python
"""Same-host alternating A/B of chosen keys between a git ref and the
live tree.

``tools/timing_diff.py`` flags keys whose bench time moved by more than
the calibrated noise; this probe tells a code change from machine drift
for those keys. Each sample is a fresh tuned session in its own
subprocess (median of ``LUXOR_BENCH_RUNS`` noop executions at
``SPARK_GRAFT_SF_DIR``); the two arms alternate so slow machine-state
drift cancels instead of loading one arm. Keys outside perfbench's
workloads have no other same-host A/B.

Usage: python tools/drift_probe.py --ab <old-ref> <key> [key ...]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("LUXOR_BENCH_RUNS", "5"))


def _iso_time_in_tree(tree: str, key: str) -> float | None:
    """One fresh-session median-of-RUNS timing of ``key`` executed from
    the code at ``tree`` (subprocess so the import roots are that tree's).
    Self-contained — no import of tools.drift_probe — so the OLD worktree
    can predate this module."""
    code = (
        "import sys, json, time, statistics; sys.path.insert(0, %r)\n"
        "from luxor_db_spark.registry import load_all_queries\n"
        "from luxor_db_spark.session import get_spark\n"
        "q = load_all_queries()\n"
        "spark = get_spark(app_name='drift-ab')\n"
        "q['flagship_q1'](spark, %r).count()\n"
        "samples = []\n"
        "for _ in range(%d):\n"
        "    t0 = time.perf_counter()\n"
        "    q[%r](spark, %r).write.format('noop').mode('overwrite').save()\n"
        "    samples.append(time.perf_counter() - t0)\n"
        "print('RESULT ' + json.dumps(round(statistics.median(samples), 3)))\n"
    ) % (tree, SF_DIR, RUNS, key, SF_DIR)
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=tree,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR},
    )
    line = [l for l in p.stdout.splitlines() if l.startswith("RESULT ")]
    if not line:
        print(p.stderr[-800:], file=sys.stderr)
        return None
    return json.loads(line[0][7:])


def run_ab(keys: list[str], old_ref: str, rounds: int = 4) -> int:
    """Alternating-worktree bisect (docs/TIMINGS.md calibration policy):
    time each key in a detached worktree at ``old_ref`` and in the live
    repo, ALTERNATING arms (old,new,new,old,...) so slow machine-state
    drift cancels instead of loading one arm. Each sample is its own
    fresh-session subprocess median-of-RUNS. Verdict per key: 'code' if
    the new arm lost every paired round AND the median ratio exceeds
    1.15; 'noise' otherwise."""
    wt = os.path.join(REPO, "tmp", f"abwt_{old_ref[:12].replace('/', '_')}")
    if not os.path.exists(
        os.path.join(wt, "luxor_db_spark", "registry.py")
    ):
        subprocess.run(
            ["git", "worktree", "add", "--detach", "--force", wt, old_ref],
            cwd=REPO, check=True,
        )
    # The worktree is a full self-copy of the package (~35k LoC on
    # disk); left behind it corrupts any LoC/audit sweep of the tree
    # (r11 verdict wrong #2). Remove it when the probe exits, however
    # it exits.
    import atexit

    def _cleanup_worktree(path=wt):
        subprocess.run(
            ["git", "worktree", "remove", "--force", path],
            cwd=REPO,
            check=False,
        )
        import shutil

        shutil.rmtree(path, ignore_errors=True)

    atexit.register(_cleanup_worktree)
    for key in keys:
        old_s, new_s = [], []
        for r in range(rounds):
            order = [("old", wt), ("new", REPO)]
            if r % 2:
                order.reverse()
            for arm, tree in order:
                t = _iso_time_in_tree(tree, key)
                (old_s if arm == "old" else new_s).append(t)
                print(
                    json.dumps({"key": key, "round": r, "arm": arm, "s": t}),
                    flush=True,
                )
        old_ok = [s for s in old_s if s is not None]
        new_ok = [s for s in new_s if s is not None]
        if not old_ok or not new_ok:
            print(json.dumps({"key": key, "verdict": "error"}))
            continue
        mo, mn = statistics.median(old_ok), statistics.median(new_ok)
        paired_losses = sum(
            1 for a, b in zip(old_s, new_s) if a is not None and b is not None and b > a
        )
        n_pairs = sum(1 for a, b in zip(old_s, new_s) if a is not None and b is not None)
        verdict = (
            "code" if paired_losses == n_pairs and mn / mo > 1.15 else "noise"
        )
        print(
            json.dumps(
                {
                    "summary": "ab",
                    "key": key,
                    "old_ref": old_ref,
                    "sf_dir": SF_DIR,
                    "median_old_s": mo,
                    "median_new_s": mn,
                    "ratio": round(mn / mo, 3),
                    "paired_new_losses": f"{paired_losses}/{n_pairs}",
                    "verdict": verdict,
                }
            ),
            flush=True,
        )
    return 0


def main(argv: list[str]) -> int:
    i = argv.index("--ab") if "--ab" in argv else len(argv)
    old_ref = argv[i + 1] if i + 1 < len(argv) else "-"
    keys = [a for a in argv[:i] + argv[i + 2 :] if not a.startswith("-")]
    if old_ref.startswith("-") or not keys:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    return run_ab(keys, old_ref)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
