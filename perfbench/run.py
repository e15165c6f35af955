#!/usr/bin/env python3
"""Layered workload benchmark for the luxor-db-spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 10 --trace 0

Load model: a closed loop with one client. One Python driver thread runs the
engine on ``local[4]``; each query starts when the previous one has finished.
A *pass* runs the workload's key list once (``perfbench/workloads.py``) in an
order permuted by ``--seed``. Every query is the engine's public call
``registry.load_all_queries()[key](spark, data_dir)`` followed by a ``noop``
write that executes the whole result.

One run:

1. Reads the repository's seed-42 fixture tables at scale factor 0.01,
   committed as ``perfbench/data/sf0.01``. The seed only permutes query
   order; the engine always receives the same data. The engine's test
   fixtures also come at scale factor 0.1, but there one run on 4 cores
   takes 64-86 s (the checked pass alone 26-39 s) and the repeated runs of
   both workloads would not fit their time.
2. Sets up six times. One set-up is ``session.get_spark()`` and a fresh
   import of the engine's modules. The first also launches the JVM and is
   reported apart as the cold set-up; ``setup_s`` is the median of the
   other five. The engine's staged stream sources are not part of set-up:
   the streaming keys stage them on first use, in the checked pass, and
   reuse them for the rest of the process.
3. Runs one pass that collects every result and compares it with its DuckDB
   oracle (``check.py``). This pass is the cold first execution of each key
   and is not timed.
4. Warms up with the workload's fixed number of untimed passes. Pass times
   keep drifting down by a few percent a pass for minutes, well inside the
   pass-to-pass noise of a 4-core machine, so a "stopped falling" rule would
   end the warm-up at a random pass; a fixed count puts every run's timed
   passes at the same point of that drift. More warm-up would not fit the
   time the repeated runs are given.
5. Times whole passes: at least two, and another one only while it is
   expected to end within ``--seconds`` of the first.

End-to-end metrics: ``setup_s`` as above; ``query_p50_s`` and
``query_tail_s``, the median and the 90th percentile of the latency of one
query (construction, execution and drain) over the timed passes, with the
percentile and the number of samples beyond it in the artifact; ``pass_s``,
the median wall time of a timed pass. Failures, including outputs that did
not match their oracle, are counted in ``failed`` against ``attempted`` and
as ``failed_frac`` in the artifact. The artifact also carries
``peak_rss_mb``, the peak resident set (VmHWM) of the driver process plus the
JVM. It is not an end-to-end metric: with the engine's default 8 GB driver
heap the JVM grows to anywhere from 2.6 to 4.3 GB from one
``stream_replay`` run to the next on 4 cores, far wider than the largest
bound a metric may have. Traced runs report it per layer as
``process.peak_rss_mb``.

With ``--trace 1`` the timed passes alternate untraced and traced
(``tracing.py``), at least one of each; the result carries the per-layer
metrics of the traced passes, per pass, and the tracing overhead, the median
traced pass time over the median untraced one, minus 1. Spans are written to
``.perfbench/out`` when the run ends.

The last line of standard output is the result object; the line before it is
the full artifact, which is also written to ``.perfbench/out``. The exit code
is 0 when the run completed (``correct`` says whether every output matched);
it is not 0 when the engine cannot be found or set up.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
DATA_DIR = HERE / "data" / "sf0.01"

CORES = 4
WARM_SETUPS = 5
MIN_TIMED_PASSES = 2
TAIL_PCT = 90

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "pass_s": "s",
}


def _prepare_environment(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``,
    and make the engine importable by the driver and its Python workers."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    for var in [v for v in os.environ if v.startswith("LUXOR_")]:
        del os.environ[var]
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ.update(
        {
            "TMPDIR": str(tmp),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
            "pyspark-shell",
            "PYTHONPATH": os.pathsep.join(
                [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
        }
    )
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def _purge_engine_modules() -> None:
    for name in [m for m in sys.modules if m.split(".")[0] == "luxor_db_spark"]:
        del sys.modules[name]


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the machine so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def _tail(latencies: list[float]) -> tuple[float, int]:
    """The TAIL_PCT percentile (interpolated) and how many samples lie
    beyond it. Every pass runs the same keys, so the percentile falls in
    the same key's latencies whatever the number of passes; a rank such as
    "the eleventh slowest" would move from key to key with the pass count."""
    value = statistics.quantiles(latencies, n=100, method="inclusive")[TAIL_PCT - 1]
    return value, sum(1 for v in latencies if v > value)


class Bench:
    def __init__(self, workload, data_dir: str, run_dir: Path, seed: int,
                 seconds: float, trace: bool):
        self.workload = workload
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.spark = None
        self.queries: dict = {}
        self.pass_count = 0
        self.tracer = None

    # -- set-up ------------------------------------------------------------------

    def _setup_once(self) -> dict:
        if self.spark is not None:
            self.spark.stop()
            _purge_engine_modules()
        t0 = time.perf_counter()
        session = importlib.import_module("luxor_db_spark.session")
        self.spark = session.get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        registry = importlib.import_module("luxor_db_spark.registry")
        self.queries = registry.load_all_queries()
        t2 = time.perf_counter()
        return {"session_s": t1 - t0, "registry_s": t2 - t1, "total_s": t2 - t0}

    # -- passes ------------------------------------------------------------------

    def _order(self) -> list[str]:
        keys = list(self.workload.keys)
        self.rng.shuffle(keys)
        return keys

    def _run_plain(self, key: str) -> float:
        t0 = time.perf_counter()
        df = self.queries[key](self.spark, self.data_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _run_traced(self, key: str, qid: str) -> float:
        return self.tracer.run_query(
            self.queries[key], self.data_dir, key, qid,
            lambda df: df.write.format("noop").mode("overwrite").save(),
        )

    def _pass(self, traced: bool = False) -> dict:
        """One pass; every query's latency, or its error."""
        n = self.pass_count
        self.pass_count += 1
        lat: dict[str, float] = {}
        err: dict[str, str] = {}
        t0 = time.perf_counter()
        with self.tracer.span("pass", n=n) if traced else nullcontext():
            for key in self._order():
                try:
                    lat[key] = (
                        self._run_traced(key, f"p{n}-{key}") if traced
                        else self._run_plain(key)
                    )
                except Exception as e:  # noqa: BLE001 - counted as a failure
                    err[key] = repr(e)
        return {
            "wall_s": time.perf_counter() - t0,
            "query_s": sum(lat.values()),
            "traced": traced,
            "latency_s": lat,
            "errors": err,
        }

    def _check_pass(self) -> dict:
        from check import OracleChecker

        checker = OracleChecker(self.data_dir, str(self.run_dir / "tmp"))
        failed: dict[str, str] = {}
        key_s: dict[str, float] = {}
        t0 = time.perf_counter()
        try:
            for key in self._order():
                tk = time.perf_counter()
                try:
                    why = checker.mismatch(
                        self.queries[key](self.spark, self.data_dir), key
                    )
                except Exception as e:  # noqa: BLE001 - counted as a failure
                    why = repr(e)
                key_s[key] = time.perf_counter() - tk
                if why is not None:
                    failed[key] = why[:2000]
        finally:
            checker.close()
        return {
            "wall_s": time.perf_counter() - t0,
            "key_s": key_s,
            "passed": sorted(set(self.workload.keys) - set(failed)),
            "failed": failed,
        }

    # -- the run -----------------------------------------------------------------

    def run(self) -> dict:
        art: dict = {
            "workload": self.workload.name,
            "why": self.workload.why,
            "keys": list(self.workload.keys),
            "cores": CORES,
            "data_dir": os.path.relpath(self.data_dir, ROOT),
        }
        cold = self._setup_once()
        setups = [self._setup_once() for _ in range(WARM_SETUPS)]
        art["setup"] = {"cold": cold, "warm": setups}
        art["check"] = check = self._check_pass()
        art["warmup_passes_s"] = [
            self._pass()["wall_s"] for _ in range(self.workload.warmup_passes)
        ]
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark, CORES)
        timed: list[dict] = []
        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        while True:
            n_plain = sum(1 for q in timed if not q["traced"])
            n_traced = len(timed) - n_plain
            if self.trace:
                short = not (n_plain and n_traced)
            else:
                short = n_plain < MIN_TIMED_PASSES
            if not short:
                typical = statistics.median(q["wall_s"] for q in timed)
                if time.perf_counter() - t0 + typical > self.seconds:
                    break
            if self.trace and n_traced < n_plain:
                self.tracer.install()
                try:
                    timed.append(self._pass(traced=True))
                finally:
                    self.tracer.uninstall()
            else:
                timed.append(self._pass())

        ticks1 = _cpu_ticks()
        # CPU time the hypervisor gave to other guests: a run with a high
        # share was slowed from outside the benchmark.
        art["timed_steal_frac"] = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        plain = [q for q in timed if not q["traced"]]
        latencies = [v for q in plain for v in q["latency_s"].values()]
        tail, beyond = _tail(latencies)
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        rss = {"driver": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm_pid)}
        peak_rss_mb = rss["driver"] + rss["jvm"]
        art["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB", **rss}
        e2e = {
            "setup_s": statistics.median(s["total_s"] for s in setups),
            "query_p50_s": statistics.median(latencies),
            "query_tail_s": tail,
            "pass_s": statistics.median(q["wall_s"] for q in plain),
        }
        art["end_to_end"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        art["query_tail"] = {
            "percentile": TAIL_PCT, "samples": len(latencies), "beyond": beyond,
        }
        art["timed_passes"] = timed
        # A key that failed the output check fails every time it runs.
        attempted = sum(len(q["latency_s"]) + len(q["errors"]) for q in timed)
        failed = sum(
            len(q["errors"]) + sum(1 for k in q["latency_s"] if k in check["failed"])
            for q in timed
        )
        art["attempted"], art["failed"] = attempted, failed
        art["failed_frac"] = {"value": failed / attempted, "unit": "fraction"}
        art["correct"] = failed == 0 and not check["failed"]
        if self.trace:
            from tracing import LAYER_METRICS

            traced = [q for q in timed if q["traced"]]
            layers = self.tracer.layer_metrics(len(traced))
            layers["trace.overhead_frac"] = (
                statistics.median(q["wall_s"] for q in traced)
                / statistics.median(q["wall_s"] for q in plain)
                - 1
            )
            layers["process.peak_rss_mb"] = peak_rss_mb
            units = {
                **LAYER_METRICS,
                "trace.overhead_frac": "fraction",
                "process.peak_rss_mb": "MB",
            }
            art["per_layer"] = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        return art

    def write_trace(self, path: Path) -> None:
        if self.tracer is not None:
            path.write_text(json.dumps(self.tracer.dump()))

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        if self.tracer is not None:
            self.tracer.close()
        if self.spark is not None:
            self.spark.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if not (ROOT / "luxor_db_spark" / "registry.py").is_file():
        print(f"engine package luxor_db_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if sys.flags.optimize:
        print("the output check needs assert statements; run without -O",
              file=sys.stderr)
        return 2

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_environment(run_dir)
    out_dir = WORK / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"

    bench = None
    try:
        bench = Bench(WORKLOADS[args.workload], str(DATA_DIR), run_dir, args.seed,
                      args.seconds, bool(args.trace))
        art = bench.run()
        bench.write_trace(out_dir / f"{stem}-spans.json")
    except Exception:  # noqa: BLE001 - reported as the run's error value
        art = {"workload": args.workload, "error": traceback.format_exc()}
    finally:
        if bench is not None:
            bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    art.update(seed=args.seed, seconds=args.seconds, trace=args.trace)
    line = json.dumps(art)
    (out_dir / f"{stem}.json").write_text(line)
    print(line)
    if "error" in art:
        print(art["error"], file=sys.stderr)
        return 1
    metrics = art["per_layer"] if args.trace else art["end_to_end"]
    print(
        json.dumps(
            {
                "correct": art["correct"],
                "attempted": art["attempted"],
                "failed": art["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
