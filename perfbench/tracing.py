"""Layer tracing from outside the engine: spans, counters and Spark's own
execution metrics for each query of a traced pass.

Nothing in the engine is edited. The tracer rebinds, for the length of a
traced pass, every module attribute of ``luxor_db_spark`` that *is*
``catalog.load_table`` or ``session.configure`` (both are imported by name
into many modules, so patching the defining module alone misses most calls),
wraps ``DataStreamWriter.start``/``StreamingQuery.stop`` and the py4j client,
and restores all of it afterwards.

Span tree of one query::

    query (key, qid)
      operators                    the registered query-function call
        catalog.load_table         one per table load
          session.configure
        session.configure          direct calls (stream sources)
        streaming.drain            DataStreamWriter.start .. StreamingQuery.stop
      exec.drain                   the noop write that executes the result

Job attribution uses Spark job groups: the query function runs under
``<qid>-build``, every ``load_table`` call under ``<qid>-catalog`` (so schema
inference jobs are not counted as eager operator jobs), and the drain under
``<qid>-exec``. Stream micro-batches run on the stream thread under job group
= the stream's ``runId``, which a ``StreamingQueryListener`` reports. After
each query the tracer waits for Spark's listener bus to drain and reads the
status store for that query's jobs; the store keeps only the most recent
1000 jobs and stages, so reading at run end would lose data.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager

# StageData getter -> per-query total name; times are converted to seconds.
_STAGE_FIELDS = {
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    # Spark reports one spill twice: at its deserialized in-memory size
    # (memoryBytesSpilled) and at its on-disk size. Only the latter is kept.
    "diskBytesSpilled": ("spill_bytes", 1),
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
}

# Per-layer metrics of the traced run: name -> unit. All are per pass.
LAYER_METRICS = {
    "session.configure_calls": "count",
    "session.configure_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.schema_jobs": "count",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "operators.eager_keys": "count",
    "operators.py4j_calls": "count",
    "exec.wall_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.input_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.core_busy_frac": "fraction",
    "streaming.drains": "count",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.nonempty_batch_frac": "fraction",
    "streaming.planning_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.trigger_s": "s",
    "streaming.start_stop_s": "s",
    "streaming.state_rows": "count",
}

_LISTENER_WAIT_MS = 30_000


def _self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], ())):
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        out.append(s["end"] - s["start"] - covered)
    return out


class Tracer:
    """Records spans and counters for traced passes over one SparkSession."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self.queries: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list = []
        self._main_thread = threading.get_ident()
        self._counting = False
        self._query: dict | None = None
        self._lock = threading.Lock()
        self._progress: dict[str, list[dict]] = {}
        self._terminated: set[str] = set()
        self._listener = None

    # -- spans -----------------------------------------------------------

    def _open(self, name: str, **attrs) -> dict:
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        return rec

    def _close(self, rec: dict) -> None:
        if rec["end"] is None:
            rec["end"] = time.perf_counter()
        if rec in self._stack:
            # Close any span left open inside this one (a stream that was
            # started but never stopped) at the same instant.
            while self._stack:
                inner = self._stack.pop()
                if inner["end"] is None:
                    inner["end"] = rec["end"]
                    inner["unclosed"] = True
                if inner is rec:
                    break

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self._open(name, **attrs)
        try:
            yield rec
        finally:
            self._close(rec)

    @contextmanager
    def _harness(self):
        """py4j calls made by the tracer itself are not engine round trips."""
        was, self._counting = self._counting, False
        try:
            yield
        finally:
            self._counting = was

    def _set_group(self, group: str | None) -> None:
        with self._harness():
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, group)

    # -- patching ----------------------------------------------------------

    def _rebind(self, original, replacement) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name != "luxor_db_spark" and not name.startswith("luxor_db_spark."):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, replacement)
                    self._restore.append((mod, attr, original))

    def _patch_attr(self, owner, attr: str, replacement) -> None:
        self._restore.append((owner, attr, vars(owner).get(attr, _DELETE)))
        setattr(owner, attr, replacement)

    def install(self) -> None:
        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from luxor_db_spark import catalog, session

        tracer = self
        load_table, configure = catalog.load_table, session.configure

        @functools.wraps(load_table)
        def traced_load_table(*args, **kwargs):
            q = tracer._query
            with tracer.span("catalog.load_table"):
                if q is not None:
                    tracer._set_group(q["catalog_group"])
                try:
                    return load_table(*args, **kwargs)
                finally:
                    if q is not None:
                        tracer._set_group(q["build_group"])

        @functools.wraps(configure)
        def traced_configure(*args, **kwargs):
            with tracer.span("session.configure"):
                return configure(*args, **kwargs)

        start, stop = DataStreamWriter.start, StreamingQuery.stop

        @functools.wraps(start)
        def traced_start(writer, *args, **kwargs):
            rec = tracer._open("streaming.drain")
            try:
                query = start(writer, *args, **kwargs)
            except BaseException:
                tracer._close(rec)
                raise
            with tracer._harness():
                rec["run_id"] = str(query.runId)
            query._perfbench_span = rec
            if tracer._query is not None:
                tracer._query["run_ids"].append(rec["run_id"])
            return query

        @functools.wraps(stop)
        def traced_stop(query, *args, **kwargs):
            try:
                return stop(query, *args, **kwargs)
            finally:
                rec = getattr(query, "_perfbench_span", None)
                if rec is not None:
                    tracer._close(rec)

        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted_send(*args, **kwargs):
            if tracer._counting and threading.get_ident() == tracer._main_thread:
                tracer._query["py4j_calls"] += 1
            return send(*args, **kwargs)

        self._rebind(load_table, traced_load_table)
        self._rebind(configure, traced_configure)
        self._patch_attr(DataStreamWriter, "start", traced_start)
        self._patch_attr(StreamingQuery, "stop", traced_stop)
        self._patch_attr(client, "send_command", counted_send)
        if self._listener is None:
            self._listener = _listener_for(self)
            self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, value = self._restore.pop()
            if value is _DELETE:
                delattr(owner, attr)
            else:
                setattr(owner, attr, value)

    def close(self) -> None:
        self.uninstall()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- listener callbacks (py4j callback thread) ---------------------------

    def on_progress(self, run_id: str, progress: dict) -> None:
        with self._lock:
            self._progress.setdefault(run_id, []).append(progress)

    def on_terminated(self, run_id: str) -> None:
        with self._lock:
            self._terminated.add(run_id)

    # -- one query -------------------------------------------------------------

    def run_query(self, fn, sf_dir: str, key: str, qid: str, drain) -> float:
        """Run and drain one query under spans; return its latency in seconds."""
        q = {
            "key": key,
            "qid": qid,
            "build_group": f"{qid}-build",
            "catalog_group": f"{qid}-catalog",
            "exec_group": f"{qid}-exec",
            "run_ids": [],
            "py4j_calls": 0,
        }
        self._query = q
        try:
            with self.span("query", key=key, qid=qid) as rec:
                with self.span("operators", key=key):
                    self._set_group(q["build_group"])
                    self._counting = True
                    try:
                        df = fn(self.spark, sf_dir)
                    finally:
                        self._counting = False
                self._set_group(q["exec_group"])
                with self.span("exec.drain", key=key):
                    drain(df)
        finally:
            self._set_group(None)
            self._query = None
            self.queries.append(q)
        self._collect(q)
        return rec["end"] - rec["start"]

    def _collect(self, q: dict) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(_LISTENER_WAIT_MS)
        deadline = time.monotonic() + _LISTENER_WAIT_MS / 1000
        while time.monotonic() < deadline:
            with self._lock:
                if all(r in self._terminated for r in q["run_ids"]):
                    break
            time.sleep(0.01)
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()

        def jobs_and_stages(group: str) -> tuple[list[int], set[int]]:
            jobs = list(tracker.getJobIdsForGroup(group))
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            return jobs, stages

        q["schema_jobs"] = len(jobs_and_stages(q["catalog_group"])[0])
        q["eager_jobs"] = len(jobs_and_stages(q["build_group"])[0])
        exec_jobs, exec_stages = jobs_and_stages(q["exec_group"])
        for run_id in q["run_ids"]:
            jobs, stages = jobs_and_stages(run_id)
            exec_jobs += jobs
            exec_stages |= stages
        totals = dict.fromkeys({v[0] for v in _STAGE_FIELDS.values()}, 0.0)
        ran = 0
        store = jsc.statusStore()
        for sid in sorted(exec_stages):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage never submitted has no attempt
                continue
            if str(sd.status().toString()) == "SKIPPED":
                continue
            ran += 1
            for getter, (name, scale) in _STAGE_FIELDS.items():
                totals[name] += getattr(sd, getter)() * scale
        q["exec"] = {"jobs": len(exec_jobs), "stages": ran, **totals}
        with self._lock:
            q["batches"] = [p for r in q["run_ids"] for p in self._progress.pop(r, [])]

    # -- per-layer metrics ---------------------------------------------------

    def layer_metrics(self, passes: int) -> dict[str, float]:
        closed = [s for s in self.spans if s["end"] is not None]
        selfs = _self_times(closed)
        by_name: dict[str, list[tuple[dict, float]]] = {}
        for s, t in zip(closed, selfs):
            by_name.setdefault(s["name"], []).append((s, t))

        def calls(name: str) -> int:
            return len(by_name.get(name, ()))

        def self_s(name: str) -> float:
            return sum(t for _, t in by_name.get(name, ()))

        def wall_s(name: str) -> float:
            return sum(s["end"] - s["start"] for s, _ in by_name.get(name, ()))

        qs = self.queries
        ex = {k: sum(q.get("exec", {}).get(k, 0) for q in qs) for k in (
            "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
            "gc_s", "shuffle_fetch_wait_s", "input_bytes", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes",
        )}
        batches = [b for q in qs for b in q.get("batches", ())]

        def phase(*names: str) -> float:
            return sum(b["duration_ms"].get(n, 0) for b in batches for n in names) / 1e3

        trigger_s = phase("triggerExecution")
        empty = sum(1 for b in batches if b["input_rows"] == 0)
        last_state: dict[str, int] = {}
        for b in batches:
            last_state[b["run_id"]] = b["state_rows"]
        exec_wall = wall_s("exec.drain") + trigger_s
        totals = {
            "session.configure_calls": calls("session.configure"),
            "session.configure_s": self_s("session.configure"),
            "catalog.load_table_calls": calls("catalog.load_table"),
            "catalog.load_table_s": self_s("catalog.load_table"),
            "catalog.schema_jobs": sum(q.get("schema_jobs", 0) for q in qs),
            "operators.build_s": self_s("operators"),
            "operators.eager_jobs": sum(q.get("eager_jobs", 0) for q in qs),
            "operators.eager_keys": sum(
                1 for q in qs if q.get("eager_jobs", 0) or q["run_ids"]
            ),
            "operators.py4j_calls": sum(q["py4j_calls"] for q in qs),
            "exec.wall_s": exec_wall,
            **{f"exec.{k}": v for k, v in ex.items()},
            "streaming.drains": calls("streaming.drain"),
            "streaming.batches": len(batches),
            "streaming.empty_batches": empty,
            "streaming.planning_s": phase("queryPlanning"),
            "streaming.add_batch_s": phase("addBatch"),
            "streaming.commit_s": phase("walCommit", "commitOffsets"),
            "streaming.trigger_s": trigger_s,
            "streaming.start_stop_s": wall_s("streaming.drain") - trigger_s,
            "streaming.state_rows": sum(last_state.values()),
        }
        out = {k: v / passes for k, v in totals.items()}
        # Ratios are taken over the whole traced run, not divided per pass.
        out["exec.core_busy_frac"] = (
            ex["task_run_s"] / (exec_wall * self.cores) if exec_wall > 0 else 0.0
        )
        out["streaming.nonempty_batch_frac"] = (
            (len(batches) - empty) / len(batches) if batches else 0.0
        )
        return {k: out[k] for k in LAYER_METRICS}

    def dump(self) -> dict:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        closed = [s for s in self.spans if s["end"] is not None]
        spans = [
            {
                **{k: v for k, v in s.items() if k not in ("start", "end")},
                "start_s": s["start"] - t0,
                "dur_s": s["end"] - s["start"],
                "self_s": t,
            }
            for s, t in zip(closed, _self_times(closed))
        ]
        return {"spans": spans, "queries": self.queries}


_DELETE = object()


def _listener_for(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            run_id = str(p.runId)
            tracer.on_progress(
                run_id,
                {
                    "run_id": run_id,
                    "batch_id": p.batchId,
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                },
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            tracer.on_terminated(str(event.runId))

    return _Listener()
