"""SparkSession factory tuned for this engine.

Correctness-critical settings (SURVEY.md §7.3) are applied both at build time
and — because the driver may hand us a session it built itself — re-applied as
runtime confs by :func:`configure` (called from the catalog on every table
load, so every query path is covered).

Scale notes (the 100 TB story, BASELINE.json):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic join-strategy demotion are what keep the same plans viable from
  sf0.001 up to a 1000-executor cluster.
- shuffle.partitions is a local-mode default only; on a real cluster this is
  sized to cores x executors (or left to AQE's coalescing from a high start).

Python workers: for a ``local*`` master, :func:`get_spark` also sets
``spark.python.daemon.module`` to ``luxor_db_spark.pydaemon``, so a worker
stops re-reading ``pyspark.zip`` and the spark-core jar on every task, and
puts the package root first in ``spark.executorEnv.PYTHONPATH``, so the
daemon module imports whatever the working directory. Both are static
SparkContext confs, so a session the driver hands in keeps Spark's default
daemon. They are local-only because the package root is a driver-side path
that a cluster executor need not have.
"""

from __future__ import annotations

import os
import time

from pyspark import SparkConf
from pyspark.sql import SparkSession

# Runtime-settable confs (safe to apply to a session we didn't build).
_RUNTIME_CONFS: dict[str, str] = {
    # Hash-match contract: both engines pinned to UTC (SURVEY.md §7.3).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: coalesce shuffles, split skewed joins at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDFs / toPandas: batch transfer, not per-row pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: we want permissive casts matching DuckDB's behavior for the
    # oracle-checked surface (overflow→null rather than error).
    "spark.sql.ansi.enabled": "false",
    # events.ts is Parquet TIMESTAMP(NANOS), which Spark's reader rejects;
    # read as raw nanos (LongType) — catalog.load_table converts to µs
    # TimestampType, matching DuckDB's ns→µs truncation (FIXTURES.md).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# Directory holding the ``luxor_db_spark`` package, for the workers' path.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_worker_confs(
    master: str, executor_pythonpath: str | None
) -> dict[str, str]:
    """Static confs that start Python workers from ``luxor_db_spark.pydaemon``
    (see the module docstring); ``{}`` for a non-local master.

    The daemon module, not ``spark.python.worker.module``: ``pyspark/daemon.py``
    only honours a worker module whose name starts with ``pyspark``. The
    package root goes ahead of ``executor_pythonpath``, the caller's
    ``spark.executorEnv.PYTHONPATH``, which is kept.
    """
    if not master.startswith("local"):
        return {}
    path = _PACKAGE_ROOT
    if executor_pythonpath:
        path += os.pathsep + executor_pythonpath
    return {
        "spark.python.daemon.module": "luxor_db_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH": path,
    }


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    # Pin the PYTHON PROCESS timezone, not just the Spark session:
    # PySpark's TimestampType.fromInternal renders collected timestamps
    # through datetime.fromtimestamp — the OS timezone — so on a non-UTC
    # host every TIMESTAMP cell shifts (e.g. 1999-01-01 00:00 UTC →
    # "1998-12-31T19:00" under TZ=America/New_York) and hash-mismatches
    # the oracle's naive-UTC wall times. Found by running the driver sim
    # under TZ=America/New_York (4/8 sampled timestamp keys failed);
    # every driver round so far ran on a UTC host, which is luck, not a
    # contract. UTC wall times ARE this engine's output contract
    # (SURVEY §7.3), so pinning the process TZ is semantics, not a tweak.
    if os.environ.get("TZ") != "UTC":
        if hasattr(time, "tzset"):
            os.environ["TZ"] = "UTC"
            time.tzset()
        else:  # pragma: no cover — POSIX-only container in this repo
            import warnings

            warnings.warn(
                "cannot pin the process timezone to UTC (no time.tzset "
                "on this platform): collected TIMESTAMP cells will render "
                "in the OS timezone and hash-mismatch UTC oracles",
                RuntimeWarning,
                stacklevel=2,
            )
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be fixed by the hosting driver; never fail a
            # query over a tuning knob.
            pass
    # Local-mode shuffle sizing: a vanilla session keeps Spark's default of
    # 200 shuffle partitions. Batch plans coalesce via AQE, but STREAMING
    # stateful operators cannot (AQE is disabled for them), so every
    # micro-batch schedules 200 state-store tasks — pure overhead on a
    # local fixture (stream_stream_join: 24 s → ~6 s at sf0.01). Right-size
    # to the local core count, but ONLY when (a) running local and (b) the
    # conf is still at its untouched default — a deliberate setting, or any
    # cluster deployment, is never overridden.
    try:
        if (
            spark.sparkContext.master.startswith("local")
            and spark.conf.get("spark.sql.shuffle.partitions") == "200"
        ):
            cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
                spark.sparkContext.defaultParallelism
            )
            spark.conf.set("spark.sql.shuffle.partitions", cpus)
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "luxor-db-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster, leave ``master`` to spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("LUXOR_DRIVER_MEM", "8g"))
        # Keep partition sizing sane for local parquet fixtures while staying
        # a no-op at cluster scale (default 128m).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
    )
    # SparkConf() reads the conf of a JVM this process already runs; before
    # the first context it is empty and starts nothing, so a value given
    # only at JVM launch (spark-defaults.conf, --conf) is not seen here.
    existing = SparkConf().get("spark.executorEnv.PYTHONPATH")
    confs = {**_RUNTIME_CONFS, **_python_worker_confs(master, existing)}
    for k, v in confs.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
