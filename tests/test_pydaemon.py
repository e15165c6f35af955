"""Python workers run under ``luxor_db_spark.pydaemon``.

The daemon swaps in a stat-guarded ``zipimporter.invalidate_caches`` so a
worker stops re-reading ``pyspark.zip`` and the spark-core jar on every
task. These tests pin:

- the invalidation semantics, in a fresh interpreter so this one's
  importers stay untouched: a rewritten archive is re-read and its new
  content imported; an unchanged one is not re-read; a plain import
  installs nothing;
- one worker surface each (grouped ``applyInPandas``, scalar
  ``pandas_udf``, Arrow ``mapInPandas``): the method the worker calls
  comes from the engine daemon, so the workers really run under it;
- the session confs: local masters only, the package root ahead of any
  ``spark.executorEnv.PYTHONPATH`` already set, and a session started
  outside the repo with ``PYTHONPATH`` unset can still start workers.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from pyspark.sql import functions as F

from luxor_db_spark.session import _PACKAGE_ROOT, _python_worker_confs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "luxor_db_spark.pydaemon"


def _run_python(code: str, cwd: str = REPO, env=None) -> str:
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, (out.stdout[-1500:], out.stderr[-3000:])
    return out.stdout


def test_stat_guarded_invalidation_rereads_only_changed_archives():
    stdout = _run_python(
        """
        import importlib, os, sys, tempfile, zipfile, zipimport

        from luxor_db_spark import pydaemon

        pydaemon.install()
        d = tempfile.mkdtemp()

        def write(archive, files):
            with zipfile.ZipFile(archive, "w") as z:
                for name, text in files.items():
                    z.writestr(name, text)

        a, b = os.path.join(d, "a.zip"), os.path.join(d, "b.zip")
        write(a, {"zmod_a.py": "VALUE = 1\\n"})
        write(b, {"zmod_b.py": "VALUE = 1\\n"})
        sys.path[:0] = [a, b]
        import zmod_a, zmod_b

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(os.path.basename(archive))
            return read_directory(archive)

        zipimport._read_directory = counting
        importlib.invalidate_caches()  # stamps both new importers
        assert sorted(reads) == ["a.zip", "b.zip"], reads

        reads.clear()
        importlib.invalidate_caches()
        assert reads == [], reads  # nothing changed: nothing re-read

        write(a, {"zmod_a.py": "VALUE = 22\\n", "zmod_new.py": "NEW = 3\\n"})
        importlib.invalidate_caches()
        assert reads == ["a.zip"], reads
        del sys.modules["zmod_a"]
        import zmod_a, zmod_new
        assert (zmod_a.VALUE, zmod_new.NEW) == (22, 3)

        reads.clear()
        os.remove(b)  # cannot be stat'ed: re-read, as CPython does
        importlib.invalidate_caches()
        assert reads == ["b.zip"], reads
        print("INVALIDATION-OK")
        """
    )
    assert "INVALIDATION-OK" in stdout


def test_plain_import_installs_nothing():
    stdout = _run_python(
        """
        import zipimport

        before = zipimport.zipimporter.invalidate_caches
        import luxor_db_spark.pydaemon

        assert zipimport.zipimporter.invalidate_caches is before
        print(zipimport.zipimporter.invalidate_caches.__module__)
        """
    )
    assert stdout.split() == ["zipimport"]


def test_price_tier_udf_loads_without_warnings():
    from pyspark.util import PythonEvalType

    from luxor_db_spark.operators.udfs import _price_tier

    assert _price_tier.evalType == PythonEvalType.SQL_BATCHED_UDF
    stdout = _run_python(
        """
        import warnings

        warnings.simplefilter("error", UserWarning)
        from luxor_db_spark.registry import load_all_queries

        load_all_queries()
        print("LOAD-OK")
        """
    )
    assert "LOAD-OK" in stdout


def test_grouped_apply_in_pandas_runs_under_engine_daemon(spark):
    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import zipimport

        m = zipimport.zipimporter.invalidate_caches.__module__
        return pd.DataFrame({"m": [m]})

    df = spark.range(0, 40, numPartitions=2).withColumn("g", F.col("id") % 4)
    rows = df.groupBy("g").applyInPandas(per_group, "m string").collect()
    assert {r.m for r in rows} == {DAEMON}


def test_scalar_pandas_udf_runs_under_engine_daemon(spark):
    @F.pandas_udf("string")
    def module_of(ids: pd.Series) -> pd.Series:
        import zipimport

        m = zipimport.zipimporter.invalidate_caches.__module__
        return pd.Series([m] * len(ids))

    rows = spark.range(0, 40, numPartitions=2).select(module_of("id").alias("m"))
    assert {r.m for r in rows.collect()} == {DAEMON}


def test_arrow_map_in_pandas_runs_under_engine_daemon(spark):
    def batches(it):
        import zipimport

        for pdf in it:
            m = zipimport.zipimporter.invalidate_caches.__module__
            yield pd.DataFrame({"m": [m] * len(pdf)})

    rows = spark.range(0, 40, numPartitions=2).mapInPandas(batches, "m string")
    assert {r.m for r in rows.collect()} == {DAEMON}


@pytest.mark.parametrize("master", ["yarn", "spark://host:7077", "k8s://x"])
def test_worker_confs_only_for_local_masters(master):
    assert _python_worker_confs(master, "/x") == {}


def test_worker_confs_prepend_package_root():
    assert os.path.isfile(os.path.join(_PACKAGE_ROOT, *DAEMON.split(".")) + ".py")
    assert _python_worker_confs("local[*]", None) == {
        "spark.python.daemon.module": DAEMON,
        "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT,
    }
    caller = os.pathsep.join(["/opt/a", "/opt/b"])
    confs = _python_worker_confs("local[2]", caller)
    assert confs["spark.executorEnv.PYTHONPATH"] == (
        _PACKAGE_ROOT + os.pathsep + caller
    )


def test_session_started_outside_repo_starts_workers(tmp_path):
    """Without the package root on the workers' path, the daemon module
    is not importable from a foreign working directory and every Python
    task fails."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    stdout = _run_python(
        f"""
        import sys

        sys.path.insert(0, {REPO!r})
        import pandas as pd

        from luxor_db_spark.session import get_spark

        def batches(it):
            import zipimport

            for pdf in it:
                m = zipimport.zipimporter.invalidate_caches.__module__
                yield pd.DataFrame({{"m": [m] * len(pdf)}})

        spark = get_spark(app_name="off-repo-probe")
        rows = spark.range(0, 8, numPartitions=2).mapInPandas(batches, "m string")
        print("MODULES", sorted({{r.m for r in rows.collect()}}))
        """,
        cwd=str(tmp_path),
        env=env,
    )
    assert f"MODULES ['{DAEMON}']" in stdout
