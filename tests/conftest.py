"""Shared fixtures: one SparkSession + one DuckDB connection per test session.

The parity harness here mirrors the driver's differential check
(row-count + column names + order-insensitive values) so that a green
``pytest tests/`` locally predicts a green CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from luxor_db_spark.catalog import TABLES, table_path
from luxor_db_spark.session import get_spark

SF_DIR = os.environ.get("LUXOR_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="luxor-db-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


# Canonicalization lives in luxor_db_spark.parity so the CI comparator
# and the registry-wide sweep tools share one definition of "equal"
# (a drifted copy would let a clean sweep stop implying the CI invariant).
from luxor_db_spark.parity import canon_cell as _canon_cell  # noqa: E402
from luxor_db_spark.parity import canonical_rows  # noqa: E402,F401


def assert_parity(sdf, duck_con, sql: str, key: str = "?") -> None:
    """Order-insensitive differential check: Spark result vs DuckDB oracle."""
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]
    d = duck_con.execute(sql)
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"[{key}] column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    # The driver canonicalizes through pandas, where DuckDB DECIMAL/HUGEINT
    # become float64 while Spark BIGINT stays int64 — so int-vs-float/decimal
    # drift hash-mismatches there even when values render equal here (r5
    # fn_map: DuckDB widens integer SUM/list_aggregate to DECIMAL(38,0) —
    # CAST the oracle, see parity.py). fetchall() hides HUGEINT (returns
    # int), so the declared Arrow schema is checked too.
    from luxor_db_spark.parity import declared_class_drift, numeric_class_drift

    drift = numeric_class_drift(s_cols, s_rows, d_cols, d_rows)
    try:
        arrow_schema = duck_con.execute(sql).arrow().schema
    except Exception:  # noqa: BLE001 — arrow fetch unsupported for this shape
        arrow_schema = None
    if arrow_schema is not None:
        drift += declared_class_drift(sdf.schema, arrow_schema)
    assert not drift, (
        f"[{key}] numeric type-class drift (driver-fatal even if values "
        f"render equal — CAST the oracle side): {sorted(set(drift))}"
    )
    assert len(s_rows) == len(d_rows), (
        f"[{key}] row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    )
    cs, cd = canonical_rows(s_cols, s_rows), canonical_rows(d_cols, d_rows)
    if cs != cd:
        set_cd, set_cs = set(cd), set(cs)  # hoisted: O(n), not O(n²)
        diff_s = [r for r in cs if r not in set_cd][:5]
        diff_d = [r for r in cd if r not in set_cs][:5]
        raise AssertionError(
            f"[{key}] value mismatch ({len(diff_s)}+ differing rows)\n"
            f"  spark-only: {diff_s}\n  duck-only:  {diff_d}\n"
            f"  cols: {sorted(s_cols)}"
        )


def spark_jobs(spark, fn):
    """Call ``fn()`` under a fresh job group; return ``(result, number of
    Spark jobs it started)``, read from the status tracker once the
    listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
