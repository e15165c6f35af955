"""Output check: each key's Spark result against its DuckDB oracle.

The comparison is the test suite's own (``tests/conftest.py::assert_parity``:
column names, numeric type classes, row count and order-insensitive canonical
values), so the benchmark and the suite share one definition of "equal".
"""

from __future__ import annotations

import os


class OracleChecker:
    """A DuckDB connection with one view per fixture table of ``data_dir``."""

    def __init__(self, data_dir: str, temp_dir: str):
        import duckdb

        from luxor_db_spark.catalog import TABLES, table_path

        self._con = duckdb.connect()
        self._con.execute("SET TimeZone='UTC'")
        self._con.execute(f"SET temp_directory='{os.path.join(temp_dir, 'duckdb')}'")
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')"
            )

    def mismatch(self, df, key: str) -> str | None:
        """Collect ``df`` and compare it with the key's oracle; return why it
        differs, or None when it matches."""
        from luxor_db_spark.registry import ORACLES
        from tests.conftest import assert_parity

        sql = ORACLES.get(key)
        if sql is None:
            return f"{key} has no DuckDB oracle"
        try:
            assert_parity(df, self._con, sql, key)
        except AssertionError as e:
            return str(e)
        return None

    def close(self) -> None:
        self._con.close()
