"""Parquet catalog: the 10 fixture tables over a scale-factor directory.

Tables (FIXTURES.md): region nation customer supplier part orders lineitem
events documents embeddings — one Parquet file each under ``{sf_dir}/``.

Every load goes through :func:`load_table`, which re-applies the
correctness-critical runtime confs (UTC timezone, AQE, Arrow) so queries are
correct even on a SparkSession the driver built itself.

Construction is metadata-only and runs no Spark job. A schema-less
``spark.read.parquet`` infers the schema with a footer-reading job;
:func:`parquet_schema` pays it once per *file version* and session schema
confs, and every read then supplies the cached schema. The memo holds
schemas only, never data or results, and its key is the identity (name,
inode, mtime, size) of every data file under the path, so a rewritten file
is never read with a stale schema. Stream sources sniff their footers
through the same memo. :func:`scan_splits` predicts a scan's partition
count from file sizes, replacing ``df.rdd.getNumPartitions()`` probes that
planned the whole query.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from luxor_db_spark.session import configure

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _data_files(path: str) -> list[tuple[str, os.stat_result]]:
    """``(relative name, stat)`` of every data file Spark lists under a
    Parquet path, sorted: the file itself, or a directory's files minus the
    hidden ``_``/``.`` entries (``_SUCCESS``, ``.crc``) Spark skips."""
    if not os.path.isdir(path):
        return [("", os.stat(path))]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                full = os.path.join(root, f)
                out.append((os.path.relpath(full, path), os.stat(full)))
    return sorted(out)


# Session confs that change the schema Spark infers from the same footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (path, schema conf values) -> (file version, schema). One entry per path,
# replaced when the file changes.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, memoized per
    file version and schema confs (see the module docstring)."""
    key = (path, *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    # Read the version before the footer: a file rewritten in between is
    # stored under its old version and so inferred again on the next call.
    version = tuple(
        (name, st.st_ino, st.st_mtime_ns, st.st_size)
        for name, st in _data_files(path)
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == version:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (version, schema)
    return schema


def scan_splits(spark: SparkSession, path: str) -> int:
    """Number of partitions a batch scan of the Parquet ``path`` gets,
    computed like Spark's ``FilePartition`` packing from file sizes and the
    session's ``spark.sql.files.*`` split confs: the same answer as
    ``spark.read.parquet(path).rdd.getNumPartitions()`` (with
    ``spark.sql.files.maxPartitionNum`` unset, its default) without
    planning a query."""
    jspark = spark._jsparkSession
    conf = jspark.sessionState().conf()
    max_bytes = conf.filesMaxPartitionBytes()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = (
        min_parts.get()
        if min_parts.isDefined()
        else jspark.leafNodeDefaultParallelism()
    )
    sizes = [st.st_size for _, st in _data_files(path)]
    total = sum(size + open_cost for size in sizes)
    split = min(max_bytes, max(open_cost, total // min_parts))
    # Each file is cut into splits of at most `split` bytes; the splits,
    # largest first, are packed into partitions of at most `split` bytes
    # where every split also costs `open_cost`.
    chunks = sorted(
        (
            min(split, size - off)
            for size in sizes
            for off in range(0, size, split)
        ),
        reverse=True,
    )
    n, filled = 0, 0
    for chunk in chunks:
        if filled and filled + chunk > split:
            n, filled = n + 1, 0
        filled += chunk + open_cost
    return n + (filled > 0)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Lazy and job-free: the schema comes from
    :func:`parquet_schema`."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    configure(spark)
    path = table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events" and isinstance(
        df.schema["ts"].dataType, LongType
    ):
        # Older fixture generations wrote ts as timestamp[ns], which the
        # nanosAsLong conf surfaces as raw nanos (LongType); truncate to µs
        # exactly like DuckDB's ns→µs read of the same file. Current
        # fixtures write timestamp[us] directly (TIMESTAMP_NTZ) — no
        # conversion needed. Schema-sniffing the footer keeps both
        # generations loadable.
        from pyspark.sql import functions as F

        # Integer `div` (not `/`): ns-since-epoch ≈ 1.7e18 exceeds double's
        # 2^53 exact-integer range, so float division would corrupt the µs.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def tables(spark: SparkSession, sf_dir: str, *names: str) -> SimpleNamespace:
    """Load several tables at once: ``t = tables(spark, sf, 'orders', ...)``."""
    wanted = names or TABLES
    return SimpleNamespace(**{n: load_table(spark, sf_dir, n) for n in wanted})


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views (used by SQL-entry queries, e.g. GROUPING SETS)."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
