"""§2.10 UDF / UDAF / UDTF surface (SURVEY.md).

Reference status: absent (reference ``Main.java:1-7`` only).

Performance contract: Python UDFs are THE slow path (per-row pickling).
The vectorized forms — @pandas_udf (Arrow columnar batches) and
applyInPandas (Arrow per group) — are the only acceptable shapes at scale,
and even those only when built-ins can't express the semantics. The scalar
@udf key exists to cover the API surface, on a bounded projection.

Float contract: UDFs return RAW doubles; any rounding happens Spark-side
(pandas/numpy round is half-even, Spark's is half-up — never round inside
the UDF).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from luxor_db_spark.catalog import load_table
from luxor_db_spark.functions.exact import davg_sql, dsum_sql
from luxor_db_spark.registry import query


# useArrow=False pins the pickled row-at-a-time UDF this key covers, without
# the eval-type inference from the hints (which warns on every import).
@F.udf(returnType=StringType(), useArrow=False)
def _price_tier(total: float) -> str:
    if total is None:
        return None
    if total < 50_000.0:
        return "bronze"
    if total < 200_000.0:
        return "silver"
    return "gold"


@query(
    "udf_python",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000.0 THEN 'bronze'
                WHEN o_totalprice < 200000.0 THEN 'silver'
                ELSE 'gold' END AS tier
    FROM orders
    """,
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Python UDF (row-at-a-time; API-coverage key, not a hot path)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", _price_tier("o_totalprice").alias("tier"))


@F.pandas_udf(DoubleType())
def _net_price(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
    # Same expression shape as the oracle → identical IEEE doubles.
    return price * (1.0 - disc) * (1.0 + tax)


@query(
    "udf_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net
    FROM lineitem
    """,
)
def udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF: Arrow batches in/out, numpy arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _net_price("l_extendedprice", "l_discount", "l_tax").alias("net"),
    )


def _group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group custom aggregate in pandas (math.fsum = exact accumulation,
    order-independent like the DECIMAL contract)."""
    import math

    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "n": [len(pdf)],
            "sum_qty": [math.fsum(pdf["l_quantity"])],
            "max_price": [pdf["l_extendedprice"].max()],
        }
    )


@query(
    "udaf_pandas",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n,
           {dsum_sql('l_quantity')} AS sum_qty,
           MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregate via applyInPandas (shuffle on the group key,
    one Arrow batch per group — groups here are 3 flags, each bounded)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        _group_stats,
        schema="l_returnflag string, n long, sum_qty double, max_price double",
    )


@query(
    "udtf_explode",
    oracle="""
    SELECT r_name, CAST(i AS INT) AS i
    FROM (SELECT r_name, unnest(generate_series(1, r_regionkey + 1)) AS i
          FROM region)
    """,
)
def udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table function: one row → n rows via explode(sequence(...)) — the
    Catalyst-native UDTF shape (stays in codegen, no Python)."""
    r = load_table(spark, sf_dir, "region")
    return r.select(
        "r_name",
        F.explode(F.sequence(F.lit(1), F.col("r_regionkey") + 1)).alias("i"),
    ).select("r_name", F.col("i").cast("int").alias("i"))


@query(
    "udtf_python",
    oracle="""
    SELECT 'band_' || CAST(i AS VARCHAR) AS bucket,
           CAST(i * 100000.0 AS DOUBLE) AS bound
    FROM generate_series(0, 4) AS t(i)
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one input row → variable output rows. The
    band arithmetic ((hi-lo)/steps on exact floats) is deterministic, so
    the table function's output carries a direct SQL oracle."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="bucket: string, bound: double")
    class PriceBands:
        def eval(self, lo: float, hi: float, steps: int):
            if lo is None or hi is None:
                return
            step = (hi - lo) / steps
            for i in range(steps):
                yield (f"band_{i}", lo + i * step)

    return PriceBands(lit(0.0), lit(500000.0), lit(5))
