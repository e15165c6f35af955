"""§2.3 Joins (SURVEY.md).

Reference status: absent (reference ``Main.java:1-7`` only).

Scale notes per key:
- Equi-joins shuffle both sides on the key unless one side is broadcast;
  dimension tables (region/nation/customer at 100 TB fact scale) are pinned
  broadcast so the fact table never moves.
- Non-equi (theta/interval) joins are broadcast-nested-loop: only valid when
  one side is dimension-sized — both uses here bound the small side.
- The as-of join is the documented rewrite (SURVEY §2.3): equi-join on the
  partition key with a range predicate, then keep the latest match per probe
  row via max/arg-max aggregation — no unbounded state, shuffles only on the
  join key, so it scales like any equi-join with AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from luxor_db_spark.catalog import load_table, tables
from luxor_db_spark.functions.exact import dsum, dsum_sql
from luxor_db_spark.registry import query


@query(
    "join_inner_hash",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join pinned to shuffle-hash (no sort, good when one side
    is moderately sized and keys are well distributed)."""
    t = tables(spark, sf_dir, "orders", "customer")
    return (
        t.orders.hint("shuffle_hash")
        .join(t.customer, t.orders.o_custkey == t.customer.c_custkey, "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT c_custkey, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-dimension enrichment: both dims broadcast → zero fact shuffle."""
    t = tables(spark, sf_dir, "customer", "nation", "region")
    return (
        t.customer.join(
            broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey
        )
        .join(broadcast(t.region), t.nation.n_regionkey == t.region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


@query(
    "join_sortmerge",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi-join pinned to sort-merge: both sides shuffle+sort on
    the key; the spill-safe default for fact-fact joins at 100 TB."""
    t = tables(spark, sf_dir, "lineitem", "orders")
    return (
        t.lineitem.hint("merge")
        .join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .select("l_orderkey", "l_linenumber", "l_quantity", "o_orderpriority")
    )


_BIG_ORDERS = "SELECT * FROM orders WHERE o_totalprice > 400000.0"


@query(
    "join_left",
    oracle=f"""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer LEFT JOIN ({_BIG_ORDERS}) big ON c_custkey = o_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir, "customer", "orders")
    big = t.orders.filter(F.col("o_totalprice") > 400000.0)
    return t.customer.join(
        big, t.customer.c_custkey == big.o_custkey, "left"
    ).select("c_custkey", "o_orderkey", "o_totalprice")


@query(
    "join_right",
    oracle=f"""
    SELECT c_custkey, c_mktsegment, o_orderkey
    FROM ({_BIG_ORDERS}) big RIGHT JOIN customer ON o_custkey = c_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir, "customer", "orders")
    big = t.orders.filter(F.col("o_totalprice") > 400000.0)
    return big.join(
        t.customer, big.o_custkey == t.customer.c_custkey, "right"
    ).select("c_custkey", "c_mktsegment", "o_orderkey")


@query(
    "join_full",
    oracle=f"""
    SELECT c_custkey, o_orderkey
    FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') b
    FULL JOIN ({_BIG_ORDERS}) big ON c_custkey = o_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir, "customer", "orders")
    b = t.customer.filter(F.col("c_mktsegment") == "BUILDING")
    big = t.orders.filter(F.col("o_totalprice") > 400000.0)
    return b.join(big, b.c_custkey == big.o_custkey, "full").select(
        "c_custkey", "o_orderkey"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_totalprice > 450000.0)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI = EXISTS: emits each probe row at most once, no payload from
    the build side crosses the shuffle."""
    t = tables(spark, sf_dir, "customer", "orders")
    big = t.orders.filter(F.col("o_totalprice") > 450000.0)
    return t.customer.join(
        big, t.customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 450000.0)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI = NOT EXISTS (fixtures are null-free, so NOT IN ≡ NOT
    EXISTS here; with nullable keys NOT IN would need a null guard)."""
    t = tables(spark, sf_dir, "customer", "orders")
    big = t.orders.filter(F.col("o_totalprice") > 450000.0)
    return t.customer.join(
        big, t.customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross product — only ever on bounded dimension inputs."""
    t = tables(spark, sf_dir, "region", "nation")
    return t.region.crossJoin(t.nation).select("r_name", "n_name")


@query(
    "join_theta",
    oracle="""
    SELECT r_name, n_name FROM region JOIN nation ON r_regionkey < n_regionkey
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi θ-join → broadcast nested loop (small side broadcast)."""
    t = tables(spark, sf_dir, "region", "nation")
    return t.region.join(
        broadcast(t.nation), t.region.r_regionkey < t.nation.n_regionkey
    ).select("r_name", "n_name")


_BUCKETS = [
    ("xs", 0.0, 10.0),
    ("s", 10.0, 50.0),
    ("m", 50.0, 100.0),
    ("l", 100.0, 250.0),
    ("xl", 250.0, 1000.0),
]
_BUCKETS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BUCKETS)


@query(
    "join_range",
    oracle=f"""
    SELECT bucket, COUNT(*) AS n, {dsum_sql('value')} AS sum_value
    FROM events JOIN (VALUES {_BUCKETS_SQL}) AS b(bucket, lo, hi)
      ON value >= lo AND value < hi
    GROUP BY bucket
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/band join: broadcast the bucket table; each probe row binds to
    the buckets containing its value. At scale the bucket side stays tiny, so
    this is a map-side join regardless of fact size."""
    ev = load_table(spark, sf_dir, "events")
    b = spark.createDataFrame(_BUCKETS, ["bucket", "lo", "hi"])
    return (
        ev.join(
            broadcast(b), (ev.value >= b.lo) & (ev.value < b.hi), "inner"
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
    )


@query(
    "join_asof",
    oracle="""
    SELECT event_id, ts, user_id, o_orderdate AS last_order_date
    FROM (SELECT * FROM events WHERE event_type = 'purchase') ev
    ASOF JOIN orders ON ev.user_id = orders.o_custkey
                    AND orders.o_orderdate <= ev.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (latest order at/before each purchase event, per user).

    Spark 4.1 has no batch ASOF; rewrite = equi-join on the key with the
    range predicate, then arg-max per probe row (max aggregation on the
    order date). DuckDB's native ASOF JOIN is the oracle. The aggregation
    keeps state bounded: one row per event after the local combine.
    """
    t = tables(spark, sf_dir, "events", "orders")
    ev = t.events.filter(F.col("event_type") == "purchase")
    j = ev.join(
        t.orders,
        (ev.user_id == t.orders.o_custkey) & (t.orders.o_orderdate <= ev.ts),
        "inner",
    )
    return j.groupBy("event_id", "ts", "user_id").agg(
        F.max("o_orderdate").alias("last_order_date")
    )


@query(
    "join_interval",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey AS k, o_orderdate AS s,
             o_orderdate + INTERVAL 7 DAY AS e
      FROM orders WHERE o_orderkey < 200
    )
    SELECT a.k AS a_key, b.k AS b_key
    FROM iv a JOIN iv b ON a.k < b.k AND a.s <= b.e AND b.s <= a.e
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join on [orderdate, orderdate+7d) windows."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    iv = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("e"),
    )
    a, b = iv.alias("a"), iv.alias("b")
    return a.join(
        b,
        (F.col("a.k") < F.col("b.k"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e")),
    ).select(F.col("a.k").alias("a_key"), F.col("b.k").alias("b_key"))


@query(
    "join_self",
    oracle="""
    SELECT a.l_orderkey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    """,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: same-order line pairs (one shuffle, reused by both sides)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("l_orderkey"),
        F.col("a.l_linenumber").alias("ln_a"),
        F.col("b.l_linenumber").alias("ln_b"),
    )


_N_SALTS = 8


@query(
    "join_skew_salted",
    oracle="""
    SELECT l_orderkey, l_quantity, o_orderpriority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join via key salting — same result as the plain
    join (the oracle), different shuffle shape.

    A hot l_orderkey lands every row in one reducer under a plain shuffle
    join; salting splits each probe key across ``_N_SALTS`` sub-partitions
    (salt derived per-row) and replicates each build row to all salts, so the
    hottest key's work fans out N ways. The build side grows ×N — cheap when
    it's the smaller table. AQE's OptimizeSkewedJoin automates this at
    runtime; the explicit form is for engines/pipelines that pre-partition
    or when skew is known ahead of time (e.g. a boilerplate dedup key
    covering 30% of a crawl corpus).

    The build side carries a SHUFFLE_HASH hint: salting only matters on the
    shuffle path (a broadcast join never shuffles the probe side, so skew is
    moot and the salt merely ×N-inflates the broadcast). Left to itself,
    AQE kept picking BroadcastHashJoin on the ×N-replicated build until it
    outgrew the threshold — serializing the whole join through one hashed
    relation (measured 2.07 s → 0.79 s at sf0.1 and 7.9 s → 1.1 s at ×8
    amplification after the hint; the recorded scaling curve caught the
    ×8→×16 time INVERSION the flip caused, docs/SCALE.md "Round 5 addendum:
    the ×16 extension"). Shuffle-hash, not sort-merge: the
    (key, salt) partitioning is the whole point and neither side benefits
    from sorted output.
    """
    t = tables(spark, sf_dir, "lineitem", "orders")
    probe = t.lineitem.select("l_orderkey", "l_quantity", "l_linenumber").withColumn(
        "salt", F.pmod(F.xxhash64("l_linenumber"), F.lit(_N_SALTS)).cast("int")
    )
    build = (
        t.orders.select("o_orderkey", "o_orderpriority")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_N_SALTS - 1))))
        .hint("shuffle_hash")
    )
    return (
        probe.join(
            build,
            (probe.l_orderkey == build.o_orderkey) & (probe.salt == build.salt),
        )
        .select("l_orderkey", "l_quantity", "o_orderpriority")
    )


@query(
    "join_multiway",
    oracle=f"""
    SELECT n_name, {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-table star join.

    Plan shape at scale: lineitem⋈orders is the only big shuffle; customer
    joins on the orders side, nation/region broadcast. AQE reorders/demotes
    as sizes reveal themselves at runtime.
    """
    t = tables(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    o = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    r = t.region.filter(F.col("r_name") == "ASIA")
    return (
        t.lineitem.join(o, t.lineitem.l_orderkey == o.o_orderkey)
        .join(t.customer, o.o_custkey == t.customer.c_custkey)
        .join(broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey)
        .join(broadcast(r), t.nation.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_dpp",
    oracle="""
    SELECT l_returnflag AS flag, COUNT(*) AS n
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_returnflag
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is stored partitioned on
    the join column; joining a *filtered* broadcast dimension injects a
    runtime IN-subquery into the fact scan's PartitionFilters
    (`dynamicpruningexpression` — asserted by tests/test_plans.py), so only
    the surviving partition directories are read. At 100 TB this turns a
    full-fact scan into reading exactly the partitions the dimension
    filter selects — pruning decided at run time, not plan time.
    """
    import os
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "luxor_db_spark_sinks")
    os.makedirs(base, exist_ok=True)
    out = os.path.join(base, f"dpp_{os.path.basename(sf_dir.rstrip('/'))}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_returnflag"
        ).write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    # Explicit schema: an empty source writes no part files and a
    # schema-less read would fail UNABLE_TO_INFER_SCHEMA.
    fact_schema = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .schema
    )
    fact = spark.read.schema(fact_schema).parquet(out)
    dim = spark.createDataFrame(
        [("R", "returned"), ("A", "ack"), ("N", "none")], ["flag", "label"]
    ).filter(F.col("label") == "returned")
    return (
        fact.join(broadcast(dim), fact.l_returnflag == dim.flag)
        .groupBy("flag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (SELECT CASE WHEN event_id % 7 = 0 THEN NULL
                           ELSE user_id % 50 END AS k, event_id
               FROM events WHERE event_id < 500),
         b AS (SELECT CASE WHEN event_id % 5 = 0 THEN NULL
                           ELSE user_id % 50 END AS k, event_id
               FROM events WHERE event_id >= 500 AND event_id < 1000)
    SELECT a.event_id AS a_id, b.event_id AS b_id
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — still a hash-partitionable equi-join
    (NULLs hash to one partition; salt them if the null share is skewed).
    """
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_id") < 500)
        .select(
            F.when(F.col("event_id") % 7 == 0, None)
            .otherwise(F.col("user_id") % 50)
            .alias("k"),
            F.col("event_id").alias("a_id"),
        )
    )
    b = (
        ev.filter((F.col("event_id") >= 500) & (F.col("event_id") < 1000))
        .select(
            F.when(F.col("event_id") % 5 == 0, None)
            .otherwise(F.col("user_id") % 50)
            .alias("k"),
            F.col("event_id").alias("b_id"),
        )
    )
    return a.join(b, a.k.eqNullSafe(b.k)).select("a_id", "b_id")


@query(
    "join_spatial_grid",
    oracle="""
    WITH p AS (
      SELECT c_custkey AS id,
             CAST((c_custkey * 61) % 1000 AS BIGINT) AS x,
             CAST((c_custkey * 97) % 1000 AS BIGINT) AS y
      FROM customer
    )
    SELECT a.id AS a_id, b.id AS b_id,
           CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2
    FROM p a JOIN p b
      ON b.x BETWEEN a.x - 5 AND a.x + 5
     AND b.y BETWEEN a.y - 5 AND a.y + 5
     AND a.id < b.id
    WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 25
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial self-join: all point pairs within Euclidean
    distance 5, via ε-cell bucketing — the distance-join algorithm that
    replaces the O(n²) theta join at scale.

    Each point hashes to its ⌊coord/ε⌋ grid cell; one side replicates to
    its 3×3 cell neighborhood (a bounded ×9 fan-out), the join is a pure
    EQUI-join on the cell key, and the exact distance predicate filters
    candidates. A qualifying pair shares exactly one (replicated-cell =
    home-cell) match, so no post-dedup is needed. The oracle runs the
    direct quadratic BETWEEN-join — different algorithm, same rows, which
    is exactly what the differential check should prove.

    Scale shape: shuffle keys are cell ids (uniform by construction here;
    real data wants ε tuned so cell occupancy stays O(1)); candidate count
    is Σ|cell|·|neighbor cells| — linear for near-constant occupancy,
    never all-pairs. Coordinates are synthesized deterministic integers,
    so dist² is exact in both engines.
    """
    cust = load_table(spark, sf_dir, "customer")
    p = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 61) % 1000).cast("bigint").alias("x"),
        ((F.col("c_custkey") * 97) % 1000).cast("bigint").alias("y"),
    )
    a = (
        p.withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            F.col("id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            (F.expr("x div 5") + F.col("dx")).alias("cx"),
            (F.expr("y div 5") + F.col("dy")).alias("cy"),
        )
    )
    b = p.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.expr("x div 5").alias("cx"),
        F.expr("y div 5").alias("cy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["cx", "cy"])
        .filter((F.col("a_id") < F.col("b_id")) & (d2 <= 25))
        .select("a_id", "b_id", d2.cast("bigint").alias("dist2"))
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH ev AS (
      SELECT event_id, ts, user_id FROM events
      WHERE event_type = 'purchase'
    ),
    cand AS (
      SELECT e.event_id, e.ts, e.user_id, o.o_orderdate,
             ABS(CAST(FLOOR(EPOCH(e.ts)) AS BIGINT)
                 - CAST(FLOOR(EPOCH(o.o_orderdate)) AS BIGINT)) AS gap
      FROM ev e JOIN orders o ON e.user_id = o.o_custkey
    ),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                   ORDER BY gap, o_orderdate) AS rn
      FROM cand
    )
    SELECT event_id, ts, user_id,
           o_orderdate AS nearest_order_date,
           CAST(gap AS BIGINT) AS gap_seconds
    FROM rk WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: for each purchase event, the order
    (same user) whose date is CLOSEST in time — either side. The
    direction='nearest' variant of `join_asof` (backward-only), the
    semantics feature stores use for aligning slowly-changing attributes
    to event time when staleness in either direction is acceptable.

    Determinism: the gap is exact integer seconds (both timestamps are
    µs-precision wall times in UTC); ties on the gap break toward the
    EARLIER order date via the (gap, date) ordered min — pinned
    identically in both engines (Spark: min over an ordered struct,
    DuckDB: MIN_BY with a tuple key).

    Scale shape: identical to join_asof — equi-join on the user key, then
    an arg-min rollup keeps one row per probe after local combine; no
    range explosion, no sort-merge over time.
    """
    t = tables(spark, sf_dir, "events", "orders")
    ev = t.events.filter(F.col("event_type") == "purchase")
    gap = F.abs(
        F.unix_timestamp(ev.ts) - F.unix_timestamp(t.orders.o_orderdate)
    )
    j = ev.join(t.orders, ev.user_id == t.orders.o_custkey).select(
        "event_id",
        "ts",
        "user_id",
        "o_orderdate",
        gap.alias("gap"),
    )
    best = F.min(F.struct(F.col("gap"), F.col("o_orderdate")))
    return j.groupBy("event_id", "ts", "user_id").agg(
        best.getField("o_orderdate").alias("nearest_order_date"),
        F.min("gap").cast("bigint").alias("gap_seconds"),
    )
