"""Joins (SURVEY.md section 2-B): all Hive join shapes Spark-first.

Scale posture: dimension sides are explicitly ``broadcast()`` where a real
cluster should never shuffle them (region/nation/supplier/customer);
fact-to-fact joins stay shuffle sort-merge and AQE is free to upgrade them.
The reference disables Hive's auto map-join for determinism
(HIVECONVERTJOIN=false, ManifestRunner.java:205) - semantics are unaffected,
so we keep the fast plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bee_proof_spark.queries import dsum, o_dsum, register, table_info, tbl
from bee_proof_spark.tmputil import corpus_tag, pid_dir


@register(
    "join_inner_equi",
    oracle="""
    SELECT o_orderkey, c_custkey, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_mktsegment"
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT n_nationkey, n_name, s_suppkey
    FROM nation LEFT OUTER JOIN supplier ON n_nationkey = s_nationkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = tbl(spark, sf_dir, "nation")
    s = tbl(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "left").select(
        "n_nationkey", "n_name", "s_suppkey"
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT n_nationkey, n_name, s_suppkey
    FROM supplier RIGHT OUTER JOIN nation ON s_nationkey = n_nationkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = tbl(spark, sf_dir, "nation")
    s = tbl(spark, sf_dir, "supplier")
    return s.join(n, s.s_nationkey == n.n_nationkey, "right").select(
        "n_nationkey", "n_name", "s_suppkey"
    )


@register(
    "join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT c_nationkey, s_nationkey, n_cust, n_supp
    FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        tbl(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        tbl(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        "c_nationkey", "s_nationkey", "n_cust", "n_supp"
    )


@register(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "region")
        .crossJoin(tbl(spark, sf_dir, "nation"))
        .select("r_name", "n_name")
    )


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderstatus = 'F')
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI JOIN - Hive's EXISTS idiom; no right columns, no dup blowup."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'P')
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left anti join (NULL-safe, unlike NOT IN with NULLs):
    customers with no pending orders (nonempty at every fixture SF)."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_broadcast_hint",
    oracle="""
    SELECT c_custkey, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive /*+ MAPJOIN(t) */ == Spark broadcast(): same rows, map-side plan.

    At 100 TB this is the difference between a 25-row broadcast and shuffling
    the full fact side.
    """
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name"
    )


@register(
    "join_theta_band",
    oracle="""
    SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
    FROM supplier JOIN customer
      ON c_acctbal > s_acctbal - 10 AND c_acctbal < s_acctbal + 10
    """,
)
def join_theta_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi band predicate (Hive: cross + WHERE). Plans as
    BroadcastNestedLoopJoin with the small side broadcast - acceptable ONLY
    while one side broadcasts; :func:`join_range_bucketed` is the
    bucketized equi-join form to use when both sides are large."""
    s = tbl(spark, sf_dir, "supplier")
    c = tbl(spark, sf_dir, "customer")
    cond = (c.c_acctbal > s.s_acctbal - 10) & (c.c_acctbal < s.s_acctbal + 10)
    return s.join(c, cond).select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")


@register(
    "join_multiway_star",
    oracle="""
    SELECT r_name, o_orderpriority, count(*) AS cnt
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, o_orderpriority
    """,
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained star join: fact -> orders shuffle join, dims broadcast."""
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "join_selfjoin",
    oracle="""
    SELECT a.o_custkey AS custkey, count(*) AS n_pairs
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
    GROUP BY a.o_custkey
    """,
)
def join_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join with aliases: ordered order-pairs per customer."""
    o = tbl(spark, sf_dir, "orders")
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "join_smb_bucketed",
    oracle=f"""
    SELECT o_orderpriority, count(*) AS n_lines,
           {o_dsum('l_extendedprice')} AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_smb_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed sort-merge join: both sides pre-bucketed + sorted on the join
    key, so the join itself needs NO shuffle (SURVEY.md join_smb_note ->
    hive.optimize.bucketmapjoin equivalent).

    Scale notes: this is THE co-located join pattern for repeated fact-fact
    joins at 100 TB - pay one bucketed write, then every subsequent join on
    that key skips both Exchanges (tests/test_plans.py asserts the absence).
    Bucket count would be sized to target-partition size on a real cluster.
    """
    import hashlib
    import os
    import re
    import shutil

    # Explicit location in this process's pid dir: table placement never
    # depends on the caller session's warehouse/cwd, and two concurrent
    # processes never race each other's rmtree/write. The catalog name
    # carries the corpus tag and both source tables' catalog keys: two
    # corpora at same-named paths, or a fixture regenerated in place, get
    # fresh bucketed tables instead of the catalog silently serving the old
    # ones. The replay snapshot, also in a pid dir, is keyed the same way.
    keys = [table_info(sf_dir, n).key for n in ("lineitem", "orders")]
    fp = hashlib.md5(repr(keys).encode()).hexdigest()[:8]
    sf_tag = re.sub(r"[^0-9A-Za-z_]", "_", f"{corpus_tag(sf_dir)}_{fp}")
    base = pid_dir("bucketed")
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        table = f"bps_bucketed_{name}_{sf_tag}"
        loc = os.path.join(base, sf_tag, name)
        if not spark.catalog.tableExists(table):
            # a previous session of this pid may have left the location behind
            shutil.rmtree(loc, ignore_errors=True)
            (
                tbl(spark, sf_dir, name)
                .write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .format("parquet")
                .option("path", loc)
                .saveAsTable(table)
            )
    # hint("merge"): at bench SFs both sides fit a broadcast, but the pattern
    # under demonstration is the 100 TB fact-fact case where neither does -
    # force the sort-merge strategy so the bucketed (shuffle-free) path shows.
    li = spark.table(f"bps_bucketed_lineitem_{sf_tag}").hint("merge")
    o = spark.table(f"bps_bucketed_orders_{sf_tag}")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", "sum_price"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
    WITH o AS (SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st FROM orders),
         c AS (SELECT DISTINCT nullif(o_orderstatus, 'P') AS st2 FROM orders)
    SELECT o_orderkey, st FROM o JOIN c ON st IS NOT DISTINCT FROM st2
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Hive `<=>`): NULL keys match NULL keys,
    unlike plain `=` which drops them under 3VL.

    Scale notes: `<=>` stays a hash-join key (null becomes an ordinary
    bucket) - no fallback to nested-loop.
    """
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("st")
    )
    c = o.select(F.col("st").alias("st2")).distinct()
    return o.join(c, F.col("st").eqNullSafe(F.col("st2"))).select("o_orderkey", "st")


@register(
    "join_skew_salted",
    oracle=f"""
    WITH dim AS (SELECT DISTINCT event_type, length(event_type) AS weight FROM events)
    SELECT e.event_type, count(*) AS n_events,
           {o_dsum('e.value * d.weight')} AS weighted_sum
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join by salting: the fact side's hot key (events has a
    5-value event_type domain - maximal join skew) is split across 8 salt
    sub-keys; the dimension side is replicated once per salt so every
    (key, salt) bucket joins locally.

    Scale notes: this is the fact-to-medium-dim shape where the dim is too
    big to broadcast and a plain shuffle join would put a whole hot key on
    one reducer. Salting bounds any reducer's input at 1/8 of the hottest
    key for an 8x dim replication (rows, not bytes - the dim is narrow).
    The result is provably identical to the unsalted join (the oracle
    checks it); hint("merge") pins the shuffle-join strategy the pattern
    targets, since at fixture scale AQE would simply broadcast.
    """
    SALTS = 8
    e = tbl(spark, sf_dir, "events")
    dim = e.select("event_type").distinct().withColumn(
        "weight", F.length("event_type")
    )
    fact = e.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(SALTS)))
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALTS - 1)))
    ).withColumn("salt", F.col("salt").cast("long")).hint("merge")
    return (
        fact.join(dim_salted, ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value") * F.col("weight"), "weighted_sum"),
        )
    )


_ASOF_ORACLE = """
WITH u AS (
  SELECT o_custkey AS k, o_orderdate AS t, 0 AS typ,
         o_orderkey AS okey, cast(NULL as bigint) AS event_id
  FROM orders
  UNION ALL
  SELECT user_id, ts, 1, cast(NULL as bigint), event_id FROM events
),
w AS (
  SELECT k, t, typ, event_id,
         last_value(okey IGNORE NULLS) OVER (
           PARTITION BY k ORDER BY t, typ, okey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_orderkey
  FROM u
)
SELECT event_id, k AS user_id, cast(t as varchar) AS ts, last_orderkey
FROM w WHERE typ = 1
"""


@register("join_asof_backward", oracle=_ASOF_ORACLE)
def join_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): for every event, the most recent order of the
    same customer at-or-before the event time - the time-series enrichment
    join (trades x quotes, events x dim-history) Spark lacks natively.

    Scale shape - the distributed as-of idiom: union-tag both sides on
    (key, time), ONE shuffle on the key, and a running last_value(ignore
    nulls) window carries the latest left-side payload forward to each
    right-side row. No range cross-join, no per-row probe, no BNLJ: cost is
    one sort-shuffle regardless of time-range density. Orders sort before
    events at the same instant (typ 0 < 1), making the match inclusive
    (o_orderdate <= ts); the okey tie-break makes same-timestamp order picks
    total, so the result is deterministic on both engines.
    """
    orders = tbl(spark, sf_dir, "orders")
    events = tbl(spark, sf_dir, "events")
    orders_u = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("typ"),
        F.col("o_orderkey").alias("okey"),
        F.lit(None).cast("bigint").alias("event_id"),
    )
    events_u = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("typ"),
        F.lit(None).cast("bigint").alias("okey"),
        "event_id",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "typ", "okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders_u.unionByName(events_u)
        .withColumn("last_orderkey", F.last("okey", ignorenulls=True).over(w))
        .filter(F.col("typ") == 1)
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.col("t").cast("string").alias("ts"),
            "last_orderkey",
        )
    )


_RANGE_BUCKET_ORACLE = """
WITH iv AS (
  SELECT n_nationkey AS iv_id,
         timestamp '1995-01-01' + to_months(3 * n_nationkey) AS start_ts,
         timestamp '1995-01-01' + to_months(3 * n_nationkey + 4) AS end_ts
  FROM nation
)
SELECT o.o_orderkey, iv.iv_id, cast(o.o_orderdate as varchar) AS o_date
FROM orders o
JOIN iv ON o.o_orderdate >= iv.start_ts AND o.o_orderdate < iv.end_ts
"""


@register("join_range_bucketed", oracle=_RANGE_BUCKET_ORACLE)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join WITHOUT an equi key, made shuffle-joinable
    by bucketization: intervals explode to the month buckets they cover,
    points map to their month, and the range predicate refines an ordinary
    equi-join on the bucket.

    This is the scale-correct form of what ``join_theta_band`` does naively:
    a pure range predicate plans BroadcastNestedLoop (quadratic in density),
    while bucketing bounds each comparison to one bucket's contents - an
    equi-join Catalyst can hash/sort-merge AND AQE can rebalance. Bucket
    granularity trades fan-out (intervals x months covered) against probe
    selectivity; month buckets fit these 4-month intervals. A point lies in
    exactly one bucket, so no post-join dedup is needed.
    """
    nation = tbl(spark, sf_dir, "nation")
    orders = tbl(spark, sf_dir, "orders")
    base = F.lit("1995-01-01").cast("timestamp")
    start = F.to_timestamp(F.add_months(base, F.col("n_nationkey") * 3))
    end = F.to_timestamp(F.add_months(base, F.col("n_nationkey") * 3 + 4))
    iv_months = (
        nation.select(
            F.col("n_nationkey").alias("iv_id"),
            start.alias("start_ts"),
            end.alias("end_ts"),
        )
        .withColumn(
            "m",
            F.explode(
                F.sequence(
                    F.date_trunc("month", F.col("start_ts")),
                    F.date_trunc("month", F.col("end_ts")),
                    F.expr("interval 1 month"),
                )
            ),
        )
    )
    points = orders.select("o_orderkey", "o_orderdate").withColumn(
        "m", F.date_trunc("month", "o_orderdate")
    )
    return (
        points.join(iv_months, "m")
        .filter(
            (F.col("o_orderdate") >= F.col("start_ts"))
            & (F.col("o_orderdate") < F.col("end_ts"))
        )
        .select(
            "o_orderkey",
            "iv_id",
            F.col("o_orderdate").cast("string").alias("o_date"),
        )
    )
