"""Window functions (SURVEY.md section 2-B; Hive 0.11+, all in the emr-3 pin).

Orderings are made total with unique tie-break keys (o_orderkey) so ranks and
frames are deterministic across engines. Running sums go through decimal for
exactness. Scale posture: one shuffle per distinct partitioning; all functions
over the same Window spec share a single sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bee_proof_spark.queries import register, table_info, tbl

#: partition by customer, order by (date, key) - total order within partition.
_W_ORDER = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"


def _orders(spark, sf_dir):
    return tbl(spark, sf_dir, "orders")


def _w():
    return Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")


#: Fact-size gate for the banded-ranking rewrites below: under it the plain
#: window wins (banding's fixed extra jobs cost ~2x at sf0.1 scale - the q4
#: lesson); above it the plain form's parallelism cap (= distinct values of
#: the 3-value partition key, on ANY cluster size) makes banding win 1.6x at
#: 100x and 2.5x at 1000x (measured, SCALE.md r5).
_BANDED_RANK_BYTES = 32 * 1024 * 1024


def _banded_row_number(
    o: DataFrame, nbands: int = 256, descending: bool = False
) -> DataFrame:
    """rows of ``o`` + (rn, n): rank within o_orderstatus by the TOTAL order
    (o_totalprice [DESC if ``descending``], o_orderkey), computed at
    statuses x bands parallelism.

    The plain ``row_number() OVER (PARTITION BY status ORDER BY ...)`` puts
    every status's rows in ONE task (parallelism = key cardinality = 3, no
    matter how many executors). Banding distributes it exactly: (1) per-
    status min/max/count - a broadcast scalar row each; (2) rows bucket into
    price bands, row_number runs within (status, band); (3) each band adds
    the broadcast prefix count of the bands below it. The ORDER BY ends in
    the unique order key, so the order is total and rank == row_number ==
    count of predecessors + 1 - the identity every consumer below relies on.
    """
    stats = o.groupBy("o_orderstatus").agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(nbands))
    banded = o.join(F.broadcast(stats), "o_orderstatus").withColumn(
        "band",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(nbands - 1),
                F.floor((F.col("o_totalprice") - F.col("lo")) / width),
            )
        )
        .cast("int"),
    )
    band_counts = banded.groupBy("o_orderstatus", "band").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_pre = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.desc("band") if descending else F.asc("band"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # <= statuses x bands rows: the offset table broadcasts.
    offsets = band_counts.select(
        "o_orderstatus",
        "band",
        F.coalesce(F.sum("cnt").over(w_pre), F.lit(0)).alias("offset"),
    )
    w_band = Window.partitionBy("o_orderstatus", "band").orderBy(
        F.desc("o_totalprice") if descending else F.asc("o_totalprice"),
        F.asc("o_orderkey"),
    )
    return (
        banded.join(F.broadcast(offsets), ["o_orderstatus", "band"])
        .withColumn("rn", F.col("offset") + F.row_number().over(w_band))
        .drop("lo", "hi", "band", "offset")
    )


@register(
    "win_row_number",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           row_number() OVER ({_W_ORDER}) AS rn
    FROM orders
    """,
)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", F.row_number().over(_w()).alias("rn")
    )


@register(
    "win_rank_dense",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
           dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS drnk
    FROM orders
    """,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK per order-status, price-descending.

    Above the fact-size gate, same banded-ranking rewrite as
    win_percent_cume (the 3-value partition key caps plain-window
    parallelism at 3 tasks; measured 61.4 s at 1000x). The ORDER BY ends
    in the unique order key, so the tuple order is total: rank and
    dense_rank both equal row_number, which banding computes exactly.
    """
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
    if table_info(sf_dir, "orders").bytes < _BANDED_RANK_BYTES:
        w = Window.partitionBy("o_orderstatus").orderBy(
            F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        return o.select(
            "o_orderkey",
            "o_orderstatus",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
    # rn stays bigint: the banded rank exists precisely for partitions too
    # large for one task, where an int cast would wrap past 2^31 rows per
    # status (non-ANSI cast wraps silently). The value comparator
    # canonicalizes integer widths, so bigint costs nothing at any scale.
    rn = F.col("rn")
    return _banded_row_number(o, descending=True).select(
        "o_orderkey", "o_orderstatus", rn.alias("rnk"), rn.alias("drnk")
    )


@register(
    "win_ntile",
    oracle="""
    SELECT o_orderkey,
           ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) per order-status.

    Above the fact-size gate, banded ranking (see win_percent_cume) plus
    ntile's bucket arithmetic on (rn, n): with base = n div k and
    rem = n mod k, the first rem buckets hold base+1 rows - a row ranks
    into bucket ceil(rn/(base+1)) while inside those, else
    rem + ceil((rn - rem*(base+1))/base). Exactly SQL NTILE, measured
    37.9 s -> banded at 1000x (SCALE.md r5).
    """
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
    if table_info(sf_dir, "orders").bytes < _BANDED_RANK_BYTES:
        w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
        return o.select("o_orderkey", F.ntile(4).over(w).alias("quartile"))
    k = 4
    base = F.floor(F.col("n") / k)
    rem = F.col("n") % k
    head = rem * (base + 1)
    bucket = F.when(
        F.col("rn") <= head, F.ceil(F.col("rn") / (base + 1))
    ).otherwise(rem + F.ceil((F.col("rn") - head) / base))
    return _banded_row_number(o).select(
        "o_orderkey", bucket.cast("int").alias("quartile")
    )


@register(
    "win_percent_cume",
    oracle="""
    SELECT o_orderkey,
           round(percent_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 4) AS pr,
           round(cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 4) AS cd
    FROM orders
    """,
)
def win_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK / CUME_DIST per order-status.

    Scale shape: the window partitions by a THREE-value key, so the plain
    form's parallelism is capped at 3 tasks on any cluster size - each task
    sorting a third of the table (measured: 7.0 s at 100x, 89.3 s at 1000x,
    superlinear because 50M-row single-task sorts spill). Above a fact-size
    gate the same values are computed by banded ranking: the ORDER BY ends
    in the table's unique key, so the order is total and rank == count of
    predecessors + 1 == row_number - which distributes as (1) per-status
    min/max/count (broadcast), (2) row_number within (status, price-band)
    at statuses x bands parallelism, (3) a broadcast band-prefix offset.
    percent_rank = (rn-1)/(n-1) and cume_dist = rn/n reproduce Spark's own
    double arithmetic bit-for-bit. Measured: 100x 6.65 s plain -> 4.11 s
    banded; 1000x 89.3 s plain -> 36.2 s banded; sf0.1 0.52 s plain vs
    1.02 s banded (the fixed extra jobs dominate small inputs - the q4
    lesson), which places the gate at 32 MB of compressed fact.
    """
    o = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
    if table_info(sf_dir, "orders").bytes < _BANDED_RANK_BYTES:
        w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
        return o.select(
            "o_orderkey",
            F.round(F.percent_rank().over(w), 4).alias("pr"),
            F.round(F.cume_dist().over(w), 4).alias("cd"),
        )
    return _banded_row_number(o).select(
        "o_orderkey",
        F.round(
            F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
                (F.col("rn") - 1).cast("double") / (F.col("n") - 1).cast("double")
            ),
            4,
        ).alias("pr"),
        F.round(F.col("rn").cast("double") / F.col("n").cast("double"), 4).alias("cd"),
    )


@register(
    "win_lead_lag",
    oracle=f"""
    SELECT o_orderkey,
           lead(o_totalprice, 1) OVER ({_W_ORDER}) AS next_price,
           lag(o_totalprice, 2, -1.0) OVER ({_W_ORDER}) AS prev2_price
    FROM orders
    """,
)
def win_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _w()
    return _orders(spark, sf_dir).select(
        "o_orderkey",
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.lag("o_totalprice", 2, -1.0).over(w).alias("prev2_price"),
    )


@register(
    "win_first_last",
    oracle=f"""
    SELECT o_orderkey,
           first_value(o_orderkey) OVER ({_W_ORDER}
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_ok,
           last_value(o_orderkey) OVER ({_W_ORDER}
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok
    FROM orders
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE/LAST_VALUE with an explicit full frame (the frame-sensitivity
    trap: default frame ends at CURRENT ROW, making last_value = current)."""
    w = _w().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return _orders(spark, sf_dir).select(
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
    )


@register(
    "win_running_sum",
    oracle=f"""
    SELECT o_orderkey,
           cast(sum(cast(o_totalprice as decimal(25,6))) OVER ({_W_ORDER}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS running_total
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Deliberately NOT the hi/lo long-split dsum uses: a window emits one
    # result PER ROW, so the decimal(38,6) recombine would run per row and
    # cost more than the wide-decimal frame accumulator it removes
    # (measured at 100x: 2.9 s split vs 2.4 s wide).
    return _orders(spark, sf_dir).select(
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey,
           count(*) OVER (ORDER BY o_totalprice
             RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS n_in_band
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering (value-based, not row-based).

    Scale shape - banded aggregation, NOT a global window: the direct
    ``Window.orderBy(price).rangeBetween(-5000, 0)`` has no PARTITION BY, so
    Spark sorts the ENTIRE table in one task - measured 225 s at 100x data
    vs 1.8 s at sf0.1 (122x time for 100x rows, and a dead stage at 1000x).
    Because the frame width is a constant 5000, a row's frame can only
    reach rows in its own price band of width 5000 or the one below:
    each row is shipped to its own band (as probe + build) and to the band
    above (build-only ghost), and every band counts its probes' frames
    in-core against a sorted build array (two binary searches per row,
    inclusive bounds exactly as RANGE ... PRECEDING AND CURRENT ROW).
    One shuffle on the band key, O(n log n/band) per band, parallelism =
    number of occupied bands - the count is exact, including order-value
    ties, and integer, so no float-divergence risk vs the oracle."""
    o = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    band = F.floor(F.col("o_totalprice") / F.lit(5000.0)).cast("long")
    probe = o.select(
        "o_orderkey", "o_totalprice", band.alias("band"), F.lit(True).alias("is_probe")
    )
    ghost = o.select(
        "o_orderkey",
        "o_totalprice",
        (band + 1).alias("band"),
        F.lit(False).alias("is_probe"),
    )

    def count_frames(pdf):
        import numpy as np
        import pandas as pd

        prices = pdf["o_totalprice"].to_numpy(dtype="float64")
        build = np.sort(prices)
        probes = pdf[pdf["is_probe"]]
        p = probes["o_totalprice"].to_numpy(dtype="float64")
        hi = np.searchsorted(build, p, side="right")
        lo = np.searchsorted(build, p - 5000.0, side="left")
        return pd.DataFrame(
            {"o_orderkey": probes["o_orderkey"].to_numpy(), "n_in_band": hi - lo}
        )

    return (
        probe.unionByName(ghost)
        .groupBy("band")
        .applyInPandas(count_frames, "o_orderkey long, n_in_band long")
    )


@register(
    "win_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: Catalyst pushes the rn<=k filter into the window sort
    (WindowGroupLimit) so each partition keeps only k rows pre-shuffle."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _orders(spark, sf_dir)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_nth_value",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           nth_value(o_totalprice, 3) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_highest
    FROM orders
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over a full-frame window: each order sees its customer's
    third-highest order value (NULL for customers with fewer than three) -
    the positional window accessor beyond first/last (win_first_last).
    """
    o = tbl(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.nth_value("o_totalprice", 3).over(w).alias("third_highest"),
    )
