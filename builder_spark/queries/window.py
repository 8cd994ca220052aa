"""Window functions — SURVEY.md §2.B rows 27-33.

Determinism discipline: every ORDER BY inside a window carries a
unique tie-break key (o_orderkey / event_id / c_custkey), and large
running sums use integer domains (floor→bigint) because engines may
accumulate window sums in different tree orders — integer sums are
exact, double sums are not (SURVEY.md §2 conventions).

Scale: a window over partitionBy(K) shuffles once on K; frames are
computed streaming within each sorted partition. Skewed K (one user
with billions of rows) is the hazard — mitigate upstream via salting
or pre-aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.registry import register


@register(
    "q_window_rank",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               row_number() OVER w AS rn
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
    category="window",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/row_number over a per-group total order (tie-broken on the unique key)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
    )


@register(
    "q_window_topk_group",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
        ) <= 3
    """,
    category="window",
)
def q_window_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. The rank filter is pushed into the
    window operator by Spark's InferWindowGroupLimit rule, so each
    partition keeps only 3 rows during the sort — the grouped top-k
    pattern that scales."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "q_window_lag",
    oracle="""
        SELECT event_id, user_id, ts, value,
               lag(value) OVER w AS prev_value,
               lead(value) OVER w AS next_value,
               round(value - coalesce(lag(value) OVER w, 0), 4) AS delta
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    category="window",
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over a per-customer order timeline — one shuffle on the key serves both offsets."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 4).alias(
            "delta"
        ),
    )


@register(
    "q_window_running",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS running_spend,
               count(*) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS n_so_far
        FROM orders
    """,
    category="window",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum on an integer domain (floor→bigint): engines may sum
    window frames in different orders; integer addition is associative,
    double addition is not."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spend_int = F.floor(F.col("o_totalprice")).cast("bigint")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(spend_int).over(w).alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("n_so_far"),
    )


@register(
    "q_window_moving",
    oracle="""
        SELECT user_id, event_id, ts,
               round(avg(value) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ), 4) AS mov_avg_7
        FROM events
    """,
    category="window",
)
def q_window_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded moving average (rowsBetween -2..0) per key — frame-local, no unbounded state."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-6, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.avg("value").over(w), 4).alias("mov_avg_7"),
    )


@register(
    "q_window_range",
    oracle="""
        SELECT p_brand, p_partkey, p_size,
               CAST(sum(CAST(floor(p_retailprice) AS BIGINT)) OVER (
                   PARTITION BY p_brand ORDER BY p_size
                   RANGE BETWEEN 2 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS near_size_spend
        FROM part
    """,
    category="window",
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: all rows whose p_size is within [size-2, size] —
    peers included regardless of row position. Integer sum for parity.

    Scale shape: the frame sum depends only on (brand, size), so it is
    computed on the (brand × size) AGGREGATE — a combinable groupBy
    rides the scan, the RANGE window runs over ≤ |brands|·|sizes| rows
    (both enum-like domains), and the per-part result comes back via a
    broadcast join. A plain PARTITION BY p_brand window over the part
    table itself would serialize 1/|brands| of the table per reducer."""
    p = load_table(spark, sf_dir, "part")
    per_size = p.groupBy("p_brand", "p_size").agg(
        F.sum(F.floor(F.col("p_retailprice")).cast("bigint")).alias("_sz_sum")
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("p_size")).rangeBetween(-2, 0)
    banded = per_size.select(
        "p_brand",
        "p_size",
        F.sum("_sz_sum").over(w).cast("bigint").alias("near_size_spend"),
    )
    return p.select("p_brand", "p_partkey", "p_size").join(
        F.broadcast(banded), ["p_brand", "p_size"]
    )


@register(
    "q_window_ntile",
    oracle="""
        SELECT c_custkey, c_acctbal,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 4) AS pct_rank,
               round(cume_dist() OVER w, 4) AS cdist
        FROM customer
        WINDOW w AS (ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
    category="window",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global order-statistic trio (ntile / percent_rank / cume_dist)
    over the customer dim — computed via the STITCHED rank rather than
    a single-partition sort, because |customers| is billions at 100 TB.
    The ordering is unique (acctbal, custkey), so rank == row_number,
    percent_rank = (rn−1)/(n−1), cume_dist = rn/n, and ntile is the
    closed-form tile arithmetic — all exactly the builtins' values
    (the oracle still states the plain window)."""
    from builder_spark.operators.partitioning import ntile_from_rank, stitched_running

    c = load_table(spark, sf_dir, "customer")
    ranked = stitched_running(
        c.select("c_custkey", "c_acctbal"),
        [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
        rank_name="rn",
        with_totals=True,
    )
    return ranked.select(
        "c_custkey",
        "c_acctbal",
        ntile_from_rank(4, "rn", "rn_total").alias("quartile"),
        # guard the n=1 frame: percent_rank() is defined as 0 there,
        # while (rn-1)/(n-1) would be 0/0 = NaN
        F.round(
            F.when(
                F.col("rn_total") > 1,
                (F.col("rn") - 1) / (F.col("rn_total") - 1).cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("pct_rank"),
        F.round(F.col("rn") / F.col("rn_total").cast("double"), 4).alias("cdist"),
    )


@register(
    "q_window_firstlast",
    oracle="""
        SELECT DISTINCT o_custkey,
               first_value(o_totalprice) OVER w AS first_price,
               last_value(o_totalprice) OVER w AS last_price,
               nth_value(o_totalprice, 2) OVER w AS second_price
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey
            ORDER BY o_orderdate ASC, o_orderkey ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
    """,
    category="window",
)
def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value per customer order history
    (first vs latest basket size — the churn-drift signal). The frame
    is UNBOUNDED on BOTH ends: with the default frame (unbounded
    preceding → current row) last_value degenerates to the current row
    and nth_value goes null until row 2 — the classic window trap,
    sidestepped identically on both engines. Total order via
    (o_orderdate, o_orderkey) makes every value deterministic; DISTINCT
    collapses the per-row duplicates. Prices are untouched doubles (no
    arithmetic), so no rounding is needed for the hash."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    ).distinct()


@register(
    "q_global_cumsum_distributed",
    oracle="""
        SELECT o_orderkey, o_orderdate,
               CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) OVER w AS BIGINT)
                   AS running_revenue,
               row_number() OVER w AS global_rank
        FROM orders
        WINDOW w AS (ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    category="window",
)
def q_global_cumsum_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL running sum + rank computed WITHOUT a single-partition
    window — the distributed form of the scale boundary SCALE.md flags
    for every empty-PARTITION-BY window:

    1. Each row gets a partition id monotone in the total order
       (o_orderdate, o_orderkey): the count of approxQuantile cuts its
       order key passes, hashed into 2 × defaultParallelism shuffle
       partitions.
    2. A LOCAL window per partition id computes within-partition
       cumsum/rank — every partition works independently.
    3. Per-partition totals (one row per id) cumsum into prefix
       OFFSETS — the only single-partition window, over data whose
       size equals the partition COUNT, not the row count — and are
       broadcast back.
    4. global = local + offset of all earlier partitions.

    The result is independent of where the boundaries fall (offsets
    absorb any split), values are exact integers, and no stage ever
    holds more than one partition — the same plan ranks 100 TB. Built
    on :func:`stitched_running` (the shared implementation of exactly
    this recipe); the order key leads with the timestamp cast to epoch
    micros, a bare numeric column as the stitch requires (same total
    order: the cast is monotone and ties still break on o_orderkey).
    Nothing is persisted. The oracle states the naive global window,
    which IS single-partition; equivalence proves the stitching is
    invisible."""
    from builder_spark.operators.partitioning import stitched_running

    o = load_table(spark, sf_dir, "orders")
    spend = F.floor(F.col("o_totalprice")).cast("bigint")
    run = stitched_running(
        o.select(
            "o_orderkey",
            "o_orderdate",
            # epoch micros: monotone in the timestamp (session tz is UTC),
            # a bare numeric order column, as the stitch requires
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("_ts"),
            spend.alias("_v"),
        ),
        ["_ts", "o_orderkey"],
        running={"running_revenue": "_v"},
        rank_name="global_rank",
    )
    return run.select(
        "o_orderkey",
        "o_orderdate",
        F.col("running_revenue").cast("bigint").alias("running_revenue"),
        F.col("global_rank").cast("int").alias("global_rank"),
    )
