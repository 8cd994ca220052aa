"""Time-series and query-shape additions: linear-interpolation gap
fill, year-over-year growth, LATERAL per-group top-n, null-preserving
explode_outer, and weighted median.

Determinism notes: the interpolation grid uses integer epoch-day
arithmetic (no datediff sign ambiguity); the weighted-median cumsum
runs over a UNIQUE total order (price, orderkey, linenumber) so both
engines add doubles in the same sequence; YoY ratios round after the
division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.operators.partitioning import range_boundaries, stitched_running
from builder_spark.registry import register


@register(
    "q_interpolate",
    oracle="""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(round(sum(value) * 100) AS BIGINT) AS vc
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2
        ),
        bounds AS (
            SELECT min(day) AS lo, max(day) AS hi FROM daily
        ),
        spine AS (
            SELECT u.user_id, d.day
            FROM (SELECT DISTINCT user_id FROM daily) u
            CROSS JOIN (
                SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
                FROM bounds
            ) d
        ),
        g AS (
            SELECT s.user_id, s.day,
                   date_diff('day', DATE '1970-01-01', CAST(s.day AS DATE)) AS dnum,
                   daily.vc
            FROM spine s LEFT JOIN daily
              ON daily.user_id = s.user_id AND daily.day = s.day
        ),
        ff AS (
            SELECT user_id, day, dnum, vc,
                   last_value(vc IGNORE NULLS) OVER w_prev AS pv,
                   last_value(CASE WHEN vc IS NOT NULL THEN dnum END IGNORE NULLS)
                       OVER w_prev AS pd,
                   first_value(vc IGNORE NULLS) OVER w_next AS nv,
                   first_value(CASE WHEN vc IS NOT NULL THEN dnum END IGNORE NULLS)
                       OVER w_next AS nd
            FROM g
            WINDOW w_prev AS (PARTITION BY user_id ORDER BY dnum
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_next AS (PARTITION BY user_id ORDER BY dnum
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, day,
               CASE WHEN vc IS NOT NULL THEN vc
                    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                        (pv * (nd - dnum) + nv * (dnum - pd)) // (nd - pd)
               END AS v_filled_cents,
               (vc IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS interpolated
        FROM ff
    """,
    category="analytics",
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a per-user daily spine: purchase-value
    gaps are filled by the straight line between the nearest known
    days; leading/trailing gaps stay null. Built from two
    IGNORE-NULLS window passes (forward last, backward first) over the
    zero-filled spine — no self-join, no per-gap scan. At 100 TB the
    spine join shuffles on user_id once and the windows reuse that
    partitioning.

    Exactness discipline: values are interpolated in integer CENTS
    with floor division — fixture values carry 2 decimals, so the
    cent totals are exact integers in both engines and the weighted
    average (pv·(nd−d) + nv·(d−pd)) div (nd−pd) involves zero float
    operations. (A float formulation flaked at a round(·,4) boundary:
    engines disagree on half-way rounding of an ulp-noisy quotient.)"""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.round(F.sum("value") * 100).cast("long").alias("vc"))
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    spine = daily.select("user_id").distinct().crossJoin(F.broadcast(days))
    g = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.datediff(F.col("day").cast("date"), F.lit("1970-01-01").cast("date")).alias("dnum"),
        "vc",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("dnum")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("dnum")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ff = g.select(
        "user_id",
        "day",
        "dnum",
        "vc",
        F.last("vc", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(F.when(F.col("vc").isNotNull(), F.col("dnum")), ignorenulls=True)
        .over(w_prev)
        .alias("pd"),
        F.first("vc", ignorenulls=True).over(w_next).alias("nv"),
        F.first(F.when(F.col("vc").isNotNull(), F.col("dnum")), ignorenulls=True)
        .over(w_next)
        .alias("nd"),
    )
    interp = F.expr("(pv * (nd - dnum) + nv * (dnum - pd)) div (nd - pd)")
    return ff.select(
        "user_id",
        "day",
        F.when(F.col("vc").isNotNull(), F.col("vc"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .alias("v_filled_cents"),
        (F.col("vc").isNull() & F.col("pv").isNotNull() & F.col("nv").isNotNull()).alias(
            "interpolated"
        ),
    )


@register(
    "q_yoy_growth",
    oracle="""
        WITH yearly AS (
            -- exact cents sum: 1.3e9 cells at sf0.1 (q_salted_join
            -- class), and the yoy ratio inherits the determinism
            SELECT o_orderpriority, year(o_orderdate) AS yr,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS rev
            FROM orders
            GROUP BY 1, 2
        )
        SELECT o_orderpriority, yr,
               round(rev, 4) AS revenue,
               round(100.0 * (rev - lag(rev) OVER w) / lag(rev) OVER w, 4)
                   AS yoy_pct
        FROM yearly
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY yr)
    """,
    category="analytics",
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per order priority — the lag-based
    growth metric every BI layer needs. First year's growth is null.
    One shuffle for the yearly aggregate; the lag window runs over the
    ≤|priorities|×|years| aggregate. The ratio rounds AFTER division
    of full-precision sums (same-ulp inputs: each year's rev is summed
    in engine order, hence the round on revenue too)."""
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("yr")
    ).agg(  # exact cents sum (1.3e9 cells at sf0.1)
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("double") / 100.0
        ).alias("rev")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    return yearly.select(
        "o_orderpriority",
        "yr",
        F.round("rev", 4).alias("revenue"),
        F.round(
            100.0 * (F.col("rev") - F.lag("rev").over(w)) / F.lag("rev").over(w), 4
        ).alias("yoy_pct"),
    )


@register(
    "q_lateral_topn",
    oracle="""
        SELECT n.n_name, t.c_name, t.bal
        FROM nation n,
        LATERAL (
            SELECT c_name, round(c_acctbal, 4) AS bal
            FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey ASC
            LIMIT 2
        ) t
    """,
    category="join",
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: per nation, its top-2 customers by
    balance. Exercises the lateral-join query shape (Spark plans it as
    a rewritten window/join — LateralJoin in the analyzer) rather than
    the explicit row_number formulation graded in
    ``q_window_topk_group``. Ties broken on c_custkey so the LIMIT is
    total-ordered."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_lt_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_lt_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.bal
        FROM _lt_nation n,
        LATERAL (
            SELECT c_name, round(c_acctbal, 4) AS bal
            FROM _lt_customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey ASC
            LIMIT 2
        ) t
        """
    )


@register(
    "q_explode_outer",
    oracle="""
        SELECT p.p_partkey, u.g
        FROM part p
        LEFT JOIN LATERAL (
            SELECT unnest(regexp_extract_all(p.p_name, 'gear')) AS g
        ) u ON true
    """,
    category="scalar/array",
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode: parts whose name contains no 'gear'
    matches still emit one row with a NULL match — the OUTER variant's
    whole point (an inner explode silently drops them, the classic
    fan-out data-loss bug). Spark ``explode_outer`` ≡ DuckDB
    LEFT JOIN LATERAL unnest."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.explode_outer(F.regexp_extract_all(F.col("p_name"), F.lit("gear"), 0)).alias("g"),
    )


@register(
    "q_weighted_median",
    oracle="""
        WITH w AS (
            SELECT l_returnflag, l_extendedprice, l_quantity,
                   sum(l_quantity) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                   sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
            FROM lineitem
        )
        SELECT l_returnflag,
               round(min(l_extendedprice), 4) AS weighted_median
        FROM w
        WHERE cw >= tw / 2
        GROUP BY l_returnflag
    """,
    category="aggregation",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the first price
    whose cumulative weight reaches half the total. l_returnflag has 3
    values, so a plain PARTITION BY window would sort a third of the
    fact table on one reducer; instead the grouped stitched running
    sum (``stitched_running`` with ``partition_cols``) range-partitions
    on (flag, price, orderkey, linenumber) and restarts the stitch per
    flag — the cumulative weight spreads over the whole cluster.
    Quantities are exact-integer doubles summed as BIGINT, so the
    half-total comparison is exact integer arithmetic (2·cw ≥ tw ⟺
    cw ≥ tw/2) on both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    run = stitched_running(
        l.select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber", "l_quantity"),
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        running={"cw": "l_quantity"},
        partition_cols=["l_returnflag"],
        with_totals=True,
    )
    return (
        run.withColumnRenamed("cw_total", "tw")
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.round(F.min("l_extendedprice"), 4).alias("weighted_median"))
    )


@register(
    "q_sequence_islands",
    oracle="""
        WITH f AS (
            SELECT o_orderkey AS k,
                   row_number() OVER (ORDER BY o_orderkey) AS rn
            FROM orders WHERE o_orderstatus = 'F'
        ),
        isl AS (
            SELECT k, k - rn AS grp FROM f
        )
        SELECT min(k) AS island_start,
               max(k) AS island_end,
               count(*) AS island_len
        FROM isl
        GROUP BY grp
    """,
    category="analytics",
)
def q_sequence_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive o_orderkey values
    among finished orders, via the classic key-minus-row_number
    grouping trick (consecutive keys share k − rn). The global
    row_number is computed by range-partition stitching
    (``stitched_running``): a local rank per sorted range partition
    plus broadcast prefix offsets — no single-partition window, so
    the same plan ranks 100 TB of keys. All-integer arithmetic —
    no float discipline needed."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    ranked = stitched_running(
        o.select(F.col("o_orderkey").alias("k")), ["k"], rank_name="rn"
    )
    return (
        ranked.select("k", (F.col("k") - F.col("rn")).alias("grp"))
        .groupBy("grp")
        .agg(
            F.min("k").alias("island_start"),
            F.max("k").alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .drop("grp")
    )


@register(
    "q_gini_concentration",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(round(sum(o_totalprice) * 100) AS BIGINT) // 100
                       AS rev_dollars
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT rev_dollars AS x,
                   row_number() OVER (ORDER BY rev_dollars, o_custkey) AS i,
                   count(*) OVER () AS n,
                   sum(rev_dollars) OVER () AS s0
            FROM per_cust
        )
        SELECT CAST(any_value(n) AS INT) AS n_customers,
               CAST(any_value(s0) AS BIGINT) AS total_dollars,
               CAST((2 * sum(i * x) - (any_value(n) + 1) * any_value(s0)) * 10000
                   // (any_value(n) * any_value(s0)) AS BIGINT) AS gini_bp
        FROM ranked
    """,
    category="analytics",
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration, in basis
    points. The whole computation is EXACT integer arithmetic: revenue
    → exact cents → floor-dollars, ranks are a unique total order,
    and Gini = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) stays in BIGINT with a
    final integer division ×10⁴ — no float op anywhere, so no
    rounding-boundary risk. Dollar resolution keeps Σi·xᵢ·10⁴ < 2⁶³
    through sf0.1 (at larger n, shift to HUGEINT/decimal or block the
    rank-weighted sum per range partition). The rank is a STITCHED
    global row_number and the (n, Σx) totals are a broadcast 1-row
    aggregate — no single-partition window over the |customers|
    aggregate."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.expr("cast(round(sum(o_totalprice) * 100) as bigint) div 100").alias("rev_dollars")
    )
    ranked = stitched_running(
        per_cust,
        ["rev_dollars", "o_custkey"],
        running={"_cs": "rev_dollars"},
        rank_name="i",
        with_totals=True,
    ).select(
        F.col("rev_dollars").alias("x"),
        "i",
        F.col("i_total").alias("n"),
        F.col("_cs_total").alias("s0"),
    )
    return ranked.agg(
        F.any_value("n").cast("int").alias("n_customers"),
        F.any_value("s0").alias("total_dollars"),
        F.expr(
            "(2 * sum(i * x) - (any_value(n) + 1) * any_value(s0)) * 10000"
            " div (any_value(n) * any_value(s0))"
        ).alias("gini_bp"),
    )


@register(
    "q_ohlc_hourly",
    oracle="""
        WITH e AS (
            SELECT date_trunc('hour', ts) AS hour, value, ts, event_id
            FROM events WHERE event_type = 'purchase'
        ),
        rn AS (
            SELECT hour, value,
                   row_number() OVER (PARTITION BY hour
                                      ORDER BY ts ASC, event_id ASC) AS rn_a,
                   row_number() OVER (PARTITION BY hour
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM e
        )
        SELECT hour,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS volume
        FROM rn
        GROUP BY hour
    """,
    category="analytics",
)
def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup: hourly open/high/low/close/volume of
    purchase values — the time-series downsampling shape (financial
    bars, metric rollups). Open/close come from row_number over the
    total order (ts, event_id) — not argmin on a possibly-tied
    timestamp — so both engines pick identical rows; the two
    row_numbers share one hour-partitioned sort. Every output is a raw
    value, min/max, or count: zero float accumulation, no rounding
    discipline needed."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    e = e.select(F.date_trunc("hour", F.col("ts")).alias("hour"), "value", "ts", "event_id")
    w_a = Window.partitionBy("hour").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_d = Window.partitionBy("hour").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_d", F.row_number().over(w_d))
        .groupBy("hour")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


@register(
    "q_skyline",
    oracle="""
        SELECT p.p_partkey, p.p_name,
               round(p.p_retailprice, 4) AS p_retailprice, p.p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size <= p.p_size
              AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
        )
    """,
    category="analytics",
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto front): parts not dominated on (price low, size
    low) — the multi-criteria shortlist operator. Implemented as a
    window sweep, not the naive O(n²) self-join the oracle states:
    aggregate per price group (min size), running-min over strictly
    cheaper groups, then keep rows at their group's min size that beat
    every cheaper group. A row above its own group's min size is
    dominated at equal price; a group whose min doesn't undercut all
    cheaper groups is dominated outright. The exclusive running min is
    STITCHED (``running_min_excl``: local exclusive min per range
    partition, least'd with earlier partitions' minima) — |distinct
    prices| is unbounded at 100 TB, so no single-partition sweep.
    Price comparisons are raw doubles on both engines (same values,
    same comparisons — no arithmetic)."""
    p = load_table(spark, sf_dir, "part")
    grp_min = p.groupBy("p_retailprice").agg(F.min("p_size").alias("_gmin"))
    prev_min = stitched_running(
        grp_min, ["p_retailprice"], running_min_excl={"_pmin": "_gmin"}
    )
    return (
        p.join(prev_min, "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("_gmin"))
            & (F.col("_pmin").isNull() | (F.col("_gmin") < F.col("_pmin")))
        )
        .select(
            "p_partkey",
            "p_name",
            F.round("p_retailprice", 4).alias("p_retailprice"),
            "p_size",
        )
    )


@register(
    "q_benford",
    oracle="""
        WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS n
            FROM orders WHERE o_totalprice > 0
        ),
        d AS (
            SELECT CAST(substr(CAST(n AS VARCHAR), 1, 1) AS INT) AS digit
            FROM c
        ),
        agg AS (
            SELECT digit, count(*) AS cnt, sum(count(*)) OVER () AS total
            FROM d GROUP BY digit
        )
        SELECT digit, cnt,
               round(cnt / CAST(total AS DOUBLE), 4) AS observed_p,
               round(ln(1.0 + 1.0 / digit) / ln(10.0), 4) AS benford_p
        FROM agg
    """,
    category="analytics",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen: first-digit distribution of order totals
    vs the ln(1+1/d)/ln(10) expectation — the classic fraud /
    synthetic-data detector. The leading digit comes from the INTEGER
    cents value's string form (integer→string is exact on both
    engines; float→string formatting is NOT and is never used). One
    aggregate over 9 digit groups plus an empty-frame total; ratios
    round after division of identical integers."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    n = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(n.cast("string"), 1, 1).cast("int")
    w_all = Window.partitionBy()
    agg = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("total", F.sum("cnt").over(w_all))
    )
    return agg.select(
        "digit",
        "cnt",
        F.round(F.col("cnt") / F.col("total").cast("double"), 4).alias("observed_p"),
        F.round(F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 4).alias("benford_p"),
    )


@register(
    "q_null_semantics",
    oracle="""
        WITH t AS (
            SELECT c_custkey,
                   CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal,
                   nullif(c_mktsegment, 'BUILDING') AS seg
            FROM customer
        )
        SELECT count(*) AS n_rows,
               count(bal) AS n_bal,
               count(DISTINCT seg) AS n_seg_distinct,
               CAST(sum(CASE WHEN seg IS NOT DISTINCT FROM NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_null_seg,
               CAST(sum(CASE WHEN (bal > 5000.0) IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_pred,
               round(avg(bal), 4) AS avg_bal_nonnull,
               bool_or(bal IS NULL) AS any_null_bal,
               (SELECT count(*) FROM (SELECT seg FROM t GROUP BY seg))
                   AS n_groups_incl_null
        FROM t
    """,
    category="subquery",
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI null-semantics battery, pinned in one row: count(col) skips
    nulls while count(*) doesn't; count(DISTINCT) ignores the null;
    GROUP BY collects all nulls into ONE group; aggregates ignore
    nulls; three-valued logic makes (null > x) UNKNOWN; null-safe
    comparison (<=> / IS NOT DISTINCT FROM) treats null = null as
    true. An engine that diverges on any of these silently corrupts
    every downstream query — this is the canary."""
    t = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal")).alias("bal"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    t.createOrReplaceTempView("_ns_t")
    return spark.sql(
        """
        SELECT count(*) AS n_rows,
               count(bal) AS n_bal,
               count(DISTINCT seg) AS n_seg_distinct,
               CAST(sum(CASE WHEN seg <=> NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null_seg,
               CAST(sum(CASE WHEN (bal > 5000.0) IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_unknown_pred,
               round(avg(bal), 4) AS avg_bal_nonnull,
               bool_or(bal IS NULL) AS any_null_bal,
               (SELECT count(*) FROM (SELECT seg FROM _ns_t GROUP BY seg))
                   AS n_groups_incl_null
        FROM _ns_t
        """
    )


@register(
    "q_iqr_outliers",
    oracle="""
        WITH q AS (
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.25) AS q1,
                   quantile_cont(l_extendedprice, 0.75) AS q3
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l.l_returnflag,
               count(*) AS n,
               CAST(sum(CASE WHEN l.l_extendedprice
                                  > q.q3 + 1.5 * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
               CAST(sum(CASE WHEN l.l_extendedprice
                                  < q.q1 - 1.5 * (q.q3 - q.q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
               round(any_value(q.q3 + 1.5 * (q.q3 - q.q1)), 4) AS high_fence
        FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
        GROUP BY l.l_returnflag
    """,
    category="analytics",
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per group: values beyond Q3+1.5·IQR /
    Q1−1.5·IQR flagged — the standard robust anomaly screen. Exact
    interpolated quartiles (bit-identical interpolation, probed in
    q_percentiles) computed once per group and broadcast back onto
    the fact scan; the fence comparisons are raw doubles derived from
    identical quartile values, so counts can't flip. Quartiles come
    from the stitched rank selection (operators/quantiles.py) — never
    the buffering percentile aggregate over fact-grain groups — then
    one fence-counting pass."""
    from builder_spark.operators.quantiles import quantile_cont_stitched

    l = load_table(spark, sf_dir, "lineitem")
    q = quantile_cont_stitched(
        l, "l_extendedprice", {"q1": 0.25, "q3": 0.75}, ["l_returnflag"]
    ).drop("n")
    high = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    low = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    return (
        l.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("l_extendedprice") > high, 1).otherwise(0)).alias("n_high"),
            F.sum(F.when(F.col("l_extendedprice") < low, 1).otherwise(0)).alias("n_low"),
            F.round(F.any_value(high), 4).alias("high_fence"),
        )
    )


@register(
    "q_abtest_proportions",
    oracle="""
        WITH assign AS (
            SELECT user_id,
                   CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
                   max(CASE WHEN event_type = 'purchase'
                                 AND ts < TIMESTAMP '2024-01-03'
                            THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY user_id
        ),
        arms AS (
            SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
            FROM assign GROUP BY arm
        ),
        wide AS (
            SELECT max(CASE WHEN arm = 'A' THEN n END) AS na,
                   max(CASE WHEN arm = 'A' THEN conv END) AS ca,
                   max(CASE WHEN arm = 'B' THEN n END) AS nb,
                   max(CASE WHEN arm = 'B' THEN conv END) AS cb
            FROM arms
        )
        SELECT na, ca, nb, cb,
               round(ca / CAST(na AS DOUBLE), 4) AS p_a,
               round(cb / CAST(nb AS DOUBLE), 4) AS p_b,
               round((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
                     / sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))
                            * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                            * (1.0 / na + 1.0 / nb)), 4) AS z_score
        FROM wide
    """,
    category="analytics",
)
def q_abtest_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: users split into deterministic arms by
    key parity, conversion = ever purchased, pooled-proportion z —
    the experimentation readout every product pipeline ships. All
    inputs to the closed form are exact integers, so both engines
    evaluate the identical float expression; one shuffle on user_id
    then constant-size arithmetic."""
    e = load_table(spark, sf_dir, "events")
    early_buy = (F.col("event_type") == "purchase") & (F.col("ts") < "2024-01-03")
    assign = e.groupBy("user_id").agg(
        F.max(F.when(early_buy, 1).otherwise(0)).alias("converted")
    ).withColumn("arm", F.when(F.col("user_id") % 2 == 0, "A").otherwise("B"))
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("cb"),
    )
    pa = F.col("ca") / F.col("na").cast("double")
    pb = F.col("cb") / F.col("nb").cast("double")
    pool = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb")).cast("double")
    z = (pa - pb) / F.sqrt(pool * (1 - pool) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    return wide.select(
        "na", "ca", "nb", "cb",
        F.round(pa, 4).alias("p_a"),
        F.round(pb, 4).alias("p_b"),
        F.round(z, 4).alias("z_score"),
    )


@register(
    "q_funnel_latency",
    oracle="""
        WITH stage AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
            FROM events GROUP BY user_id
        ),
        conv AS (
            SELECT user_id,
                   date_diff('microsecond', t_view, t_buy) AS us
            FROM stage
            WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy > t_view
        )
        SELECT count(*) AS n_converted,
               CAST(floor(quantile_cont(us, 0.5) / 1000000) AS BIGINT) AS p50_sec,
               CAST(floor(quantile_cont(us, 0.9) / 1000000) AS BIGINT) AS p90_sec,
               CAST(min(us) // 1000000 AS BIGINT) AS min_sec
        FROM conv
    """,
    category="analytics",
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, first view → first later purchase;
    p50/p90/min of the latency. Latencies are exact integer
    microseconds (timestamp subtraction — no float until the
    percentile interpolation, whose inputs are identical ints on both
    engines); the result floors to whole seconds, far from any
    interpolation ulp. One user_id shuffle; the percentiles are a
    stitched rank selection over |converted users| rows (no buffering
    aggregate — converted users are unbounded at scale)."""
    e = load_table(spark, sf_dir, "events")
    stage = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    conv = stage.filter(
        F.col("t_view").isNotNull() & F.col("t_buy").isNotNull() & (F.col("t_buy") > F.col("t_view"))
    ).select(
        (F.unix_micros(F.col("t_buy")) - F.unix_micros(F.col("t_view"))).alias("us")
    )
    from builder_spark.operators.quantiles import quantile_cont_stitched

    q = quantile_cont_stitched(conv, "us", {"_p50": 0.5, "_p90": 0.9})
    extra = conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("cast(min(us) div 1000000 as bigint)").alias("min_sec"),
    )
    return extra.crossJoin(F.broadcast(q)).select(
        "n_converted",
        F.floor(F.col("_p50") / 1000000).cast("bigint").alias("p50_sec"),
        F.floor(F.col("_p90") / 1000000).cast("bigint").alias("p90_sec"),
        "min_sec",
    )


@register(
    "q_interval_arith",
    oracle="""
        WITH t AS (
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
            FROM orders WHERE o_orderkey < 200
        )
        SELECT o_orderkey, d,
               CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_month,
               CAST(d + INTERVAL 90 DAY AS DATE) AS plus_90d,
               last_day(d) AS month_end,
               CAST(date_trunc('quarter', d) AS DATE) AS quarter_start,
               CAST(dayofyear(d) AS INT) AS doy,
               CAST(day(last_day(d)) AS INT) AS days_in_month
        FROM t
    """,
    category="scalar/date",
)
def q_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic battery: month addition (with
    end-of-month CLAMPING — Jan 31 + 1 month = Feb 29, probed
    identical in both engines), fixed-day offsets, last_day, quarter
    truncation, day-of-year, and days-in-month. All results cast to
    DATE on both sides because Spark's add_months returns DATE while
    DuckDB's interval add keeps the timestamp. Pure per-row date
    math riding the scan."""
    t = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200).select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    return t.select(
        "o_orderkey",
        "d",
        F.add_months("d", 1).alias("plus_month"),
        F.date_add("d", 90).alias("plus_90d"),
        F.last_day("d").alias("month_end"),
        F.date_trunc("quarter", "d").cast("date").alias("quarter_start"),
        F.dayofyear("d").alias("doy"),
        F.dayofmonth(F.last_day("d")).alias("days_in_month"),
    )


@register(
    "q_rank_correlation",
    oracle="""
        WITH rev AS (
            SELECT l.l_partkey,
                   CAST(sum(CASE WHEN l.l_shipdate < TIMESTAMP '1997-01-01'
                            THEN round(l.l_extendedprice * 100) ELSE 0 END)
                        AS BIGINT) AS rev_a,
                   CAST(sum(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01'
                            THEN round(l.l_extendedprice * 100) ELSE 0 END)
                        AS BIGINT) AS rev_b
            FROM lineitem l
            GROUP BY l.l_partkey
            HAVING rev_a > 0 AND rev_b > 0
        ),
        rk AS (
            SELECT l_partkey,
                   row_number() OVER (ORDER BY rev_a DESC, l_partkey) AS ra,
                   row_number() OVER (ORDER BY rev_b DESC, l_partkey) AS rb
            FROM rev
        )
        SELECT count(*) AS n_parts,
               round(corr(ra, rb), 4) AS spearman_rho,
               round(1 - 6.0 * sum((ra - rb) * (ra - rb))
                         / (count(*) * (CAST(count(*) AS BIGINT)
                                        * count(*) - 1)), 4) AS spearman_closed
        FROM rk
    """,
    category="analytics",
)
def q_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between early and late part-revenue
    rankings — the rank-stability / drift metric (is this period's
    bestseller list the same list?). Revenues accumulate as exact
    integer cents so the rankings (unique tie-broken total orders)
    are identical across engines; reported both as corr() of ranks
    and the closed form 1 − 6·Σd²/(n(n²−1)) (equal when ranks are
    distinct — a built-in cross-check). Both rankings are STITCHED
    global ranks (range-partitioned local rank + broadcast prefix
    offsets) — the per-part aggregate is unbounded at 100 TB, so no
    single-partition sort anywhere."""
    l = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100)
    rev = (
        l.groupBy("l_partkey")
        .agg(
            F.sum(F.when(F.col("l_shipdate") < "1997-01-01", cents).otherwise(0))
            .cast("long")
            .alias("rev_a"),
            F.sum(F.when(F.col("l_shipdate") >= "1997-01-01", cents).otherwise(0))
            .cast("long")
            .alias("rev_b"),
        )
        .filter((F.col("rev_a") > 0) & (F.col("rev_b") > 0))
    )
    # one multi-column quantile pass supplies both stitches' boundaries
    # (chained auto-boundary stitches would re-execute the first stitch
    # inside the second's quantile action)
    b_a, b_b = range_boundaries(rev, "rev_a", "rev_b")
    rk = stitched_running(
        rev,
        [F.col("rev_a").desc(), F.col("l_partkey").asc()],
        rank_name="ra",
        boundaries=b_a,
    )
    rk = stitched_running(
        rk,
        [F.col("rev_b").desc(), F.col("l_partkey").asc()],
        rank_name="rb",
        boundaries=b_b,
    ).select("ra", "rb")
    n = F.count(F.lit(1))
    d2 = F.sum((F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb")))
    return rk.agg(
        n.alias("n_parts"),
        F.round(F.corr("ra", "rb"), 4).alias("spearman_rho"),
        F.round(1 - 6.0 * d2 / (n * (n.cast("long") * n - 1)), 4).alias("spearman_closed"),
    )


@register(
    "q_chisq_independence",
    oracle="""
        WITH obs AS (
            SELECT event_type, user_id % 2 AS grp, count(*) AS o
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT o.event_type, o.grp, o.o,
                   sum(o.o) OVER (PARTITION BY o.event_type) AS row_t,
                   sum(o.o) OVER (PARTITION BY o.grp) AS col_t,
                   sum(o.o) OVER () AS n
            FROM obs o
        )
        SELECT CAST(count(*) AS INT) AS n_cells,
               round(sum((o - row_t * col_t / CAST(n AS DOUBLE))
                         * (o - row_t * col_t / CAST(n AS DOUBLE))
                         / (row_t * col_t / CAST(n AS DOUBLE))), 4) AS chi2
        FROM tot
    """,
    category="analytics",
)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: is event type independent of the
    user-parity cohort? Observed vs expected over the 5×2 contingency
    table, expected = row·col/N from exact integer marginals — the
    only float ops are the final per-cell terms, summed over 10 cells
    (noise ~1e-15, round 4). Contingency tables and independence
    screens are the categorical-drift primitive for feature
    monitoring. One shuffle to the table, windows over 10 rows."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy("event_type", (F.col("user_id") % 2).alias("grp")).agg(
        F.count(F.lit(1)).alias("o")
    )
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("grp")
    w_all = Window.partitionBy()
    tot = obs.select(
        "o",
        F.sum("o").over(w_row).alias("row_t"),
        F.sum("o").over(w_col).alias("col_t"),
        F.sum("o").over(w_all).alias("n"),
    )
    exp = F.col("row_t") * F.col("col_t") / F.col("n").cast("double")
    return tot.agg(
        F.count(F.lit(1)).cast("int").alias("n_cells"),
        F.round(F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp), 4).alias("chi2"),
    )


@register(
    "q_ks_test",
    oracle="""
        WITH a AS (
            SELECT value FROM events WHERE event_type = 'purchase'
        ),
        b AS (
            SELECT value FROM events WHERE event_type = 'click'
        ),
        pts AS (
            SELECT value AS v FROM a UNION SELECT value FROM b
        ),
        cdf AS (
            SELECT p.v,
                   (SELECT count(*) FROM a WHERE a.value <= p.v)
                       / CAST((SELECT count(*) FROM a) AS DOUBLE) AS fa,
                   (SELECT count(*) FROM b WHERE b.value <= p.v)
                       / CAST((SELECT count(*) FROM b) AS DOUBLE) AS fb
            FROM pts p
        )
        SELECT round(max(abs(fa - fb)), 4) AS ks_d,
               CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
               CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b
        FROM cdf
    """,
    category="analytics",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic: the max ECDF gap
    between purchase and click value distributions — the
    distribution-drift detector (data-quality monitoring, feature
    shift). The oracle states the quadratic correlated-subquery
    definition; the Spark plan is the O(n log n) merge: tag + union
    both samples, then running per-sample counts over the value order
    via range-partition stitching (``stitched_running`` — local
    window per sorted range + broadcast prefix offsets, never a
    single-partition window), D = max |i/n − j/m|. Sample sizes are
    a 1-row aggregate broadcast back. ECDF fractions are ratios of
    identical exact integers — no float accumulation. Ties are
    handled by evaluating BOTH cdfs at every distinct value (max of
    per-value last step; equal values never split across range
    partitions), matching the subquery definition exactly."""
    e = load_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select(
        F.col("value").alias("v"), F.lit(1).alias("is_a"), F.lit(0).alias("is_b")
    )
    b = e.filter(F.col("event_type") == "click").select(
        F.col("value").alias("v"), F.lit(0).alias("is_a"), F.lit(1).alias("is_b")
    )
    u = a.unionByName(b)
    run = stitched_running(
        u, ["v"], running={"ca": "is_a", "cb": "is_b"}, with_totals=True
    )
    # at tied values keep the LAST row per v (both counts fully
    # advanced) — that is the ECDF evaluated AT v on both sides
    per_v = run.groupBy("v").agg(
        F.max("ca").alias("ca"),
        F.max("cb").alias("cb"),
        F.any_value("ca_total").alias("na"),
        F.any_value("cb_total").alias("nb"),
    )
    # /0 guards + coalesced counts: a one-sided or empty sample must
    # match the oracle's scalar-subquery zeros (degenerate audit)
    gap = F.abs(
        F.col("ca") / F.when(F.col("na") != 0, F.col("na")).cast("double")
        - F.col("cb") / F.when(F.col("nb") != 0, F.col("nb")).cast("double")
    )
    return per_v.agg(
        F.round(F.max(gap), 4).alias("ks_d"),
        F.coalesce(F.max("na"), F.lit(0)).alias("n_a"),
        F.coalesce(F.max("nb"), F.lit(0)).alias("n_b"),
    )


@register(
    "q_vocab_coverage",
    oracle="""
        WITH tf AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        cnt AS (SELECT w, count(*) AS c FROM tf GROUP BY w),
        rk AS (
            SELECT c,
                   row_number() OVER (ORDER BY c DESC, w ASC) AS rnk,
                   sum(c) OVER () AS total,
                   sum(c) OVER (ORDER BY c DESC, w ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
            FROM cnt
        )
        SELECT k,
               round(max(CASE WHEN rnk <= k THEN cum ELSE 0 END)
                     / CAST(any_value(total) AS DOUBLE), 4) AS coverage
        FROM rk CROSS JOIN (SELECT unnest([10, 20, 50, 100]) AS k)
        GROUP BY k
    """,
    category="llm-text",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of the token volume do
    the top-k most frequent terms cover (k = 10/20/50/100) — the
    tokenizer/vocab-size design curve. Cumulative counts run over the
    unique (count DESC, word ASC) order so both engines accumulate
    identical exact integers. Scale: only k ≤ 100 is ever consumed, so
    the rank/cumsum never touches the full vocabulary — the top-100
    terms come via ``orderBy().limit(100)`` (TakeOrderedAndProject:
    per-partition heaps, no global sort; web-scale corpora have 10⁸+
    distinct tokens and Zipf caps the MASS, not the cardinality) and
    the denominator is a 1-row total broadcast. The remaining window
    runs over exactly 100 survivor rows."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = cnt.agg(F.sum("c").cast("bigint").alias("total"))
    top = cnt.orderBy(F.col("c").desc(), F.col("w").asc()).limit(100)
    w_rank = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    rk = top.select(
        "c",
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("c").over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
    )
    ks = spark.createDataFrame([(10,), (20,), (50,), (100,)], "k int")
    return (
        rk.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.round(
                F.max(F.when(F.col("rnk") <= F.col("k"), F.col("cum")).otherwise(0))
                / F.any_value("total").cast("double"),
                4,
            ).alias("coverage")
        )
    )


@register(
    "q_interevent_gaps",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   date_diff('microsecond',
                             lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id),
                             ts) AS gap_us
            FROM events
        )
        SELECT count(*) AS n_gaps,
               CAST(floor(quantile_cont(gap_us, 0.5) / 1000000) AS BIGINT)
                   AS p50_sec,
               CAST(floor(quantile_cont(gap_us, 0.9) / 1000000) AS BIGINT)
                   AS p90_sec,
               CAST(max(gap_us) // 1000000 AS BIGINT) AS max_sec
        FROM seq WHERE gap_us IS NOT NULL
    """,
    category="analytics",
)
def q_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution: per-user consecutive-event
    spacing in exact integer microseconds (lag over the total
    (ts, event_id) order), with p50/p90/max floored to whole seconds.
    The spacing profile drives session-gap threshold choices (the
    30-minute q_win_session cutoff) and bot detection. One user_id
    shuffle; the GLOBAL percentiles over |events| exact ints are a
    stitched rank selection (operators/quantiles.py), never a
    buffering aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    from builder_spark.operators.quantiles import quantile_cont_stitched

    q = quantile_cont_stitched(seq, "gap_us", {"_p50": 0.5, "_p90": 0.9})
    extra = seq.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("cast(max(gap_us) div 1000000 as bigint)").alias("max_sec"),
    )
    return extra.crossJoin(F.broadcast(q)).select(
        "n_gaps",
        F.floor(F.col("_p50") / 1000000).cast("bigint").alias("p50_sec"),
        F.floor(F.col("_p90") / 1000000).cast("bigint").alias("p90_sec"),
        "max_sec",
    )


@register(
    "q_psi_drift",
    oracle="""
        WITH binned AS (
            SELECT CAST(floor(value) AS BIGINT) AS bin,
                   CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                            THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                   CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                            THEN 1 ELSE 0 END) AS BIGINT) AS cb
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        ),
        tot AS (
            SELECT bin, ca, cb,
                   sum(ca) OVER () AS na, sum(cb) OVER () AS nb
            FROM binned
        )
        SELECT CAST(count(*) AS INT) AS n_bins,
               round(sum(CASE WHEN ca > 0 AND cb > 0 THEN
                   (ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
                   * ln((ca / CAST(na AS DOUBLE))
                        / (cb / CAST(nb AS DOUBLE)))
                   ELSE 0 END), 4) AS psi,
               CAST(sum(CASE WHEN ca = 0 OR cb = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_onesided_bins
        FROM tot
    """,
    category="analytics",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month's purchase-value distribution — the standard ML
    feature-drift score (PSI > 0.2 ⇒ retrain). Unit-width integer
    bins (floor(value) — exact for both engines), exact integer bin
    counts and marginals; only the final 10-ish per-bin terms are
    float, summed and rounded. One-sided bins (mass in only one
    period) are excluded from the sum and reported separately, the
    standard smoothing-free treatment. Pairs with q_ks_test: PSI is
    binned and weights the tails, KS is exact and order-based."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    early = F.col("ts") < "2024-01-16"
    binned = e.groupBy(F.floor("value").cast("long").alias("bin")).agg(
        F.sum(F.when(early, 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(~early, 1).otherwise(0)).cast("long").alias("cb"),
    )
    w_all = Window.partitionBy()
    tot = binned.select(
        "bin",
        "ca",
        "cb",
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
    )
    pa = F.col("ca") / F.col("na").cast("double")
    pb = F.col("cb") / F.col("nb").cast("double")
    term = F.when(
        (F.col("ca") > 0) & (F.col("cb") > 0), (pa - pb) * F.log(pa / pb)
    ).otherwise(0.0)
    return tot.agg(
        F.count(F.lit(1)).cast("int").alias("n_bins"),
        F.round(F.sum(term), 4).alias("psi"),
        F.sum(F.when((F.col("ca") == 0) | (F.col("cb") == 0), 1).otherwise(0)).alias(
            "n_onesided_bins"
        ),
    )


@register(
    "q_cdc_upsert",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderstatus AS status,
                   o_totalprice AS price, 0 AS version, 'I' AS op
            FROM orders
        ),
        changes AS (
            SELECT o_orderkey AS k,
                   'X' AS status, o_totalprice + 10.0 AS price,
                   1 AS version, 'U' AS op
            FROM orders WHERE o_orderkey % 3 = 0
            UNION ALL
            SELECT o_orderkey AS k, NULL, NULL, 1 AS version, 'D' AS op
            FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
        ),
        merged AS (
            SELECT *, row_number() OVER (PARTITION BY k
                                         ORDER BY version DESC, op ASC) AS rn
            FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
        ),
        final AS (
            SELECT k, status, price FROM merged WHERE rn = 1 AND op <> 'D'
        )
        -- exact cents sum: the double total tops 1.2e10 at sf0.1 where
        -- summation-order noise reaches the 4th decimal; prices are
        -- 2-decimal money so the integer sum is exact on both engines
        SELECT status, count(*) AS n,
               round(CAST(sum(CAST(round(price * 100) AS BIGINT)) AS DOUBLE)
                     / 100.0, 4) AS total
        FROM final GROUP BY status
    """,
    category="analytics",
)
def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction — MERGE INTO semantics without a table
    format: a change log (updates for keys ≡0 mod 3, delete
    tombstones for keys ≡0 mod 7 minus the update set) applied over
    the base snapshot by latest-version-wins window dedup, tombstones
    dropped last. This is the upsert pattern for plain-parquet lakes
    (Delta/Iceberg MERGE replaces the window with a file-level
    rewrite, same logical semantics). One shuffle on the key; at
    100 TB the window partitions by key exactly as MERGE's join
    would. Versions are exact ints, so the kept row is deterministic."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).alias("version"),
        F.lit("I").alias("op"),
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("X").alias("status"),
        (F.col("o_totalprice") + 10.0).alias("price"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    )
    dels = o.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 3 != 0)).select(
        F.col("o_orderkey").alias("k"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
        F.lit(1).alias("version"),
        F.lit("D").alias("op"),
    )
    w = Window.partitionBy("k").orderBy(F.col("version").desc(), F.col("op").asc())
    final = (
        base.unionByName(upd)
        .unionByName(dels)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    # exact cents sum — at sf0.1 the double total (~1.2e10) is past the
    # magnitude where summation order stays under round(,4); 2-decimal
    # money sums exactly as int64 cents on both engines
    return final.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round(F.col("price") * 100).cast("bigint")).cast("double")
            / 100.0,
            4,
        ).alias("total"),
    )


@register(
    "q_snapshot_diff",
    oracle="""
        WITH a AS (
            SELECT o_orderkey AS k, o_totalprice AS price
            FROM orders WHERE o_orderkey < 10000
        ),
        b AS (
            SELECT o_orderkey AS k,
                   CASE WHEN o_orderkey % 5 = 0
                        THEN o_totalprice + 5.0 ELSE o_totalprice END AS price
            FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 10500
        ),
        d AS (
            SELECT coalesce(a.k, b.k) AS k,
                   CASE WHEN a.k IS NULL THEN 'added'
                        WHEN b.k IS NULL THEN 'removed'
                        WHEN a.price <> b.price THEN 'changed'
                        ELSE 'unchanged' END AS diff
            FROM a FULL JOIN b ON a.k = b.k
        )
        SELECT diff, count(*) AS n,
               CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
        FROM d GROUP BY diff
    """,
    category="analytics",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: classify every key across two table
    versions as added / removed / changed / unchanged via one full
    outer join — the data-diff primitive behind regression checks and
    replication audits. The 'changed' test compares doubles derived
    identically on both engines (same source value, same +5.0 shift),
    so classification is deterministic. One co-partitioned shuffle
    join on the key; at scale, pre-bucketing both snapshots makes the
    diff exchange-free (see q_join_bucketed)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") < 10000).select(
        F.col("o_orderkey").alias("ka"), F.col("o_totalprice").alias("pa")
    )
    b = o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 10500)).select(
        F.col("o_orderkey").alias("kb"),
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 5.0)
        .otherwise(F.col("o_totalprice"))
        .alias("pb"),
    )
    d = a.join(b, a.ka == b.kb, "full").select(
        F.coalesce("ka", "kb").alias("k"),
        F.when(F.col("ka").isNull(), "added")
        .when(F.col("kb").isNull(), "removed")
        .when(F.col("pa") != F.col("pb"), "changed")
        .otherwise("unchanged")
        .alias("diff"),
    )
    return d.groupBy("diff").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


@register(
    "q_histogram_log2",
    oracle="""
        WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_totalprice > 0
        ),
        b AS (
            SELECT length(bin(cents)) - 1 AS bucket, cents FROM c
        )
        SELECT bucket,
               CAST(power(2, bucket) AS BIGINT) AS bucket_lo_cents,
               count(*) AS n,
               CAST(min(cents) AS BIGINT) AS min_cents,
               CAST(max(cents) AS BIGINT) AS max_cents
        FROM b GROUP BY bucket
    """,
    category="analytics",
)
def q_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (HdrHistogram-style) buckets of order values: the
    latency/size histogram shape whose bucket is floor(log2(x)) —
    computed as bit length of the exact integer cents (length of the
    binary string minus one), NOT floating log2, so bucket edges can
    never waver on ulp. One 9-bucket-ish aggregate riding the scan."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    bucket = (F.length(F.bin(cents)) - 1).alias("bucket")
    return (
        o.select(cents.alias("cents"), bucket)
        .groupBy("bucket")
        .agg(
            F.pow(F.lit(2), F.col("bucket")).cast("long").alias("bucket_lo_cents"),
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


@register(
    "q_profile_table",
    oracle="""
        SELECT 'o_orderkey' AS col, count(*) AS n,
               CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
               count(DISTINCT o_orderkey) AS n_distinct,
               round(min(o_orderkey), 4) AS min_val,
               round(max(o_orderkey), 4) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*),
               CAST(count(*) - count(o_custkey) AS BIGINT),
               count(DISTINCT o_custkey),
               round(min(o_custkey), 4), round(max(o_custkey), 4)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*),
               CAST(count(*) - count(o_totalprice) AS BIGINT),
               count(DISTINCT o_totalprice),
               round(min(o_totalprice), 4), round(max(o_totalprice), 4)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*),
               CAST(count(*) - count(o_orderstatus) AS BIGINT),
               count(DISTINCT o_orderstatus),
               NULL, NULL
        FROM orders
    """,
    category="analytics",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling in long form: per column — row count, null
    count, distinct count, numeric min/max (rounded; string columns
    profile cardinality only, so no float-to-string formatting ever
    crosses the engine boundary). The ingest-time data-quality report
    every pipeline runs first. Spark computes ALL columns' stats in a
    single pass (one agg with per-column expressions) and unpivots to
    rows — one scan, not one scan per column; the oracle's UNION ALL
    form is the semantic spec, not the plan."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderkey").alias("c_ok"),
        F.countDistinct("o_orderkey").alias("d_ok"),
        F.round(F.min("o_orderkey"), 4).alias("mn_ok"),
        F.round(F.max("o_orderkey"), 4).alias("mx_ok"),
        F.count("o_custkey").alias("c_ck"),
        F.countDistinct("o_custkey").alias("d_ck"),
        F.round(F.min("o_custkey"), 4).alias("mn_ck"),
        F.round(F.max("o_custkey"), 4).alias("mx_ck"),
        F.count("o_totalprice").alias("c_tp"),
        F.countDistinct("o_totalprice").alias("d_tp"),
        F.round(F.min("o_totalprice"), 4).alias("mn_tp"),
        F.round(F.max("o_totalprice"), 4).alias("mx_tp"),
        F.count("o_orderstatus").alias("c_st"),
        F.countDistinct("o_orderstatus").alias("d_st"),
    )
    rows = [
        ("o_orderkey", "c_ok", "d_ok", "mn_ok", "mx_ok"),
        ("o_custkey", "c_ck", "d_ck", "mn_ck", "mx_ck"),
        ("o_totalprice", "c_tp", "d_tp", "mn_tp", "mx_tp"),
        ("o_orderstatus", "c_st", "d_st", None, None),
    ]
    # one explode over an array of per-column structs — a 4-way union
    # of selects from the same agg would repeat the whole scan+agg
    # subtree per branch (measured 8 exchange nodes vs 2)
    structs = F.array(
        *[
            F.struct(
                F.lit(col).alias("col"),
                F.col("n").alias("n"),
                (F.col("n") - F.col(c)).alias("n_null"),
                F.col(dist).alias("n_distinct"),
                (F.col(mn).cast("double") if mn else F.lit(None).cast("double")).alias("min_val"),
                (F.col(mx).cast("double") if mx else F.lit(None).cast("double")).alias("max_val"),
            )
            for col, c, dist, mn, mx in rows
        ]
    )
    return wide.select(F.explode(structs).alias("p")).select("p.*")


@register(
    "q_wilson_interval",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase'
                                 AND ts < TIMESTAMP '2024-01-08'
                            THEN 1 ELSE 0 END) AS conv
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT count(*) AS n, CAST(sum(conv) AS BIGINT) AS k FROM per_user
        )
        SELECT n, k,
               round(k / CAST(n AS DOUBLE), 4) AS p_hat,
               round((k / CAST(n AS DOUBLE) + 1.9208 / n
                      - 1.96 * sqrt((k / CAST(n AS DOUBLE))
                                    * (1 - k / CAST(n AS DOUBLE)) / n
                                    + 0.9604 / (n * CAST(n AS DOUBLE) * n) * n)
                     ) / (1 + 3.8416 / n), 4) AS wilson_lo,
               round((k / CAST(n AS DOUBLE) + 1.9208 / n
                      + 1.96 * sqrt((k / CAST(n AS DOUBLE))
                                    * (1 - k / CAST(n AS DOUBLE)) / n
                                    + 0.9604 / (n * CAST(n AS DOUBLE) * n) * n)
                     ) / (1 + 3.8416 / n), 4) AS wilson_hi
        FROM agg
    """,
    category="analytics",
)
def q_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval for the first-week conversion
    rate — the binomial interval that behaves at small n and extreme
    p where the naive Wald interval collapses; the number a growth
    dashboard should print next to every rate. Inputs are two exact
    integers (n, k); both engines evaluate the identical closed-form
    float expression (z=1.96 constants pre-squared as literals) and
    round at 4. One user-level shuffle then constant-size math."""
    e = load_table(spark, sf_dir, "events")
    conv = F.max(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") < "2024-01-08"), 1
        ).otherwise(0)
    )
    agg = (
        e.groupBy("user_id")
        .agg(conv.alias("conv"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k"))
    )
    # ANSI /0 guard: empty cohort (n == 0) — every term NULLs like the oracle
    n = F.when(F.col("n") != 0, F.col("n").cast("double"))
    p = F.col("k") / n
    center = p + 1.9208 / n
    margin = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n * n) * n)
    denom = 1 + 3.8416 / n
    return agg.select(
        "n",
        "k",
        F.round(p, 4).alias("p_hat"),
        F.round((center - margin) / denom, 4).alias("wilson_lo"),
        F.round((center + margin) / denom, 4).alias("wilson_hi"),
    )


@register(
    "q_time_rollup",
    oracle="""
        WITH e AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(date_trunc('week', ts) AS DATE) AS week,
                   CAST(date_trunc('month', ts) AS DATE) AS month,
                   value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT month, week, day,
               CASE WHEN day IS NOT NULL THEN 'day'
                    WHEN week IS NOT NULL THEN 'week'
                    WHEN month IS NOT NULL THEN 'month'
                    ELSE 'total' END AS grain,
               count(*) AS n,
               round(sum(value), 4) AS revenue
        FROM e
        GROUP BY GROUPING SETS ((month, week, day), (month, week),
                                (month), ())
        HAVING count(*) > 0  -- Spark: no () row over empty input
    """,
    category="grouping",
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup in ONE pass: day, ISO-week,
    month, and grand-total purchase aggregates via GROUPING SETS over
    pre-truncated keys — the materialized-rollup shape dashboards
    read, computed without rescanning per grain (Spark's Expand
    replays each row into its grouping sets map-side). The grain
    label derives from key nullness, portable across engines; both
    engines truncate weeks to Monday."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    e = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.date_trunc("month", "ts").cast("date").alias("month"),
        "value",
    )
    e.createOrReplaceTempView("_tr_e")
    return spark.sql(
        """
        SELECT month, week, day,
               CASE WHEN day IS NOT NULL THEN 'day'
                    WHEN week IS NOT NULL THEN 'week'
                    WHEN month IS NOT NULL THEN 'month'
                    ELSE 'total' END AS grain,
               count(*) AS n,
               round(sum(value), 4) AS revenue
        FROM _tr_e
        GROUP BY GROUPING SETS ((month, week, day), (month, week),
                                (month), ())
        """
    )


@register(
    "q_new_vs_returning",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(date_trunc('day', ts)) AS first_day
            FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
                   count(DISTINCT e.user_id) AS active_users,
                   count(DISTINCT CASE WHEN date_trunc('day', e.ts) = f.first_day
                                       THEN e.user_id END) AS new_users
            FROM events e JOIN first_seen f ON f.user_id = e.user_id
            GROUP BY 1
        )
        SELECT day, active_users, new_users,
               active_users - new_users AS returning_users,
               CAST(sum(new_users) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cumulative_users
        FROM daily
    """,
    category="analytics",
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day — active users, first-ever-seen (new)
    users, returning users, and the cumulative acquired-user curve.
    The daily readout every growth team starts with. first-seen is a
    user-level min; the classification joins it back (broadcast —
    |users| rows) onto the event stream; the cumulative curve windows
    over ≤|days| rows. All exact integers."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    daily = (
        e.join(F.broadcast(first_seen), "user_id")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.countDistinct(
                F.when(F.date_trunc("day", "ts") == F.col("first_day"), F.col("user_id"))
            ).alias("new_users"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@register(
    "q_abc_classification",
    oracle="""
        WITH per_part AS (
            SELECT l_partkey,
                   CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS cents
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, cents,
                   sum(cents) OVER (ORDER BY cents DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_cents,
                   sum(cents) OVER () AS total_cents
            FROM per_part
        ),
        classed AS (
            SELECT l_partkey, cents,
                   CASE WHEN (cum_cents - cents) * 100 < total_cents * 80
                            THEN 'A'
                        WHEN (cum_cents - cents) * 100 < total_cents * 95
                            THEN 'B'
                        ELSE 'C' END AS abc
            FROM ranked
        )
        SELECT abc, count(*) AS n_parts,
               round(sum(cents) / 100.0, 4) AS revenue,
               CAST(min(cents) AS BIGINT) AS min_cents
        FROM classed GROUP BY abc
    """,
    category="analytics",
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue;
    class A = parts whose PRECEDING cumulative share is under 80%,
    B under 95%, C the tail. The classification predicate is pure
    integer arithmetic — (cum−self)·100 < total·80 in exact cents —
    so class boundaries cannot move between engines (a float
    share-ratio comparison would flake exactly at a boundary part).
    The cumulative sum is STITCHED over range partitions of the
    per-part aggregate (|parts| is unbounded at 100 TB) and the total
    is a broadcast 1-row aggregate — no single-partition window."""
    l = load_table(spark, sf_dir, "lineitem")
    per_part = l.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100)).cast("long").alias("cents")
    )
    ranked = stitched_running(
        per_part,
        [F.col("cents").desc(), F.col("l_partkey").asc()],
        running={"cum_cents": "cents"},
        with_totals=True,
    ).withColumnRenamed("cum_cents_total", "total_cents")
    before = (F.col("cum_cents") - F.col("cents")) * 100
    classed = ranked.withColumn(
        "abc",
        F.when(before < F.col("total_cents") * 80, "A")
        .when(before < F.col("total_cents") * 95, "B")
        .otherwise("C"),
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("cents") / 100.0, 4).alias("revenue"),
        F.min("cents").alias("min_cents"),
    )


@register(
    "q_price_elasticity",
    oracle="""
        SELECT p.p_brand,
               count(*) AS n_lines,
               round(regr_slope(ln(l.l_quantity),
                                ln(l.l_extendedprice / l.l_quantity)), 4)
                   AS elasticity,
               round(regr_r2(ln(l.l_quantity),
                             ln(l.l_extendedprice / l.l_quantity)), 4) AS r2
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
        HAVING count(*) >= 100
    """,
    category="analytics",
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity per brand: regr_slope of ln(quantity) on
    ln(unit price) — the log-log demand-curve fit, the pricing team's
    first regression. Inputs to both ln() are identical per-row
    doubles (unit price = the same division on both engines), the
    regression reduces combinable moment sums, and brands under 100
    lines are dropped (HAVING on an exact count). part broadcasts;
    one fact shuffle to brand groups."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ln_q = F.log("l_quantity")
    ln_up = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.regr_slope(ln_q, ln_up), 4).alias("elasticity"),
            F.round(F.regr_r2(ln_q, ln_up), 4).alias("r2"),
        )
        .filter(F.col("n_lines") >= 100)
    )


@register(
    "q_dim_variance",
    oracle="""
        WITH u AS (
            SELECT i AS dim,
                   CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
            FROM embeddings, unnest(range(0, 64)) t(i)
        ),
        v AS (
            SELECT CAST(dim AS INT) AS dim,
                   round(var_samp(x), 4) AS variance,
                   -- + 0.0: a centered dimension's mean is noise around
                   -- 0 and summation order can flip its sign (SURVEY
                   -- trap 10 — −0.0 vs 0.0 surfaced at sf0.1)
                   round(avg(x), 4) + 0.0 AS mean
            FROM u GROUP BY dim
        )
        SELECT dim, variance, mean,
               row_number() OVER (ORDER BY variance DESC, dim ASC)
                   AS var_rank
        FROM v
        QUALIFY var_rank <= 10
    """,
    category="llm-similarity",
)
def q_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space diagnostics: the 10 highest-variance dimensions
    with their means — the proto-PCA screen for dead or dominating
    axes before building an index (a dimension with ~0 variance is
    wasted storage; one with huge variance dominates L2). Rank is
    taken AFTER round(variance,4) with a dim tie-break so cross-
    engine moment-sum noise cannot reorder the board."""
    e = load_table(spark, sf_dir, "embeddings")
    u = e.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    v = u.groupBy("dim").agg(
        F.round(F.var_samp("x"), 4).alias("variance"),
        # + 0.0: signed-zero discipline on a noise-around-0 mean
        (F.round(F.avg("x"), 4) + F.lit(0.0)).alias("mean"),
    )
    w = Window.orderBy(F.col("variance").desc(), F.col("dim").asc())
    return (
        v.withColumn("var_rank", F.row_number().over(w))
        .filter(F.col("var_rank") <= 10)
    )


_EWM_ALPHA = 0.3


@register(
    "q_exp_smoothing",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(round(sum(value) * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        ),
        idx AS (
            SELECT day, cents,
                   row_number() OVER (ORDER BY day) - 1 AS t
            FROM daily
        ),
        acc AS (
            SELECT day, cents, t,
                   sum(cents / power({1 - _EWM_ALPHA}, t))
                       OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS wsum,
                   first_value(cents) OVER (ORDER BY t) AS x0
            FROM idx
        )
        SELECT day, cents,
               round(CASE WHEN t = 0 THEN CAST(cents AS DOUBLE)
                          ELSE {_EWM_ALPHA} * power({1 - _EWM_ALPHA}, t)
                               * (wsum - x0)
                               + power({1 - _EWM_ALPHA}, t) * x0
                     END, 4) AS smoothed
        FROM acc
    """,
    category="analytics",
)
def q_exp_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing (α=0.3) of daily purchase revenue,
    S_t = α·x_t + (1−α)·S_{t−1} with S_0 = x_0, computed WITHOUT a
    sequential loop: the closed form S_t = (1−α)^t·x_0 +
    α·(1−α)^t·(Σ_{i≤t} x_i/(1−α)^i − x_0) needs one running sum — the
    classic power-weight linearization that turns a recurrence into a
    window aggregate (fine for ~30 buckets; beyond ~300 the
    (1/(1−α))^t factor overflows double and you shard the recurrence
    per partition). Both engines accumulate the cumsum sequentially in
    the same t-order, so the doubles agree before round(·,4)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("cents")
    )
    w_ord = Window.orderBy("day")
    idx = daily.withColumn("t", F.row_number().over(w_ord) - 1)
    beta = 1 - _EWM_ALPHA
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    acc = idx.select(
        "day",
        "cents",
        "t",
        F.sum(F.col("cents") / F.pow(F.lit(beta), F.col("t"))).over(w_run).alias("wsum"),
        F.first("cents").over(Window.orderBy("t")).alias("x0"),
    )
    smoothed = F.when(F.col("t") == 0, F.col("cents").cast("double")).otherwise(
        _EWM_ALPHA * F.pow(F.lit(beta), F.col("t")) * (F.col("wsum") - F.col("x0"))
        + F.pow(F.lit(beta), F.col("t")) * F.col("x0")
    )
    return acc.select("day", "cents", F.round(smoothed, 4).alias("smoothed"))
