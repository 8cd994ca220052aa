"""Round-9 surface growth: interval/time-series analytics (interval
merging, drawdown, autocorrelation, state durations), statistical
inference (Welch t-test, multiple regression), exact integer
allocation, distribution divergence, PII scanning, graph BFS, and a
JSON codec round-trip.

Design rules (same as the rest of the graded surface):
- integer-exact wherever possible (microsecond durations, counts,
  largest-remainder allocation) — floats only through one identical
  expression tree on both engines, then ``round(·, 4)``;
- deterministic total orders under every window/rank (tie-break on a
  unique key);
- scale-shaped plans: per-entity windows partition on the entity key,
  global scalars travel as 1-row broadcasts, the BFS frontier is a
  semi-join loop with a bounded degree — nothing all-pairs, nothing
  single-reducer over fact grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.operators.partitioning import materialize
from builder_spark.registry import register

# ---------------------------------------------------------------------------
# interval / time-series analytics


@register(
    "q_merge_intervals",
    oracle="""
        WITH iv AS (
            SELECT user_id,
                   epoch_us(ts) AS s,
                   epoch_us(ts) + 300000000 AS e,
                   event_id
            FROM events
        ),
        flagged AS (
            SELECT user_id, s, e, event_id,
                   CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) >= s THEN 0 ELSE 1 END AS new_iv
            FROM iv
        ),
        grouped AS (
            SELECT user_id, s, e,
                   sum(new_iv) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS grp
            FROM flagged
        ),
        merged AS (
            SELECT user_id, grp, min(s) AS ms, max(e) AS me
            FROM grouped GROUP BY user_id, grp
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_merged,
               CAST(sum(me - ms) // 1000000 AS BIGINT) AS covered_sec
        FROM merged GROUP BY user_id
    """,
    category="analytics",
)
def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval union (the sweep-line classic): each event
    opens a 5-minute activity interval; per user, merge overlaps and
    report the merged-interval count and total covered wall-clock.
    Standard technique — an interval starts a new merged group iff its
    start exceeds the running max of all previous ends; the running
    flag-sum labels groups without any self-join.

    Exactness: all arithmetic is integer microseconds (``unix_micros``
    / ``epoch_us`` agree exactly; 300s = 3e8 µs), and covered_sec uses
    integer floor-division (``div``) end-to-end — same semantics as the
    oracle's ``//``, no double rounding in the path at any magnitude.
    Scale: both windows partition on
    user_id — per-user event streams, never a global sort; the merge
    is two map-side-combinable groupBys."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.lit(300000000)).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn(
        "new_iv",
        F.when(F.max("e").over(w_prev) >= F.col("s"), 0).otherwise(1),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = flagged.withColumn("grp", F.sum("new_iv").over(w_run))
    merged = grouped.groupBy("user_id", "grp").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        F.expr("sum(me - ms) div 1000000").cast("bigint").alias("covered_sec"),
    )


@register(
    "q_max_drawdown",
    oracle="""
        WITH flow AS (
            SELECT o_custkey, o_orderdate, o_orderkey,
                   CASE WHEN o_orderstatus = 'F'
                        THEN o_totalprice ELSE -o_totalprice END AS amt
            FROM orders
        ),
        walk AS (
            SELECT o_custkey, o_orderdate, o_orderkey,
                   sum(amt) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM flow
        ),
        dd AS (
            SELECT o_custkey,
                   max(cum) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS peak,
                   cum
            FROM walk
        )
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(max(peak - cum), 4) AS max_drawdown
        FROM dd GROUP BY o_custkey
    """,
    category="analytics",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each customer's signed order-flow walk
    (finalized orders credit, open ones debit — a stand-in for any
    per-entity running balance): drawdown = running peak − current
    value; report each customer's worst dip.

    Determinism: the running sum adds amounts in the SAME total order
    ((o_orderdate, o_orderkey) is unique per customer) on both
    engines, so the float walk is bit-identical — and the peak is a
    running max over that walk, so ``peak − cum`` needs no rounding
    until the final aggregate. Scale: both windows partition on
    o_custkey; nothing global."""
    flow = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
        .otherwise(-F.col("o_totalprice"))
        .alias("amt"),
    )
    w_cum = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = flow.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.sum("amt").over(w_cum).alias("cum"),
    )
    # running peak over the SAME time order (one exchange serves both
    # windows — same partition + sort keys)
    dd = walk.withColumn("peak", F.max("cum").over(w_cum))
    return dd.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.max(F.col("peak") - F.col("cum")), 4).alias("max_drawdown"),
    )


@register(
    "q_autocorrelation",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS rev
            FROM orders GROUP BY 1
        ),
        lagged AS (
            SELECT rev,
                   lag(rev, 1) OVER (ORDER BY d) AS l1,
                   lag(rev, 2) OVER (ORDER BY d) AS l2,
                   lag(rev, 3) OVER (ORDER BY d) AS l3,
                   lag(rev, 4) OVER (ORDER BY d) AS l4,
                   lag(rev, 5) OVER (ORDER BY d) AS l5,
                   lag(rev, 6) OVER (ORDER BY d) AS l6,
                   lag(rev, 7) OVER (ORDER BY d) AS l7
            FROM daily
        ),
        pairs AS (
            SELECT 1 AS lag_k, rev, l1 AS lagged FROM lagged
            UNION ALL SELECT 2, rev, l2 FROM lagged
            UNION ALL SELECT 3, rev, l3 FROM lagged
            UNION ALL SELECT 4, rev, l4 FROM lagged
            UNION ALL SELECT 5, rev, l5 FROM lagged
            UNION ALL SELECT 6, rev, l6 FROM lagged
            UNION ALL SELECT 7, rev, l7 FROM lagged
        )
        SELECT lag_k,
               CAST(count(lagged) AS BIGINT) AS n_pairs,
               round(corr(rev, lagged), 4) AS acf
        FROM pairs WHERE lagged IS NOT NULL
        GROUP BY lag_k ORDER BY lag_k
    """,
    category="analytics",
)
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at lags
    1–7 — the first diagnostic before any seasonal model (weekly
    periodicity shows as a lag-7 peak). Pearson corr between the
    series and each shifted copy, pairwise-complete.

    Scale: the ordered window runs over the DAY-grain aggregate
    (calendar-bounded — a century is 36.5k rows), never fact grain;
    the 7 lag columns come from ONE window pass, and the unpivot is a
    projection. corr's accumulation differs across engines only below
    the round(·, 4) threshold."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "rev", *[F.lag("rev", k).over(w).alias(f"l{k}") for k in range(1, 8)]
    )
    pairs = lagged.select(
        F.expr(
            "stack(7, 1, l1, 2, l2, 3, l3, 4, l4, 5, l5, 6, l6, 7, l7)"
            " AS (lag_k, lagged)"
        ),
        "rev",
    ).where(F.col("lagged").isNotNull())
    return (
        pairs.groupBy("lag_k")
        .agg(
            F.count("lagged").cast("bigint").alias("n_pairs"),
            F.round(F.corr("rev", "lagged"), 4).alias("acf"),
        )
        .orderBy("lag_k")
    )


@register(
    "q_time_in_state",
    oracle="""
        WITH ev AS (
            SELECT event_type, user_id, epoch_us(ts) AS s, event_id
            FROM events
        ),
        spells AS (
            SELECT event_type,
                   lead(s) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                   ) - s AS dur_us
            FROM ev
        )
        SELECT event_type,
               CAST(count(dur_us) AS BIGINT) AS n_spells,
               CAST(sum(dur_us) AS BIGINT) AS total_us,
               round(sum(dur_us) / (count(dur_us) * 60000000.0), 4) AS avg_min
        FROM spells WHERE dur_us IS NOT NULL
        GROUP BY event_type
    """,
    category="analytics",
)
def q_time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state attribution: each event puts its user into a
    state (the event type) until their next event; total and average
    dwell time per state — the session-analytics primitive behind
    'where do users spend their time'.

    Exactness: durations are exact integer microseconds (lead − ts);
    the only float is one division of two exact integers, rounded
    once. Scale: the lead window partitions on user_id (per-user
    streams); the rollup is a 5-key map-side-combinable groupBy."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.unix_micros(F.col("ts")).alias("s"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    spells = ev.select(
        "event_type", (F.lead("s").over(w) - F.col("s")).alias("dur_us")
    ).where(F.col("dur_us").isNotNull())
    return spells.groupBy("event_type").agg(
        F.count("dur_us").cast("bigint").alias("n_spells"),
        F.sum("dur_us").cast("bigint").alias("total_us"),
        F.round(
            F.sum("dur_us") / (F.count("dur_us") * F.lit(60000000.0)), 4
        ).alias("avg_min"),
    )


# ---------------------------------------------------------------------------
# statistical inference


@register(
    "q_welch_ttest",
    oracle="""
        WITH seg AS (
            SELECT c.c_mktsegment AS seg, o.o_totalprice AS x
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        m AS (
            SELECT
                count(*) FILTER (WHERE seg = 'BUILDING') AS n_a,
                count(*) FILTER (WHERE seg = 'MACHINERY') AS n_b,
                avg(x) FILTER (WHERE seg = 'BUILDING') AS mean_a,
                avg(x) FILTER (WHERE seg = 'MACHINERY') AS mean_b,
                var_samp(x) FILTER (WHERE seg = 'BUILDING') AS var_a,
                var_samp(x) FILTER (WHERE seg = 'MACHINERY') AS var_b
            FROM seg
        )
        SELECT CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               round(mean_a, 4) AS mean_a,
               round(mean_b, 4) AS mean_b,
               round((mean_a - mean_b)
                     / sqrt(var_a / n_a + var_b / n_b), 4) AS t_stat,
               round(pow(var_a / n_a + var_b / n_b, 2)
                     / (pow(var_a / n_a, 2) / (n_a - 1)
                        + pow(var_b / n_b, 2) / (n_b - 1)), 4) AS dof
        FROM m
    """,
    category="analytics",
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: does mean order value differ
    between the BUILDING and MACHINERY segments? Reports the t
    statistic and Welch–Satterthwaite degrees of freedom — the
    standard two-sample test when variances can't be pooled.

    Plan: customer (dim) broadcasts into the fact join; ONE pass
    computes both groups' count/mean/variance via conditional
    aggregates (Spark's null-skipping when() == DuckDB's FILTER
    clause); t and dof come from one identical closed-form tree,
    rounded once. Nothing but a 1-row aggregate leaves the shuffle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    seg = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("x")
    )
    a = F.col("seg") == "BUILDING"
    b = F.col("seg") == "MACHINERY"
    m = seg.agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(b, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("x"))).alias("mean_a"),
        F.avg(F.when(b, F.col("x"))).alias("mean_b"),
        F.var_samp(F.when(a, F.col("x"))).alias("var_a"),
        F.var_samp(F.when(b, F.col("x"))).alias("var_b"),
    )
    se2a = F.col("var_a") / F.col("n_a")
    se2b = F.col("var_b") / F.col("n_b")
    return m.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2a + se2b), 4
        ).alias("t_stat"),
        F.round(
            F.pow(se2a + se2b, 2)
            / (
                F.pow(se2a, 2) / (F.col("n_a") - 1)
                + F.pow(se2b, 2) / (F.col("n_b") - 1)
            ),
            4,
        ).alias("dof"),
    )


@register(
    "q_multi_regression",
    oracle="""
        WITH s AS (
            SELECT count(*) AS n,
                   sum(l_quantity) AS s1, sum(l_discount) AS s2,
                   sum(l_extendedprice) AS sy,
                   sum(l_quantity * l_quantity) AS s11,
                   sum(l_discount * l_discount) AS s22,
                   sum(l_quantity * l_discount) AS s12,
                   sum(l_quantity * l_extendedprice) AS s1y,
                   sum(l_discount * l_extendedprice) AS s2y,
                   sum(l_extendedprice * l_extendedprice) AS syy
            FROM lineitem
        ),
        c AS (
            SELECT n,
                   s11 - s1 * s1 / n AS c11,
                   s22 - s2 * s2 / n AS c22,
                   s12 - s1 * s2 / n AS c12,
                   s1y - s1 * sy / n AS c1y,
                   s2y - s2 * sy / n AS c2y,
                   syy - sy * sy / n AS cyy,
                   s1 / n AS m1, s2 / n AS m2, sy / n AS my
            FROM s
        )
        SELECT CAST(n AS BIGINT) AS n,
               round((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12), 4) AS b1,
               round((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12), 4) AS b2,
               round(my - (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) * m1
                        - (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) * m2,
                     4) AS b0,
               round(((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) * c1y
                      + (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) * c2y)
                     / cyy, 4) AS r2
        FROM c
    """,
    category="aggregation",
)
def q_multi_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS by the normal equations: extendedprice ~
    quantity + discount over the whole fact table, closed-form 2×2
    solve (Cramer) on centered co-moment sums, plus R². This is the
    distributed-regression pattern — one aggregate pass collects the
    9 sufficient statistics; the solve is O(1) arithmetic on a 1-row
    result, so the plan is a single map-side-combinable aggregation
    at ANY table size.

    Float discipline: both engines build b0/b1/b2/R² through one
    identical rational-expression tree over sums whose cross-engine
    difference is ~1e-16 relative; round(·, 4) absorbs it."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c = s.select(
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("cyy"),
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("m2"),
        (F.col("sy") / F.col("n")).alias("my"),
    )
    _det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    det = F.when(_det != 0, _det)  # ANSI /0 guard: single-point design
    b1 = (F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")) / det
    b2 = (F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")) / det
    return c.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(b1, 4).alias("b1"),
        F.round(b2, 4).alias("b2"),
        F.round(
            F.col("my") - b1 * F.col("m1") - b2 * F.col("m2"), 4
        ).alias("b0"),
        F.round((b1 * F.col("c1y") + b2 * F.col("c2y")) / F.col("cyy"), 4).alias(
            "r2"
        ),
    )


# ---------------------------------------------------------------------------
# exact integer allocation


@register(
    "q_largest_remainder",
    oracle="""
        WITH w AS (
            SELECT n.n_nationkey, n.n_name, CAST(count(*) AS BIGINT) AS orders_n
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_nationkey, n.n_name
        ),
        t AS (SELECT sum(orders_n) AS total FROM w),
        base AS (
            SELECT n_nationkey, n_name, orders_n,
                   (1000 * orders_n) // total AS floor_alloc,
                   (1000 * orders_n) % total AS rem
            FROM w, t
        ),
        ranked AS (
            SELECT *,
                   row_number() OVER (ORDER BY rem DESC, n_nationkey) AS rn,
                   (SELECT 1000 - sum(floor_alloc) FROM base) AS deficit
            FROM base
        )
        SELECT n_name, orders_n,
               CAST(floor_alloc + CASE WHEN rn <= deficit THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc
        FROM ranked
    """,
    category="analytics",
)
def q_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: allocate exactly
    1000 sampling slots across nations proportionally to order count —
    the integer-exact quota allocator behind any 'sample N docs per
    source, proportional to size' pipeline step. Floor the
    proportional share, then hand the leftover slots to the largest
    fractional remainders (nationkey breaks ties) so Σalloc == 1000
    exactly — no float rounding can leak or double-count a slot.

    All arithmetic is integer (1000·nᵢ div/mod N). Scale: weights are
    a dim-grain aggregate (25 rows); the global total and deficit are
    1-row broadcasts; the rank window runs over the 25-row weight
    table (nation-bounded), never fact grain."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("orders_n"))
    )
    t = w.agg(F.sum("orders_n").alias("total"))
    base = w.crossJoin(F.broadcast(t)).select(
        "n_nationkey",
        "n_name",
        "orders_n",
        F.expr("(1000 * orders_n) div total").alias("floor_alloc"),
        ((1000 * F.col("orders_n")) % F.col("total")).alias("rem"),
    )
    deficit = base.agg((F.lit(1000) - F.sum("floor_alloc")).alias("deficit"))
    ranked = base.crossJoin(F.broadcast(deficit)).withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("n_nationkey"))
        ),
    )
    return ranked.select(
        "n_name",
        "orders_n",
        (
            F.col("floor_alloc")
            + F.when(F.col("rn") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


# ---------------------------------------------------------------------------
# corpus divergence / PII / JSON codec


@register(
    "q_js_divergence",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents WHERE source IN ('src0', 'src1')
        ),
        per_tok AS (
            SELECT token,
                   CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS c0,
                   CAST(count(*) FILTER (WHERE source = 'src1') AS BIGINT) AS c1
            FROM tok GROUP BY token
        ),
        tot AS (
            SELECT sum(c0) AS t0, sum(c1) AS t1 FROM per_tok
        ),
        terms AS (
            SELECT c0, c1, t0, t1,
                   c0 / (t0 * 1.0) AS p,
                   c1 / (t1 * 1.0) AS q
            FROM per_tok, tot
        )
        SELECT CAST(count(*) AS BIGINT) AS vocab_union,
               CAST(max(t0) AS BIGINT) AS tok0,
               CAST(max(t1) AS BIGINT) AS tok1,
               round(sum(
                   CASE WHEN c0 > 0
                        THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END
                 + CASE WHEN c1 > 0
                        THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END
               ) / ln(2), 4) AS jsd_bits
        FROM terms
    """,
    category="llm-text",
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between two sources' token
    distributions — the symmetric, bounded [0,1]-bit corpus-drift
    measure used to compare a candidate data source against a
    reference mix (PSI's information-theoretic sibling; finite even
    where one side has zero mass).

    Plan: tokens aggregate ONCE into per-token (c0, c1) counts
    (map-side combinable); totals are a 1-row broadcast; each token
    contributes through one identical closed-form term and the final
    sum is rounded once — per-term magnitudes ≤ 1, so cross-engine
    summation-order noise sits ~1e-15, far below round(·, 4)."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("token"))
    )
    per_tok = tok.groupBy("token").agg(
        F.count(F.when(F.col("source") == "src0", 1)).cast("bigint").alias("c0"),
        F.count(F.when(F.col("source") == "src1", 1)).cast("bigint").alias("c1"),
    )
    tot = per_tok.agg(F.sum("c0").alias("t0"), F.sum("c1").alias("t1"))
    terms = per_tok.crossJoin(F.broadcast(tot)).select(
        "c0",
        "c1",
        "t0",
        "t1",
        # ANSI /0 guards: a one-source corpus has an empty other side
        (F.col("c0") / F.when(F.col("t0") != 0, F.col("t0") * 1.0)).alias("p"),
        (F.col("c1") / F.when(F.col("t1") != 0, F.col("t1") * 1.0)).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    contrib = F.when(
        F.col("c0") > 0, 0.5 * F.col("p") * F.log(F.col("p") / m)
    ).otherwise(0.0) + F.when(
        F.col("c1") > 0, 0.5 * F.col("q") * F.log(F.col("q") / m)
    ).otherwise(0.0)
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_union"),
        F.max("t0").cast("bigint").alias("tok0"),
        F.max("t1").cast("bigint").alias("tok1"),
        F.round(F.sum(contrib) / F.log(F.lit(2.0)), 4).alias("jsd_bits"),
    )


_PII_EMAIL = "([a-z0-9]+@ex[0-9]\\.com)"
_PII_PHONE = "(555-[0-9]{4})"


@register(
    "q_pii_scan",
    oracle=f"""
        WITH txt AS (
            SELECT c_mktsegment,
                   c_name || ' email user' || c_custkey || '@ex'
                          || (c_custkey % 10) || '.com call 555-'
                          || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                       AS t
            FROM customer
        )
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(len(regexp_extract_all(t, '{_PII_EMAIL}', 1))) AS BIGINT)
                   AS n_emails,
               CAST(sum(len(regexp_extract_all(t, '{_PII_PHONE}', 1))) AS BIGINT)
                   AS n_phones,
               CAST(sum(length(
                   regexp_replace(
                       regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g')
               )) AS BIGINT) AS redacted_len
        FROM txt GROUP BY c_mktsegment
    """,
    category="llm-pipeline",
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction audit — the scrub step every
    training-data pipeline runs before release: count email/phone
    matches and measure the redacted text length per segment.
    Contact strings are synthesized deterministically from customer
    keys (the fixture corpus is a clean wordlist), so both engines
    scan byte-identical inputs; the regexes stay in the
    RE2∩java.util.regex common subset (char classes, bounded repeats
    — no lookaround/backrefs).

    Scale: pure row-local projections (regexp ops stay in
    whole-stage codegen) + one map-side-combinable 5-key groupBy; no
    UDF, no shuffle beyond the final rollup."""
    c = load_table(spark, sf_dir, "customer")
    t = F.concat(
        F.col("c_name"),
        F.lit(" email user"),
        F.col("c_custkey").cast("string"),
        F.lit("@ex"),
        (F.col("c_custkey") % 10).cast("string"),
        F.lit(".com call 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    txt = c.select("c_mktsegment", t.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE,
        "<PHONE>",
    )
    return txt.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_EMAIL), 1)))
        .cast("bigint")
        .alias("n_emails"),
        F.sum(F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_PHONE), 1)))
        .cast("bigint")
        .alias("n_phones"),
        F.sum(F.length(redacted)).cast("bigint").alias("redacted_len"),
    )


@register(
    "q_struct_json_roundtrip",
    oracle="""
        WITH enc AS (
            SELECT to_json(struct_pack(k := o_orderkey, s := o_orderstatus))
                       AS j
            FROM orders
        ),
        dec AS (
            SELECT CAST(json_extract(j, '$.k') AS BIGINT) AS k,
                   json_extract_string(j, '$.s') AS s
            FROM enc
        )
        SELECT s AS o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS key_sum
        FROM dec GROUP BY s
    """,
    category="scalar/json",
)
def q_struct_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON codec round-trip: struct → JSON string → extract fields
    back, then aggregate the DECODED values — proving each engine's
    encoder and decoder compose to the identity on typed data (the
    serialization contract any JSON sink/source pair depends on).
    Grading compares decoded values, so engine-specific JSON
    formatting (key order, whitespace) never enters the hash.

    Scale: row-local codegen expressions only + one 3-key groupBy."""
    o = load_table(spark, sf_dir, "orders")
    enc = o.select(
        F.to_json(
            F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s"))
        ).alias("j")
    )
    dec = enc.select(
        F.get_json_object(F.col("j"), "$.k").cast("bigint").alias("k"),
        F.get_json_object(F.col("j"), "$.s").alias("s"),
    )
    return dec.groupBy(F.col("s").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# graph BFS


@register(
    "q_bfs_frontier",
    oracle="""
        WITH n AS (
            SELECT max(user_id) + 1 AS nn, min(user_id) AS s FROM events
        ),
        nodes AS (SELECT DISTINCT user_id FROM events),
        edges AS (
            SELECT user_id AS src, (2 * user_id + 1) % nn AS dst
            FROM nodes, n
            UNION
            SELECT user_id, (3 * user_id + 5) % nn FROM nodes, n
        ),
        walk AS (
            WITH RECURSIVE reach(node, d) AS (
                SELECT s, 0 FROM n
                UNION ALL
                SELECT e.dst, r.d + 1
                FROM reach r JOIN edges e ON e.src = r.node
                WHERE r.d < 3
            )
            SELECT node, min(d) AS dist FROM reach GROUP BY node
        )
        SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
        FROM walk GROUP BY dist ORDER BY dist
    """,
    category="analytics",
)
def q_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search over a sparse user graph: each observed
    user links to two derived peers ((2u+1) mod N and (3u+5) mod N —
    a deterministic stand-in for a referral/follows edge list, which
    the fixture schema lacks; the co-supply graph is complete at
    every SF, so it cannot exercise a frontier). How many users sit
    at each hop distance ≤ 3 from the lowest user id?

    Spark plan is a proper frontier BFS: 3 rounds of
    frontier ⨝ edges → anti-join against the visited set → union —
    per round one equi-join on src plus one distinct, the iterative
    min-distance semi-join pattern that scales to billion-edge lists
    (per-round cost is O(frontier · avg-degree), never all paths).
    The oracle's recursive CTE enumerates paths instead — fine at
    grading scale (branching ≤ 2), and the min(d)-per-node rollup
    makes the two formulations agree exactly. Exact integers only."""
    ev = load_table(spark, sf_dir, "events")
    n = ev.agg(
        (F.max("user_id") + 1).alias("nn"), F.min("user_id").alias("s")
    )
    nodes = ev.select("user_id").distinct()
    edges = (
        nodes.crossJoin(F.broadcast(n))
        .select(
            F.col("user_id").alias("src"),
            F.explode(
                F.array(
                    (2 * F.col("user_id") + 1) % F.col("nn"),
                    (3 * F.col("user_id") + 5) % F.col("nn"),
                )
            ).alias("dst"),
        )
        .distinct()
    )
    start = n.select(F.col("s").alias("node"), F.lit(0).alias("dist"))
    visited = start
    frontier = start.select("node")
    for step in range(1, 4):
        nxt = (
            edges.join(frontier, edges.src == frontier.node, "left_semi")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(step).alias("dist"))
        )
        visited = materialize(visited.unionByName(nxt))
        frontier = nxt.select("node")
    return (
        visited.groupBy("dist")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("dist")
    )
