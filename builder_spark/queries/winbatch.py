"""Time-window aggregations on batch data — SURVEY.md §2.B rows 59-61.

These are the batch twins of the Structured Streaming jobs in
builder_spark/streaming (rows 62-64): identical window semantics, so
correctness established here transfers to the streaming path.

Parity notes:
- Spark's F.window aligns buckets to the Unix epoch; the oracles use
  explicit epoch-floor arithmetic (not time_bucket, whose default
  origin is 2000-01-01 — same alignment for divisors of 30 years of
  seconds, but explicit is safer).
- Session gaps compare microsecond-exact integers (unix_micros /
  epoch_us); comparing truncated seconds or fractional doubles flips
  boundary events between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.operators.partitioning import ntile_from_rank, range_boundaries, stitched_running
from builder_spark.registry import register


@register(
    "q_win_tumbling",
    oracle="""
        SELECT date_trunc('hour', ts) AS win_start,
               event_type,
               count(*) AS n,
               round(sum(value), 4) AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    category="window-time",
)
def q_win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window per event_type via F.window (streaming-
    compatible operator; on batch it's just a group-by on the bucket)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )


@register(
    "q_win_sliding",
    oracle="""
        SELECT make_timestamp(CAST((floor(epoch(ts) / 900) * 900 - k.k * 900) * 1000000 AS BIGINT)) AS win_start,
               count(*) AS n,
               round(sum(value), 4) AS total_value
        FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)
        GROUP BY 1
    """,
    category="window-time",
)
def q_win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min — each event lands in exactly
    4 overlapping windows. Spark assigns them via F.window(…, slide);
    the oracle enumerates the 4 slide offsets explicitly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n", "total_value")
    )


@register(
    "q_win_session",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                         OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sessions AS (
            SELECT *, CAST(sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS session_id
            FROM gaps
        )
        SELECT user_id, session_id,
               count(*) AS n_events,
               min(ts) AS session_start,
               max(ts) AS session_end,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
               round(sum(value), 4) AS total_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
    category="window-time",
)
def q_win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap — the lag+cumsum
    rewrite (deterministic batch twin of F.session_window). One shuffle
    on user_id serves both the lag window and the session rollup."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    cum = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "q_retention_cohort",
    oracle="""
        WITH first_seen AS (
            SELECT user_id,
                   min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        act AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS act_week
            FROM events
        ),
        ret AS (
            SELECT cohort_week,
                   date_diff('day', cohort_week, act_week) // 7 AS week_offset,
                   count(DISTINCT user_id) AS n_users
            FROM act JOIN first_seen USING (user_id)
            GROUP BY 1, 2
        )
        SELECT cohort_week, week_offset, n_users,
               round(n_users / CAST(
                   max(CASE WHEN week_offset = 0 THEN n_users END)
                       OVER (PARTITION BY cohort_week) AS DOUBLE), 4) AS retention
        FROM ret
    """,
    category="analytics",
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — the classic product-analytics rollup:
    users cohorted by first-activity week; for each (cohort, week
    offset) the distinct-user count and its ratio to the cohort's own
    week-0 size. Both engines truncate weeks to Monday, so bucket
    edges agree; offsets are exact multiples of 7 days, so the
    ``//7`` vs float-divide-then-truncate difference cannot bite.
    Scale: two map-side-combinable aggs over events plus one shuffle
    join keyed on user_id — cohort table is |users| rows (≪ events,
    broadcastable); no per-day fan-out, output is O(weeks²)."""
    ev = load_table(spark, sf_dir, "events")
    week = F.to_date(F.date_trunc("week", F.col("ts")))
    first_seen = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    act = ev.select("user_id", week.alias("act_week")).distinct()
    ret = (
        act.join(F.broadcast(first_seen), "user_id")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        # act is distinct per (user, week) and week_offset is a function
        # of (user, act_week), so each user hits a group exactly once —
        # plain count, no distinct shuffle (oracle keeps count(DISTINCT)
        # to assert the equivalence).
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    w = Window.partitionBy("cohort_week")
    cohort_size = F.max(F.when(F.col("week_offset") == 0, F.col("n_users"))).over(w)
    return ret.withColumn(
        "retention",
        F.round(F.col("n_users") / cohort_size.cast("double"), 4),
    )


@register(
    "q_event_funnel",
    oracle="""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id
        ),
        s4 AS (
            SELECT e.user_id, min(e.ts) AS t4
            FROM events e JOIN s3 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM s1) AS n_signup,
               (SELECT count(*) FROM s2) AS n_view,
               (SELECT count(*) FROM s3) AS n_click,
               (SELECT count(*) FROM s4) AS n_purchase
    """,
    category="analytics",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup→view→click→purchase: a user
    reaches stage k+1 via the first stage-(k+1) event STRICTLY AFTER
    their stage-k arrival time (the standard product-analytics
    definition, not mere per-type existence). Timestamps compare
    microsecond-exact — both engines truncate the parquet nanos the
    same way, so strict-> boundaries agree. Scale: each stage is a
    pushed-down filter + combinable min-agg; the stage-k user table
    only shrinks, so every join is broadcastable; no windows, no
    all-event shuffle."""
    ev = load_table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str, tcol: str) -> DataFrame:
        prev_t = prev.columns[-1]
        return (
            ev.filter(F.col("event_type") == etype)
            .join(F.broadcast(prev), "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after(s1, "view", "t2")
    s3 = first_after(s2, "click", "t3")
    s4 = first_after(s3, "purchase", "t4")
    counts = [
        df.agg(F.count(F.lit(1)).alias(name))
        for df, name in [(s1, "n_signup"), (s2, "n_view"), (s3, "n_click"), (s4, "n_purchase")]
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out


@register(
    "q_activity_heatmap",
    oracle="""
        SELECT isodow(ts) AS dow,
               hour(ts) AS hr,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    category="analytics",
)
def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap — the traffic-shape profile
    behind load-aware scheduling. Uses ISO day-of-week (Mon=1..Sun=7)
    on both engines: Spark's default dayofweek() is Sunday=1 while
    DuckDB's dow is Sunday=0, so the ISO form is the only
    alignment-safe choice. Scale: one combinable agg, 168 output
    rows max."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("bigint").alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "q_daily_anomaly",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(*) AS n
            FROM events
            GROUP BY 1, 2
        )
        SELECT event_type, day, n,
               round((n - avg(n) OVER (PARTITION BY event_type))
                     / stddev_samp(n) OVER (PARTITION BY event_type), 4)
                   AS zscore
        FROM daily
    """,
    category="analytics",
)
def q_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily volume z-scores — the monitoring primitive
    behind traffic-anomaly alerts. Counts are exact integers, so the
    windowed mean/stddev are deterministic up to summation order;
    round(·,4) absorbs that before the hash. Scale: the daily rollup
    is a combinable agg (≈types×days rows out); the z-score window
    partitions by event_type over that tiny aggregate, never over raw
    events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    return daily.withColumn(
        "zscore",
        F.round((F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w), 4),
    )


@register(
    "q_rfm_segments",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   date_diff('day', max(o_orderdate),
                             (SELECT max(o_orderdate) FROM orders)) AS recency_days,
                   count(*) AS frequency,
                   round(sum(o_totalprice), 4) AS monetary
            FROM orders
            GROUP BY o_custkey
        ),
        scored AS (
            SELECT *,
                   ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_quartile,
                   ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_quartile,
                   ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_quartile
            FROM per_cust
        )
        SELECT r_quartile, f_quartile, m_quartile,
               count(*) AS n_customers,
               round(avg(monetary), 4) AS avg_monetary
        FROM scored
        GROUP BY 1, 2, 3
    """,
    category="analytics",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency/frequency/monetary quartiles, the
    workhorse customer-value rollup. Every ntile ordering carries a
    c_custkey tie-break (quartile boundaries would otherwise be
    engine-dependent for tied values: frequency ties are common).
    Monetary is rounded BEFORE the m-quartile ordering so sub-ulp sum
    noise can't flip boundary customers. Scale: per-customer agg is one
    combinable shuffle; each quartile is a STITCHED global rank
    (range-partitioned local rank + broadcast prefix offsets, never a
    single-partition sort of the |customers| aggregate) fed through
    closed-form ntile arithmetic — billions of customers at 100 TB
    stay spread across the cluster."""
    o = load_table(spark, sf_dir, "orders")
    max_date = o.agg(F.max("o_orderdate").alias("_mx"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("_cust_mx"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 4).alias("monetary"),
        )
        .crossJoin(F.broadcast(max_date))
        .withColumn("recency_days", F.datediff(F.col("_mx"), F.col("_cust_mx")))
    )
    ck = F.col("o_custkey").asc()
    # One multi-column approxQuantile pass supplies the partition
    # boundaries for ALL THREE stitched ranks: chained stitches with
    # auto-derived boundaries would each re-execute the upstream
    # stitches inside their own quantile action (compounding — measured
    # 16.6 s construction at sf0.1 vs ~1 s for this single pass).
    b_r, b_f, b_m = range_boundaries(per_cust, "recency_days", "frequency", "monetary")
    scored = stitched_running(
        per_cust, [F.col("recency_days").asc(), ck], rank_name="_r_rn", boundaries=b_r
    )
    scored = stitched_running(
        scored, [F.col("frequency").desc(), ck], rank_name="_f_rn", boundaries=b_f
    )
    scored = stitched_running(
        scored,
        [F.col("monetary").desc(), ck],
        rank_name="_m_rn",
        with_totals=True,
        boundaries=b_m,
    )
    scored = (
        scored.withColumn("r_quartile", ntile_from_rank(4, "_r_rn", "_m_rn_total"))
        .withColumn("f_quartile", ntile_from_rank(4, "_f_rn", "_m_rn_total"))
        .withColumn("m_quartile", ntile_from_rank(4, "_m_rn", "_m_rn_total"))
    )
    return scored.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("monetary"), 4).alias("avg_monetary"),
    )


@register(
    "q_event_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ) AS prev_type
            FROM events
        ),
        cnt AS (
            SELECT prev_type, event_type AS next_type, count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT prev_type, next_type, n,
               round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 4)
                   AS prob
        FROM cnt
    """,
    category="analytics",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (Markov chain of user
    behavior — the input to next-action prediction and bot detection).
    lag() per user with a (ts, event_id) total order; the row-
    normalized probabilities divide exact integer counts, so only the
    final ratio needs round(4). Scale: one user_id shuffle for the lag,
    then a 25-cell aggregate — the probability window runs over the
    CELL table, not events."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    cnt = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return cnt.withColumn(
        "prob", F.round(F.col("n") / F.sum("n").over(wp).cast("double"), 4)
    )


@register(
    "q_pareto_customers",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS rev_cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, rev_cents,
                   CAST(sum(rev_cents) OVER (
                       ORDER BY rev_cents DESC, o_custkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_cents,
                   CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents,
                   row_number() OVER (ORDER BY rev_cents DESC, o_custkey ASC) AS rnk
            FROM per_cust
        )
        SELECT count(*) AS n_top_customers,
               max(rnk) = count(*) AS contiguous,
               round(min(cum_cents / CAST(total_cents AS DOUBLE)), 4) AS first_share
        FROM ranked
        WHERE 2 * cum_cents <= total_cents
    """,
    category="analytics",
)
def q_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto): how many top customers make up
    the first 50% of revenue. Per-customer revenue becomes EXACT cents
    before the cumulative sum, so the running total is integer
    arithmetic — order-independent, which lets the global window run as
    range-partition stitching (``stitched_running``: local cumsum per
    sorted range of the |customers| aggregate + broadcast prefix
    offsets) instead of a single-partition sort; billions of customers
    at 100 TB stay spread across the cluster. The 50% cut compares
    2·cum ≤ total in integers — no ratio rounding can flip it."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("rev_cents")
    )
    ranked = stitched_running(
        per_cust,
        [F.col("rev_cents").desc(), F.col("o_custkey").asc()],
        running={"cum_cents": "rev_cents"},
        rank_name="rnk",
        with_totals=True,
    )
    top = ranked.withColumnRenamed("cum_cents_total", "total_cents").filter(
        2 * F.col("cum_cents") <= F.col("total_cents")
    )
    return top.agg(
        F.count(F.lit(1)).alias("n_top_customers"),
        (F.max("rnk") == F.count(F.lit(1))).alias("contiguous"),
        F.round(F.min(F.col("cum_cents") / F.col("total_cents").cast("double")), 4).alias(
            "first_share"
        ),
    )


@register(
    "q_date_spine",
    oracle="""
        WITH bounds AS (
            SELECT CAST(min(o_orderdate) AS DATE) AS lo,
                   CAST(max(o_orderdate) AS DATE) AS hi
            FROM orders
        ),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
            FROM bounds
        ),
        daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
                   round(sum(o_totalprice), 4) AS total
            FROM orders GROUP BY 1
        )
        SELECT s.day, coalesce(d.n, 0) AS n_orders,
               coalesce(d.total, 0.0) AS total_price
        FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    category="analytics",
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date spine: a generated contiguous calendar LEFT-joined to the
    daily rollup so zero-activity days appear explicitly — the pattern
    every time-series chart and gap-detection job needs (a plain
    GROUP BY silently drops empty days). The spine is built from one
    min/max agg + sequence-explode: O(days) rows from a 1-row driver,
    no calendar table to maintain. Scale: daily rollup is combinable;
    the spine side is tiny and broadcasts."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n", F.lit(0)).alias("n_orders"),
        F.coalesce("total", F.lit(0.0)).alias("total_price"),
    )


@register(
    "q_scd2_periods",
    oracle="""
        SELECT user_id,
               value AS segment_value,
               ts AS valid_from,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS valid_to,
               (lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) IS NULL) AS is_current
        FROM events
        WHERE event_type = 'signup'
    """,
    category="analytics",
)
def q_scd2_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 construction: each change
    event opens a validity period [valid_from, valid_to) closed by the
    NEXT change (lead), open-ended on the latest — the standard
    history-tracking dimension build. One window over a pushed-down
    filter; at scale this is the incremental dim-build pattern (only
    users with new events need their last period re-closed)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("value").alias("segment_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "q_rolling_distinct",
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM events
        ),
        days AS (SELECT DISTINCT d FROM du),
        expanded AS (
            SELECT DISTINCT days.d, du.user_id
            FROM days
            JOIN du ON du.d >= days.d - INTERVAL 6 DAY AND du.d <= days.d
        )
        SELECT d AS day, count(*) AS dau_7d
        FROM expanded
        GROUP BY d
    """,
    category="analytics",
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling
    distinct count every growth dashboard needs, in its SCALABLE form:
    events first collapse to the (day, user) grain (one dedup shuffle
    of day·user keys, not events), then each day joins the 7 trailing
    day-buckets via an exploded offset spine and dedups users once
    more. Distinct-over-a-sliding-window cannot be expressed as a
    window aggregate without holding per-frame user sets in memory
    (collect_set over a RANGE frame — per-row sets of unbounded size);
    the day-grain rewrite bounds state at |days|·|daily users| and
    every step is a plain combinable agg. The oracle states the naive
    interval join over the same day grain."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
    ).distinct()
    expanded = (
        du.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "d", "user_id"
        )
        .select(F.date_add(F.col("d"), F.col("off")).alias("day"), "user_id")
        .join(du.select(F.col("d").alias("day")).distinct(), "day", "left_semi")
        .distinct()
    )
    return expanded.groupBy("day").agg(F.count(F.lit(1)).alias("dau_7d"))
