"""Round-11 surface growth, batch 1: time-series diagnostics
(Ljung–Box portmanteau, Durbin–Watson serial correlation),
heteroscedasticity (Breusch–Pagan LM), variance homogeneity
(Bartlett's test), welfare-economics inequality (Atkinson index,
Hoover / Robin-Hood index), lexical-richness stylometry (Yule's K +
hapax spectrum), and a code-vs-prose gate for LLM corpus curation.

Design rules (same as the rest of the graded surface):
- integer-exact cores wherever possible (counts, cents via the
  repo-standard ``CAST(round(x * 100) AS BIGINT)``); floats only
  through one identical expression tree on both engines, then
  ``round(·, 4)``;
- SIGNED-ZERO discipline (SURVEY §2 trap 10, driver-confirmed r10):
  every rounded oracle float that can be mathematically zero carries
  ``+ 0.0`` so DuckDB's IEEE −0.0 normalizes to the +0.0 Spark's
  BigDecimal round always emits;
- deterministic total orders under every window (day/value grain with
  unique keys); empty-partition frames only over calendar-bounded or
  enum-bounded aggregates, each whitelisted with its grain in
  tests/test_window_audit.py;
- scale-shaped plans: facts collapse to day/value/cell grain in ONE
  combinable pass before any window or closed-form algebra; dims
  (nation/region) broadcast; global scalars travel as 1-row broadcast
  cross joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.registry import register
# q_ivf_probe_sweep / q_binary_quant_recall splice q_cosine_topk
# (llmdata) SQL at import time — lazy registry needs the dep explicit
import builder_spark.queries.llmdata  # noqa: E402,F401

#: repo-standard exact-cents encoding (identical text on both engines)
_OC = "CAST(round(o_totalprice * 100) AS BIGINT)"


def _daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, rev_cents) — exact-integer daily revenue, the shared
    day-grain rollup for the round-11 time-series diagnostics."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(F.expr(_OC)).cast("bigint").alias("rev"))
    )


_DAILY_REV_SQL = """
        daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev
            FROM orders GROUP BY 1
        )"""


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test


@register(
    "q_ljung_box",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        m AS (SELECT count(*) AS n, avg(rev) AS mu FROM daily),
        lagged AS (
            SELECT rev,
                   lag(rev, 1) OVER (ORDER BY d) AS l1,
                   lag(rev, 2) OVER (ORDER BY d) AS l2,
                   lag(rev, 3) OVER (ORDER BY d) AS l3,
                   lag(rev, 4) OVER (ORDER BY d) AS l4,
                   lag(rev, 5) OVER (ORDER BY d) AS l5
            FROM daily
        ),
        acf AS (
            SELECT m.n,
                   sum((rev - m.mu) * (rev - m.mu)) AS den,
                   sum(CASE WHEN l1 IS NULL THEN 0
                            ELSE (rev - m.mu) * (l1 - m.mu) END) AS c1,
                   sum(CASE WHEN l2 IS NULL THEN 0
                            ELSE (rev - m.mu) * (l2 - m.mu) END) AS c2,
                   sum(CASE WHEN l3 IS NULL THEN 0
                            ELSE (rev - m.mu) * (l3 - m.mu) END) AS c3,
                   sum(CASE WHEN l4 IS NULL THEN 0
                            ELSE (rev - m.mu) * (l4 - m.mu) END) AS c4,
                   sum(CASE WHEN l5 IS NULL THEN 0
                            ELSE (rev - m.mu) * (l5 - m.mu) END) AS c5
            FROM lagged, m GROUP BY m.n
        ),
        safe AS (
            SELECT n, nullif(den, 0) AS den, c1, c2, c3, c4, c5 FROM acf
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(c1 / den, 4) + 0.0 AS acf1,
               round(c2 / den, 4) + 0.0 AS acf2,
               round(c3 / den, 4) + 0.0 AS acf3,
               round(c4 / den, 4) + 0.0 AS acf4,
               round(c5 / den, 4) + 0.0 AS acf5,
               round(n * (n + 2.0) * ((c1 / den) * (c1 / den) / (n - 1)
                                    + (c2 / den) * (c2 / den) / (n - 2)
                                    + (c3 / den) * (c3 / den) / (n - 3)
                                    + (c4 / den) * (c4 / den) / (n - 4)
                                    + (c5 / den) * (c5 / den) / (n - 5)), 4)
                   + 0.0 AS q_stat,
               CAST(CASE WHEN n * (n + 2.0) * ((c1 / den) * (c1 / den) / (n - 1)
                                    + (c2 / den) * (c2 / den) / (n - 2)
                                    + (c3 / den) * (c3 / den) / (n - 3)
                                    + (c4 / den) * (c4 / den) / (n - 4)
                                    + (c5 / den) * (c5 / den) / (n - 5)) > 11.0705
                    THEN 1 ELSE 0 END AS INT) AS reject_white_noise
        FROM safe
    """,
    category="analytics",
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test on daily revenue: are the first five
    autocorrelations jointly zero? Q = n(n+2)·Σ_{k≤5} r̂²_k/(n−k)
    against χ²₅ (11.07) — the whole-correlogram WHITE-NOISE test that
    q_autocorrelation (per-lag ACF) and q_runs_test (sign runs) lack;
    the standard residual diagnostic after any forecast fit
    (q_holt_linear/q_exp_smoothing).

    One combinable fact pass to the calendar-bounded day table (exact
    integer cents); the five lag products come from ONE ordered window
    pass over that table (whitelisted bounded frame) with the 1-row
    mean broadcast; Q is a single-row closed form, so the only float
    work is the identical centered-product tree on both engines."""
    daily = _daily_rev(spark, sf_dir)
    m = daily.agg(F.count(F.lit(1)).alias("n"), F.avg("rev").alias("mu"))
    w = Window.orderBy("d")
    lagged = daily.select(
        "rev", *[F.lag("rev", k).over(w).alias(f"l{k}") for k in range(1, 6)]
    )
    # groupBy("n") (one group on any real input) mirrors the oracle's
    # GROUP BY m.n: an empty series yields 0 rows on BOTH engines
    acf = lagged.crossJoin(F.broadcast(m)).groupBy("n").agg(
        F.sum((F.col("rev") - F.col("mu")) * (F.col("rev") - F.col("mu"))).alias(
            "den"
        ),
        *[
            F.sum(
                F.when(F.col(f"l{k}").isNull(), 0.0).otherwise(
                    (F.col("rev") - F.col("mu")) * (F.col(f"l{k}") - F.col("mu"))
                )
            ).alias(f"c{k}")
            for k in range(1, 6)
        ],
    )
    # degenerate-input guard (ANSI Spark RAISES on /0 where DuckDB NULLs):
    # an all-constant daily series zeroes the centered denominator
    acf = acf.withColumn("den", F.when(F.col("den") != 0, F.col("den")))
    n = F.col("n")
    q = (
        n
        * (n + 2.0)
        * sum(
            (F.col(f"c{k}") / F.col("den")) ** 2 / (n - k) for k in range(1, 6)
        )
    )
    return acf.select(
        n.cast("bigint").alias("n_days"),
        *[
            F.round(F.col(f"c{k}") / F.col("den"), 4).alias(f"acf{k}")
            for k in range(1, 6)
        ],
        F.round(q, 4).alias("q_stat"),
        F.when(q > 11.0705, 1).otherwise(0).cast("int").alias("reject_white_noise"),
    )


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroscedasticity test


@register(
    "q_breusch_pagan",
    oracle="""
        WITH pts AS (
            SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        ),
        mom AS (
            SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
                   sum(x * x) - count(*) * avg(x) * avg(x) AS sxx,
                   sum(x * y) - count(*) * avg(x) * avg(y) AS sxy
            FROM pts
        ),
        coef AS (
            SELECT n, mx, my, sxx, sxy / nullif(sxx, 0) AS b,
                   my - (sxy / nullif(sxx, 0)) * mx AS a
            FROM mom
        ),
        aux AS (
            SELECT c.n, c.sxx,
                   sum((p.y - c.a - c.b * p.x)
                       * (p.y - c.a - c.b * p.x)) AS su,
                   sum((p.y - c.a - c.b * p.x) * (p.y - c.a - c.b * p.x)
                       * (p.y - c.a - c.b * p.x)
                       * (p.y - c.a - c.b * p.x)) AS suu,
                   sum(p.x * (p.y - c.a - c.b * p.x)
                       * (p.y - c.a - c.b * p.x)) AS sxu_raw,
                   sum(p.x) AS sx
            FROM pts p, coef c
            GROUP BY c.n, c.sxx
        ),
        lm AS (
            SELECT n,
                   (sxu_raw - sx * su / n) AS sxu_c,
                   (suu - su * su / n) AS suu_c,
                   sxx
            FROM aux
        )
        SELECT CAST(n AS BIGINT) AS n,
               round(n * (sxu_c * sxu_c) / nullif(sxx * suu_c, 0), 4)
                   + 0.0 AS lm_stat,
               CAST(CASE WHEN n * (sxu_c * sxu_c) / nullif(sxx * suu_c, 0)
                              > 3.8415
                    THEN 1 ELSE 0 END AS INT) AS reject_homoscedastic
        FROM lm
    """,
    category="analytics",
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan LM test for heteroscedasticity of the
    extendedprice ~ quantity OLS fit: regress squared residuals on x
    and test n·R²_aux against χ²₁ (3.84). The variance-structure
    diagnostic the regression family (q_regression,
    q_multi_regression, q_cooks_distance) was missing — fan-shaped
    residuals invalidate the homoscedastic standard errors.

    TWO combinable fact passes (the q_levene_test/q_zscore_normalize
    precedent): pass 1 fits (a, b) from centered moments; the 1-row
    coefficients broadcast back into pass 2, which folds the residual
    powers. Every expression tree is identical on both engines; the
    statistic is one O(1) closed form rounded once."""
    pts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    n = F.count(F.lit(1))
    mom = pts.agg(
        n.alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        (F.sum(F.col("x") * F.col("x")) - n * F.avg("x") * F.avg("x")).alias("sxx"),
        (F.sum(F.col("x") * F.col("y")) - n * F.avg("x") * F.avg("y")).alias("sxy"),
    )
    sxx_nz = F.when(F.col("sxx") != 0, F.col("sxx"))  # ANSI /0 guard
    coef = mom.select(
        "n",
        "mx",
        "sxx",
        (F.col("sxy") / sxx_nz).alias("b"),
        (F.col("my") - (F.col("sxy") / sxx_nz) * F.col("mx")).alias("a"),
    )
    e = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    # groupBy mirrors the oracle's GROUP BY c.n, c.sxx: an empty fact
    # table yields 0 rows on BOTH engines (degenerate audit)
    aux = pts.crossJoin(F.broadcast(coef)).groupBy("n", "sxx").agg(
        F.sum(e * e).alias("su"),
        F.sum(e * e * e * e).alias("suu"),
        F.sum(F.col("x") * e * e).alias("sxu_raw"),
        F.sum("x").alias("sx"),
    )
    sxu_c = F.col("sxu_raw") - F.col("sx") * F.col("su") / F.col("n")
    suu_c = F.col("suu") - F.col("su") * F.col("su") / F.col("n")
    lm_den = F.col("sxx") * suu_c
    lm = F.col("n") * (sxu_c * sxu_c) / F.when(lm_den != 0, lm_den)
    return aux.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(lm, 4).alias("lm_stat"),
        F.when(lm > 3.8415, 1).otherwise(0).cast("int").alias(
            "reject_homoscedastic"
        ),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson serial-correlation statistic


@register(
    "q_durbin_watson",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        idx AS (
            SELECT rev, CAST(d - (SELECT min(d) FROM daily) AS BIGINT) AS t, d
            FROM daily
        ),
        mom AS (
            SELECT count(*) AS n, avg(t) AS mt, avg(rev) AS mr,
                   sum(t * rev) - count(*) * avg(t) * avg(rev) AS str_,
                   sum(t * t) - count(*) * avg(t) * avg(t) AS stt
            FROM idx
        ),
        res AS (
            SELECT i.d,
                   i.rev - (m.mr - (m.str_ / nullif(m.stt, 0)) * m.mt)
                         - (m.str_ / nullif(m.stt, 0)) * i.t AS e
            FROM idx i, mom m
        ),
        lagged AS (
            SELECT e, lag(e) OVER (ORDER BY d) AS ep FROM res
        )
        SELECT (SELECT CAST(n AS BIGINT) FROM mom) AS n_days,
               round(sum(CASE WHEN ep IS NULL THEN 0
                              ELSE (e - ep) * (e - ep) END)
                     / nullif(sum(e * e), 0), 4) + 0.0 AS dw,
               round(1 - sum(CASE WHEN ep IS NULL THEN 0
                                  ELSE (e - ep) * (e - ep) END)
                         / nullif(sum(e * e), 0) / 2, 4) + 0.0 AS rho_approx,
               CAST(CASE WHEN sum(CASE WHEN ep IS NULL THEN 0
                                       ELSE (e - ep) * (e - ep) END)
                              / nullif(sum(e * e), 0) < 1.5
                    THEN 1 ELSE 0 END AS INT) AS positive_autocorr
        FROM lagged
    """,
    category="analytics",
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson statistic on the residuals of the daily-revenue
    linear trend: DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² ∈ [0,4], ≈2(1−ρ̂) — the
    FIRST-ORDER serial-correlation check on a fitted trend, companion
    to q_ljung_box (which tests the raw correlogram) and the
    autocorrelation-aware guard a trend fit like q_holt_linear needs
    before its standard errors mean anything.

    Two passes on the calendar-bounded day table: the trend fits from
    centered moments (1-row broadcast), residuals + one lag window
    over the day table (whitelisted bounded frame), one closed-form
    aggregate. Day index t is the exact integer day offset, so both
    engines center identical values."""
    daily = _daily_rev(spark, sf_dir)
    dmin = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(dmin)).select(
        "d", "rev", F.datediff(F.col("d"), F.col("d0")).cast("bigint").alias("t")
    )
    n = F.count(F.lit(1))
    mom = idx.agg(
        n.alias("n"),
        F.avg("t").alias("mt"),
        F.avg("rev").alias("mr"),
        (F.sum(F.col("t") * F.col("rev")) - n * F.avg("t") * F.avg("rev")).alias(
            "str_"
        ),
        (F.sum(F.col("t") * F.col("t")) - n * F.avg("t") * F.avg("t")).alias("stt"),
    )
    # guard: single-day series gives stt == 0 (ANSI /0)
    b = F.col("str_") / F.when(F.col("stt") != 0, F.col("stt"))
    res = idx.crossJoin(F.broadcast(mom)).select(
        "d",
        "n",
        (F.col("rev") - (F.col("mr") - b * F.col("mt")) - b * F.col("t")).alias("e"),
    )
    w = Window.orderBy("d")
    lagged = res.select("n", "e", F.lag("e").over(w).alias("ep"))
    num = F.sum(
        F.when(F.col("ep").isNull(), 0.0).otherwise(
            (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep"))
        )
    )
    _de = F.sum(F.col("e") * F.col("e"))
    den = F.when(_de != 0, _de)  # ANSI /0 guard: perfect-fit residuals
    return lagged.agg(
        # coalesce: empty series must match the oracle's scalar-subquery 0
        F.coalesce(F.max("n"), F.lit(0)).cast("bigint").alias("n_days"),
        F.round(num / den, 4).alias("dw"),
        F.round(1 - num / den / 2, 4).alias("rho_approx"),
        F.when(num / den < 1.5, 1).otherwise(0).cast("int").alias(
            "positive_autocorr"
        ),
    )


# ---------------------------------------------------------------------------
# Bartlett's test of variance homogeneity


@register(
    "q_bartlett_test",
    oracle=f"""
        WITH x AS (
            SELECT r.r_name AS region,
                   CAST({_OC} AS DOUBLE) / 100 AS v
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
        ),
        g AS (
            SELECT region, count(*) AS n,
                   (sum(v * v) - count(*) * avg(v) * avg(v))
                       / nullif(count(*) - 1, 0) AS s2
            FROM x GROUP BY region
        ),
        agg AS (
            SELECT count(*) AS k, sum(n) AS nt,
                   sum((n - 1) * s2) AS pooled_num,
                   sum((n - 1) * ln(nullif(s2, 0))) AS sum_ln,
                   sum(1.0 / nullif(n - 1, 0)) AS sum_inv
            FROM g
        )
        SELECT CAST(k AS BIGINT) AS k,
               CAST(nt AS BIGINT) AS n_total,
               round(((nt - k) * ln(pooled_num / nullif(nt - k, 0)) - sum_ln)
                     / (1 + (sum_inv - 1.0 / nullif(nt - k, 0))
                        / (3 * (k - 1))), 4)
                   + 0.0 AS t_stat,
               CAST(k - 1 AS INT) AS df,
               CAST(CASE WHEN ((nt - k) * ln(pooled_num / nullif(nt - k, 0))
                               - sum_ln)
                              / (1 + (sum_inv - 1.0 / nullif(nt - k, 0))
                                 / (3 * (k - 1)))
                              > 9.4877
                    THEN 1 ELSE 0 END AS INT) AS reject_equal_var
        FROM agg
    """,
    category="analytics",
)
def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test: do the five regions' order values share one
    variance? T = [(N−k)·ln s²_p − Σ(nᵢ−1)·ln s²ᵢ] / C against χ²₄
    (9.49) — the formal homogeneity-of-variance gate that q_anova_f
    and q_bartlett-sibling q_levene_test assume or approximate
    (Levene is the robust cousin; Bartlett is the exact-normal one).

    One combinable pass to 5 region rows of sufficient statistics
    (n, Σv, Σv² — v re-quantized from exact cents so both engines
    square identical doubles); the statistic is closed-form algebra
    over those 5 rows. Dims broadcast; the fact scan shuffles once on
    the customer join key."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.expr(_OC).alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nr = (
        load_table(spark, sf_dir, "nation")
        .join(
            load_table(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", F.col("r_name").alias("region"))
    )
    x = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("region", (F.col("cents").cast("double") / 100).alias("v"))
    )
    nm1 = F.count(F.lit(1)) - 1
    g = x.groupBy("region").agg(
        F.count(F.lit(1)).alias("n"),
        (
            (F.sum(F.col("v") * F.col("v")) - F.count(F.lit(1)) * F.avg("v") * F.avg("v"))
            / F.when(nm1 != 0, nm1)
        ).alias("s2"),
    )
    agg = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum((F.col("n") - 1) * F.col("s2")).alias("pooled_num"),
        F.sum(
            (F.col("n") - 1) * F.log(F.when(F.col("s2") != 0, F.col("s2")))
        ).alias("sum_ln"),
        F.sum(1.0 / F.when(F.col("n") != 1, F.col("n") - 1)).alias("sum_inv"),
    )
    k, nt = F.col("k"), F.col("nt")
    ntk = F.when(nt != k, nt - k)  # ANSI /0 guard: one order per region
    t_stat = ((nt - k) * F.log(F.col("pooled_num") / ntk) - F.col("sum_ln")) / (
        1 + (F.col("sum_inv") - 1.0 / ntk) / (3 * (k - 1))
    )
    return agg.select(
        k.cast("bigint").alias("k"),
        nt.cast("bigint").alias("n_total"),
        F.round(t_stat, 4).alias("t_stat"),
        (k - 1).cast("int").alias("df"),
        F.when(t_stat > 9.4877, 1).otherwise(0).cast("int").alias(
            "reject_equal_var"
        ),
    )


# ---------------------------------------------------------------------------
# Atkinson inequality index


@register(
    "q_atkinson_index",
    oracle=f"""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(sum({_OC}) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        x AS (
            SELECT r.r_name AS region, s.cents * 1.0 / 100 AS y
            FROM spend s
            JOIN customer c ON s.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
        )
        SELECT region,
               CAST(count(*) AS BIGINT) AS n_cust,
               round(avg(y), 2) AS mean_spend,
               round(1 - (avg(sqrt(y)) * avg(sqrt(y))) / avg(y), 4)
                   + 0.0 AS atkinson_half
        FROM x GROUP BY region ORDER BY region
    """,
    category="analytics",
)
def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (ε = 0.5) of per-customer total spend
    by region: A = 1 − EDE/μ with EDE = (mean √y)² — the WELFARE-
    weighted inequality measure next to q_gini_concentration (rank-
    based) and q_theil_index (entropy-based); A is the fraction of
    total spend a region could give up and be equally well off were
    spend distributed equally (ε sets inequality aversion).

    Two combinable aggregates: customer-grain spend (exact cents),
    then 5 region rows of (n, Σy, Σ√y) — EDE/μ is per-row algebra.
    Dims broadcast; √ of an exact-cents-derived double is the one
    identical float tree on both engines."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.expr(_OC)).cast("bigint").alias("cents"))
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nr = (
        load_table(spark, sf_dir, "nation")
        .join(
            load_table(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", F.col("r_name").alias("region"))
    )
    x = (
        spend.join(c, spend.o_custkey == c.c_custkey)
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("region", (F.col("cents") * 1.0 / 100).alias("y"))
    )
    return (
        x.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.round(F.avg("y"), 2).alias("mean_spend"),
            F.round(
                1 - (F.avg(F.sqrt("y")) * F.avg(F.sqrt("y"))) / F.avg("y"), 4
            ).alias("atkinson_half"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# Hoover (Robin Hood) index


@register(
    "q_hoover_index",
    oracle=f"""
        WITH cells AS (
            SELECT n.n_regionkey AS rk, n.n_name AS nat,
                   CAST(sum({_OC}) AS BIGINT) AS rev,
                   CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS nc
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ),
        reg AS (
            SELECT r.r_name AS region, cells.nat,
                   rev * 1.0 / sum(rev) OVER (PARTITION BY r.r_name) AS rev_share,
                   nc * 1.0 / sum(nc) OVER (PARTITION BY r.r_name) AS cust_share
            FROM cells JOIN region r ON cells.rk = r.r_regionkey
        )
        SELECT region,
               CAST(count(*) AS BIGINT) AS n_nations,
               round(0.5 * sum(abs(rev_share - cust_share)), 4)
                   + 0.0 AS hoover
        FROM reg GROUP BY region ORDER BY region
    """,
    category="analytics",
)
def q_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoover (Robin Hood) index per region: H = ½·Σ_nations
    |revenue share − customer share| — the share of regional revenue
    that would have to move between nations for revenue to track
    head-count exactly. The L1 inequality member next to Gini (L1 of
    the Lorenz gap), Theil (entropy), and Atkinson (welfare) — four
    lenses, one family, all now graded.

    One fact pass to the 25-nation cell grid (exact cents + distinct
    customers); shares come from an enum-bounded partitioned window
    over ≤25 rows (5 per region), then 5 output rows. Dims broadcast."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.expr(_OC).alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", F.col("n_name").alias("nat")
    )
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey", "nat")
        .agg(
            F.sum("cents").cast("bigint").alias("rev"),
            F.countDistinct("o_custkey").cast("bigint").alias("nc"),
        )
    )
    reg = cells.join(
        F.broadcast(
            load_table(spark, sf_dir, "region").select(
                "r_regionkey", F.col("r_name").alias("region")
            )
        ),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    wr = Window.partitionBy("region")
    shares = reg.select(
        "region",
        (F.col("rev") * 1.0 / F.sum("rev").over(wr)).alias("rev_share"),
        (F.col("nc") * 1.0 / F.sum("nc").over(wr)).alias("cust_share"),
    )
    return (
        shares.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.round(
                0.5 * F.sum(F.abs(F.col("rev_share") - F.col("cust_share"))), 4
            ).alias("hoover"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# Yule's K lexical richness


@register(
    "q_yules_k",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        tf AS (
            SELECT source, w, count(*) AS f
            FROM tok WHERE w != '' GROUP BY source, w
        ),
        spectrum AS (
            SELECT source, f AS m, count(*) AS vm
            FROM tf GROUP BY source, f
        )
        SELECT source,
               CAST(sum(m * vm) AS BIGINT) AS n_tokens,
               CAST(sum(vm) AS BIGINT) AS vocab,
               round(sum(CASE WHEN m = 1 THEN vm ELSE 0 END) * 1.0
                     / sum(vm), 4) AS hapax_share,
               round(sum(CASE WHEN m = 2 THEN vm ELSE 0 END) * 1.0
                     / sum(vm), 4) AS dis_share,
               round(10000.0 * (sum(m * m * vm) - sum(m * vm))
                     / (sum(m * vm) * 1.0 * sum(m * vm)), 4) AS yules_k
        FROM spectrum GROUP BY source ORDER BY source
    """,
    category="llm-text",
)
def q_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K lexical-richness characteristic per source:
    K = 10⁴·(Σm²·Vₘ − N)/N² over the frequency-of-frequency spectrum
    (Vₘ = #types occurring m times), plus hapax- and dis-legomena
    shares — the repetitiveness fingerprint stylometry uses next to
    q_burrows_delta (function-word profile) and the vocabulary lens
    next to q_vocab_growth (Heaps) / q_good_turing (which consumes
    the same spectrum for smoothing). K is length-insensitive, so
    sources are comparable at different corpus sizes.

    Token stream collapses to (source, token) grain in one combinable
    pass, then to the count-of-counts spectrum (bounded by max term
    frequency) — K is per-row algebra over spectrum cells. Integer-
    exact throughout; the only floats are the final rounded ratios
    (all > 0 by construction, no signed-zero exposure)."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    tf = tok.filter(F.col("w") != "").groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("f")
    )
    spectrum = tf.groupBy("source", "f").agg(F.count(F.lit(1)).alias("vm"))
    m, vm = F.col("f"), F.col("vm")
    return (
        spectrum.groupBy("source")
        .agg(
            F.sum(m * vm).cast("bigint").alias("n_tokens"),
            F.sum(vm).cast("bigint").alias("vocab"),
            F.round(
                F.sum(F.when(m == 1, vm).otherwise(0)) * 1.0 / F.sum(vm), 4
            ).alias("hapax_share"),
            F.round(
                F.sum(F.when(m == 2, vm).otherwise(0)) * 1.0 / F.sum(vm), 4
            ).alias("dis_share"),
            F.round(
                10000.0
                * (F.sum(m * m * vm) - F.sum(m * vm))
                / (F.sum(m * vm) * 1.0 * F.sum(m * vm)),
                4,
            ).alias("yules_k"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# code-vs-prose corpus gate


@register(
    "q_code_detect",
    oracle="""
        WITH feats AS (
            SELECT source,
                   (length(text) - length(replace(text, ';', '')))
                 + (length(text) - length(replace(text, '{', '')))
                 + (length(text) - length(replace(text, '}', '')))
                 + (length(text) - length(replace(text, '(', '')))
                 + (length(text) - length(replace(text, ')', '')))
                 + (length(text) - length(replace(text, '=', ''))) AS n_sym,
                   length(text)
                 - length(replace(text, chr(10) || '    ', '')) AS indent_raw,
                   greatest(length(text), 1) AS n_chars
            FROM documents
        ),
        f2 AS (
            SELECT source,
                   n_sym * 1.0 / n_chars AS sym_ratio,
                   CASE WHEN n_sym * 1.0 / n_chars > 0.02
                          OR indent_raw >= 25 THEN 1 ELSE 0 END AS is_code
            FROM feats
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(is_code) AS BIGINT) AS n_flagged,
               round(sum(is_code) * 1.0 / count(*), 4) + 0.0 AS flag_rate,
               round(avg(sym_ratio), 6) + 0.0 AS avg_sym_ratio
        FROM f2 GROUP BY source ORDER BY source
    """,
    category="llm-pipeline",
)
def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose gate for corpus curation: per document, the
    density of code-punctuation characters (;{}()=) and the count of
    4-space-indented line starts; a doc is flagged code-like when
    symbol density > 2% or ≥25 indented lines. Per source: flag rate
    and mean symbol density — the language-agnostic screen a text-only
    training mix runs before q_gopher_gates (which assumes prose), in
    the same deterministic-gate family as q_doc_entropy_gate.

    All features are replace()-based character counts (portable,
    regex-free, identical on both engines) folded in ONE fact pass to
    20 source rows; integer counts throughout, two rounded ratios at
    the end. At 100 TB the scan dominates and the gate rides it —
    no shuffle beyond the 20-row aggregate."""
    t = F.col("text")
    n_sym = sum(
        F.length(t) - F.length(F.replace(t, F.lit(ch))) for ch in ";{}()="
    )
    indent_raw = F.length(t) - F.length(F.replace(t, F.concat(F.lit("\n"), F.lit("    "))))
    feats = load_table(spark, sf_dir, "documents").select(
        "source",
        (n_sym * 1.0 / F.greatest(F.length(t), F.lit(1))).alias("sym_ratio"),
        indent_raw.alias("indent_raw"),
    )
    f2 = feats.select(
        "source",
        "sym_ratio",
        F.when(
            (F.col("sym_ratio") > 0.02) | (F.col("indent_raw") >= 25), 1
        )
        .otherwise(0)
        .alias("is_code"),
    )
    return (
        f2.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_code").cast("bigint").alias("n_flagged"),
            F.round(F.sum("is_code") * 1.0 / F.count(F.lit(1)), 4).alias(
                "flag_rate"
            ),
            F.round(F.avg("sym_ratio"), 6).alias("avg_sym_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# round-11 batch 2: rank-based k-group inference, SPC capability,
# sequential changepoint, epidemiological risk, PACF, rank-agreement,
# readability, and ordered-trend testing

from builder_spark.operators.partitioning import stitched_running  # noqa: E402


@register(
    "q_kruskal_wallis",
    oracle=f"""
        WITH s AS (
            SELECT {_OC} AS cents, c.c_mktsegment AS seg
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        vs AS (SELECT cents, seg, count(*) AS n FROM s GROUP BY cents, seg),
        v AS (SELECT cents, sum(n) AS tot FROM vs GROUP BY cents),
        r AS (
            SELECT cents, tot,
                   sum(tot) OVER (ORDER BY cents
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_tot
            FROM v
        ),
        ranked AS (
            SELECT vs.seg, vs.n,
                   (r.cum_tot - r.tot + 1) + (r.tot - 1) / 2.0 AS avg_rank
            FROM vs JOIN r ON vs.cents = r.cents
        ),
        grp AS (
            SELECT seg, sum(n) AS ng, sum(n * avg_rank) AS rg
            FROM ranked GROUP BY seg
        ),
        ties AS (SELECT sum(tot * tot * tot - tot) AS tsum FROM v),
        agg AS (
            SELECT count(*) AS k, sum(ng) AS nt,
                   sum(rg * rg / ng) AS sum_rg2, max(t.tsum) AS tsum
            FROM grp, ties t
        )
        SELECT CAST(k AS BIGINT) AS k, CAST(nt AS BIGINT) AS n_total,
               round(12.0 / (nt * (nt + 1)) * sum_rg2 - 3 * (nt + 1.0), 4)
                   + 0.0 AS h_stat,
               round((12.0 / (nt * (nt + 1)) * sum_rg2 - 3 * (nt + 1.0))
                     / nullif(1 - tsum * 1.0 / (nt * 1.0 * nt * nt - nt), 0), 4)
                   + 0.0 AS h_corrected,
               CAST(CASE WHEN (12.0 / (nt * (nt + 1)) * sum_rg2
                               - 3 * (nt + 1.0))
                              / nullif(1 - tsum * 1.0
                                       / (nt * 1.0 * nt * nt - nt), 0)
                              > 9.4877
                    THEN 1 ELSE 0 END AS INT) AS reject_equal_medians
        FROM agg
    """,
    category="analytics",
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across the five market segments' order values
    — the k-group generalization of q_mann_whitney_u (rank-based, no
    normality) with the tie correction, tested against χ²₄ (9.49);
    the nonparametric sibling of q_anova_f on the same design.

    The mann-whitney scale shape extended to k groups: prices
    collapse to (value, segment) grain, average ranks come from ONE
    stitched running count over the VALUE order (never a per-row
    global rank; exact .5-multiples), the candidate join back to
    segment cells is value-grain × 5, and H is closed-form algebra
    over 5 group rows + one tie scalar."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.expr(_OC).alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = o.join(c, o.o_custkey == c.c_custkey).select(
        "cents", F.col("c_mktsegment").alias("seg")
    )
    vs = s.groupBy("cents", "seg").agg(F.count(F.lit(1)).alias("n"))
    v = vs.groupBy("cents").agg(F.sum("n").alias("tot"))
    r = stitched_running(v, ["cents"], running={"cum_tot": "tot"})
    avg_rank = (F.col("cum_tot") - F.col("tot") + 1) + (F.col("tot") - 1) / F.lit(2.0)
    ranked = vs.join(r.select("cents", "tot", "cum_tot"), "cents").select(
        "seg", "n", avg_rank.alias("avg_rank")
    )
    grp = ranked.groupBy("seg").agg(
        F.sum("n").alias("ng"), F.sum(F.col("n") * F.col("avg_rank")).alias("rg")
    )
    ties = v.agg(
        F.sum(F.col("tot") * F.col("tot") * F.col("tot") - F.col("tot")).alias("tsum")
    )
    agg = grp.crossJoin(F.broadcast(ties)).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("nt"),
        F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("sum_rg2"),
        F.max("tsum").alias("tsum"),
    )
    nt = F.col("nt")
    h = 12.0 / (nt * (nt + 1)) * F.col("sum_rg2") - 3 * (nt + F.lit(1.0))
    # widen before cubing: nt**3 overflows int64 (ANSI raise) past ~2.1M rows
    tie_den = 1 - F.col("tsum") * 1.0 / (nt * 1.0 * nt * nt - nt)
    hc = h / F.when(tie_den != 0, tie_den)  # ANSI /0 guard: all-tied values
    return agg.select(
        F.col("k").cast("bigint").alias("k"),
        nt.cast("bigint").alias("n_total"),
        F.round(h, 4).alias("h_stat"),
        F.round(hc, 4).alias("h_corrected"),
        F.when(hc > 9.4877, 1).otherwise(0).cast("int").alias(
            "reject_equal_medians"
        ),
    )


# ---------------------------------------------------------------------------
# process capability (Cp / Cpk)

_CPK_USL = 60.0  # ship-latency upper spec limit, days
_CPK_LSL = 0.0


@register(
    "q_cpk_process_capability",
    oracle=f"""
        WITH lat AS (
            SELECT o.o_orderpriority AS priority,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)) AS days
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ),
        g AS (
            SELECT priority, count(*) AS n, avg(days) AS mu,
                   sqrt((sum(days * days * 1.0)
                         - count(*) * avg(days) * avg(days))
                        / (count(*) - 1)) AS sd
            FROM lat GROUP BY priority
        )
        SELECT priority, CAST(n AS BIGINT) AS n_lines,
               round(mu, 4) AS mean_days,
               round(sd, 4) AS sd_days,
               round(({_CPK_USL} - {_CPK_LSL}) / nullif(6 * sd, 0), 4) AS cp,
               round(least({_CPK_USL} - mu, mu - {_CPK_LSL})
                     / nullif(3 * sd, 0), 4)
                   + 0.0 AS cpk,
               CAST(CASE WHEN least({_CPK_USL} - mu, mu - {_CPK_LSL})
                              / nullif(3 * sd, 0) >= 1.33
                    THEN 1 ELSE 0 END AS INT) AS capable
        FROM g ORDER BY priority
    """,
    category="analytics",
)
def q_cpk_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices for ship latency per order priority
    against a [0, 60]-day spec: Cp = (USL−LSL)/6σ (potential) and
    Cpk = min(USL−μ, μ−LSL)/3σ (actual, centering-penalized), capable
    at the industry 1.33 bar — the SPC capability lens next to
    q_p_chart (control) and q_ship_latency_sla (SLA share); Cp vs Cpk
    separates "too variable" from "off-center".

    One combinable pass over integer day-diffs to 5 priority rows of
    (n, Σd, Σd²); σ from the moment identity in one float tree, the
    indices are per-row algebra. The fact scan's only shuffle is the
    orderkey join."""
    lat = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate", "o_orderpriority"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("days"),
        )
    )
    n = F.count(F.lit(1))
    g = lat.groupBy("priority").agg(
        n.alias("n"),
        F.avg("days").alias("mu"),
        F.sqrt(
            (F.sum(F.col("days") * F.col("days") * 1.0) - n * F.avg("days") * F.avg("days"))
            / (n - 1)
        ).alias("sd"),
    )
    sd_nz = F.when(F.col("sd") != 0, F.col("sd"))  # ANSI /0 guard
    cpk = F.least(_CPK_USL - F.col("mu"), F.col("mu") - _CPK_LSL) / (3 * sd_nz)
    return g.select(
        "priority",
        F.col("n").cast("bigint").alias("n_lines"),
        F.round("mu", 4).alias("mean_days"),
        F.round("sd", 4).alias("sd_days"),
        F.round((_CPK_USL - _CPK_LSL) / (6 * sd_nz), 4).alias("cp"),
        F.round(cpk, 4).alias("cpk"),
        F.when(cpk >= 1.33, 1).otherwise(0).cast("int").alias("capable"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# Page-Hinkley sequential changepoint detector


@register(
    "q_page_hinkley",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        stats AS (
            SELECT count(*) AS n,
                   3 * sqrt((sum(rev * 1.0 * rev)
                             - count(*) * avg(rev) * avg(rev))
                            / (count(*) - 1)) AS lambda
            FROM daily
        ),
        seq AS (
            SELECT d, rev,
                   sum(rev) OVER w * 1.0
                     / row_number() OVER (ORDER BY d) AS cavg
            FROM daily
            WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ),
        mcum AS (
            SELECT d,
                   sum(rev - cavg) OVER (ORDER BY d ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS m
            FROM seq
        ),
        ph AS (
            SELECT d,
                   m - min(m) OVER (ORDER BY d ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS ph_t
            FROM mcum
        )
        SELECT (SELECT CAST(n AS BIGINT) FROM stats) AS n_days,
               CAST(sum(CASE WHEN ph_t > s.lambda THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_alarm_days,
               min(CASE WHEN ph_t > s.lambda THEN d END) AS first_alarm_day,
               round(max(ph_t) / nullif(s.lambda, 0), 4) + 0.0 AS max_ph_ratio
        FROM ph, stats s GROUP BY s.lambda
    """,
    category="analytics",
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley sequential changepoint detector on daily revenue:
    mₜ = Σᵢ≤ₜ(xᵢ − x̄ᵢ) (running-mean deviations), PHₜ = mₜ − min mᵢ,
    alarm when PHₜ crosses λ = 3σ — the ONLINE drift detector next to
    q_cusum_changepoint (known-target CUSUM) and q_binary_segmentation
    (offline split): PH needs no target mean and is what a streaming
    monitor runs per micro-batch.

    Three cumulative windows over the calendar-bounded day table
    (whitelisted), fed by ONE exact-cents fact pass; cumulative means
    come from integer cumsum / row_number so both engines divide the
    same exact values; λ broadcasts from a 1-row moment aggregate."""
    daily = _daily_rev(spark, sf_dir)
    n = F.count(F.lit(1))
    # rev * 1.0 * rev: widen BEFORE squaring — cents² of a 10×-scale day
    # overflows int64 (caught by the 10× smoke), and the double product
    # is the same IEEE value on both engines
    stats = daily.agg(
        n.alias("n"),
        (
            3
            * F.sqrt(
                (F.sum(F.col("rev") * 1.0 * F.col("rev")) - n * F.avg("rev") * F.avg("rev"))
                / F.when(n != 1, n - 1)  # ANSI /0 guard: single-day series
            )
        ).alias("lam"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    seq = daily.select(
        "d",
        "rev",
        (F.sum("rev").over(w) * 1.0 / F.row_number().over(Window.orderBy("d"))).alias(
            "cavg"
        ),
    )
    mcum = seq.select("d", F.sum(F.col("rev") - F.col("cavg")).over(w).alias("m"))
    ph = mcum.select("d", (F.col("m") - F.min("m").over(w)).alias("ph_t"))
    return ph.crossJoin(F.broadcast(stats)).groupBy("lam").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("ph_t") > F.col("lam"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_alarm_days"),
        F.min(F.when(F.col("ph_t") > F.col("lam"), F.col("d"))).alias(
            "first_alarm_day"
        ),
        F.round(
            F.max("ph_t") / F.when(F.col("lam") != 0, F.col("lam")), 4
        ).alias("max_ph_ratio"),
    ).drop("lam")


# ---------------------------------------------------------------------------
# relative risk (cohort 2x2)


@register(
    "q_relative_risk",
    oracle="""
        WITH u AS (
            SELECT user_id, CAST(ts AS DATE) AS d,
                   max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       AS exposed,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS outcome
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        cells AS (
            SELECT CAST(sum(exposed * outcome) AS BIGINT) AS a,
                   CAST(sum(exposed * (1 - outcome)) AS BIGINT) AS b,
                   CAST(sum((1 - exposed) * outcome) AS BIGINT) AS c,
                   CAST(sum((1 - exposed) * (1 - outcome)) AS BIGINT) AS d
            FROM u
        ),
        stat AS (
            SELECT a, b, c, d,
                   (a * 1.0 / (a + b)) / (c * 1.0 / (c + d)) AS rr_raw,
                   exp(ln((a * 1.0 / (a + b)) / (c * 1.0 / (c + d)))
                       - 1.96 * sqrt(1.0 / a - 1.0 / (a + b)
                                     + 1.0 / c - 1.0 / (c + d))) AS lo_raw,
                   exp(ln((a * 1.0 / (a + b)) / (c * 1.0 / (c + d)))
                       + 1.96 * sqrt(1.0 / a - 1.0 / (a + b)
                                     + 1.0 / c - 1.0 / (c + d))) AS hi_raw
            FROM cells WHERE a > 0 AND c > 0
        )
        SELECT a, b, c, d,
               round(rr_raw, 4) AS rr,
               round(lo_raw, 4) AS ci_lo,
               round(hi_raw, 4) AS ci_hi,
               CAST(CASE WHEN lo_raw > 1 OR hi_raw < 1
                    THEN 1 ELSE 0 END AS INT) AS significant
        FROM stat
    """,
    category="analytics",
)
def q_relative_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort relative risk at user-day grain: does a day with an
    'error' event change that user-day's probability of containing a
    purchase? RR = P(purchase|error day)/P(purchase|error-free day)
    with the Katz log CI exp(ln RR ± 1.96·SE), SE² = 1/a − 1/(a+b) +
    1/c − 1/(c+d) — the cohort-study companion to q_odds_ratio
    (case-control) and q_abtest_proportions (difference-scale): risk
    RATIO is what incident dashboards quote. (User-level ever-flags
    are degenerate on this dense fixture — every user has every type —
    so the unit is the user-day, the grain an incident review uses.)

    One combinable pass to user-day exposure/outcome flags, then a
    single 2×2 cell aggregate; the ratio and CI are O(1) algebra.
    Degenerate cells (a = 0 or c = 0) drop the row identically on
    both engines rather than emitting ±inf."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(
            F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "exposed"
            ),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "outcome"
            ),
        )
    )
    cells = u.agg(
        F.sum(F.col("exposed") * F.col("outcome")).cast("bigint").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome")).cast("bigint").alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome")))
        .cast("bigint")
        .alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    rr = (a * 1.0 / (a + b)) / (c * 1.0 / (c + d))
    se = F.sqrt(1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d))
    lo = F.exp(F.log(rr) - 1.96 * se)
    hi = F.exp(F.log(rr) + 1.96 * se)
    return cells.filter((a > 0) & (c > 0)).select(
        "a",
        "b",
        "c",
        "d",
        F.round(rr, 4).alias("rr"),
        F.round(lo, 4).alias("ci_lo"),
        F.round(hi, 4).alias("ci_hi"),
        F.when((lo > 1) | (hi < 1), 1).otherwise(0).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# partial autocorrelation (Durbin-Levinson, lags 1-3)


@register(
    "q_pacf",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        m AS (SELECT count(*) AS n, avg(rev) AS mu FROM daily),
        lagged AS (
            SELECT rev,
                   lag(rev, 1) OVER (ORDER BY d) AS l1,
                   lag(rev, 2) OVER (ORDER BY d) AS l2,
                   lag(rev, 3) OVER (ORDER BY d) AS l3
            FROM daily
        ),
        acf AS (
            SELECT m.n,
                   sum(CASE WHEN l1 IS NULL THEN 0
                            ELSE (rev - m.mu) * (l1 - m.mu) END)
                     / nullif(sum((rev - m.mu) * (rev - m.mu)), 0) AS r1,
                   sum(CASE WHEN l2 IS NULL THEN 0
                            ELSE (rev - m.mu) * (l2 - m.mu) END)
                     / nullif(sum((rev - m.mu) * (rev - m.mu)), 0) AS r2,
                   sum(CASE WHEN l3 IS NULL THEN 0
                            ELSE (rev - m.mu) * (l3 - m.mu) END)
                     / nullif(sum((rev - m.mu) * (rev - m.mu)), 0) AS r3
            FROM lagged, m GROUP BY m.n
        ),
        dl AS (
            SELECT n, r1, r2, r3,
                   (r2 - r1 * r1) / nullif(1 - r1 * r1, 0) AS p22,
                   r1 * (1 - (r2 - r1 * r1) / nullif(1 - r1 * r1, 0)) AS p21
            FROM acf
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(r1, 4) + 0.0 AS pacf1,
               round(p22, 4) + 0.0 AS pacf2,
               round((r3 - p21 * r2 - p22 * r1)
                     / nullif(1 - p21 * r1 - p22 * r2, 0), 4) + 0.0 AS pacf3
        FROM dl
    """,
    category="analytics",
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1–3 via the
    Durbin–Levinson recursion (φ₁₁ = r₁; φ₂₂ = (r₂−r₁²)/(1−r₁²);
    φ₃₃ from the order-2 prediction coefficients) — the AR-order
    selection companion to q_autocorrelation (raw ACF) and
    q_ljung_box (joint test): PACF cutting off at lag p is THE
    signature that picks AR(p).

    Same scale shape as q_ljung_box: exact-cents day table, ONE
    whitelisted lag window for all three lags, 1-row mean broadcast,
    then a single-row closed-form recursion — identical float trees
    on both engines, rounded once with the signed-zero guard."""
    daily = _daily_rev(spark, sf_dir)
    m = daily.agg(F.count(F.lit(1)).alias("n"), F.avg("rev").alias("mu"))
    w = Window.orderBy("d")
    lagged = daily.select(
        "rev", *[F.lag("rev", k).over(w).alias(f"l{k}") for k in range(1, 4)]
    )
    _d = F.sum((F.col("rev") - F.col("mu")) * (F.col("rev") - F.col("mu")))
    den = F.when(_d != 0, _d)  # ANSI /0 guard: all-constant series
    # groupBy("n") mirrors the oracle's grouped aggregate: an empty
    # series yields 0 rows on BOTH engines (degenerate audit)
    acf = lagged.crossJoin(F.broadcast(m)).groupBy("n").agg(
        *[
            (
                F.sum(
                    F.when(F.col(f"l{k}").isNull(), 0.0).otherwise(
                        (F.col("rev") - F.col("mu")) * (F.col(f"l{k}") - F.col("mu"))
                    )
                )
                / den
            ).alias(f"r{k}")
            for k in range(1, 4)
        ],
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    d22 = 1 - r1 * r1
    p22 = (r2 - r1 * r1) / F.when(d22 != 0, d22)
    p21 = r1 * (1 - p22)
    d33 = 1 - p21 * r1 - p22 * r2
    p33 = (r3 - p21 * r2 - p22 * r1) / F.when(d33 != 0, d33)
    return acf.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(r1, 4).alias("pacf1"),
        F.round(p22, 4).alias("pacf2"),
        F.round(p33, 4).alias("pacf3"),
    )


# ---------------------------------------------------------------------------
# Spearman footrule rank agreement


@register(
    "q_spearman_footrule",
    oracle="""
        WITH s AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY source
        ),
        ranked AS (
            SELECT source,
                   row_number() OVER (ORDER BY n_docs DESC, source ASC) AS r1,
                   row_number() OVER (ORDER BY chars DESC, source ASC) AS r2
            FROM s
        )
        SELECT CAST(count(*) AS BIGINT) AS n_sources,
               CAST(sum(abs(r1 - r2)) AS BIGINT) AS footrule,
               round(sum(abs(r1 - r2)) * 2.0
                     / (count(*) * count(*)), 4) + 0.0 AS norm_footrule,
               round(1 - sum(abs(r1 - r2)) * 2.0
                         / (count(*) * count(*)), 4) AS agreement
        FROM ranked
    """,
    category="analytics",
)
def q_spearman_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman footrule distance between two source leaderboards —
    rank by document count vs rank by total characters: F = Σ|r₁−r₂|,
    normalized by its even-n maximum n²/2 — the L1 rank-agreement
    member next to q_rank_correlation (L2/Spearman ρ), q_kendall_tau
    (inversions), and q_borda_ranking (aggregation): footrule is the
    metric Diaconis–Graham bounds tie to Kendall within factor 2.

    One combinable pass to the 20-row source aggregate; both rank
    windows run over that bounded grain (whitelisted) with
    deterministic source tie-breaks; the distance is one aggregate."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
    )
    ranked = s.select(
        "source",
        F.row_number()
        .over(Window.orderBy(F.col("n_docs").desc(), F.col("source").asc()))
        .alias("r1"),
        F.row_number()
        .over(Window.orderBy(F.col("chars").desc(), F.col("source").asc()))
        .alias("r2"),
    )
    n = F.count(F.lit(1))
    fr = F.sum(F.abs(F.col("r1") - F.col("r2")))
    return ranked.agg(
        n.cast("bigint").alias("n_sources"),
        fr.cast("bigint").alias("footrule"),
        F.round(fr * 2.0 / (n * n), 4).alias("norm_footrule"),
        F.round(1 - fr * 2.0 / (n * n), 4).alias("agreement"),
    )


# ---------------------------------------------------------------------------
# Coleman-Liau readability index


@register(
    "q_coleman_liau",
    oracle="""
        WITH f AS (
            SELECT source,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       AS letters,
                   len(string_split(text, ' ')) AS words,
                   greatest((length(text) - length(replace(text, '.', '')))
                          + (length(text) - length(replace(text, '!', '')))
                          + (length(text) - length(replace(text, '?', ''))),
                            1) AS sentences
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(100.0 * sum(letters) / sum(words), 2) AS l_per_100w,
               round(100.0 * sum(sentences) / sum(words), 2) AS s_per_100w,
               round(0.0588 * (100.0 * sum(letters) / sum(words))
                     - 0.296 * (100.0 * sum(sentences) / sum(words))
                     - 15.8, 4) + 0.0 AS cli
        FROM f GROUP BY source ORDER BY source
    """,
    category="llm-text",
)
def q_coleman_liau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coleman–Liau readability index per source: CLI = 0.0588·L −
    0.296·S − 15.8 with L = letters and S = sentences per 100 words —
    the CHARACTER-based readability grade (no syllable counting, so
    it is exactly computable cross-engine) next to q_readability's
    Flesch variant; corpus curation uses the grade-level spread to
    balance difficulty mixes.

    One fact pass folds the three integer counts (regexp strip for
    letters — DuckDB needs the explicit 'g' flag Spark applies by
    default; replace()-diffs for terminators, floor-1 guarded) to 20
    source rows; CLI is per-row algebra over exact integer sums."""
    t = F.col("text")
    sentences = F.greatest(
        sum(F.length(t) - F.length(F.replace(t, F.lit(ch))) for ch in ".!?"),
        F.lit(1),
    )
    f = load_table(spark, sf_dir, "documents").select(
        "source",
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("letters"),
        F.size(F.split("text", " ")).alias("words"),
        sentences.alias("sentences"),
    )
    lw = 100.0 * F.sum("letters") / F.sum("words")
    sw = 100.0 * F.sum("sentences") / F.sum("words")
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(lw, 2).alias("l_per_100w"),
            F.round(sw, 2).alias("s_per_100w"),
            F.round(0.0588 * lw - 0.296 * sw - 15.8, 4).alias("cli"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test


@register(
    "q_cochran_armitage",
    oracle="""
        WITH f AS (
            SELECT least(CAST(floor(o_totalprice / 50000) AS INT), 9) AS band,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS hit
            FROM orders
        ),
        cells AS (
            SELECT band, count(*) AS n, CAST(sum(hit) AS BIGINT) AS a
            FROM f GROUP BY band
        ),
        agg AS (
            SELECT sum(n) AS nt, sum(a) AS at_,
                   sum(band * (a - n * (SELECT sum(a) * 1.0 / sum(n) FROM cells)))
                       AS t_,
                   sum(band * band * n) AS st2n,
                   sum(band * n) AS stn,
                   count(*) AS nbands
            FROM cells
        )
        SELECT CAST(nbands AS BIGINT) AS n_bands,
               CAST(nt AS BIGINT) AS n_total,
               round(t_ / nullif(sqrt((at_ * 1.0 / nt)
                                      * (1 - at_ * 1.0 / nt)
                                      * (st2n - stn * stn * 1.0 / nt)), 0), 4)
                   + 0.0 AS z,
               CAST(CASE WHEN abs(t_ / nullif(sqrt((at_ * 1.0 / nt)
                                            * (1 - at_ * 1.0 / nt)
                                            * (st2n - stn * stn * 1.0
                                               / nt)), 0))
                              > 1.96
                    THEN 1 ELSE 0 END AS INT) AS reject_no_trend
        FROM agg
    """,
    category="analytics",
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: does the urgent-order share move
    MONOTONICALLY across the ten order-value bands? T = Σtᵢ(aᵢ−nᵢp̄)
    with band index as score, Var = p̄(1−p̄)·[Σtᵢ²nᵢ − (Σtᵢnᵢ)²/N],
    z = T/√Var — the ORDERED-category test q_chisq_independence
    ignores (χ² sees any deviation; Cochran–Armitage spends its one
    degree of freedom on the linear trend, the usual dose-response
    question). Same banding as q_woe_iv.

    One combinable fact pass to 10 band cells (integer counts); the
    statistic is closed-form algebra with the 1-row overall rate."""
    f = load_table(spark, sf_dir, "orders").select(
        F.least(F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(9)).alias(
            "band"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("hit"),
    )
    cells = f.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), F.sum("hit").cast("bigint").alias("a")
    )
    rate = cells.agg((F.sum("a") * 1.0 / F.sum("n")).alias("pbar"))
    agg = cells.crossJoin(F.broadcast(rate)).agg(
        F.count(F.lit(1)).alias("nbands"),
        F.sum("n").alias("nt"),
        F.sum("a").alias("at_"),
        F.sum(F.col("band") * (F.col("a") - F.col("n") * F.col("pbar"))).alias("t_"),
        F.sum(F.col("band") * F.col("band") * F.col("n")).alias("st2n"),
        F.sum(F.col("band") * F.col("n")).alias("stn"),
    )
    pbar = F.col("at_") * 1.0 / F.col("nt")
    _zv = F.sqrt(
        pbar * (1 - pbar) * (F.col("st2n") - F.col("stn") * F.col("stn") * 1.0 / F.col("nt"))
    )
    z = F.col("t_") / F.when(_zv != 0, _zv)  # ANSI /0 guard: all-hit or 1 band
    return agg.select(
        F.col("nbands").cast("bigint").alias("n_bands"),
        F.col("nt").cast("bigint").alias("n_total"),
        F.round(z, 4).alias("z"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias(
            "reject_no_trend"
        ),
    )


# ---------------------------------------------------------------------------
# round-11 batch 3: classifier effect sizes and MCC, norm-vs-angle ANN
# diagnostics, curriculum staging, seasonal/trend strength, pricing
# digit bias, temporal vocabulary drift, and LSH band occupancy


@register(
    "q_cohens_d",
    oracle="""
        WITH s AS (
            SELECT o_totalprice AS v,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS ga
            FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        g AS (
            SELECT ga, count(*) AS n, avg(v) AS m,
                   (sum(v * v) - count(*) * avg(v) * avg(v))
                       / nullif(count(*) - 1, 0) AS s2
            FROM s GROUP BY ga
        ),
        w AS (
            SELECT max(CASE WHEN ga = 1 THEN n END) AS n1,
                   max(CASE WHEN ga = 0 THEN n END) AS n2,
                   max(CASE WHEN ga = 1 THEN m END) AS m1,
                   max(CASE WHEN ga = 0 THEN m END) AS m2,
                   max(CASE WHEN ga = 1 THEN s2 END) AS s21,
                   max(CASE WHEN ga = 0 THEN s2 END) AS s22
            FROM g
        ),
        d AS (
            SELECT n1, n2,
                   (m1 - m2) / nullif(sqrt(((n1 - 1) * s21 + (n2 - 1) * s22)
                                           / (n1 + n2 - 2)), 0) AS d_raw
            FROM w
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               round(d_raw, 4) + 0.0 AS cohens_d,
               round(d_raw * (1 - 3.0 / (4 * (n1 + n2) - 9)), 4)
                   + 0.0 AS hedges_g,
               CASE WHEN abs(d_raw) < 0.2 THEN 'negligible'
                    WHEN abs(d_raw) < 0.5 THEN 'small'
                    WHEN abs(d_raw) < 0.8 THEN 'medium'
                    ELSE 'large' END AS magnitude
        FROM d
    """,
    category="analytics",
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized mean difference between URGENT and LOW
    priority order values (pooled-SD), with the Hedges' g small-sample
    correction and the conventional magnitude label — the parametric
    effect size that complements q_welch_ttest (which answers IS there
    a difference; d answers HOW BIG) and the rank-based q_cliffs_delta.

    One combinable conditional-moment pass to two group rows; d/g are
    single-row algebra over identical float trees, rounded once with
    the signed-zero guard."""
    s = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("ga"),
        )
    )
    n = F.count(F.lit(1))
    g = s.groupBy("ga").agg(
        n.alias("n"),
        F.avg("v").alias("m"),
        (
            (F.sum(F.col("v") * F.col("v")) - n * F.avg("v") * F.avg("v"))
            / F.when(n != 1, n - 1)
        ).alias("s2"),
    )
    w = g.agg(
        F.max(F.when(F.col("ga") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("ga") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("ga") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("ga") == 0, F.col("m"))).alias("m2"),
        F.max(F.when(F.col("ga") == 1, F.col("s2"))).alias("s21"),
        F.max(F.when(F.col("ga") == 0, F.col("s2"))).alias("s22"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    _sp = F.sqrt(
        ((n1 - 1) * F.col("s21") + (n2 - 1) * F.col("s22")) / (n1 + n2 - 2)
    )
    d_raw = (F.col("m1") - F.col("m2")) / F.when(_sp != 0, _sp)  # ANSI /0 guard
    ad = F.abs(d_raw)
    return w.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round(d_raw, 4).alias("cohens_d"),
        F.round(d_raw * (1 - 3.0 / (4 * (n1 + n2) - 9)), 4).alias("hedges_g"),
        F.when(ad < 0.2, "negligible")
        .when(ad < 0.5, "small")
        .when(ad < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# Matthews correlation coefficient of a threshold classifier


@register(
    "q_mcc_threshold",
    oracle="""
        WITH thr AS (SELECT avg(value) AS t FROM events),
        cells AS (
            SELECT CAST(sum(CASE WHEN value >= thr.t
                                  AND event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN value >= thr.t
                                  AND event_type != 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(sum(CASE WHEN value < thr.t
                                  AND event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS fn_,
                   CAST(sum(CASE WHEN value < thr.t
                                  AND event_type != 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM events, thr GROUP BY ALL
        )
        SELECT tp, fp, fn_ AS fn, tn,
               round((tp * 1.0 * tn - fp * 1.0 * fn_)
                     / sqrt((tp + fp) * 1.0 * (tp + fn_)
                            * (tn + fp) * (tn + fn_)), 4) + 0.0 AS mcc,
               round(2.0 * tp / (2 * tp + fp + fn_), 4) + 0.0 AS f1,
               round((tp + tn) * 1.0 / (tp + fp + fn_ + tn), 4) AS accuracy
        FROM cells
        WHERE tp + fp > 0 AND tp + fn_ > 0 AND tn + fp > 0 AND tn + fn_ > 0
    """,
    category="analytics",
)
def q_mcc_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the naive value-threshold
    purchase classifier (predict purchase when event value ≥ global
    mean): MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) with
    F1 and accuracy — the single-number classifier summary robust to
    class imbalance that the eval family (q_auc_roc threshold-free,
    q_pr_curve per-threshold, q_ece_calibration) reports alongside.

    One fact pass with the 1-row threshold broadcast folds the 2×2;
    the statistics are O(1) algebra with 1.0-widened products (counts
    at 100 TB overflow int64 when multiplied raw). Degenerate margins
    (any zero row/column sum) drop the row identically on both
    engines."""
    thr = load_table(spark, sf_dir, "events").agg(F.avg("value").alias("t"))
    ev = load_table(spark, sf_dir, "events").select("value", "event_type")
    pos = F.col("value") >= F.col("t")
    lab = F.col("event_type") == "purchase"
    cells = ev.crossJoin(F.broadcast(thr)).agg(
        F.sum(F.when(pos & lab, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(pos & ~lab, 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(~pos & lab, 1).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when(~pos & ~lab, 1).otherwise(0)).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    mcc = (tp * 1.0 * tn - fp * 1.0 * fn) / F.sqrt(
        (tp + fp) * 1.0 * (tp + fn) * (tn + fp) * (tn + fn)
    )
    # per-factor positivity, NOT a product guard: the 4-way count product
    # overflows int64 at scale (caught by the 10x smoke)
    return cells.filter(
        (tp + fp > 0) & (tp + fn > 0) & (tn + fp > 0) & (tn + fn > 0)
    ).select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(mcc, 4).alias("mcc"),
        F.round(2.0 * tp / (2 * tp + fp + fn), 4).alias("f1"),
        F.round((tp + tn) * 1.0 / (tp + fp + fn + tn), 4).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# dot-product vs cosine argmax agreement (norm-bias diagnostic)


@register(
    "q_dot_vs_cosine",
    oracle="""
        WITH cen AS (
            SELECT label, i AS dim,
                   avg(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)) AS c
            FROM embeddings, unnest(range(0, 64)) t(i)
            GROUP BY label, i
        ),
        cnorm AS (
            SELECT label, sqrt(sum(c * c)) AS nrm FROM cen GROUP BY label
        ),
        dots AS (
            SELECT e.vec_id, e.label AS true_label, cen.label AS cand,
                   round(sum(CAST(e.embedding[CAST(cen.dim AS INT) + 1]
                                  AS DOUBLE) * cen.c), 6) AS dot
            FROM embeddings e CROSS JOIN cen
            GROUP BY e.vec_id, e.label, cen.label
        ),
        scored AS (
            SELECT d.vec_id, d.true_label, d.cand, d.dot,
                   round(d.dot / n.nrm, 6) AS cosv
            FROM dots d JOIN cnorm n ON d.cand = n.label
        ),
        ranked AS (
            SELECT vec_id, true_label, cand,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, cand ASC) AS rd,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosv DESC, cand ASC) AS rc
            FROM scored
        ),
        pick AS (
            SELECT vec_id, true_label,
                   max(CASE WHEN rd = 1 THEN cand END) AS dot_pick,
                   max(CASE WHEN rc = 1 THEN cand END) AS cos_pick
            FROM ranked GROUP BY vec_id, true_label
        )
        SELECT true_label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN dot_pick = cos_pick THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_same_argmax,
               CAST(sum(CASE WHEN dot_pick = true_label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dot_correct,
               CAST(sum(CASE WHEN cos_pick = true_label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cos_correct
        FROM pick GROUP BY true_label ORDER BY true_label
    """,
    category="llm-similarity",
)
def q_dot_vs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norm-bias diagnostic for maximum-inner-product vs cosine
    retrieval: score every vector against all label centroids by raw
    dot product AND by cosine (dot/centroid-norm — the vector's own
    norm cancels in its argmax) and count where the two argmaxes
    disagree, plus each metric's label accuracy. MIPS engines
    (q_mips_maxdot) and cosine ANN (q_ann_lsh) silently diverge
    exactly where this table shows disagreement — large-norm
    centroids "steal" dot-product argmaxes.

    Scale: centroids are a 25×64 broadcast; ONE pass over the
    (vector × dim) explode folds per-candidate dots; argmaxes are
    integer-compared on round-6 scores with candidate tie-breaks
    (max_by tuple ordering ≡ the row_number pick, deterministic both
    engines); output is label-grain."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    )
    cen = ex.groupBy(F.col("true_label").alias("label"), "dim").agg(
        F.avg(F.col("x").cast("double")).alias("c")
    )
    cnorm = cen.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm"))
    dots = (
        ex.join(F.broadcast(cen.withColumnRenamed("label", "cand")), "dim")
        .groupBy("vec_id", "true_label", "cand")
        .agg(F.round(F.sum(F.col("x").cast("double") * F.col("c")), 6).alias("dot"))
    )
    scored = dots.join(
        F.broadcast(cnorm.withColumnRenamed("label", "cand")), "cand"
    ).select(
        "vec_id",
        "true_label",
        "cand",
        "dot",
        F.round(F.col("dot") / F.col("nrm"), 6).alias("cosv"),
    )
    wd = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("cand").asc())
    wc = Window.partitionBy("vec_id").orderBy(F.col("cosv").desc(), F.col("cand").asc())
    ranked = scored.select(
        "vec_id",
        "true_label",
        "cand",
        F.row_number().over(wd).alias("rd"),
        F.row_number().over(wc).alias("rc"),
    )
    pick = ranked.groupBy("vec_id", "true_label").agg(
        F.max(F.when(F.col("rd") == 1, F.col("cand"))).alias("dot_pick"),
        F.max(F.when(F.col("rc") == 1, F.col("cand"))).alias("cos_pick"),
    )
    return (
        pick.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("dot_pick") == F.col("cos_pick"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_same_argmax"),
            F.sum(F.when(F.col("dot_pick") == F.col("true_label"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dot_correct"),
            F.sum(F.when(F.col("cos_pick") == F.col("true_label"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_cos_correct"),
        )
        .orderBy("true_label")
    )


# ---------------------------------------------------------------------------
# curriculum staging by exact length quartile


@register(
    "q_curriculum_stages",
    oracle="""
        WITH lg AS (
            SELECT n_chars, count(*) AS cnt FROM documents GROUP BY n_chars
        ),
        r AS (
            SELECT n_chars, cnt,
                   sum(cnt) OVER (ORDER BY n_chars
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   (SELECT sum(cnt) FROM lg) AS tot
            FROM lg
        ),
        stg AS (
            SELECT n_chars,
                   least(CAST(ceil(cum * 4.0 / tot) AS INT), 4) AS stage
            FROM r
        ),
        docs AS (
            SELECT s.stage, d.n_chars,
                   len(string_split(d.text, ' ')) AS toks
            FROM documents d JOIN stg s ON d.n_chars = s.n_chars
        )
        SELECT stage,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               CAST(sum(toks) AS BIGINT) AS tok_total,
               round(avg(toks * 1.0), 2) AS avg_tokens
        FROM docs GROUP BY stage ORDER BY stage
    """,
    category="llm-pipeline",
)
def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: split the corpus into four EXACT length
    quartiles (short→long as a difficulty proxy) and report each
    stage's doc count, char range, and token budget — the stage
    manifest a curriculum-learning schedule trains against (stage 1
    first, 4 last). Exactness matters: approximate quantiles would
    put boundary docs in different stages on different engines.

    The quantile_normalize scale shape: docs collapse to LENGTH-VALUE
    grain (bounded by distinct lengths), the quartile rank comes from
    one stitched running count over that grain — never a per-doc
    NTILE — and stages join back on the length value. Token counts
    fold in the same pass."""
    d = load_table(spark, sf_dir, "documents").select(
        "n_chars", F.size(F.split("text", " ")).alias("toks")
    )
    lg = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    r = stitched_running(lg, ["n_chars"], running={"cum": "cnt"})
    tot = lg.agg(F.sum("cnt").alias("tot"))
    stg = r.crossJoin(F.broadcast(tot)).select(
        "n_chars",
        F.least(F.ceil(F.col("cum") * 4.0 / F.col("tot")).cast("int"), F.lit(4)).alias(
            "stage"
        ),
    )
    docs = d.join(stg, "n_chars")
    return (
        docs.groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum("toks").cast("bigint").alias("tok_total"),
            F.round(F.avg(F.col("toks") * 1.0), 2).alias("avg_tokens"),
        )
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# seasonal / trend strength (STL-style variance decomposition)


@register(
    "q_seasonal_strength",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        ma AS (
            SELECT d, rev,
                   avg(rev * 1.0) OVER w AS trend,
                   count(*) OVER w AS wn
            FROM daily
            WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        det AS (
            SELECT d, rev, trend, rev - trend AS detr,
                   (CAST(d AS DATE) - DATE '1970-01-01') % 7 AS wd
            FROM ma WHERE wn = 7
        ),
        seas AS (SELECT wd, avg(detr) AS s FROM det GROUP BY wd),
        parts AS (
            SELECT det.d, det.detr, det.detr - seas.s AS rem,
                   det.rev - seas.s AS deseason
            FROM det JOIN seas ON det.wd = seas.wd
        ),
        v AS (
            SELECT count(*) AS n,
                   (sum(rem * rem) - count(*) * avg(rem) * avg(rem))
                       / (count(*) - 1) AS vr,
                   (sum(detr * detr) - count(*) * avg(detr) * avg(detr))
                       / (count(*) - 1) AS vd,
                   (sum(deseason * deseason)
                    - count(*) * avg(deseason) * avg(deseason))
                       / (count(*) - 1) AS vt
            FROM parts
        )
        SELECT CAST(n AS BIGINT) AS n_days_used,
               round(greatest(0.0, 1 - vr / nullif(vd, 0)), 4)
                   + 0.0 AS seasonal_strength,
               round(greatest(0.0, 1 - vr / nullif(vt, 0)), 4)
                   + 0.0 AS trend_strength
        FROM v
    """,
    category="analytics",
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style strength-of-components on daily revenue: with trend
    T = centered 7-day MA, weekday seasonal S, remainder R,
    Fs = max(0, 1 − Var R/Var(S+R)) and Ft = max(0, 1 − Var R/Var(T+R))
    — the two numbers (Hyndman's feasts convention) that say whether a
    series is worth seasonal modeling at all; the scalar summary of
    q_seasonal_decompose's full table and the gate before
    q_ratio_to_ma_seasonal / q_weekday_seasonality effort.

    One whitelisted centered-MA window over the calendar-bounded day
    table (full 7-day frames only, so both engines average identical
    row sets), weekday means via groupBy, variances via one combinable
    moment tree."""
    daily = _daily_rev(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(-3, 3)
    ma = daily.select(
        "d",
        "rev",
        F.avg(F.col("rev") * 1.0).over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    det = ma.filter(F.col("wn") == 7).select(
        "d",
        "rev",
        (F.col("rev") - F.col("trend")).alias("detr"),
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % 7).alias("wd"),
    )
    seas = det.groupBy("wd").agg(F.avg("detr").alias("s"))
    parts = det.join(F.broadcast(seas), "wd").select(
        "detr",
        (F.col("detr") - F.col("s")).alias("rem"),
        (F.col("rev") - F.col("s")).alias("deseason"),
    )
    n = F.count(F.lit(1))

    def _var(c):
        return (F.sum(F.col(c) * F.col(c)) - n * F.avg(c) * F.avg(c)) / (n - 1)

    v = parts.agg(
        n.alias("n"), _var("rem").alias("vr"), _var("detr").alias("vd"), _var("deseason").alias("vt")
    )
    return v.select(
        F.col("n").cast("bigint").alias("n_days_used"),
        F.round(
            F.greatest(
                F.lit(0.0), 1 - F.col("vr") / F.when(F.col("vd") != 0, F.col("vd"))
            ),
            4,
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(
                F.lit(0.0), 1 - F.col("vr") / F.when(F.col("vt") != 0, F.col("vt"))
            ),
            4,
        ).alias("trend_strength"),
    )


# ---------------------------------------------------------------------------
# price-ending digit bias


@register(
    "q_price_digit_bias",
    oracle=f"""
        WITH c AS (
            SELECT {_OC} % 100 AS ending FROM orders
        ),
        cells AS (SELECT ending, count(*) AS o FROM c GROUP BY ending),
        agg AS (
            SELECT sum(o) AS n, count(*) AS k,
                   sum((o - (SELECT sum(o) FROM cells) / 100.0)
                       * (o - (SELECT sum(o) FROM cells) / 100.0))
                     / ((SELECT sum(o) FROM cells) / 100.0) AS chi,
                   sum(CASE WHEN ending = 0 THEN o ELSE 0 END) AS n00,
                   sum(CASE WHEN ending = 99 THEN o ELSE 0 END) AS n99
            FROM cells
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               CAST(k AS BIGINT) AS n_endings_seen,
               round(chi + (100 - k) * (n / 100.0), 4) AS chi_sq,
               CAST(CASE WHEN chi + (100 - k) * (n / 100.0) > 123.2252
                    THEN 1 ELSE 0 END AS INT) AS reject_uniform,
               round(n00 * 1.0 / n, 4) + 0.0 AS pct_ending_00,
               round(n99 * 1.0 / n, 4) + 0.0 AS pct_ending_99
        FROM agg
    """,
    category="analytics",
)
def q_price_digit_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-ending digit bias: χ² of the cents-ending distribution
    (last two digits of the exact-cents total) against uniform over
    the 100 endings, df = 99 (crit 123.23), plus the .00 and .99
    psychological-pricing shares — the second-digit cousin of
    q_benford (first digits) and the pricing-integrity screen a
    marketplace audit runs (human-set prices cluster on round and
    charm endings; generated ones don't).

    One exact-integer fact pass to ≤100 ending cells; unseen endings
    enter the χ² as their full expected mass via the (100−k)·E
    correction term, computed identically on both engines."""
    c = load_table(spark, sf_dir, "orders").select(
        (F.expr(_OC) % 100).alias("ending")
    )
    cells = c.groupBy("ending").agg(F.count(F.lit(1)).alias("o"))
    tot = cells.agg(F.sum("o").alias("n"))
    agg = cells.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            (F.col("o") - F.col("n") / 100.0) * (F.col("o") - F.col("n") / 100.0)
        ).alias("ssq"),
        F.sum(F.when(F.col("ending") == 0, F.col("o")).otherwise(0)).alias("n00"),
        F.sum(F.when(F.col("ending") == 99, F.col("o")).otherwise(0)).alias("n99"),
    )
    n, k = F.col("n"), F.col("k")
    chi = F.col("ssq") / (n / 100.0) + (100 - k) * (n / 100.0)
    return agg.select(
        n.cast("bigint").alias("n_orders"),
        k.cast("bigint").alias("n_endings_seen"),
        F.round(chi, 4).alias("chi_sq"),
        F.when(chi > 123.2252, 1).otherwise(0).cast("int").alias("reject_uniform"),
        F.round(F.col("n00") * 1.0 / n, 4).alias("pct_ending_00"),
        F.round(F.col("n99") * 1.0 / n, 4).alias("pct_ending_99"),
    )


# ---------------------------------------------------------------------------
# temporal vocabulary drift (even/odd doc halves)


@register(
    "q_vocab_drift_halves",
    oracle="""
        WITH tok AS (
            SELECT source, doc_id % 2 AS half,
                   unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents
        ),
        vw AS (
            SELECT source, w,
                   max(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS in_a,
                   max(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS in_b
            FROM tok WHERE w != '' GROUP BY source, w
        )
        SELECT source,
               CAST(sum(in_a) AS BIGINT) AS vocab_a,
               CAST(sum(in_b) AS BIGINT) AS vocab_b,
               round(sum(in_a * in_b) * 1.0 / count(*), 4) AS jaccard,
               CASE WHEN sum(in_b) = 0 THEN NULL
                    ELSE round(1 - sum(in_a * in_b) * 1.0 / sum(in_b), 4)
                         + 0.0 END AS new_vocab_rate
        FROM vw GROUP BY source ORDER BY source
    """,
    category="llm-text",
)
def q_vocab_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between deterministic corpus halves (even vs
    odd doc_id) per source: half-vocab sizes, Jaccard overlap, and the
    new-vocab rate (share of half-B types unseen in half-A) — the
    WITHIN-source temporal-drift screen next to q_source_vocab_overlap
    (cross-source) and q_vocab_growth (Heaps curve): a spiking
    new-vocab rate between crawl snapshots means the tokenizer/filters
    need re-tuning before the next training mix.

    Token stream collapses to (source, type) grain with two membership
    flags in ONE combinable pass — Jaccard and the drift rate are
    ratios of flag sums, no joins at all."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source",
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    vw = (
        tok.filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(
            F.max(F.when(F.col("half") == 0, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("half") == 1, 1).otherwise(0)).alias("in_b"),
        )
    )
    return (
        vw.groupBy("source")
        .agg(
            F.sum("in_a").cast("bigint").alias("vocab_a"),
            F.sum("in_b").cast("bigint").alias("vocab_b"),
            F.round(
                F.sum(F.col("in_a") * F.col("in_b")) * 1.0 / F.count(F.lit(1)), 4
            ).alias("jaccard"),
            F.when(
                F.sum("in_b") == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.round(
                    1 - F.sum(F.col("in_a") * F.col("in_b")) * 1.0 / F.sum("in_b"),
                    4,
                )
            )
            .alias("new_vocab_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# LSH band-bucket occupancy (capacity-planning diagnostic)

from builder_spark.operators.dedup import CHARFOLD_MOD, band_rows  # noqa: E402
from builder_spark.queries.textops import _A, _B, _BANDS, _K, _P, _band_buckets  # noqa: E402


def _band_occupancy_oracle() -> str:
    mins = ",\n                   ".join(
        f"min((h * {_A[i]} + {_B[i]}) % {_P}) AS s{i}" for i in range(_K)
    )
    band_case = " ".join(
        f"WHEN {b} THEN s{2 * b} * {_P} + s{2 * b + 1}" for b in range(_BANDS)
    )
    band_vals = ", ".join(str(b) for b in range(_BANDS))
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2]))) AS w
            FROM documents
        ),
        th AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(w)+1),
                               i -> CAST(ascii(substr(w, CAST(i AS INT), 1)) AS BIGINT))),
                       (a, b) -> (a*31 + b) % {CHARFOLD_MOD}) AS h
            FROM tok
        ),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM th GROUP BY doc_id
        ),
        bk AS (
            SELECT doc_id, band, CASE band {band_case} END AS val
            FROM sig CROSS JOIN (SELECT unnest([{band_vals}]) AS band)
        ),
        bucket AS (
            SELECT band, val, count(*) AS c FROM bk GROUP BY band, val
        )
        SELECT band,
               CAST(sum(c) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_multi_buckets,
               CAST(max(c) AS BIGINT) AS max_bucket,
               CAST(sum(c * (c - 1) / 2) AS BIGINT) AS candidate_pairs
        FROM bucket GROUP BY band ORDER BY band
    """


@register(
    "q_band_occupancy",
    oracle=_band_occupancy_oracle(),
    category="llm-dedup",
)
def q_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket occupancy audit over the SAME deterministic
    MinHash banding as q_minhash_banded: per band, how many buckets,
    how many collide (≥2 docs), the largest bucket, and the implied
    candidate-pair count Σc(c−1)/2 — the capacity-planning numbers
    that decide whether a banded dedup join is safe at 100 TB (the
    candidate join's cost IS Σc², and a single mega-bucket is shuffle
    skew); q_minhash_calibration tunes precision, this tunes COST.

    Plan: the signature stage is q_minhash_banded's (the vectorized
    Arrow charfold + 8 permutation-minima kernel,
    operators/arrowkern.py — bit-identical to the old array-min
    expression form), band-explode to 4 rows/doc, then TWO combinable
    aggregates (bucket grain → band grain). No pair join at all — the
    audit predicts its cost without paying it."""
    from pyspark.sql.types import LongType, StructField, StructType

    from builder_spark.operators.arrowkern import charfold_sig_gen
    from builder_spark.operators.partitioning import spread

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    _sig_schema = StructType(
        [StructField("doc_id", LongType())]
        + [StructField(f"s{i}", LongType()) for i in range(_K)]
    )
    sig = (
        spread(d.filter(F.size(toks) >= 3), "doc_id")
        .select("doc_id", "text")
        .mapInArrow(charfold_sig_gen(3, _A, _B, _P, "doc_id"), _sig_schema)
    )
    bk = band_rows(sig, "doc_id", _band_buckets())
    bucket = bk.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("c"))
    c = F.col("c")
    return (
        bucket.groupBy("band")
        .agg(
            F.sum(c).cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.when(c >= 2, 1).otherwise(0)).cast("bigint").alias(
                "n_multi_buckets"
            ),
            F.max(c).cast("bigint").alias("max_bucket"),
            F.sum(c * (c - 1) / 2).cast("bigint").alias("candidate_pairs"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# round-11 batch 4: fairness/graph structure (Jain, modularity,
# assortativity), step-down multiple testing, repeated-ngram gate,
# growth accounting, decay fitting, and the IVF probe/recall sweep

from builder_spark.registry import QUERIES  # noqa: E402


@register(
    "q_jains_fairness",
    oracle="""
        WITH u AS (
            SELECT event_type, user_id, count(*) AS x
            FROM events GROUP BY event_type, user_id
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_users,
               round(sum(x * 1.0) * sum(x * 1.0)
                     / (count(*) * sum(x * 1.0 * x)), 4) AS fairness,
               CAST(max(x) AS BIGINT) AS max_per_user
        FROM u GROUP BY event_type ORDER BY event_type
    """,
    category="analytics",
)
def q_jains_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jain's fairness index of per-user event load, by event type:
    J = (Σx)²/(n·Σx²) ∈ (0,1] — 1 means perfectly even load, 1/n means
    one user takes everything. The systems-engineering fairness lens
    next to the economics family (Gini/Theil/Atkinson/Hoover): J is
    what a rate-limiter or shard-balancer dashboard quotes, and its
    reciprocal is the effective number of active users.

    One combinable pass to (type, user) counts then 5 type rows;
    products are 1.0-widened (x² sums overflow int64 at 100 TB user
    counts). No windows, no joins."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    sx = F.sum(F.col("x") * 1.0)
    return (
        u.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(
                sx * sx / (F.count(F.lit(1)) * F.sum(F.col("x") * 1.0 * F.col("x"))),
                4,
            ).alias("fairness"),
            F.max("x").cast("bigint").alias("max_per_user"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# graph modularity of the brand co-purchase graph


@register(
    "q_modularity",
    oracle="""
        WITH lp AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        eh AS (
            SELECT a.p_brand AS u, b.p_brand AS v
            FROM lp a JOIN lp b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY a.p_brand, b.p_brand
            HAVING count(*) >= 20
        ),
        comm AS (
            SELECT u, v,
                   substr(u, 7, 1) AS cu, substr(v, 7, 1) AS cv
            FROM eh
        ),
        m AS (SELECT count(*) AS m FROM eh),
        within AS (
            SELECT cu AS c, count(*) AS e_in
            FROM comm WHERE cu = cv GROUP BY cu
        ),
        deg AS (
            SELECT c, sum(d) AS d FROM (
                SELECT substr(u, 7, 1) AS c, count(*) AS d FROM comm GROUP BY u, substr(u, 7, 1)
                UNION ALL
                SELECT substr(v, 7, 1) AS c, count(*) AS d FROM comm GROUP BY v, substr(v, 7, 1)
            ) GROUP BY c
        ),
        q AS (
            SELECT d.c,
                   coalesce(w.e_in, 0) * 1.0 / nullif(m.m, 0)
                   - (d.d * 1.0 / nullif(2 * m.m, 0))
                     * (d.d * 1.0 / nullif(2 * m.m, 0)) AS qc
            FROM deg d LEFT JOIN within w ON d.c = w.c CROSS JOIN m
        )
        SELECT (SELECT CAST(m AS BIGINT) FROM m) AS n_edges,
               CAST(count(*) AS BIGINT) AS n_communities,
               round(sum(qc), 4) + 0.0 AS modularity
        FROM q
    """,
    category="analytics",
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand co-purchase graph under the
    brand-family partition (leading digit of the brand number —
    Brand#1/#10–19 together, etc.: an arbitrary but deterministic
    ≤9-way split): Q = Σ_c [e_c/m − (d_c/2m)²], positive when a
    family's brands co-sell together more than degree chance —
    the community-QUALITY score next to q_clustering_coeff (local
    density), q_triangle_count, and q_katz_centrality on the same
    ≥20-co-order edge rule.

    One distributed fact pass to the enum-bounded edge grid (≤25²),
    then counting aggregates over ≤300 edges / 25 degree rows — the
    closed form never touches fact grain again."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lp = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = lp.select("l_orderkey", F.col("p_brand").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("_ok"), F.col("p_brand").alias("v"))
    eh = (
        a.join(b, (a.l_orderkey == b._ok) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 20)
        .select("u", "v")
    )
    comm = eh.select(
        "u",
        "v",
        F.substring("u", 7, 1).alias("cu"),
        F.substring("v", 7, 1).alias("cv"),
    )
    m = comm.agg(F.count(F.lit(1)).alias("m"))
    within = (
        comm.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    deg = (
        comm.select(F.col("cu").alias("c"))
        .unionAll(comm.select(F.col("cv").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    q = (
        deg.join(within, "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "c",
            (
                F.coalesce(F.col("e_in"), F.lit(0)) * 1.0
                / F.when(F.col("m") != 0, F.col("m"))
                - (F.col("d") * 1.0 / F.when(F.col("m") != 0, 2 * F.col("m")))
                * (F.col("d") * 1.0 / F.when(F.col("m") != 0, 2 * F.col("m")))
            ).alias("qc"),
        )
    )
    # plain aggregate (not groupBy("m")): an edgeless corpus must still
    # yield the oracle's 1 row (n_edges=0, n_communities=0, NULL Q)
    qa = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.round(F.sum("qc"), 4).alias("modularity"),
    )
    return qa.crossJoin(F.broadcast(m)).select(
        F.col("m").cast("bigint").alias("n_edges"),
        "n_communities",
        "modularity",
    )


# ---------------------------------------------------------------------------
# degree assortativity


@register(
    "q_assortativity",
    oracle="""
        WITH lp AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        eh AS (
            SELECT a.p_brand AS u, b.p_brand AS v
            FROM lp a JOIN lp b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY a.p_brand, b.p_brand
            HAVING count(*) >= 20
        ),
        dir_e AS (
            SELECT u, v FROM eh UNION ALL SELECT v AS u, u AS v FROM eh
        ),
        deg AS (SELECT u AS node, count(*) AS d FROM dir_e GROUP BY u),
        pairs AS (
            SELECT du.d AS dx, dv.d AS dy
            FROM dir_e e
            JOIN deg du ON e.u = du.node
            JOIN deg dv ON e.v = dv.node
        ),
        mom AS (
            SELECT count(*) AS n,
                   sum(dx * 1.0 * dy) - count(*) * avg(dx * 1.0) * avg(dy * 1.0)
                       AS sxy,
                   sum(dx * 1.0 * dx) - count(*) * avg(dx * 1.0) * avg(dx * 1.0)
                       AS sxx,
                   sum(dy * 1.0 * dy) - count(*) * avg(dy * 1.0) * avg(dy * 1.0)
                       AS syy
            FROM pairs
        )
        SELECT CAST(n / 2 AS BIGINT) AS n_edges,
               CASE WHEN sxx > 0 AND syy > 0
                    THEN round(sxy / sqrt(sxx * syy), 4) + 0.0 END
                   AS assortativity
        FROM mom
    """,
    category="analytics",
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the brand co-purchase graph: the
    Pearson correlation of endpoint degrees over the symmetrized edge
    list — positive means hub brands co-sell with hubs (assortative
    mixing), negative means hub-and-spoke. The MIXING-pattern lens
    the graph family (q_degree_distribution marginal, q_modularity
    community, q_clustering_coeff local) was missing; disassortativity
    is what makes single-hub shuffle skew likely.

    Enum-bounded edge grid (≤300 edges) from one fact pass; degrees
    and the correlation are algebra over that grid. corr() folds the
    same doubles on both engines; round(·,4) + signed-zero guard."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lp = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = lp.select("l_orderkey", F.col("p_brand").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("_ok"), F.col("p_brand").alias("v"))
    eh = (
        a.join(b, (a.l_orderkey == b._ok) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 20)
        .select("u", "v")
    )
    dir_e = eh.unionAll(eh.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = dir_e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        dir_e.join(F.broadcast(deg.withColumnRenamed("node", "u")), "u")
        .withColumnRenamed("d", "dx")
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
            ),
            "v",
        )
    )
    # moment-form correlation with a zero-variance guard: Spark's ANSI
    # corr() RAISES DivideByZero on a constant-degree graph (caught at
    # sf0.01) where DuckDB's returns NULL — NULL on both engines instead
    n = F.count(F.lit(1))
    dx, dy = F.col("dx") * 1.0, F.col("dy") * 1.0
    mom = pairs.agg(
        n.alias("n"),
        (F.sum(dx * F.col("dy")) - n * F.avg(dx) * F.avg(dy)).alias("sxy"),
        (F.sum(dx * F.col("dx")) - n * F.avg(dx) * F.avg(dx)).alias("sxx"),
        (F.sum(dy * F.col("dy")) - n * F.avg(dy) * F.avg(dy)).alias("syy"),
    )
    return mom.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.when(
            (F.col("sxx") > 0) & (F.col("syy") > 0),
            F.round(F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy")), 4),
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Holm / Bonferroni / BH multiple-testing comparison


@register(
    "q_holm_bonferroni",
    oracle="""
        WITH cells AS (
            SELECT event_type, isodow(ts) - 1 AS dow, count(*) AS o
            FROM events GROUP BY event_type, isodow(ts) - 1
        ),
        rows_m AS (SELECT event_type, sum(o) AS nr FROM cells GROUP BY event_type),
        cols_m AS (SELECT dow, sum(o) AS nc FROM cells GROUP BY dow),
        tot AS (SELECT sum(o) AS n FROM cells),
        scored AS (
            SELECT c.event_type, c.dow,
                   exp(-((c.o - r.nr * cm.nc / t.n) * (c.o - r.nr * cm.nc / t.n)
                   / (r.nr * cm.nc / t.n)) / 2) AS p
            FROM cells c
            JOIN rows_m r ON c.event_type = r.event_type
            JOIN cols_m cm ON c.dow = cm.dow
            CROSS JOIN tot t
        ),
        ranked AS (
            SELECT p,
                   row_number() OVER (ORDER BY p, event_type, dow) AS i,
                   count(*) OVER () AS m
            FROM scored
        ),
        marks AS (
            SELECT p, i, m,
                   min(CASE WHEN p > 0.05 / (m - i + 1) THEN i END)
                       OVER () AS first_fail,
                   max(CASE WHEN p <= i * 0.05 / m THEN i END) OVER () AS bh_k
            FROM ranked
        )
        SELECT CAST(max(m) AS BIGINT) AS m,
               CAST(sum(CASE WHEN p <= 0.05 / m THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bonferroni,
               CAST(sum(CASE WHEN i < coalesce(first_fail, m + 1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_holm,
               CAST(sum(CASE WHEN i <= coalesce(bh_k, 0) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bh,
               round(min(p), 6) AS min_p
        FROM marks
    """,
    category="analytics",
)
def q_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing correction shoot-out on the 35 event-type ×
    weekday contingency tests (q_bh_fdr's cell family and pseudo-p
    = exp(−χ²/2) upper bound): rejection counts under Bonferroni
    (α/m), Holm step-down (α/(m−i+1) until the first failure), and
    Benjamini–Hochberg — the power ordering n_bonf ≤ n_holm ≤ n_bh
    is the textbook fact, and the spread tells an experimentation
    platform how much the FWER→FDR switch buys on THIS data.

    Facts collapse once to ≤35 cells; every window runs over that
    constant grid (whitelisted); output is a single summary row."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select("event_type", ((F.dayofweek("ts") + 5) % 7).alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rows_m = cells.groupBy("event_type").agg(F.sum("o").alias("nr"))
    cols_m = cells.groupBy("dow").agg(F.sum("o").alias("nc"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = F.col("nr") * F.col("nc") / F.col("n")
    scored = (
        cells.join(F.broadcast(rows_m), "event_type")
        .join(F.broadcast(cols_m), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            F.exp(-((F.col("o") - e) * (F.col("o") - e) / e) / 2).alias("p"),
        )
    )
    wi = Window.orderBy(F.col("p"), F.col("event_type"), F.col("dow"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = scored.select(
        "p",
        F.row_number().over(wi).alias("i"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    marks = ranked.select(
        "p",
        "i",
        "m",
        F.min(F.when(F.col("p") > 0.05 / (F.col("m") - F.col("i") + 1), F.col("i")))
        .over(wall)
        .alias("first_fail"),
        F.max(F.when(F.col("p") <= F.col("i") * 0.05 / F.col("m"), F.col("i")))
        .over(wall)
        .alias("bh_k"),
    )
    return marks.agg(
        F.max("m").cast("bigint").alias("m"),
        F.sum(F.when(F.col("p") <= 0.05 / F.col("m"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bonferroni"),
        F.sum(
            F.when(
                F.col("i") < F.coalesce(F.col("first_fail"), F.col("m") + 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_holm"),
        F.sum(
            F.when(F.col("i") <= F.coalesce(F.col("bh_k"), F.lit(0)), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_bh"),
        F.round(F.min("p"), 6).alias("min_p"),
    )


# ---------------------------------------------------------------------------
# repeated-ngram generation-quality gate


@register(
    "q_repeat_ngram_gate",
    oracle="""
        WITH grams AS (
            SELECT doc_id, source,
                   unnest(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2] || ' ' ||
                            string_split(text, ' ')[i+3])) AS g
            FROM documents
        ),
        reps AS (
            SELECT doc_id, source, g, count(*) AS c
            FROM grams GROUP BY doc_id, source, g
        ),
        per_doc AS (
            SELECT doc_id, source, max(c) AS max_rep
            FROM reps GROUP BY doc_id, source
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN max_rep >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_flagged,
               round(sum(CASE WHEN max_rep >= 3 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 4) + 0.0 AS flag_rate,
               round(avg(max_rep * 1.0), 4) AS avg_max_rep
        FROM per_doc GROUP BY source ORDER BY source
    """,
    category="llm-pipeline",
)
def q_repeat_ngram_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-4-gram gate: flag documents where any 4-word gram
    occurs ≥3 times — the "no-repeat-ngram" degenerate-text screen
    (looping generations, boilerplate stutter) that complements
    q_repetition_ratio (bigram mass) and q_gopher_gates: max-repeat
    is sharp where average repetition is diluted by document length.

    Per-doc sliding 4-grams explode once, collapse to (doc, gram)
    counts then doc grain then 20 source rows — all combinable
    aggregates riding one scan; no joins, no windows."""
    toks = F.split(F.col("text"), " ")
    # filter BEFORE sequence: Spark's sequence(1, 0) descends ([1, 0])
    # instead of being empty like DuckDB's range(1, 1) — sub-4-token
    # docs drop identically on both engines (empty unnest = no row)
    # materialized _toks column: inlined in the lambda the split
    # re-evaluates per element (no CSE inside HOF lambdas)
    tk = F.col("_toks")
    grams = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(toks) >= 4)
        .select("doc_id", "source", toks.alias("_toks"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 3),
                    lambda i: F.concat_ws(" ", F.slice(tk, i, 4)),
                )
            ).alias("g"),
        )
    )
    reps = grams.groupBy("doc_id", "source", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = reps.groupBy("doc_id", "source").agg(F.max("c").alias("max_rep"))
    flagged = F.sum(F.when(F.col("max_rep") >= 3, 1).otherwise(0))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            flagged.cast("bigint").alias("n_flagged"),
            F.round(flagged * 1.0 / F.count(F.lit(1)), 4).alias("flag_rate"),
            F.round(F.avg(F.col("max_rep") * 1.0), 4).alias("avg_max_rep"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# growth accounting (new / retained / resurrected / churned)


@register(
    "q_growth_accounting",
    oracle="""
        WITH uw AS (
            SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
            FROM events
        ),
        seq AS (
            SELECT user_id, wk,
                   lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
                   min(wk) OVER (PARTITION BY user_id) AS first_wk
            FROM uw
        ),
        cls AS (
            SELECT wk,
                   sum(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS n_new,
                   sum(CASE WHEN prev_wk = wk - INTERVAL 7 DAY
                            THEN 1 ELSE 0 END) AS n_retained,
                   sum(CASE WHEN wk != first_wk
                             AND (prev_wk IS NULL
                                  OR prev_wk != wk - INTERVAL 7 DAY)
                            THEN 1 ELSE 0 END) AS n_resurrected,
                   count(*) AS n_active
            FROM seq GROUP BY wk
        ),
        acc AS (
            SELECT wk,
                   CAST(n_new AS BIGINT) AS n_new,
                   CAST(n_retained AS BIGINT) AS n_retained,
                   CAST(n_resurrected AS BIGINT) AS n_resurrected,
                   CAST(n_active AS BIGINT) AS n_active,
                   CAST(lag(n_active) OVER (ORDER BY wk) - n_retained
                        AS BIGINT) AS n_churned
            FROM cls
        )
        SELECT * FROM acc ORDER BY wk
    """,
    category="analytics",
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active user-week is exactly one
    of NEW (first week ever), RETAINED (also active last week), or
    RESURRECTED (returning after a gap); churned_w = active_{w−1} −
    retained_w (users who didn't come back). The standard DAU/WAU
    decomposition a growth team reads (q_new_vs_returning is the
    2-way day version; q_dau_wau_mau the ratio) — growth is healthy
    iff new + resurrected > churned.

    Facts collapse to DISTINCT (user, week) grain once; the per-user
    lag/min windows partition on user_id (unbounded grain); the one
    remaining lag runs over the calendar-bounded week table
    (whitelisted). Monday-start weeks on both engines."""
    uw = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk"))
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(wu).alias("prev_wk"),
        F.min("wk").over(Window.partitionBy("user_id")).alias("first_wk"),
    )
    is_ret = F.col("prev_wk") == F.date_sub(F.col("wk"), 7)
    cls = seq.groupBy("wk").agg(
        F.sum(F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0)).alias("n_new"),
        F.sum(F.when(is_ret, 1).otherwise(0)).alias("n_retained"),
        F.sum(
            F.when(
                (F.col("wk") != F.col("first_wk"))
                & (F.col("prev_wk").isNull() | ~is_ret),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
        F.count(F.lit(1)).alias("n_active"),
    )
    ww = Window.orderBy("wk")
    return (
        cls.select(
            "wk",
            F.col("n_new").cast("bigint").alias("n_new"),
            F.col("n_retained").cast("bigint").alias("n_retained"),
            F.col("n_resurrected").cast("bigint").alias("n_resurrected"),
            F.col("n_active").cast("bigint").alias("n_active"),
            (F.lag("n_active").over(ww) - F.col("n_retained"))
            .cast("bigint")
            .alias("n_churned"),
        )
        .orderBy("wk")
    )


# ---------------------------------------------------------------------------
# exponential-decay half-life fit


@register(
    "q_decay_halflife",
    oracle="""
        WITH base AS (
            SELECT CAST(ts AS DATE) AS d, value FROM events
        ),
        maxd AS (SELECT max(d) AS dmax FROM base),
        daily AS (
            SELECT CAST(m.dmax - b.d AS BIGINT) AS age, avg(b.value) AS v
            FROM base b, maxd m GROUP BY 1 HAVING avg(b.value) > 0
        ),
        mom AS (
            SELECT count(*) AS n, avg(age * 1.0) AS mx, avg(ln(v)) AS my,
                   sum(age * 1.0 * ln(v)) - count(*) * avg(age * 1.0) * avg(ln(v))
                       AS sxy,
                   sum(age * 1.0 * age) - count(*) * avg(age * 1.0) * avg(age * 1.0)
                       AS sxx,
                   sum(ln(v) * ln(v)) - count(*) * avg(ln(v)) * avg(ln(v)) AS syy
            FROM daily
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(-(sxy / nullif(sxx, 0)), 6) + 0.0 AS lambda_per_day,
               CASE WHEN sxy < 0
                    THEN round(ln(2) / (-(sxy / nullif(sxx, 0))), 2)
               END AS half_life_days,
               round((sxy * sxy) / nullif(sxx * syy, 0), 4) + 0.0 AS r2
        FROM mom
    """,
    category="analytics",
)
def q_decay_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay fit of mean event value against age (days
    before the latest observation): log-linear OLS ln v̄(age) =
    a − λ·age, reporting λ, the implied half-life ln2/λ (NULL when
    the slope isn't a decay — defined identically on both engines),
    and the fit R² — the engagement-decay estimator next to
    q_recency_weighted_score (which ASSUMES a λ) and q_adstock_decay
    (fixed retention grid): this one measures λ from data.

    One pass to the calendar-bounded age-day table (integer ages,
    positive-mean days only), one centered-moment aggregate, closed
    form — no windows at all."""
    base = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "value"
    )
    maxd = base.agg(F.max("d").alias("dmax"))
    daily = (
        base.crossJoin(F.broadcast(maxd))
        .groupBy(F.datediff(F.col("dmax"), F.col("d")).cast("bigint").alias("age"))
        .agg(F.avg("value").alias("v"))
        .filter(F.col("v") > 0)
    )
    n = F.count(F.lit(1))
    ax, ly = F.col("age") * 1.0, F.log("v")
    mom = daily.agg(
        n.alias("n"),
        (F.sum(ax * ly) - n * F.avg(ax) * F.avg(ly)).alias("sxy"),
        (F.sum(ax * F.col("age")) - n * F.avg(ax) * F.avg(ax)).alias("sxx"),
        (F.sum(ly * ly) - n * F.avg(ly) * F.avg(ly)).alias("syy"),
    )
    slope = F.col("sxy") / F.when(F.col("sxx") != 0, F.col("sxx"))  # ANSI guard
    _r2den = F.when(
        F.col("sxx") * F.col("syy") != 0, F.col("sxx") * F.col("syy")
    )
    return mom.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(-slope, 6).alias("lambda_per_day"),
        F.when(F.col("sxy") < 0, F.round(F.log(F.lit(2.0)) / (-slope), 2)).alias(
            "half_life_days"
        ),
        F.round((F.col("sxy") * F.col("sxy")) / _r2den, 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# IVF probe-count / recall sweep

_PROBE_GRID = [1, 2, 4, 8]


def _ivf_probe_oracle() -> str:
    from builder_spark.queries.llmscale import _IVF_DOT, _IVF_NORM

    def ivf_sql(p: int) -> str:
        return f"""
        SELECT q_id, vec_id FROM (
            SELECT p.q_id, a.vec_id,
                   row_number() OVER (
                       PARTITION BY p.q_id
                       ORDER BY {_IVF_DOT.format(a="p.q_emb", b="a.embedding")}
                                / ({_IVF_NORM.format(v="p.q_emb")}
                                   * {_IVF_NORM.format(v="a.embedding")}) DESC,
                                a.vec_id ASC
                   ) AS rnk
            FROM (
                SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.c_id
                FROM embeddings q CROSS JOIN (
                    SELECT vec_id AS c_id, embedding AS c_emb
                    FROM embeddings ORDER BY vec_id ASC LIMIT 16
                ) c
                WHERE q.vec_id < 20
                QUALIFY row_number() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY {_IVF_DOT.format(a="q.embedding", b="c.c_emb")}
                             / ({_IVF_NORM.format(v="q.embedding")}
                                * {_IVF_NORM.format(v="c.c_emb")}) DESC,
                             c.c_id ASC
                ) <= {p}
            ) p
            JOIN (
                SELECT e.vec_id, e.embedding, c.c_id
                FROM embeddings e CROSS JOIN (
                    SELECT vec_id AS c_id, embedding AS c_emb
                    FROM embeddings ORDER BY vec_id ASC LIMIT 16
                ) c
                QUALIFY row_number() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_IVF_DOT.format(a="e.embedding", b="c.c_emb")}
                             / ({_IVF_NORM.format(v="e.embedding")}
                                * {_IVF_NORM.format(v="c.c_emb")}) DESC,
                             c.c_id ASC
                ) = 1
            ) a ON p.c_id = a.c_id AND a.vec_id <> p.q_id
        ) ranked WHERE rnk <= 5
        """

    exact = QUERIES["q_cosine_topk"].oracle
    blocks = "\n        UNION ALL\n".join(
        f"""
        SELECT {p} AS probe_count,
               CAST(count(e.q_id) AS BIGINT) AS n_exact_pairs,
               CAST(count(a.vec_id) AS BIGINT) AS n_hits,
               round(count(a.vec_id) * 1.0 / count(e.q_id), 4)
                   + 0.0 AS recall_at_5
        FROM ({exact}) e
        LEFT JOIN ({ivf_sql(p)}) a
          ON a.q_id = e.q_id AND a.vec_id = e.vec_id
        """
        for p in _PROBE_GRID
    )
    return f"SELECT * FROM ({blocks}) ORDER BY probe_count"


@register(
    "q_ivf_probe_sweep",
    oracle=_ivf_probe_oracle(),
    category="llm-similarity",
)
def q_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-count/recall trade-off sweep: recall@5 of the
    16-centroid inverted-file ANN (q_ann_ivf's deterministic design)
    at 1/2/4/8 probed cells against the exact cosine top-5 — THE
    tuning curve an ANN deployment reads before fixing n_probe:
    candidate cost grows ~linearly in probes while recall saturates,
    and this table shows exactly where. Completes the ANN capacity
    family with q_band_occupancy (LSH cost) and q_ann_recall (one
    operating point).

    Each probe level reuses the ivf_topk operator (broadcast
    centroid argmax riding the scan, equi-join on cell id); the audit
    runs on a bounded query sample (20 here; a production sweep
    samples queries, never the corpus). Recall joins are top-5 ×
    top-5 per query."""
    from builder_spark.operators.similarity import brute_force_topk
    from builder_spark.functions.vectors import dot_f64, l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(q, e, k=5).select(
        "q_id", F.col("vec_id").alias("e_vid")
    )
    # ONE shared assignment + probe + scoring pass for all four probe
    # levels (r15): the four ivf_topk calls duplicated the centroid
    # argmax, the probe join and the pair scoring per level — but
    # probe rankings are prefix-nested (same ordering, larger keep),
    # so level p's candidate set is exactly the _prank <= p subset of
    # the max-probe pass. Each scored pair explodes to the levels it
    # belongs to and ONE (level, q) window ranks all levels at once.
    max_probe = max(_PROBE_GRID)
    cents = (
        e.select("vec_id", "embedding")
        .orderBy(F.col("vec_id").asc())
        .limit(16)
        .select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("_c_emb"))
    )

    def nearest(side, rank_alias, keep):
        csim = dot_f64("_emb", "_c_emb") / (l2_norm("_emb") * l2_norm("_c_emb"))
        w = Window.partitionBy("_id").orderBy(
            F.col("_csim").desc(), F.col("c_id").asc()
        )
        return (
            side.join(F.broadcast(cents), how="cross")
            .withColumn("_csim", csim)
            .withColumn(rank_alias, F.row_number().over(w))
            .filter(F.col(rank_alias) <= keep)
        )

    c_assigned = nearest(
        e.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_emb")),
        "_crank",
        keep=1,
    ).select(F.col("_id").alias("cand_id"), F.col("_emb").alias("_c_vec"), "c_id")
    q_probes = nearest(
        q.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_emb")),
        "_prank",
        keep=max_probe,
    ).select(F.col("_id").alias("q_id"), F.col("_emb").alias("_q_vec"), "c_id", "_prank")
    sim = dot_f64("_q_vec", "_c_vec") / (l2_norm("_q_vec") * l2_norm("_c_vec"))
    pairs = (
        c_assigned.join(F.broadcast(q_probes), "c_id")
        .filter(F.col("q_id") != F.col("cand_id"))
        .withColumn("_sim", sim)
        .select("q_id", "cand_id", "_sim", "_prank")
    )
    lv = pairs.select(
        "q_id",
        "cand_id",
        "_sim",
        F.explode(
            F.filter(
                F.array(*[F.lit(p) for p in _PROBE_GRID]),
                lambda p: p >= F.col("_prank"),
            )
        ).alias("lvl"),
    )
    w5 = Window.partitionBy("lvl", "q_id").orderBy(
        F.col("_sim").desc(), F.col("cand_id").asc()
    )
    approx = (
        lv.withColumn("_rnk", F.row_number().over(w5))
        .filter(F.col("_rnk") <= 5)
        .select(
            F.col("lvl").alias("a_lvl"),
            F.col("q_id").alias("a_qid"),
            F.col("cand_id").alias("a_vid"),
        )
    )
    levels = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _PROBE_GRID])).alias("lvl")
    )
    hits = (
        levels.crossJoin(exact)
        .join(
            approx,
            (F.col("lvl") == F.col("a_lvl"))
            & (F.col("q_id") == F.col("a_qid"))
            & (F.col("e_vid") == F.col("a_vid")),
            "left",
        )
        .groupBy("lvl")
        .agg(
            F.count("q_id").cast("bigint").alias("n_exact_pairs"),
            F.count("a_vid").cast("bigint").alias("n_hits"),
        )
    )
    return (
        levels.join(F.broadcast(hits), "lvl", "left")
        .select(
            F.col("lvl").alias("probe_count"),
            F.coalesce(F.col("n_exact_pairs"), F.lit(0)).cast("bigint").alias(
                "n_exact_pairs"
            ),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(  # ANSI /0 guard: no exact pairs on empty sample
                F.coalesce(F.col("n_hits"), F.lit(0)) * 1.0
                / F.when(
                    F.coalesce(F.col("n_exact_pairs"), F.lit(0)) != 0,
                    F.coalesce(F.col("n_exact_pairs"), F.lit(0)),
                ),
                4,
            ).alias("recall_at_5"),
        )
        .orderBy("probe_count")
    )


# ---------------------------------------------------------------------------
# round-11 batch 5: financial ratios, TwoNN intrinsic dimension,
# binary-quantized retrieval, instrumental variables, Oaxaca-Blinder,
# Palma ratio, Mood's median test, and Cohen's kappa


@register(
    "q_sharpe_sortino",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        ret AS (
            SELECT ln(rev * 1.0 / lag(rev) OVER (ORDER BY d)) AS r
            FROM daily QUALIFY lag(rev) OVER (ORDER BY d) IS NOT NULL
        ),
        mom AS (
            SELECT count(*) AS n, avg(r) AS mu,
                   sqrt((sum(r * r) - count(*) * avg(r) * avg(r))
                        / (count(*) - 1)) AS sd,
                   sqrt(sum(CASE WHEN r < 0 THEN r * r ELSE 0 END)
                        / count(*)) AS dd
            FROM ret
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(mu, 6) + 0.0 AS mean_daily_return,
               round(mu / nullif(sd, 0) * sqrt(365), 4) + 0.0 AS sharpe_annual,
               CASE WHEN dd > 0
                    THEN round(mu / dd * sqrt(365), 4) + 0.0 END
                   AS sortino_annual
        FROM mom
    """,
    category="analytics",
)
def q_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe and Sortino ratios of daily revenue log
    returns: mean/σ·√365 and mean/downside-deviation·√365 — the
    risk-adjusted volatility summary next to q_var_cvar (tail loss),
    q_max_drawdown (path risk), and q_bollinger_breach (band
    breaches); Sortino's zero-floor downside deviation is why the two
    diverge on skewed series (guarded NULL when no down days).

    Exact-cents day table, ONE whitelisted lag window for returns,
    one moment aggregate — identical float trees, rounded once."""
    daily = _daily_rev(spark, sf_dir)
    w = Window.orderBy("d")
    ret = (
        daily.select((F.col("rev") * 1.0).alias("rv"), F.lag("rev").over(w).alias("pv"))
        .filter(F.col("pv").isNotNull())
        .select(F.log(F.col("rv") / F.col("pv")).alias("r"))
    )
    n = F.count(F.lit(1))
    mom = ret.agg(
        n.alias("n"),
        F.avg("r").alias("mu"),
        F.sqrt(
            (F.sum(F.col("r") * F.col("r")) - n * F.avg("r") * F.avg("r")) / (n - 1)
        ).alias("sd"),
        F.sqrt(
            F.sum(F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0)) / n
        ).alias("dd"),
    )
    return mom.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round("mu", 6).alias("mean_daily_return"),
        F.round(
            F.col("mu") / F.when(F.col("sd") != 0, F.col("sd")) * F.sqrt(F.lit(365.0)),
            4,
        ).alias("sharpe_annual"),
        F.when(
            F.col("dd") > 0,
            F.round(F.col("mu") / F.col("dd") * F.sqrt(F.lit(365.0)), 4),
        ).alias("sortino_annual"),
    )


# ---------------------------------------------------------------------------
# TwoNN intrinsic dimension


@register(
    "q_intrinsic_dim",
    oracle="""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_emb
            FROM embeddings WHERE vec_id < 50
        ),
        d2 AS (
            SELECT q.q_id, e.vec_id,
                   round(list_sum(list_transform(range(1, 65),
                       i -> (CAST(q.q_emb[CAST(i AS INT)] AS DOUBLE)
                             - CAST(e.embedding[CAST(i AS INT)] AS DOUBLE))
                          * (CAST(q.q_emb[CAST(i AS INT)] AS DOUBLE)
                             - CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)))),
                       4) AS dd
            FROM q CROSS JOIN embeddings e
            WHERE e.vec_id != q.q_id
        ),
        nn2 AS (
            SELECT q_id, dd,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY dd ASC, vec_id ASC) AS rnk
            FROM d2
            QUALIFY rnk <= 2
        ),
        mu AS (
            SELECT q_id,
                   max(CASE WHEN rnk = 2 THEN dd END) AS dd2,
                   max(CASE WHEN rnk = 1 THEN dd END) AS dd1
            FROM nn2 GROUP BY q_id
        ),
        valid AS (
            SELECT q_id, 0.5 * ln(dd2 / dd1) AS lnmu
            FROM mu WHERE dd1 > 0 AND dd2 > dd1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               round(avg(lnmu), 6) AS mean_ln_mu,
               round(count(*) / sum(lnmu), 2) AS intrinsic_dim
        FROM valid
    """,
    category="llm-similarity",
)
def q_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding manifold
    (Facco et al. 2017): for each sample point, μ = d₂/d₁ (second- to
    first-NN distance); the MLE is d̂ = n/Σ ln μ — the number that
    says how "thin" the 64-d vectors really are, which governs every
    LSH/IVF/PQ design choice (q_dim_variance's PCA spectrum is the
    linear cousin; TwoNN sees curved manifolds).

    Audit-on-a-sample shape (brute_force_topk precedent): 50 query
    rows against the corpus, squared distances round to 4dp BEFORE
    ranking (summation-order-proof cross-engine ranks, the
    centroid_classify discipline), ties and zero-distance dupes
    excluded identically."""
    e = load_table(spark, sf_dir, "embeddings")
    qx = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"),
        F.posexplode("embedding").alias("dim", "qv"),
    )
    cx = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "cv")
    )
    d2 = (
        cx.join(F.broadcast(qx), "dim")
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.round(
                F.sum(
                    (F.col("qv").cast("double") - F.col("cv").cast("double"))
                    * (F.col("qv").cast("double") - F.col("cv").cast("double"))
                ),
                4,
            ).alias("dd")
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("dd").asc(), F.col("vec_id").asc())
    nn2 = d2.withColumn("rnk", F.row_number().over(wq)).filter(F.col("rnk") <= 2)
    mu = nn2.groupBy("q_id").agg(
        F.max(F.when(F.col("rnk") == 2, F.col("dd"))).alias("dd2"),
        F.max(F.when(F.col("rnk") == 1, F.col("dd"))).alias("dd1"),
    )
    valid = mu.filter((F.col("dd1") > 0) & (F.col("dd2") > F.col("dd1"))).select(
        (0.5 * F.log(F.col("dd2") / F.col("dd1"))).alias("lnmu")
    )
    return valid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.round(F.avg("lnmu"), 6).alias("mean_ln_mu"),
        F.round(F.count(F.lit(1)) / F.sum("lnmu"), 2).alias("intrinsic_dim"),
    )


# ---------------------------------------------------------------------------
# binary (sign) quantization retrieval recall


def _binary_quant_oracle() -> str:
    exact = QUERIES["q_cosine_topk"].oracle
    return f"""
        WITH ham AS (
            SELECT q.vec_id AS q_id, e.vec_id,
                   list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN (CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) >= 0)
                                  != (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) >= 0)
                                 THEN 1 ELSE 0 END)) AS h
            FROM embeddings q CROSS JOIN embeddings e
            WHERE q.vec_id < 20 AND e.vec_id != q.vec_id
        ),
        topb AS (
            SELECT q_id, vec_id, h,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY h ASC, vec_id ASC) AS rnk
            FROM ham QUALIFY rnk <= 5
        )
        SELECT CAST(count(e.q_id) AS BIGINT) AS n_exact_pairs,
               CAST(count(a.vec_id) AS BIGINT) AS n_hits,
               round(count(a.vec_id) * 1.0 / count(e.q_id), 4)
                   + 0.0 AS recall_at_5,
               round(avg(a.h * 1.0), 4) AS avg_hamming_of_hits
        FROM ({exact}) e
        LEFT JOIN topb a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
    """


@register(
    "q_binary_quant_recall",
    oracle=_binary_quant_oracle(),
    category="llm-similarity",
)
def q_binary_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of 1-bit (sign) quantization: rank candidates by Hamming
    distance between 64-bit sign patterns and measure top-5 overlap
    with exact cosine — the cheapest quantization on the
    memory/recall curve next to q_vec_quantize (int8), q_ann_pq
    (product codes), and q_scalar_quant_sweep: 64× compression, and
    this number says what it costs in recall. Hamming ranks are
    EXACT integers, so cross-engine ranking needs no rounding
    discipline at all (vec_id tie-breaks).

    20-query audit sample; the sign bits would be precomputed at
    ingest in production (binary column + popcount-XOR), here the
    dim-explode join folds them in one pass."""
    e = load_table(spark, sf_dir, "embeddings")
    qx = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.posexplode("embedding").alias("dim", "qv")
    )
    cx = e.select("vec_id", F.posexplode("embedding").alias("dim", "cv"))
    ham = (
        cx.join(F.broadcast(qx), "dim")
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("qv").cast("double") >= 0)
                    != (F.col("cv").cast("double") >= 0),
                    1,
                ).otherwise(0)
            ).alias("h")
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("h").asc(), F.col("vec_id").asc())
    topb = ham.withColumn("rnk", F.row_number().over(wq)).filter(F.col("rnk") <= 5)
    from builder_spark.operators.similarity import brute_force_topk

    exact = brute_force_topk(e.filter(F.col("vec_id") < 20), e, k=5).select(
        "q_id", F.col("vec_id").alias("e_vid")
    )
    joined = exact.join(
        topb.select(F.col("q_id").alias("a_qid"), F.col("vec_id").alias("a_vid"), "h"),
        (F.col("q_id") == F.col("a_qid")) & (F.col("e_vid") == F.col("a_vid")),
        "left",
    )
    return joined.agg(
        F.count("q_id").cast("bigint").alias("n_exact_pairs"),
        F.count("a_vid").cast("bigint").alias("n_hits"),
        F.round(  # ANSI /0 guard: no exact pairs on empty sample
            F.count("a_vid") * 1.0 / F.when(F.count("q_id") != 0, F.count("q_id")),
            4,
        ).alias("recall_at_5"),
        F.round(F.avg(F.col("h") * 1.0), 4).alias("avg_hamming_of_hits"),
    )


# ---------------------------------------------------------------------------
# instrumental variables (2SLS, single instrument)


@register(
    "q_iv_2sls",
    oracle="""
        WITH pts AS (
            SELECT l_quantity AS z, l_discount AS x, l_extendedprice AS y
            FROM lineitem
        ),
        mom AS (
            SELECT count(*) AS n,
                   sum(z * x) - count(*) * avg(z) * avg(x) AS szx,
                   sum(z * y) - count(*) * avg(z) * avg(y) AS szy,
                   sum(x * y) - count(*) * avg(x) * avg(y) AS sxy,
                   sum(x * x) - count(*) * avg(x) * avg(x) AS sxx,
                   sum(z * z) - count(*) * avg(z) * avg(z) AS szz
            FROM pts
        ),
        fit AS (
            SELECT n, sxy / nullif(sxx, 0) AS beta_ols,
                   szy / nullif(szx, 0) AS beta_iv,
                   (szx * szx) / nullif(szz * sxx, 0) AS r2_first
            FROM mom
        )
        SELECT CAST(n AS BIGINT) AS n,
               round(beta_ols, 6) + 0.0 AS beta_ols,
               round(beta_iv, 6) + 0.0 AS beta_iv,
               round(r2_first / nullif(1 - r2_first, 0) * (n - 2), 4)
                   AS first_stage_f,
               CAST(CASE WHEN r2_first / nullif(1 - r2_first, 0) * (n - 2) < 10
                    THEN 1 ELSE 0 END AS INT) AS weak_instrument
        FROM fit
    """,
    category="analytics",
)
def q_iv_2sls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variables (2SLS) slope with a single instrument:
    β_IV = S_zy/S_zx (the Wald/ratio estimator) next to the OLS slope
    it corrects, plus the first-stage F — the Staiger–Stock weak-
    instrument screen (F < 10 flags an unusable instrument). The
    causal-inference member the regression family was missing
    (q_propensity_ipw reweights, q_diff_in_diff differences, IV
    instruments); here quantity instruments discount→price purely as
    the mechanical demonstration.

    One combinable centered-moment pass; every estimator is 1-row
    algebra over the same five moments, identical trees both
    engines."""
    pts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("z"),
        F.col("l_discount").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    n = F.count(F.lit(1))
    mom = pts.agg(
        n.alias("n"),
        (F.sum(F.col("z") * F.col("x")) - n * F.avg("z") * F.avg("x")).alias("szx"),
        (F.sum(F.col("z") * F.col("y")) - n * F.avg("z") * F.avg("y")).alias("szy"),
        (F.sum(F.col("x") * F.col("y")) - n * F.avg("x") * F.avg("y")).alias("sxy"),
        (F.sum(F.col("x") * F.col("x")) - n * F.avg("x") * F.avg("x")).alias("sxx"),
        (F.sum(F.col("z") * F.col("z")) - n * F.avg("z") * F.avg("z")).alias("szz"),
    )
    _zx = F.when(F.col("szz") * F.col("sxx") != 0, F.col("szz") * F.col("sxx"))
    r2f = (F.col("szx") * F.col("szx")) / _zx
    _r2d = F.when(r2f != 1, 1 - r2f)  # ANSI /0 guards throughout
    f_stat = r2f / _r2d * (F.col("n") - 2)
    return mom.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("sxy") / F.when(F.col("sxx") != 0, F.col("sxx")), 6
        ).alias("beta_ols"),
        F.round(
            F.col("szy") / F.when(F.col("szx") != 0, F.col("szx")), 6
        ).alias("beta_iv"),
        F.round(f_stat, 4).alias("first_stage_f"),
        F.when(f_stat < 10, 1).otherwise(0).cast("int").alias("weak_instrument"),
    )


# ---------------------------------------------------------------------------
# Oaxaca-Blinder gap decomposition


@register(
    "q_oaxaca_blinder",
    oracle="""
        WITH lc AS (
            SELECT l_orderkey, count(*) AS nl FROM lineitem GROUP BY l_orderkey
        ),
        pts AS (
            SELECT CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS grp,
                   lc.nl * 1.0 AS x, o.o_totalprice AS y
            FROM orders o JOIN lc ON o.o_orderkey = lc.l_orderkey
            WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        g AS (
            SELECT grp, count(*) AS n, avg(x) AS mx, avg(y) AS my,
                   (sum(x * y) - count(*) * avg(x) * avg(y))
                   / nullif(sum(x * x) - count(*) * avg(x) * avg(x), 0) AS b
            FROM pts GROUP BY grp
        ),
        w AS (
            SELECT max(CASE WHEN grp = 1 THEN mx END) AS mx1,
                   max(CASE WHEN grp = 0 THEN mx END) AS mx0,
                   max(CASE WHEN grp = 1 THEN my END) AS my1,
                   max(CASE WHEN grp = 0 THEN my END) AS my0,
                   max(CASE WHEN grp = 1 THEN b END) AS b1,
                   max(CASE WHEN grp = 0 THEN b END) AS b0,
                   max(CASE WHEN grp = 1 THEN n END) AS n1,
                   max(CASE WHEN grp = 0 THEN n END) AS n0
            FROM g
        )
        SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n0 AS BIGINT) AS n_low,
               round(my1 - my0, 4) + 0.0 AS total_gap,
               round((mx1 - mx0) * b0, 4) + 0.0 AS endowment_effect,
               round((my1 - my0) - (mx1 - mx0) * b0, 4)
                   + 0.0 AS coefficient_effect,
               round((my1 - my0) - (mx1 - mx0) * b0
                     - ((my1 - my0) - (mx1 - mx0) * b0), 4)
                   + 0.0 AS decomposition_gap
        FROM w
    """,
    category="analytics",
)
def q_oaxaca_blinder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blinder–Oaxaca two-fold decomposition of the URGENT-vs-LOW mean
    order-value gap with basket size (line count) as the explanatory
    covariate: endowment effect Δx̄·β_low (how much of the gap is
    'urgent orders are just bigger baskets') vs the coefficient
    effect (different pricing per line) — the gap-accounting standard
    from labor economics, here auditing a business KPI gap; the
    decomposition_gap column is the exact-identity self-audit (≡0,
    signed-zero-guarded — the q_mediation_paths discipline).

    One join to order-grain line counts, one conditional-moment pass
    to two group rows, closed-form algebra."""
    lc = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("nl"))
    )
    pts = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(lc, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("grp"),
            (F.col("nl") * 1.0).alias("x"),
            F.col("o_totalprice").alias("y"),
        )
    )
    n = F.count(F.lit(1))
    g = pts.groupBy("grp").agg(
        n.alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        (
            (F.sum(F.col("x") * F.col("y")) - n * F.avg("x") * F.avg("y"))
            / F.when(
                F.sum(F.col("x") * F.col("x")) - n * F.avg("x") * F.avg("x") != 0,
                F.sum(F.col("x") * F.col("x")) - n * F.avg("x") * F.avg("x"),
            )
        ).alias("b"),
    )
    w = g.agg(
        *[
            F.max(F.when(F.col("grp") == v, F.col(c))).alias(f"{c}{v}")
            for c in ("mx", "my", "b", "n")
            for v in (1, 0)
        ]
    )
    gap = F.col("my1") - F.col("my0")
    endow = (F.col("mx1") - F.col("mx0")) * F.col("b0")
    coefe = gap - endow
    return w.select(
        F.col("n1").cast("bigint").alias("n_urgent"),
        F.col("n0").cast("bigint").alias("n_low"),
        F.round(gap, 4).alias("total_gap"),
        F.round(endow, 4).alias("endowment_effect"),
        F.round(coefe, 4).alias("coefficient_effect"),
        F.round(gap - endow - coefe, 4).alias("decomposition_gap"),
    )


# ---------------------------------------------------------------------------
# Palma ratio (top-10% / bottom-40% spend share)


@register(
    "q_palma_ratio",
    oracle=f"""
        WITH spend AS (
            SELECT o_custkey, CAST(sum({_OC}) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        r AS (
            SELECT cents,
                   row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS rnk,
                   count(*) OVER () AS n
            FROM spend
        ),
        shares AS (
            SELECT max(n) AS n,
                   sum(cents) AS total,
                   sum(CASE WHEN rnk <= CAST(floor(n * 0.4) AS BIGINT)
                            THEN cents ELSE 0 END) AS bottom40,
                   sum(CASE WHEN rnk > n - CAST(floor(n * 0.1) AS BIGINT)
                            THEN cents ELSE 0 END) AS top10
            FROM r
        )
        SELECT CAST(n AS BIGINT) AS n_cust,
               round(bottom40 * 1.0 / total, 4) AS bottom40_share,
               round(top10 * 1.0 / total, 4) AS top10_share,
               round(top10 * 1.0 / nullif(bottom40, 0), 4) AS palma
        FROM shares
    """,
    category="analytics",
)
def q_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma ratio of customer spend: top-10% share over bottom-40%
    share — the inequality headline number policy economists quote
    INSTEAD of Gini (Gini is insensitive exactly where distributions
    differ: the tails; the middle 50% is famously stable). Completes
    the five-lens inequality family (Gini, Theil, Atkinson, Hoover,
    Palma), all on the same customer-spend base.

    Customer-grain exact-cents aggregate, ONE stitched global rank
    (deterministic (cents, custkey) total order — never a
    single-partition row_number), then a single conditional-sum
    pass; cut ranks are exact integers on both engines."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.expr(_OC)).cast("bigint").alias("cents"))
    )
    r = stitched_running(
        spend, ["cents", "o_custkey"], rank_name="rnk", with_totals=True
    )
    # with_totals=True exposes the global row count as rnk_total
    b_cut = F.floor(F.col("rnk_total") * 0.4).cast("bigint")
    t_cut = F.col("rnk_total") - F.floor(F.col("rnk_total") * 0.1).cast("bigint")
    shares = r.agg(
        F.max("rnk_total").alias("n"),
        F.sum("cents").alias("total"),
        F.sum(F.when(F.col("rnk") <= b_cut, F.col("cents")).otherwise(0)).alias(
            "bottom40"
        ),
        F.sum(F.when(F.col("rnk") > t_cut, F.col("cents")).otherwise(0)).alias("top10"),
    )
    return shares.select(
        F.col("n").cast("bigint").alias("n_cust"),
        F.round(F.col("bottom40") * 1.0 / F.col("total"), 4).alias("bottom40_share"),
        F.round(F.col("top10") * 1.0 / F.col("total"), 4).alias("top10_share"),
        F.round(
            F.col("top10") * 1.0 / F.when(F.col("bottom40") != 0, F.col("bottom40")),
            4,
        ).alias("palma"),
    )


# ---------------------------------------------------------------------------
# Mood's median test


@register(
    "q_mood_median_test",
    oracle=f"""
        WITH x AS (
            SELECT r.r_name AS region, {_OC.replace("o_totalprice", "o.o_totalprice")} AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
        ),
        vg AS (SELECT cents, count(*) AS cnt FROM x GROUP BY cents),
        cum AS (
            SELECT cents,
                   sum(cnt) OVER (ORDER BY cents
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   (SELECT sum(cnt) FROM vg) AS n
            FROM vg
        ),
        med AS (SELECT min(cents) AS m FROM cum WHERE cum * 2 >= n),
        cells AS (
            SELECT region, count(*) AS ni,
                   sum(CASE WHEN cents > (SELECT m FROM med)
                            THEN 1 ELSE 0 END) AS ai
            FROM x GROUP BY region
        ),
        tot AS (SELECT sum(ni) AS n, sum(ai) AS a FROM cells)
        SELECT CAST((SELECT count(*) FROM cells) AS BIGINT) AS k,
               CAST(t.n AS BIGINT) AS n_total,
               round(sum(
                   (c.ai - c.ni * t.a * 1.0 / t.n)
                   * (c.ai - c.ni * t.a * 1.0 / t.n)
                   / nullif(c.ni * t.a * 1.0 / t.n, 0)
                 + (c.ni - c.ai - c.ni * (t.n - t.a) * 1.0 / t.n)
                   * (c.ni - c.ai - c.ni * (t.n - t.a) * 1.0 / t.n)
                   / nullif(c.ni * (t.n - t.a) * 1.0 / t.n, 0)), 4) AS chi_sq,
               CAST(CASE WHEN sum(
                   (c.ai - c.ni * t.a * 1.0 / t.n)
                   * (c.ai - c.ni * t.a * 1.0 / t.n)
                   / nullif(c.ni * t.a * 1.0 / t.n, 0)
                 + (c.ni - c.ai - c.ni * (t.n - t.a) * 1.0 / t.n)
                   * (c.ni - c.ai - c.ni * (t.n - t.a) * 1.0 / t.n)
                   / nullif(c.ni * (t.n - t.a) * 1.0 / t.n, 0)) > 9.4877
                    THEN 1 ELSE 0 END AS INT) AS reject_equal_medians
        FROM cells c, tot t GROUP BY t.n
    """,
    category="analytics",
)
def q_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five regions' order values: count
    each region's orders above the GLOBAL median and χ²-test the k×2
    above/below table against the pooled rate (df = k−1, crit 9.49) —
    the blunt-but-robust location test next to q_kruskal_wallis (rank
    sums; more power) and q_group_median_exact (the medians
    themselves): Mood's only asks "above the line or not", so it
    survives any monotone transform and wild outliers.

    The global median comes from a stitched cumulative over the
    VALUE grain (lower-median integer rule, exact on both engines),
    broadcast back; cells collapse in the same fact pass."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.expr(_OC).alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nr = (
        load_table(spark, sf_dir, "nation")
        .join(
            load_table(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", F.col("r_name").alias("region"))
    )
    x = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("region", "cents")
    )
    vg = x.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    cum = stitched_running(vg, ["cents"], running={"cum": "cnt"})
    tot_n = vg.agg(F.sum("cnt").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot_n))
        .filter(F.col("cum") * 2 >= F.col("n"))
        .agg(F.min("cents").alias("m"))
    )
    cells = (
        x.crossJoin(F.broadcast(med))
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("ni"),
            F.sum(F.when(F.col("cents") > F.col("m"), 1).otherwise(0)).alias("ai"),
        )
    )
    tot = cells.agg(F.sum("ni").alias("n"), F.sum("ai").alias("a"))
    _ea = F.col("ni") * F.col("a") * 1.0 / F.col("n")
    _eb = F.col("ni") * (F.col("n") - F.col("a")) * 1.0 / F.col("n")
    ea = F.when(_ea != 0, _ea)  # ANSI /0 guard: degenerate all-equal values
    eb = F.when(_eb != 0, _eb)
    term = (F.col("ai") - ea) * (F.col("ai") - ea) / ea + (
        F.col("ni") - F.col("ai") - eb
    ) * (F.col("ni") - F.col("ai") - eb) / eb
    agg = cells.crossJoin(F.broadcast(tot)).groupBy("n").agg(
        F.count(F.lit(1)).alias("k"), F.sum(term).alias("chi")
    )
    return agg.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n_total"),
        F.round("chi", 4).alias("chi_sq"),
        F.when(F.col("chi") > 9.4877, 1).otherwise(0).cast("int").alias(
            "reject_equal_medians"
        ),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa between two deterministic quality raters


@register(
    "q_cohen_kappa",
    oracle="""
        WITH m AS (
            SELECT avg(n_chars * 1.0) AS mean_chars,
                   avg(len(string_split(text, ' ')) * 1.0) AS mean_toks
            FROM documents
        ),
        rated AS (
            SELECT CASE WHEN d.n_chars >= m.mean_chars THEN 1 ELSE 0 END AS ra,
                   CASE WHEN len(string_split(d.text, ' ')) >= m.mean_toks
                        THEN 1 ELSE 0 END AS rb
            FROM documents d, m
        ),
        cells AS (
            SELECT count(*) AS n,
                   sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS agree,
                   sum(ra) AS a1, sum(rb) AS b1
            FROM rated
        )
        SELECT CAST(n AS BIGINT) AS n_docs,
               round(agree * 1.0 / n, 4) AS po,
               round((a1 * 1.0 / n) * (b1 * 1.0 / n)
                     + (1 - a1 * 1.0 / n) * (1 - b1 * 1.0 / n), 4) AS pe,
               round((agree * 1.0 / n
                      - ((a1 * 1.0 / n) * (b1 * 1.0 / n)
                         + (1 - a1 * 1.0 / n) * (1 - b1 * 1.0 / n)))
                     / nullif(1 - ((a1 * 1.0 / n) * (b1 * 1.0 / n)
                                   + (1 - a1 * 1.0 / n)
                                     * (1 - b1 * 1.0 / n)), 0), 4)
                   + 0.0 AS kappa
        FROM cells
    """,
    category="llm-pipeline",
)
def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ agreement between two deterministic document-quality
    raters — the char-length gate (≥ corpus mean chars) and the
    token-count gate (≥ corpus mean tokens): κ = (p_o − p_e)/(1 − p_e)
    discounts the agreement both gates reach by chance. The TWO-rater
    member next to q_fleiss_kappa (many raters); in a labeling
    pipeline this is the number that says whether a cheap gate can
    substitute for an expensive one.

    One pass for the two corpus means (1-row broadcast), one pass for
    the 2×2 agreement cells, closed-form κ — all combinable."""
    d = load_table(spark, sf_dir, "documents").select(
        "n_chars", F.size(F.split("text", " ")).alias("toks")
    )
    m = d.agg(
        F.avg(F.col("n_chars") * 1.0).alias("mean_chars"),
        F.avg(F.col("toks") * 1.0).alias("mean_toks"),
    )
    rated = d.crossJoin(F.broadcast(m)).select(
        F.when(F.col("n_chars") >= F.col("mean_chars"), 1).otherwise(0).alias("ra"),
        F.when(F.col("toks") >= F.col("mean_toks"), 1).otherwise(0).alias("rb"),
    )
    cells = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0)).alias("agree"),
        F.sum("ra").alias("a1"),
        F.sum("rb").alias("b1"),
    )
    n = F.col("n")
    po = F.col("agree") * 1.0 / n
    pa, pb = F.col("a1") * 1.0 / n, F.col("b1") * 1.0 / n
    pe = pa * pb + (1 - pa) * (1 - pb)
    return cells.select(
        n.cast("bigint").alias("n_docs"),
        F.round(po, 4).alias("po"),
        F.round(pe, 4).alias("pe"),
        # guard: trivially-agreeing raters give pe == 1 (ANSI /0)
        F.round((po - pe) / F.when(1 - pe != 0, 1 - pe), 4).alias("kappa"),
    )
