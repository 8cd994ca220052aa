"""Round-12 surface growth: distribution diagnostics (Jarque–Bera
normality, zero-inflation score), heteroscedastic inference (Welch's
ANOVA), stratified contingency (Cochran–Mantel–Haenszel), unit-root /
stationarity econometrics (Dickey–Fuller, KPSS, Lo–MacKinlay variance
ratio), robust location (Hodges–Lehmann), and two LLM-corpus tools:
Dunning log-likelihood keyness and adjacent-doc ROUGE overlap.

Design rules (same as the rest of the graded surface):
- integer-exact cores wherever possible (counts, cents via the
  repo-standard ``CAST(round(x * 100) AS BIGINT)``); floats only
  through one identical expression tree on both engines, then
  ``round(·, 4)``;
- SIGNED-ZERO discipline (SURVEY §2 trap 10): every rounded oracle
  float that can be mathematically zero carries ``+ 0.0``;
- every denominator guarded on BOTH engines (F.when / nullif) so the
  0-row / 1-row degenerate fixtures return defined, equal output;
- deterministic total orders under every window and top-k (round
  before rank, unique-key tie-breaks); empty-partition frames only
  over calendar-bounded aggregates, whitelisted with their grain in
  tests/test_window_audit.py;
- scale-shaped plans: facts collapse to day/term/stratum grain in ONE
  combinable pass before any window or closed-form algebra; global
  scalars travel as 1-row broadcast cross joins; candidate pairs come
  from equi-joins (adjacent doc ids), never all-pairs fact grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.operators.partitioning import materialize
from builder_spark.registry import register

#: repo-standard exact-cents encoding (identical text on both engines)
_OC = "CAST(round(o_totalprice * 100) AS BIGINT)"

#: shared day-grain exact-cents revenue rollup (the round-11 helper,
#: duplicated here so the lazy registry never imports round11 for it)
_DAILY_REV_SQL = """
        daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev
            FROM orders GROUP BY 1
        )"""


def _daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, rev) — exact-integer daily revenue cents."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(F.expr(_OC)).cast("bigint").alias("rev"))
    )


# ---------------------------------------------------------------------------
# Jarque–Bera normality test


@register(
    "q_jarque_bera",
    oracle="""
        WITH m AS (
            SELECT o_orderpriority AS grp, count(*) AS n,
                   sum(ln(o_totalprice)) AS s1,
                   sum(ln(o_totalprice) * ln(o_totalprice)) AS s2,
                   sum(ln(o_totalprice) * ln(o_totalprice) * ln(o_totalprice)) AS s3,
                   sum(ln(o_totalprice) * ln(o_totalprice) * ln(o_totalprice)
                       * ln(o_totalprice)) AS s4
            FROM orders GROUP BY o_orderpriority
        ),
        c AS (
            SELECT grp, n, s1 / n AS mu,
                   s2 / n - (s1 / n) * (s1 / n) AS m2,
                   s3 / n - 3 * (s1 / n) * (s2 / n)
                       + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                   s4 / n - 4 * (s1 / n) * (s3 / n)
                       + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                       - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
            FROM m
        ),
        g AS (
            SELECT grp, n,
                   m3 / nullif(sqrt(m2 * m2 * m2), 0) AS skw,
                   m4 / nullif(m2 * m2, 0) - 3 AS kur
            FROM c
        )
        SELECT grp, CAST(n AS BIGINT) AS n_orders,
               round(skw, 4) + 0.0 AS skewness,
               round(kur, 4) + 0.0 AS ex_kurtosis,
               round(n / 6.0 * (skw * skw + kur * kur / 4), 4) AS jb_stat,
               CAST(CASE WHEN n / 6.0 * (skw * skw + kur * kur / 4) > 5.991465
                    THEN 1 ELSE 0 END AS INT) AS reject_normal
        FROM g
    """,
    category="analytics",
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test of log order value per priority:
    JB = n/6·(g₁² + g₂²/4) against χ²₂ (5.9915), with the skewness and
    excess-kurtosis inputs — the moment-based normality screen that
    q_moments reports descriptively and q_anderson_darling answers for
    the exponential family.

    One combinable raw-moment pass (n, Σx…Σx⁴) to 5 priority rows;
    central moments/JB are closed-form algebra on those rows, the
    identical expression tree on both engines. Guards: a single-order
    or constant group zeroes m2 (nullif/F.when on both); signed-zero
    `+ 0.0` on skew/kurtosis (noise around 0 for symmetric data)."""
    x = F.log(F.col("o_totalprice"))
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("s1"),
            F.sum(x * x).alias("s2"),
            F.sum(x * x * x).alias("s3"),
            F.sum(x * x * x * x).alias("s4"),
        )
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    g = m.select(
        "grp",
        "n",
        (m3 / F.when(F.sqrt(m2 * m2 * m2) != 0, F.sqrt(m2 * m2 * m2))).alias("skw"),
        (m4 / F.when(m2 * m2 != 0, m2 * m2) - 3).alias("kur"),
    )
    jb = n / 6.0 * (F.col("skw") * F.col("skw") + F.col("kur") * F.col("kur") / 4)
    return g.select(
        "grp",
        n.cast("bigint").alias("n_orders"),
        F.round("skw", 4).alias("skewness"),
        F.round("kur", 4).alias("ex_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        F.when(jb > 5.991465, 1).otherwise(0).cast("int").alias("reject_normal"),
    )


# ---------------------------------------------------------------------------
# Welch's heteroscedastic one-way ANOVA


@register(
    "q_welchs_anova",
    oracle="""
        WITH seg AS (
            SELECT c.c_mktsegment AS seg, count(*) AS n,
                   sum(o.o_totalprice) AS s,
                   sum(o.o_totalprice * o.o_totalprice) AS ss
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        ),
        v AS (
            SELECT seg, n, s / n AS m,
                   n / nullif((ss - s * s / n) / nullif(n - 1, 0), 0) AS w
            FROM seg
        ),
        t AS (
            SELECT count(*) AS k, sum(n) AS n_total,
                   sum(w) AS bigw, sum(w * m) AS swm
            FROM v
        ),
        parts AS (
            SELECT t.k, t.n_total,
                   sum(v.w * (v.m - t.swm / nullif(t.bigw, 0))
                           * (v.m - t.swm / nullif(t.bigw, 0))) AS num,
                   sum((1 - v.w / nullif(t.bigw, 0))
                       * (1 - v.w / nullif(t.bigw, 0))
                       / nullif(v.n - 1, 0)) AS lam
            FROM v, t GROUP BY t.k, t.n_total
        )
        SELECT CAST(k AS BIGINT) AS n_groups,
               CAST(n_total AS BIGINT) AS n_total,
               round((num / nullif(k - 1, 0))
                     / nullif(1 + 2.0 * (k - 2) / (k * k - 1.0) * lam, 0), 4)
                   AS welch_f,
               round((k * k - 1.0) / nullif(3.0 * lam, 0), 4) AS df2,
               CAST(CASE WHEN (num / nullif(k - 1, 0))
                              / nullif(1 + 2.0 * (k - 2) / (k * k - 1.0) * lam, 0)
                              > 2.3719
                    THEN 1 ELSE 0 END AS INT) AS reject_equal_means
        FROM parts
    """,
    category="analytics",
)
def q_welchs_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA across market segments —
    the variance-unequal replacement for q_anova_f (which q_levene_test
    says you need): precision weights w_g = n_g/s²_g, F* =
    [Σw(m−m̄_w)²/(k−1)] / [1 + 2(k−2)/(k²−1)·Λ] with Λ =
    Σ(1−w/W)²/(n_g−1), plus the Welch–Satterthwaite df₂ = (k²−1)/(3Λ).
    Critical value 2.3719 (F₄,∞ at 5%, k=5 segments).

    One conditional-agg pass to 5 segment rows; the weighted closed
    form runs on those rows with the 1-row totals cross-joined (GROUP
    BY totals so an empty corpus yields 0 rows on BOTH engines). Every
    denominator guarded: single-order groups (n=1), zero variance,
    single group (k=1)."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("ss"),
        )
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / F.when(
        F.col("n") != 1, F.col("n") - 1
    )
    v = seg.select(
        "seg",
        "n",
        (F.col("s") / F.col("n")).alias("m"),
        (F.col("n") / F.when(var != 0, var)).alias("w"),
    )
    t = v.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("w").alias("bigw"),
        F.sum(F.col("w") * F.col("m")).alias("swm"),
    )
    mw = F.col("swm") / F.when(F.col("bigw") != 0, F.col("bigw"))
    parts = (
        v.crossJoin(F.broadcast(t))
        .groupBy("k", "n_total")
        .agg(
            F.sum(F.col("w") * (F.col("m") - mw) * (F.col("m") - mw)).alias("num"),
            F.sum(
                (1 - F.col("w") / F.when(F.col("bigw") != 0, F.col("bigw")))
                * (1 - F.col("w") / F.when(F.col("bigw") != 0, F.col("bigw")))
                / F.when(F.col("n") != 1, F.col("n") - 1)
            ).alias("lam"),
        )
    )
    k = F.col("k")
    den = 1 + 2.0 * (k - 2) / (k * k - 1.0) * F.col("lam")
    welch_f = (F.col("num") / F.when(k != 1, k - 1)) / F.when(den != 0, den)
    return parts.select(
        k.cast("bigint").alias("n_groups"),
        F.col("n_total").cast("bigint").alias("n_total"),
        F.round(welch_f, 4).alias("welch_f"),
        F.round(
            (k * k - 1.0)
            / F.when(3.0 * F.col("lam") != 0, 3.0 * F.col("lam")),
            4,
        ).alias("df2"),
        F.when(welch_f > 2.3719, 1).otherwise(0).cast("int").alias(
            "reject_equal_means"
        ),
    )


# ---------------------------------------------------------------------------
# Cochran–Mantel–Haenszel stratified 2x2 test


@register(
    "q_cmh_test",
    oracle="""
        WITH strata AS (
            SELECT n.n_name,
                   count(*) AS n,
                   CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                                  AND o.o_totalprice > 150000
                            THEN 1 ELSE 0 END) AS BIGINT) AS a,
                   CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                   CAST(sum(CASE WHEN o.o_totalprice > 150000
                            THEN 1 ELSE 0 END) AS BIGINT) AS c1
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        ),
        terms AS (
            SELECT count(*) AS n_strata,
                   sum(a - r1 * 1.0 * c1 / n) AS dev,
                   sum(r1 * 1.0 * (n - r1) * c1 * (n - c1)
                       / nullif(n * 1.0 * n * (n - 1), 0)) AS var_sum,
                   sum((a * 1.0 * (n - r1 - c1 + a)) / n) AS s_ad,
                   sum(((r1 - a) * 1.0 * (c1 - a)) / n) AS s_bc
            FROM strata
        )
        SELECT CAST(n_strata AS BIGINT) AS n_strata,
               round((abs(dev) - 0.5) * (abs(dev) - 0.5)
                     / nullif(var_sum, 0), 4) AS cmh_chi2,
               round(s_ad / nullif(s_bc, 0), 4) AS mh_odds_ratio,
               CAST(CASE WHEN (abs(dev) - 0.5) * (abs(dev) - 0.5)
                              / nullif(var_sum, 0) > 3.8415
                    THEN 1 ELSE 0 END AS INT) AS reject_independence
        FROM terms
    """,
    category="analytics",
)
def q_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel test of (high priority × high value)
    association stratified by nation — the confounder-adjusted 2×2
    test that q_odds_ratio (single table) and q_simpson_check (which
    demonstrates WHY stratification matters) set up: continuity-
    corrected χ²_CMH = (|Σ(a−E a)|−½)²/ΣVar(a) against χ²₁ (3.8415)
    plus the Mantel–Haenszel pooled odds ratio Σ(ad/n)/Σ(bc/n).

    One conditional-agg pass to 25 nation strata (exact int64 cells);
    the test is a second 1-row aggregate over those. Overflow
    discipline: every 3+-factor count product widens with `* 1.0`
    before the third multiply (r1(n−r1)c1(n−c1) tops int64 past
    ~sf3). Degenerate guards: single-row strata (n−1), empty
    var_sum/bc sums (nullif / F.when on both engines)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nt = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    exposed = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    outcome = F.col("o_totalprice") > 150000
    strata = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nt), c.c_nationkey == nt.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(exposed & outcome, 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(exposed, 1).otherwise(0)).cast("bigint").alias("r1"),
            F.sum(F.when(outcome, 1).otherwise(0)).cast("bigint").alias("c1"),
        )
    )
    n, a, r1, c1 = F.col("n"), F.col("a"), F.col("r1"), F.col("c1")
    var_term = (
        r1 * 1.0 * (n - r1) * c1 * (n - c1)
        / F.when(n * 1.0 * n * (n - 1) != 0, n * 1.0 * n * (n - 1))
    )
    terms = strata.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(a - r1 * 1.0 * c1 / n).alias("dev"),
        F.sum(var_term).alias("var_sum"),
        F.sum((a * 1.0 * (n - r1 - c1 + a)) / n).alias("s_ad"),
        F.sum(((r1 - a) * 1.0 * (c1 - a)) / n).alias("s_bc"),
    )
    chi2 = (
        (F.abs(F.col("dev")) - 0.5)
        * (F.abs(F.col("dev")) - 0.5)
        / F.when(F.col("var_sum") != 0, F.col("var_sum"))
    )
    return terms.select(
        F.col("n_strata").cast("bigint").alias("n_strata"),
        F.round(chi2, 4).alias("cmh_chi2"),
        F.round(
            F.col("s_ad") / F.when(F.col("s_bc") != 0, F.col("s_bc")), 4
        ).alias("mh_odds_ratio"),
        F.when(chi2 > 3.8415, 1).otherwise(0).cast("int").alias(
            "reject_independence"
        ),
    )


# ---------------------------------------------------------------------------
# Dickey–Fuller unit-root test (lag-0, with intercept)


@register(
    "q_adf_test",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        y AS (
            SELECT ln(rev / 100.0) AS y,
                   lag(ln(rev / 100.0)) OVER (ORDER BY d) AS x
            FROM daily
        ),
        pts AS (SELECT x, y - x AS z FROM y WHERE x IS NOT NULL),
        m AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(z) AS sz,
                   sum(x * x) AS sxx, sum(x * z) AS sxz, sum(z * z) AS szz
            FROM pts
        ),
        fit AS (
            SELECT n,
                   (sxz - sx * sz / nullif(n, 0))
                       / nullif(sxx - sx * sx / nullif(n, 0), 0) AS beta,
                   (szz - sz * sz / nullif(n, 0))
                       - (sxz - sx * sz / nullif(n, 0))
                         * ((sxz - sx * sz / nullif(n, 0))
                            / nullif(sxx - sx * sx / nullif(n, 0), 0)) AS sse,
                   sxx - sx * sx / nullif(n, 0) AS sxx_c
            FROM m
        )
        SELECT CAST(n AS BIGINT) AS n_obs,
               round(beta, 4) + 0.0 AS beta,
               round(beta / nullif(sqrt((sse / nullif(n - 2, 0))
                                        / nullif(sxx_c, 0)), 0), 4) + 0.0
                   AS df_stat,
               CAST(CASE WHEN beta / nullif(sqrt((sse / nullif(n - 2, 0))
                                                 / nullif(sxx_c, 0)), 0) < -2.8621
                    THEN 1 ELSE 0 END AS INT) AS unit_root_rejected
        FROM fit
    """,
    category="analytics",
)
def q_adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root test on daily log revenue: regress
    Δy_t on y_{{t−1}} (with intercept), DF statistic = β̂/se(β̂) against
    the −2.8621 5% critical value — is the series mean-reverting or a
    random walk? The question q_durbin_watson (residual serial
    correlation) and q_kpss_test (the mirrored stationarity null)
    bracket from either side.

    One combinable fact pass to the calendar-bounded day table (exact
    integer cents); one whitelisted ordered-window lag over that
    table; the OLS closed form is a 1-row aggregate of five sufficient
    statistics — the identical guarded expression tree on both
    engines (n≤2, constant series ⇒ NULL, not raise)."""
    daily = _daily_rev(spark, sf_dir)
    yv = F.log(F.col("rev") / 100.0)
    w = Window.orderBy("d")
    y = daily.select(yv.alias("y"), F.lag(yv).over(w).alias("x"))
    pts = y.filter(F.col("x").isNotNull()).select(
        "x", (F.col("y") - F.col("x")).alias("z")
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    n = F.col("n")
    nn = F.when(n != 0, n)
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / nn
    sxz_c = F.col("sxz") - F.col("sx") * F.col("sz") / nn
    szz_c = F.col("szz") - F.col("sz") * F.col("sz") / nn
    beta = sxz_c / F.when(sxx_c != 0, sxx_c)
    sse = szz_c - sxz_c * beta
    se = F.sqrt((sse / F.when(n != 2, n - 2)) / F.when(sxx_c != 0, sxx_c))
    df_stat = beta / F.when(se != 0, se)
    return m.select(
        n.cast("bigint").alias("n_obs"),
        F.round(beta, 4).alias("beta"),
        F.round(df_stat, 4).alias("df_stat"),
        F.when(df_stat < -2.8621, 1).otherwise(0).cast("int").alias(
            "unit_root_rejected"
        ),
    )


# ---------------------------------------------------------------------------
# KPSS level-stationarity test


@register(
    "q_kpss_test",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        m AS (SELECT count(*) AS n, avg(ln(rev / 100.0)) AS mu FROM daily),
        e AS (
            SELECT ln(rev / 100.0) - m.mu AS e,
                   sum(ln(rev / 100.0) - m.mu)
                       OVER (ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS s
            FROM daily, m
        ),
        agg AS (
            SELECT count(*) AS n, sum(s * s) AS ssq, sum(e * e) AS see
            FROM e
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(see / nullif(n * 1.0, 0), 4) AS sigma2,
               round((ssq / nullif(n * 1.0 * n, 0))
                     / nullif(see / nullif(n * 1.0, 0), 0), 4) AS kpss_stat,
               CAST(CASE WHEN (ssq / nullif(n * 1.0 * n, 0))
                              / nullif(see / nullif(n * 1.0, 0), 0) > 0.463
                    THEN 1 ELSE 0 END AS INT) AS reject_stationary
        FROM agg
    """,
    category="analytics",
)
def q_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test on daily log revenue (lag-0
    long-run variance for determinism): η = Σ_t S_t²/(n²σ̂²) with
    S_t the partial sums of demeaned values, against the 0.463 5%
    critical value — the null-reversed complement of q_adf_test
    (ADF null = unit root; KPSS null = stationary; agreement in
    opposite directions is the textbook joint read).

    Day-grain rollup (exact cents) → 1-row mean broadcast → ONE
    whitelisted ordered-window cumulative sum over the calendar-
    bounded day table → 1-row closed form. Constant series (σ̂²=0)
    degrades to NULL identically on both engines."""
    daily = _daily_rev(spark, sf_dir)
    yv = F.log(F.col("rev") / 100.0)
    m = daily.agg(F.count(F.lit(1)).alias("n0"), F.avg(yv).alias("mu"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = daily.crossJoin(F.broadcast(m)).select(
        (yv - F.col("mu")).alias("e"),
        F.sum(yv - F.col("mu")).over(w).alias("s"),
    )
    agg = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s") * F.col("s")).alias("ssq"),
        F.sum(F.col("e") * F.col("e")).alias("see"),
    )
    n = F.col("n")
    sigma2 = F.col("see") / F.when(n * 1.0 != 0, n * 1.0)
    stat = (F.col("ssq") / F.when(n * 1.0 * n != 0, n * 1.0 * n)) / F.when(
        sigma2 != 0, sigma2
    )
    return agg.select(
        n.cast("bigint").alias("n_days"),
        F.round(sigma2, 4).alias("sigma2"),
        F.round(stat, 4).alias("kpss_stat"),
        F.when(stat > 0.463, 1).otherwise(0).cast("int").alias("reject_stationary"),
    )


# ---------------------------------------------------------------------------
# Lo–MacKinlay variance-ratio test (q = 5)


@register(
    "q_variance_ratio",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        lags AS (
            SELECT ln(rev / 100.0) AS y,
                   lag(ln(rev / 100.0), 1) OVER (ORDER BY d) AS y1,
                   lag(ln(rev / 100.0), 5) OVER (ORDER BY d) AS y5
            FROM daily
        ),
        r AS (
            SELECT count(y - y1) AS nr, avg(y - y1) AS mu,
                   count(y - y5) AS nq
            FROM lags
        ),
        s AS (
            SELECT r.nr, r.nq, r.mu,
                   sum(CASE WHEN l.y1 IS NULL THEN 0
                            ELSE (l.y - l.y1 - r.mu) * (l.y - l.y1 - r.mu) END)
                       AS ss1,
                   sum(CASE WHEN l.y5 IS NULL THEN 0
                            ELSE (l.y - l.y5 - 5 * r.mu) * (l.y - l.y5 - 5 * r.mu)
                       END) AS ss5
            FROM lags l, r GROUP BY r.nr, r.nq, r.mu
        )
        SELECT CAST(nr AS BIGINT) AS n_returns,
               round(mu, 4) + 0.0 AS mean_return,
               round((ss5 / nullif(nq * 1.0, 0))
                     / nullif(5.0 * ss1 / nullif(nr * 1.0, 0), 0), 4)
                   AS variance_ratio,
               CAST(CASE WHEN (ss5 / nullif(nq * 1.0, 0))
                              / nullif(5.0 * ss1 / nullif(nr * 1.0, 0), 0) > 1
                    THEN 1 ELSE 0 END AS INT) AS momentum
        FROM s
    """,
    category="analytics",
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio VR(5) on daily log-revenue returns:
    Var of overlapping 5-day returns over 5× the 1-day return variance
    — a random walk sits at 1, mean reversion below, momentum above.
    The third leg of the unit-root triptych (q_adf_test regression
    form, q_kpss_test partial-sum form, VR the direct variance form);
    also pairs with q_hurst_exponent's R/S take.

    One day-grain rollup; both horizons come from ONE whitelisted
    ordered-window pass (lag 1 + lag 5); the ratio is a 1-row closed
    form over centered sums (GROUP BY the 1-row moment keys so an
    empty series yields 0 rows on both engines). Guards: short series
    (nq=0) and constant series (ss1=0) degrade to NULL identically."""
    daily = _daily_rev(spark, sf_dir)
    yv = F.log(F.col("rev") / 100.0)
    w = Window.orderBy("d")
    lags = daily.select(
        yv.alias("y"),
        F.lag(yv, 1).over(w).alias("y1"),
        F.lag(yv, 5).over(w).alias("y5"),
    )
    r = lags.agg(
        F.count(F.col("y") - F.col("y1")).alias("nr"),
        F.avg(F.col("y") - F.col("y1")).alias("mu"),
        F.count(F.col("y") - F.col("y5")).alias("nq"),
    )
    s = (
        lags.crossJoin(F.broadcast(r))
        .groupBy("nr", "nq", "mu")
        .agg(
            F.sum(
                F.when(F.col("y1").isNull(), 0.0).otherwise(
                    (F.col("y") - F.col("y1") - F.col("mu"))
                    * (F.col("y") - F.col("y1") - F.col("mu"))
                )
            ).alias("ss1"),
            F.sum(
                F.when(F.col("y5").isNull(), 0.0).otherwise(
                    (F.col("y") - F.col("y5") - 5 * F.col("mu"))
                    * (F.col("y") - F.col("y5") - 5 * F.col("mu"))
                )
            ).alias("ss5"),
        )
    )
    var1 = 5.0 * F.col("ss1") / F.when(F.col("nr") * 1.0 != 0, F.col("nr") * 1.0)
    vr = (
        F.col("ss5") / F.when(F.col("nq") * 1.0 != 0, F.col("nq") * 1.0)
    ) / F.when(var1 != 0, var1)
    return s.select(
        F.col("nr").cast("bigint").alias("n_returns"),
        F.round("mu", 4).alias("mean_return"),
        F.round(vr, 4).alias("variance_ratio"),
        F.when(vr > 1, 1).otherwise(0).cast("int").alias("momentum"),
    )


# ---------------------------------------------------------------------------
# Poisson zero-inflation screen


@register(
    "q_zero_inflation",
    oracle="""
        WITH span AS (
            SELECT date_diff('day', CAST(min(ts) AS DATE),
                             CAST(max(ts) AS DATE)) + 1 AS d
            FROM events
        ),
        pu AS (
            SELECT user_id, count(*) AS e,
                   count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS act
            FROM events GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(max(s.d) AS BIGINT) AS span_days,
               CAST(sum(s.d - p.act) AS BIGINT) AS zeros_obs,
               round(sum(s.d * exp(-(p.e * 1.0 / s.d))), 4) AS zeros_expected,
               round((sum(s.d - p.act) - sum(s.d * exp(-(p.e * 1.0 / s.d))))
                     / nullif(sqrt(sum(s.d * exp(-(p.e * 1.0 / s.d))
                                       * (1 - exp(-(p.e * 1.0 / s.d))))), 0), 4)
                   + 0.0 AS z_score,
               CAST(CASE WHEN (sum(s.d - p.act)
                               - sum(s.d * exp(-(p.e * 1.0 / s.d))))
                              / nullif(sqrt(sum(s.d * exp(-(p.e * 1.0 / s.d))
                                                * (1 - exp(-(p.e * 1.0 / s.d))))),
                                       0) > 1.6449
                    THEN 1 ELSE 0 END AS INT) AS zero_inflated
        FROM pu p, span s
    """,
    category="analytics",
)
def q_zero_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-inflation screen on per-user daily activity: under each
    user's fitted Poisson rate λ_u = events/span, a day is silent with
    probability e^{−λ_u}; compare the corpus-wide OBSERVED silent-day
    count against Σ span·e^{−λ_u} with the binomial variance, z > 1.64
    ⇒ more zeros than Poisson traffic explains (churn spells, bots
    with schedules). The count-data companion to q_nb_overdispersion
    (variance side) and q_fano_factor.

    One combinable pass to user grain (events + distinct-day counts),
    the global span as a 1-row broadcast, and a single closed-form
    aggregate — exact integer zero-day counts, one identical float
    tree. Guards: empty corpus (0 user rows → NULL stats, counts 0 on
    both engines), V=0 (nullif/F.when)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.col("ts")).alias("day")
    )
    span = ev.agg(
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("d")
    )
    pu = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("e"), F.countDistinct("day").alias("act")
    )
    p0 = F.exp(-(F.col("e") * 1.0 / F.col("d")))
    z_obs = F.sum(F.col("d") - F.col("act"))
    e_exp = F.sum(F.col("d") * p0)
    v = F.sum(F.col("d") * p0 * (1 - p0))
    z = (z_obs - e_exp) / F.when(F.sqrt(v) != 0, F.sqrt(v))
    return (
        pu.crossJoin(F.broadcast(span))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.max("d").cast("bigint").alias("span_days"),
            z_obs.cast("bigint").alias("zeros_obs"),
            F.round(e_exp, 4).alias("zeros_expected"),
            F.round(z, 4).alias("z_score"),
            F.when(z > 1.6449, 1).otherwise(0).cast("int").alias("zero_inflated"),
        )
    )


# ---------------------------------------------------------------------------
# Hodges–Lehmann robust location estimator


@register(
    "q_hodges_lehmann",
    oracle=f"""
        WITH {_DAILY_REV_SQL},
        tot AS (SELECT count(*) AS nd FROM daily),
        w AS (
            SELECT (a.rev + b.rev) / 200.0 AS v, a.d AS da, b.d AS db
            FROM daily a JOIN daily b ON a.d <= b.d
        ),
        wr AS (
            SELECT v, row_number() OVER (ORDER BY v, da, db) AS rk FROM w
        ),
        dr AS (
            SELECT rev / 100.0 AS v, row_number() OVER (ORDER BY rev, d) AS rk
            FROM daily
        ),
        hl AS (
            SELECT avg(wr.v) AS loc FROM wr, tot
            WHERE wr.rk IN ((tot.nd * (tot.nd + 1) // 2 + 1) // 2,
                            (tot.nd * (tot.nd + 1) // 2 + 2) // 2)
        ),
        dm AS (
            SELECT avg(dr.v) AS med FROM dr, tot
            WHERE dr.rk IN ((tot.nd + 1) // 2, (tot.nd + 2) // 2)
        )
        SELECT CAST(t.nd AS BIGINT) AS n_days,
               CAST(t.nd * (t.nd + 1) // 2 AS BIGINT) AS n_walsh,
               round(hl.loc, 4) AS hl_location,
               round(dm.med, 4) AS daily_median
        FROM tot t, hl, dm
    """,
    category="order-stats",
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann robust location of daily revenue — the exact
    median of all n(n+1)/2 Walsh averages (yᵢ+yⱼ)/2, i ≤ j — the
    estimator behind the Wilcoxon signed-rank CI (q_wilcoxon_signed_
    rank, q_median_ci): 29% breakdown, near-Gaussian efficiency,
    reported next to the plain daily median it robustifies.

    Walsh averages live at day-PAIR grain (calendar-bounded²:
    ~400 days → 80k pairs regardless of fact size), built by a
    bounded self-join over the day rollup; both medians come from
    exact integer-cents sums ranked with unique (v, da, db) total
    order — bit-identical halves on both engines, no percentile
    interpolation ambiguity. Empty series: 1 row of NULL medians
    with nd = 0, identically."""
    from builder_spark.operators.partitioning import stitched_running

    # materialize the (tiny, calendar-bounded) day rollup ONCE — four
    # consumers (tot, both Walsh sides, the plain-median rank) would
    # otherwise re-plan the fact scan four times
    daily = materialize(_daily_rev(spark, sf_dir))
    tot = daily.agg(F.count(F.lit(1)).alias("nd"))
    # spread the pair generation: the nested-loop join otherwise
    # inherits the day rollup's single post-AQE partition and one task
    # emits all ~3M Walsh pairs; the pair table is calendar-bounded, so
    # defaultParallelism is the right fan-out at any fact scale
    a = daily.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = daily.alias("b")
    w = a.join(b, F.col("a.d") <= F.col("b.d")).select(
        ((F.col("a.rev") + F.col("b.rev")) / 200.0).alias("v"),
    )
    # ranks are only ever consumed through v, and the (da, db)
    # tiebreak permutes ranks WITHIN equal-v runs only — so a stitched
    # rank ordered by v alone selects the identical values without the
    # single-partition ~3M-row sort the r12 form paid
    wr = stitched_running(w, ["v"], rank_name="rk")
    dr = daily.select(
        (F.col("rev") / 100.0).alias("v"),
        F.row_number().over(Window.orderBy("rev", "d")).alias("rk"),
    )
    hl = (
        wr.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("rk") == F.expr("(nd * (nd + 1) div 2 + 1) div 2"))
            | (F.col("rk") == F.expr("(nd * (nd + 1) div 2 + 2) div 2"))
        )
        .agg(F.avg("v").alias("loc"))
    )
    dm = (
        dr.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("rk") == F.expr("(nd + 1) div 2"))
            | (F.col("rk") == F.expr("(nd + 2) div 2"))
        )
        .agg(F.avg("v").alias("med"))
    )
    return (
        tot.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(dm))
        .select(
            F.col("nd").cast("bigint").alias("n_days"),
            F.expr("nd * (nd + 1) div 2").cast("bigint").alias("n_walsh"),
            F.round("loc", 4).alias("hl_location"),
            F.round("med", 4).alias("daily_median"),
        )
    )


# ---------------------------------------------------------------------------
# Dunning log-likelihood keyness (G²)


@register(
    "q_dunning_llr",
    oracle="""
        WITH tok AS (
            SELECT doc_id % 2 AS side, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        cnt AS (
            SELECT w,
                   CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                   CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
            FROM tok GROUP BY w
        ),
        tots AS (
            SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
            FROM cnt
        ),
        g AS (
            SELECT c.w, c.a, c.b,
                   2 * (c.a * ln(c.a / ((c.a + c.b) * 1.0 * t.na / (t.na + t.nb)))
                        + c.b * ln(c.b / ((c.a + c.b) * 1.0 * t.nb
                                          / (t.na + t.nb)))) AS g2,
                   CASE WHEN c.a * 1.0 * t.nb > c.b * 1.0 * t.na
                        THEN 1 ELSE 0 END AS enriched
            FROM cnt c, tots t
            WHERE c.a >= 5 AND c.b >= 5
        )
        SELECT w AS term, a AS cnt_even, b AS cnt_odd,
               round(g2, 4) + 0.0 AS g2,
               CAST(enriched AS INT) AS enriched_even
        FROM g
        ORDER BY round(g2, 4) DESC, term ASC
        LIMIT 20
    """,
    category="llm-text",
)
def q_dunning_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood keyness: the 20 terms whose frequency
    differs most between the even- and odd-doc_id halves of the corpus
    by G² = 2·Σ O·ln(O/E) — the small-count-safe keyness statistic
    (Dunning 1993) that q_log_odds_monroe regularizes Bayesianly and
    q_pmi_bigrams ignores counts for. The self-split makes it a
    corpus-homogeneity audit: high G² terms mark contamination or
    duplication clumps.

    Token stream collapses to vocab grain in ONE conditional-agg pass;
    the 1-row side totals broadcast; top-20 via round-then-rank global
    TakeOrdered (no window). min-count 5 on both sides keeps every ln
    argument positive on both engines; G² ≥ 0 by Gibbs with the `+
    0.0` signed-zero guard for the float dust below it. Count products
    widen with `* 1.0` (a·N_b tops int64 past ~100 B tokens)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        (F.col("doc_id") % 2).alias("side"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    cnt = tok.groupBy("w").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("bigint").alias("b"),
    )
    tots = cnt.agg(
        F.sum("a").cast("bigint").alias("na"), F.sum("b").cast("bigint").alias("nb")
    )
    a, b, na, nb = F.col("a"), F.col("b"), F.col("na"), F.col("nb")
    g2 = 2 * (
        a * F.log(a / ((a + b) * 1.0 * na / (na + nb)))
        + b * F.log(b / ((a + b) * 1.0 * nb / (na + nb)))
    )
    g = (
        cnt.crossJoin(F.broadcast(tots))
        .filter((a >= 5) & (b >= 5))
        .select(
            F.col("w").alias("term"),
            a.alias("cnt_even"),
            b.alias("cnt_odd"),
            F.round(g2, 4).alias("g2"),
            F.when(a * 1.0 * nb > b * 1.0 * na, 1)
            .otherwise(0)
            .cast("int")
            .alias("enriched_even"),
        )
    )
    return g.orderBy(F.col("g2").desc(), F.col("term").asc()).limit(20)


# ---------------------------------------------------------------------------
# adjacent-doc ROUGE overlap


# reads a pre-projected `_toks` column (split once per row): inlining
# split(text) here re-evaluates it per transform element (no CSE
# inside HOF lambdas)
_BIGRAMS_SPARK = (
    "CASE WHEN size(_toks) > 1 THEN transform("
    "sequence(1, size(_toks) - 1),"
    " i -> concat(element_at(_toks, i), ' ',"
    " element_at(_toks, i + 1)))"
    " ELSE array() END"
)

_BIGRAMS_DUCK = (
    "list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1),"
    " i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])"
)


@register(
    "q_rouge_adjacent",
    oracle=f"""
        WITH tc AS (
            SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY doc_id, w
        ),
        lens AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM tc GROUP BY doc_id
        ),
        ov AS (
            SELECT a.doc_id AS doc_a, CAST(sum(least(a.c, b.c)) AS BIGINT) AS o1
            FROM tc a JOIN tc b ON b.doc_id = a.doc_id + 1 AND b.w = a.w
            GROUP BY a.doc_id
        ),
        bc AS (
            SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest({_BIGRAMS_DUCK}) AS w FROM documents)
            GROUP BY doc_id, w
        ),
        blens AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM bc GROUP BY doc_id
        ),
        bov AS (
            SELECT a.doc_id AS doc_a, CAST(sum(least(a.c, b.c)) AS BIGINT) AS o2
            FROM bc a JOIN bc b ON b.doc_id = a.doc_id + 1 AND b.w = a.w
            GROUP BY a.doc_id
        ),
        pairs AS (
            SELECT la.doc_id AS doc_a, lb.doc_id AS doc_b,
                   la.len AS len_a, lb.len AS len_b,
                   coalesce(ov.o1, 0) AS o1,
                   coalesce(ba.len, 0) AS blen_a, coalesce(bb.len, 0) AS blen_b,
                   coalesce(bov.o2, 0) AS o2
            FROM lens la
            JOIN lens lb ON lb.doc_id = la.doc_id + 1
            LEFT JOIN ov ON ov.doc_a = la.doc_id
            LEFT JOIN bov ON bov.doc_a = la.doc_id
            LEFT JOIN blens ba ON ba.doc_id = la.doc_id
            LEFT JOIN blens bb ON bb.doc_id = lb.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(o1 AS BIGINT) AS overlap1,
               round(2.0 * o1 / (len_a + len_b), 4) AS rouge1_f,
               round(2.0 * o2 / nullif(blen_a + blen_b, 0), 4) AS rouge2_f
        FROM pairs
        ORDER BY round(2.0 * o1 / (len_a + len_b), 4) DESC, doc_a ASC
        LIMIT 50
    """,
    category="llm-dedup",
)
def q_rouge_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 F₁ between each doc and its doc_id successor —
    the summarization-eval overlap metric turned near-dup audit: with
    clipped counts, F₁ = 2·Σ min(c_a, c_b)/(len_a+len_b), so the whole
    statistic is EXACT integer arithmetic (no float noise anywhere
    before the single rounded division). Top-50 most-overlapping
    adjacent pairs; complements q_ngram_jaccard (set-based) with the
    multiplicity-aware ROUGE form.

    Docs collapse to (doc, term, count) grain once per n-gram order;
    candidate pairs come from the doc_id+1 EQUI-join (never all
    pairs); bigram arrays guard the Spark sequence(1,0) descent with
    an explicit size>1 CASE (SCALE.md round-11 trap). Single-token
    docs have no bigrams: blen 0 ⇒ rouge2_f NULL on both engines."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lens = tc.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("len"))
    bc = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
        .select("doc_id", F.explode(F.expr(_BIGRAMS_SPARK)).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    blens = bc.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("len"))

    def overlap(grams: DataFrame, out: str) -> DataFrame:
        a, b = grams.alias("a"), grams.alias("b")
        return (
            a.join(
                b,
                (F.col("b.doc_id") == F.col("a.doc_id") + 1)
                & (F.col("b.w") == F.col("a.w")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"))
            .agg(F.sum(F.least("a.c", "b.c")).cast("bigint").alias(out))
        )

    ov, bov = overlap(tc, "o1"), overlap(bc, "o2")
    la, lb = lens.alias("la"), lens.alias("lb")
    pairs = (
        la.join(lb, F.col("lb.doc_id") == F.col("la.doc_id") + 1)
        .join(ov, ov.doc_a == F.col("la.doc_id"), "left")
        .join(bov.withColumnRenamed("doc_a", "bdoc_a"),
              F.col("bdoc_a") == F.col("la.doc_id"), "left")
        .join(blens.withColumnRenamed("doc_id", "ba_id")
                   .withColumnRenamed("len", "blen_a"),
              F.col("ba_id") == F.col("la.doc_id"), "left")
        .join(blens.withColumnRenamed("doc_id", "bb_id")
                   .withColumnRenamed("len", "blen_b"),
              F.col("bb_id") == F.col("lb.doc_id"), "left")
        .select(
            F.col("la.doc_id").alias("doc_a"),
            F.col("lb.doc_id").alias("doc_b"),
            F.coalesce("o1", F.lit(0)).cast("bigint").alias("o1"),
            (F.col("la.len") + F.col("lb.len")).alias("lsum"),
            (F.coalesce("blen_a", F.lit(0)) + F.coalesce("blen_b", F.lit(0))).alias(
                "bsum"
            ),
            F.coalesce("o2", F.lit(0)).cast("bigint").alias("o2"),
        )
    )
    r1 = F.round(2.0 * F.col("o1") / F.col("lsum"), 4)
    r2 = F.round(
        2.0 * F.col("o2") / F.when(F.col("bsum") != 0, F.col("bsum")), 4
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.col("o1").alias("overlap1"),
            r1.alias("rouge1_f"),
            r2.alias("rouge2_f"),
        )
        .orderBy(F.col("rouge1_f").desc(), F.col("doc_a").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Brown–Forsythe robust variance homogeneity


@register(
    "q_brown_forsythe",
    oracle="""
        WITH med AS (
            SELECT o_orderpriority AS grp,
                   quantile_cont(o_totalprice, 0.5) AS med
            FROM orders GROUP BY o_orderpriority
        ),
        z AS (
            SELECT o.o_orderpriority AS grp,
                   abs(o.o_totalprice - m.med) AS z
            FROM orders o JOIN med m ON o.o_orderpriority = m.grp
        ),
        g AS (
            SELECT grp, count(*) AS n, sum(z) AS sz, sum(z * z) AS szz
            FROM z GROUP BY grp
        ),
        t AS (
            SELECT count(*) AS k, sum(n) AS n_tot,
                   sum(sz) / sum(n) AS zbar
            FROM g
        ),
        parts AS (
            -- GROUP BY the totals so an empty corpus yields 0 rows on
            -- BOTH engines (g × t cross join is empty when g is)
            SELECT t.k, t.n_tot,
                   sum(g.n * (g.sz / g.n - t.zbar)
                           * (g.sz / g.n - t.zbar)) AS num,
                   sum(g.szz - g.sz * g.sz / g.n) AS den
            FROM g, t GROUP BY t.k, t.n_tot
        )
        SELECT CAST(k AS BIGINT) AS n_groups,
               CAST(n_tot AS BIGINT) AS n_total,
               round(((n_tot - k) * 1.0 / nullif(k - 1, 0))
                     * (num / nullif(den, 0)), 4) AS bf_stat,
               CAST(CASE WHEN ((n_tot - k) * 1.0 / nullif(k - 1, 0))
                              * (num / nullif(den, 0)) > 2.3719
                    THEN 1 ELSE 0 END AS INT) AS reject_homogeneity
        FROM parts
    """,
    category="analytics",
)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test across order
    priorities — Levene's W on MEDIAN-centered deviations z = |x−x̃_g|
    (q_levene_test is the mean-centered variant; the median form is
    the robust one recommended for skewed data like prices).

    Per-group medians come from the stitched rank-selection quantile
    (no buffering percentile, the q_group_median_exact path) and join
    back as a 5-row broadcast; the z moments are ONE combinable pass;
    W is closed-form algebra on 5 group rows (the oracle's scalar
    subqueries = Spark's 1-row broadcast totals). Guards: k=1 and
    zero within-group spread degrade to NULL identically."""
    from builder_spark.operators.quantiles import quantile_cont_stitched

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"), "o_totalprice"
    )
    med = quantile_cont_stitched(o, "o_totalprice", {"med": 0.5}, ["grp"]).select(
        "grp", "med"
    )
    z = o.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("o_totalprice") - F.col("med")).alias("z")
    )
    # materialize the 5-row moment table ONCE: the grand mean z̄ must be
    # aggregated separately (nested aggregates are illegal), and without
    # the checkpoint the quantile+join lineage would be planned twice
    g = materialize(z.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    ))
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_tot"),
        (F.sum("sz") / F.sum("n")).alias("zbar"),
    )
    k = F.col("k")
    parts = (
        g.crossJoin(F.broadcast(t))
        .groupBy("k", "n_tot")
        .agg(
            F.sum(
                F.col("n")
                * (F.col("sz") / F.col("n") - F.col("zbar"))
                * (F.col("sz") / F.col("n") - F.col("zbar"))
            ).alias("num"),
            F.sum(
                F.col("szz") - F.col("sz") * F.col("sz") / F.col("n")
            ).alias("den"),
        )
    )
    w = (
        (F.col("n_tot") - k) * 1.0 / F.when(k != 1, k - 1)
    ) * (F.col("num") / F.when(F.col("den") != 0, F.col("den")))
    return parts.select(
        k.cast("bigint").alias("n_groups"),
        F.col("n_tot").cast("bigint").alias("n_total"),
        F.round(w, 4).alias("bf_stat"),
        F.when(w > 2.3719, 1).otherwise(0).cast("int").alias("reject_homogeneity"),
    )


# ---------------------------------------------------------------------------
# TOST equivalence test


@register(
    "q_tost_equivalence",
    oracle="""
        WITH m AS (
            SELECT c.c_mktsegment AS seg, count(*) AS n,
                   sum(o.o_totalprice) AS s,
                   sum(o.o_totalprice * o.o_totalprice) AS ss
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
            GROUP BY c.c_mktsegment
        ),
        w AS (
            SELECT max(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
                   max(CASE WHEN seg = 'BUILDING' THEN s END) AS s1,
                   max(CASE WHEN seg = 'BUILDING' THEN ss END) AS ss1,
                   max(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2,
                   max(CASE WHEN seg = 'MACHINERY' THEN s END) AS s2,
                   max(CASE WHEN seg = 'MACHINERY' THEN ss END) AS ss2,
                   sum(s) / sum(n) AS grand
            FROM m
        ),
        t AS (
            SELECT n1, n2,
                   s1 / n1 - s2 / n2 AS diff,
                   0.02 * grand AS delta,
                   sqrt(((ss1 - s1 * s1 / n1) / nullif(n1 - 1, 0)) / n1
                        + ((ss2 - s2 * s2 / n2) / nullif(n2 - 1, 0)) / n2) AS se
            FROM w
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               round(diff, 4) + 0.0 AS mean_diff,
               round(delta, 4) AS delta,
               round((diff + delta) / nullif(se, 0), 4) + 0.0 AS t_lower,
               round((diff - delta) / nullif(se, 0), 4) + 0.0 AS t_upper,
               CAST(CASE WHEN (diff + delta) / nullif(se, 0) > 1.6449
                          AND (diff - delta) / nullif(se, 0) < -1.6449
                    THEN 1 ELSE 0 END AS INT) AS equivalent
        FROM t
    """,
    category="analytics",
)
def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST (two one-sided tests) equivalence of mean order value,
    BUILDING vs MACHINERY, margin δ = 2% of the pooled mean: both
    t = (Δ±δ)/se_Welch must clear ±z₀.₀₅ (1.6449) to DECLARE the
    segments equivalent — the opposite question from q_welch_ttest's
    difference test, and the one A/B platforms actually need for
    "no regression" launches (q_abtest_proportions' missing mirror).

    One conditional-agg pass to 2 segment rows pivoted into a single
    row (max-CASE, the q_welch_ttest idiom); the TOST pair is the
    identical guarded closed form on both engines. A missing segment
    or single-order segment degrades to NULL; the flag compares the
    UN-rounded statistics."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("ss"),
        )
    )

    def side(tag: str, col: str):
        return F.max(F.when(F.col("seg") == tag, F.col(col)))

    w = m.agg(
        side("BUILDING", "n").alias("n1"),
        side("BUILDING", "s").alias("s1"),
        side("BUILDING", "ss").alias("ss1"),
        side("MACHINERY", "n").alias("n2"),
        side("MACHINERY", "s").alias("s2"),
        side("MACHINERY", "ss").alias("ss2"),
        (F.sum("s") / F.sum("n")).alias("grand"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    diff = F.col("s1") / n1 - F.col("s2") / n2
    delta = 0.02 * F.col("grand")
    v1 = (F.col("ss1") - F.col("s1") * F.col("s1") / n1) / F.when(n1 != 1, n1 - 1)
    v2 = (F.col("ss2") - F.col("s2") * F.col("s2") / n2) / F.when(n2 != 1, n2 - 1)
    se = F.sqrt(v1 / n1 + v2 / n2)
    t_lo = (diff + delta) / F.when(se != 0, se)
    t_up = (diff - delta) / F.when(se != 0, se)
    return w.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round(diff, 4).alias("mean_diff"),
        F.round(delta, 4).alias("delta"),
        F.round(t_lo, 4).alias("t_lower"),
        F.round(t_up, 4).alias("t_upper"),
        F.when((t_lo > 1.6449) & (t_up < -1.6449), 1)
        .otherwise(0)
        .cast("int")
        .alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# two-cohort Poisson rate test


@register(
    "q_poisson_etest",
    oracle="""
        WITH pu AS (
            SELECT user_id % 2 AS cohort, count(*) AS e
            FROM events GROUP BY user_id
        ),
        c AS (
            SELECT CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u1,
                   CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u2,
                   CAST(sum(CASE WHEN cohort = 0 THEN e ELSE 0 END) AS BIGINT) AS x1,
                   CAST(sum(CASE WHEN cohort = 1 THEN e ELSE 0 END) AS BIGINT) AS x2
            FROM pu
        )
        SELECT u1, u2, x1, x2,
               round(x1 * 1.0 / nullif(u1, 0), 4) AS rate1,
               round(x2 * 1.0 / nullif(u2, 0), 4) AS rate2,
               round((x1 * 1.0 / nullif(u1, 0) - x2 * 1.0 / nullif(u2, 0))
                     / nullif(sqrt(x1 * 1.0 / nullif(u1 * 1.0 * u1, 0)
                                   + x2 * 1.0 / nullif(u2 * 1.0 * u2, 0)), 0), 4)
                   + 0.0 AS z_stat,
               CAST(CASE WHEN abs((x1 * 1.0 / nullif(u1, 0)
                                   - x2 * 1.0 / nullif(u2, 0))
                                  / nullif(sqrt(x1 * 1.0 / nullif(u1 * 1.0 * u1, 0)
                                                + x2 * 1.0
                                                  / nullif(u2 * 1.0 * u2, 0)), 0))
                              > 1.96
                    THEN 1 ELSE 0 END AS INT) AS reject_equal_rates
        FROM c
    """,
    category="analytics",
)
def q_poisson_etest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-cohort Poisson rate comparison (Wald z on per-user event
    rates, cohorts = user_id parity): z = (λ̂₁−λ̂₂)/√(X₁/u₁² + X₂/u₂²)
    — the count-data analogue of q_abtest_proportions (binomial) and
    the hypothesis-test companion to q_srm_check's ratio audit. A
    parity split should NEVER reject: a significant z flags
    instrumentation bias, the same logic as q_sample_bias_check.

    One pass to user grain, one conditional aggregate to a single
    4-integer row (exact int64), the closed form on that row with
    every denominator guarded and count products widened `* 1.0`
    (u² tops int64 past ~3e9 users)."""
    pu = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("e"))
        .select((F.col("user_id") % 2).alias("cohort"), "e")
    )
    c = pu.agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).cast("bigint").alias("u1"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).cast("bigint").alias("u2"),
        F.sum(F.when(F.col("cohort") == 0, F.col("e")).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.sum(F.when(F.col("cohort") == 1, F.col("e")).otherwise(0))
        .cast("bigint")
        .alias("x2"),
    )
    u1, u2, x1, x2 = F.col("u1"), F.col("u2"), F.col("x1"), F.col("x2")
    r1 = x1 * 1.0 / F.when(u1 != 0, u1)
    r2 = x2 * 1.0 / F.when(u2 != 0, u2)
    se = F.sqrt(
        x1 * 1.0 / F.when(u1 * 1.0 * u1 != 0, u1 * 1.0 * u1)
        + x2 * 1.0 / F.when(u2 * 1.0 * u2 != 0, u2 * 1.0 * u2)
    )
    z = (r1 - r2) / F.when(se != 0, se)
    return c.select(
        "u1",
        "u2",
        "x1",
        "x2",
        F.round(r1, 4).alias("rate1"),
        F.round(r2, 4).alias("rate2"),
        F.round(z, 4).alias("z_stat"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias(
            "reject_equal_rates"
        ),
    )


# ---------------------------------------------------------------------------
# two-sample Cramér–von Mises test


@register(
    "q_cvm_test",
    oracle="""
        WITH x AS (
            SELECT o_totalprice AS price, o_orderkey AS okey,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS samp
            FROM orders
        ),
        rk AS (
            SELECT samp,
                   row_number() OVER (ORDER BY price, okey) AS r,
                   row_number() OVER (PARTITION BY samp
                                      ORDER BY price, okey) AS i
            FROM x
        ),
        agg AS (
            SELECT CAST(sum(CASE WHEN samp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN samp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m,
                   sum(CASE WHEN samp = 1
                            THEN (r - i) * 1.0 * (r - i) ELSE 0 END) AS sa,
                   sum(CASE WHEN samp = 0
                            THEN (r - i) * 1.0 * (r - i) ELSE 0 END) AS sb
            FROM rk
        )
        SELECT n AS n_urgent, m AS n_other,
               round((n * sa + m * sb)
                     / nullif(n * 1.0 * m * (n + m), 0)
                     - (4.0 * m * n - 1) / nullif(6.0 * (n + m), 0), 4)
                   AS cvm_t,
               CAST(CASE WHEN (n * sa + m * sb)
                              / nullif(n * 1.0 * m * (n + m), 0)
                              - (4.0 * m * n - 1) / nullif(6.0 * (n + m), 0)
                              > 0.4614
                    THEN 1 ELSE 0 END AS INT) AS reject_same_dist
        FROM agg
    """,
    category="analytics",
)
def q_cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises test (urgent/high priority order
    values vs the rest): T = [nΣ_A(r−i)² + mΣ_B(s−j)²]/(nm·N) −
    (4mn−1)/(6N) over pooled vs within-sample ranks — the INTEGRAL
    distribution-difference test next to q_ks_test's supremum form
    (CvM weights the whole CDF gap, KS only its peak) and
    q_mann_whitney_u's location form. Critical 0.4614 (5%).

    Both rank columns come from the STITCHED machinery at fact grain
    (one global total order, one per-sample restart via
    partition_cols — no single-partition window anywhere); ranks are
    exact integers on a (price, orderkey) total order, so the only
    float work is the final closed form. (r−i)² sums as widened
    doubles (the exact int sum would pass 2^53); noise ~1e-9 on an
    O(1) statistic. Guards: one-sample-empty (nm=0) degrades NULL."""
    from builder_spark.operators.partitioning import stitched_running

    x = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("okey"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("samp"),
    )
    d1 = stitched_running(x, ["price", "okey"], rank_name="r")
    d2 = stitched_running(
        d1, ["price", "okey"], rank_name="i", partition_cols=["samp"]
    )
    diff2 = (F.col("r") - F.col("i")) * 1.0 * (F.col("r") - F.col("i"))
    agg = d2.agg(
        F.sum(F.when(F.col("samp") == 1, 1).otherwise(0)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("samp") == 0, 1).otherwise(0)).cast("bigint").alias("m"),
        F.sum(F.when(F.col("samp") == 1, diff2).otherwise(0.0)).alias("sa"),
        F.sum(F.when(F.col("samp") == 0, diff2).otherwise(0.0)).alias("sb"),
    )
    n, m = F.col("n"), F.col("m")
    nm = n * 1.0 * m * (n + m)
    t = (n * F.col("sa") + m * F.col("sb")) / F.when(nm != 0, nm) - (
        4.0 * m * n - 1
    ) / F.when(6.0 * (n + m) != 0, 6.0 * (n + m))
    return agg.select(
        n.alias("n_urgent"),
        m.alias("n_other"),
        F.round(t, 4).alias("cvm_t"),
        F.when(t > 0.4614, 1).otherwise(0).cast("int").alias("reject_same_dist"),
    )


# ---------------------------------------------------------------------------
# X̄–S control chart summary


@register(
    "q_xbar_s_chart",
    oracle="""
        WITH day AS (
            SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
                   sum(o_totalprice) AS s,
                   sum(o_totalprice * o_totalprice) AS ss
            FROM orders GROUP BY 1
            HAVING count(*) >= 2
        ),
        pool AS (
            SELECT CAST(count(*) AS BIGINT) AS n_days,
                   sum(s) / sum(n) AS cl,
                   sqrt(sum(ss - s * s / n) / nullif(sum(n - 1), 0)) AS sig
            FROM day
        )
        SELECT p.n_days,
               round(p.cl, 4) AS grand_mean,
               round(p.sig, 4) AS sigma_hat,
               CAST(sum(CASE WHEN abs(d.s / d.n - p.cl)
                                  > 3 * p.sig / sqrt(d.n) THEN 1 ELSE 0 END)
                    AS BIGINT) AS xbar_breaches,
               CAST(sum(CASE WHEN sqrt((d.ss - d.s * d.s / d.n) / (d.n - 1))
                                  > p.sig * (4.0 * (d.n - 1) / (4 * d.n - 3)
                                             + 3 * sqrt(1 - (4.0 * (d.n - 1)
                                                             / (4 * d.n - 3))
                                                            * (4.0 * (d.n - 1)
                                                               / (4 * d.n - 3))))
                    THEN 1 ELSE 0 END) AS BIGINT) AS s_breaches
        FROM day d, pool p
        GROUP BY p.n_days, p.cl, p.sig
    """,
    category="analytics",
)
def q_xbar_s_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X̄–S control chart over daily order-value subgroups (variable
    subgroup size, c₄ ≈ 4(n−1)/(4n−3) bias correction): pooled σ̂ from
    within-day sums of squares, per-day 3σ/√n limits on the mean and
    the c₄-corrected upper limit on the subgroup SD, reporting the
    out-of-control day counts — the continuous-variable SPC chart
    next to q_p_chart (proportions) and q_cpk_process_capability
    (capability vs specs).

    One combinable pass to the calendar-bounded day table (n, Σx, Σx²
    per day); the pooled constants are a 1-row aggregate re-joined by
    GROUP BY (empty corpus ⇒ 0 rows on BOTH engines); breach flags
    compare identical unrounded expression trees. Days with n=1 are
    excluded on both engines (no within-day SD)."""
    o = load_table(spark, sf_dir, "orders")
    day = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("ss"),
        )
        .filter(F.col("n") >= 2)
    )
    pool = day.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.sum("s") / F.sum("n")).alias("cl"),
        F.sqrt(
            F.sum(F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / F.when(F.sum(F.col("n") - 1) != 0, F.sum(F.col("n") - 1))
        ).alias("sig"),
    )
    c4 = 4.0 * (F.col("n") - 1) / (4 * F.col("n") - 3)
    day_sd = F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    )
    xbar_breach = F.when(
        F.abs(F.col("s") / F.col("n") - F.col("cl"))
        > 3 * F.col("sig") / F.sqrt(F.col("n")),
        1,
    ).otherwise(0)
    s_breach = F.when(
        day_sd > F.col("sig") * (c4 + 3 * F.sqrt(1 - c4 * c4)), 1
    ).otherwise(0)
    return (
        day.crossJoin(F.broadcast(pool))
        .groupBy("n_days", "cl", "sig")
        .agg(
            F.sum(xbar_breach).cast("bigint").alias("xbar_breaches"),
            F.sum(s_breach).cast("bigint").alias("s_breaches"),
        )
        .select(
            "n_days",
            F.round("cl", 4).alias("grand_mean"),
            F.round("sig", 4).alias("sigma_hat"),
            "xbar_breaches",
            "s_breaches",
        )
    )


# ---------------------------------------------------------------------------
# normal tolerance interval (Howe / Wilson–Hilferty)


@register(
    "q_tolerance_interval",
    oracle="""
        WITH m AS (
            SELECT c.c_mktsegment AS seg, count(*) AS n,
                   sum(ln(o.o_totalprice)) AS s,
                   sum(ln(o.o_totalprice) * ln(o.o_totalprice)) AS ss
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        ),
        f AS (
            SELECT seg, n, s / n AS mu,
                   sqrt((ss - s * s / n) / nullif(n - 1, 0)) AS sd,
                   (n - 1) * (1 - 2.0 / (9 * (n - 1))
                              - 1.644854 * sqrt(2.0 / (9 * (n - 1))))
                   * (1 - 2.0 / (9 * (n - 1))
                      - 1.644854 * sqrt(2.0 / (9 * (n - 1))))
                   * (1 - 2.0 / (9 * (n - 1))
                      - 1.644854 * sqrt(2.0 / (9 * (n - 1)))) AS chi2_lo
            FROM m WHERE n >= 2
        )
        SELECT seg, CAST(n AS BIGINT) AS n_orders,
               round(mu, 4) AS mean_log,
               round(sd, 4) AS sd_log,
               round(1.959964 * sqrt((n - 1) * (1.0 + 1.0 / n)
                                     / nullif(chi2_lo, 0)), 4) AS k_factor,
               round(mu - 1.959964 * sqrt((n - 1) * (1.0 + 1.0 / n)
                                          / nullif(chi2_lo, 0)) * sd, 4) AS lo,
               round(mu + 1.959964 * sqrt((n - 1) * (1.0 + 1.0 / n)
                                          / nullif(chi2_lo, 0)) * sd, 4) AS hi
        FROM f
    """,
    category="analytics",
)
def q_tolerance_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided normal TOLERANCE interval (95% coverage at 95%
    confidence) of log order value per segment — Howe's k-factor with
    the Wilson–Hilferty closed-form χ² quantile, so the whole interval
    is pure arithmetic: k = z₀.₉₇₅·√(ν(1+1/n)/χ²_{ν,0.05}). A
    tolerance interval bounds the POPULATION share (95% of orders),
    which q_conformal_interval bounds empirically and a confidence
    interval (q_wilson_interval) does not bound at all — the three
    interval kinds the reference's reporting stack keeps distinct.

    One raw-moment pass to 5 segment rows; the k-factor algebra is
    the identical expression tree on both engines; n=1 segments are
    excluded identically (no SD)."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = F.log("o_totalprice")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("s"),
            F.sum(x * x).alias("ss"),
        )
        .filter(F.col("n") >= 2)
    )
    n = F.col("n")
    mu = F.col("s") / n
    sd = F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / n) / F.when(n != 1, n - 1)
    )
    wh = 1 - 2.0 / (9 * (n - 1)) - 1.644854 * F.sqrt(2.0 / (9 * (n - 1)))
    chi2_lo = (n - 1) * wh * wh * wh
    k = 1.959964 * F.sqrt(
        (n - 1) * (1.0 + 1.0 / n) / F.when(chi2_lo != 0, chi2_lo)
    )
    return m.select(
        "seg",
        n.cast("bigint").alias("n_orders"),
        F.round(mu, 4).alias("mean_log"),
        F.round(sd, 4).alias("sd_log"),
        F.round(k, 4).alias("k_factor"),
        F.round(mu - k * sd, 4).alias("lo"),
        F.round(mu + k * sd, 4).alias("hi"),
    )


# ---------------------------------------------------------------------------
# paired t-test (nation revenue, first vs second half of the date range)


@register(
    "q_paired_ttest",
    oracle="""
        WITH dn AS (
            SELECT o_custkey,
                   date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                       AS day_n,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        mid AS (SELECT (min(day_n) + max(day_n)) // 2 AS md FROM dn),
        halves AS (
            SELECT n.n_name,
                   CAST(sum(CASE WHEN d.day_n < m.md THEN d.cents ELSE 0 END)
                        AS BIGINT) AS c1,
                   CAST(sum(CASE WHEN d.day_n >= m.md THEN d.cents ELSE 0 END)
                        AS BIGINT) AS c2
            FROM dn d
            JOIN customer c ON d.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            CROSS JOIN mid m
            GROUP BY n.n_name
        ),
        diffs AS (
            SELECT CASE WHEN c1 > 0 AND c2 > 0
                        THEN ln(c2 * 1.0 / c1) END AS dv
            FROM halves
        ),
        t AS (
            SELECT count(dv) AS np, sum(dv) AS sd1, sum(dv * dv) AS sd2
            FROM diffs
        )
        SELECT CAST(np AS BIGINT) AS n_pairs,
               round(sd1 / nullif(np, 0), 4) + 0.0 AS mean_log_ratio,
               round((sd1 / nullif(np, 0))
                     / nullif(sqrt(((sd2 - sd1 * sd1 / np)
                                    / nullif(np - 1, 0)) / np), 0), 4)
                   + 0.0 AS t_stat,
               CAST(CASE WHEN abs((sd1 / nullif(np, 0))
                                  / nullif(sqrt(((sd2 - sd1 * sd1 / np)
                                                 / nullif(np - 1, 0)) / np), 0))
                              > 2.0639
                    THEN 1 ELSE 0 END AS INT) AS reject_no_change
        FROM t
    """,
    category="analytics",
)
def q_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test of per-nation revenue, first vs second half of
    the date range (pairing on nation removes cross-nation size
    variance — the within-subject design q_welch_ttest's independent
    form wastes): d = ln(rev₂/rev₁), t = d̄/(s_d/√25) against t₂₄
    (2.0639). Complements q_diff_in_diff (two-factor) and q_cuped
    (covariate adjustment) in the experiment-analysis family.

    Date midpoint = integer day-number arithmetic (no timezone
    surface); revenue halves are exact int64 cents per nation from
    ONE conditional pass with the 1-row midpoint broadcast; the
    t closed form runs on 25 log-ratios. Nations missing a half are
    excluded identically (c1,c2 > 0); zero-variance diffs degrade
    NULL on both engines."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01")).alias(
            "day_n"
        ),
        F.expr(_OC).alias("cents"),
    )
    mid = o.agg(F.expr("(min(day_n) + max(day_n)) div 2").alias("md"))
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nt = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    halves = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nt), c.c_nationkey == nt.n_nationkey)
        .crossJoin(F.broadcast(mid))
        .groupBy("n_name")
        .agg(
            F.sum(F.when(F.col("day_n") < F.col("md"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("day_n") >= F.col("md"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    dv = F.when(
        (F.col("c1") > 0) & (F.col("c2") > 0),
        F.log(F.col("c2") * 1.0 / F.col("c1")),
    )
    t = halves.select(dv.alias("dv")).agg(
        F.count("dv").alias("np"),
        F.sum("dv").alias("sd1"),
        F.sum(F.col("dv") * F.col("dv")).alias("sd2"),
    )
    np_, sd1, sd2 = F.col("np"), F.col("sd1"), F.col("sd2")
    mean_d = sd1 / F.when(np_ != 0, np_)
    se = F.sqrt(
        ((sd2 - sd1 * sd1 / np_) / F.when(np_ != 1, np_ - 1)) / np_
    )
    tstat = mean_d / F.when(se != 0, se)
    return t.select(
        np_.cast("bigint").alias("n_pairs"),
        F.round(mean_d, 4).alias("mean_log_ratio"),
        F.round(tstat, 4).alias("t_stat"),
        F.when(F.abs(tstat) > 2.0639, 1).otherwise(0).cast("int").alias(
            "reject_no_change"
        ),
    )


# ---------------------------------------------------------------------------
# method-comparison trio: Bland–Altman, Lin's CCC, Deming regression
# (two length "measurements" per document: chars/5 heuristic vs
#  whitespace token count — the classic chars-per-token calibration)

_X_CHARS5 = "length(text) / 5.0"
_Y_WSTOK = "CAST(len(string_split(text, ' ')) AS DOUBLE)"


@register(
    "q_bland_altman",
    oracle=f"""
        WITH d AS (
            SELECT {_X_CHARS5} AS x, {_Y_WSTOK} AS y FROM documents
        ),
        m AS (
            SELECT count(*) AS n, avg(x - y) AS md,
                   sqrt((sum((x - y) * (x - y))
                         - sum(x - y) * sum(x - y) / count(*))
                        / nullif(count(*) - 1, 0)) AS sd
            FROM d
        )
        SELECT CAST(m.n AS BIGINT) AS n_docs,
               round(m.md, 4) + 0.0 AS bias,
               round(m.sd, 4) AS sd_diff,
               round(m.md - 1.96 * m.sd, 4) + 0.0 AS loa_lo,
               round(m.md + 1.96 * m.sd, 4) + 0.0 AS loa_hi,
               round(sum(CASE WHEN d.x - d.y < m.md - 1.96 * m.sd
                               OR d.x - d.y > m.md + 1.96 * m.sd
                         THEN 1 ELSE 0 END) * 1.0 / m.n, 4) AS pct_outside
        FROM d, m
        GROUP BY m.n, m.md, m.sd
    """,
    category="llm-text",
)
def q_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland–Altman agreement analysis between the chars/5 token-count
    heuristic and the true whitespace token count: bias (mean
    difference), limits of agreement ±1.96·SD, and the share of
    documents falling outside them — the method-comparison readout
    that correlation (which q_lin_ccc penalizes properly and plain
    Pearson does not) famously cannot provide.

    One moment pass to a 1-row stats table, then one counting pass
    with those stats broadcast (GROUP BY the stats so an empty corpus
    yields 0 rows on BOTH engines). The outside-count compares raw
    differences against identically-derived limits — drift ~1e-12 vs
    an O(100) spread."""
    d = load_table(spark, sf_dir, "documents").select(
        (F.length("text") / 5.0).alias("x"),
        F.size(F.split("text", " ")).cast("double").alias("y"),
    )
    diff = F.col("x") - F.col("y")
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(diff).alias("md"),
        F.sqrt(
            (F.sum(diff * diff) - F.sum(diff) * F.sum(diff) / F.count(F.lit(1)))
            / F.when(F.count(F.lit(1)) != 1, F.count(F.lit(1)) - 1)
        ).alias("sd"),
    )
    lo = F.col("md") - 1.96 * F.col("sd")
    hi = F.col("md") + 1.96 * F.col("sd")
    return (
        d.crossJoin(F.broadcast(m))
        .groupBy("n", "md", "sd")
        .agg(
            F.round(
                F.sum(F.when((diff < lo) | (diff > hi), 1).otherwise(0))
                * 1.0
                / F.col("n"),
                4,
            ).alias("pct_outside")
        )
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.round("md", 4).alias("bias"),
            F.round("sd", 4).alias("sd_diff"),
            F.round(lo, 4).alias("loa_lo"),
            F.round(hi, 4).alias("loa_hi"),
            "pct_outside",
        )
    )


@register(
    "q_lin_ccc",
    oracle=f"""
        WITH d AS (
            SELECT {_X_CHARS5} AS x, {_Y_WSTOK} AS y FROM documents
        ),
        m AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
            FROM d
        )
        SELECT CAST(n AS BIGINT) AS n_docs,
               round((sxy - sx * sy / n)
                     / nullif(sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
                              0), 4) + 0.0 AS pearson_r,
               round(2 * (sxy - sx * sy / n)
                     / nullif((sxx - sx * sx / n) + (syy - sy * sy / n)
                              + n * (sx / n - sy / n) * (sx / n - sy / n),
                              0), 4) + 0.0 AS lin_ccc,
               round((sx / n - sy / n), 4) + 0.0 AS location_shift
        FROM m
    """,
    category="llm-text",
)
def q_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient between the chars/5
    heuristic and true whitespace token counts — Pearson r measures
    LINEAR association; CCC additionally penalizes the location and
    scale shifts that make a biased proxy useless as a drop-in
    (ρ_c = 2s_xy / (s_x² + s_y² + (x̄−ȳ)²)). Reported next to r so the
    gap IS the calibration error q_bland_altman localizes.

    One combinable moment pass, 1-row closed form, identical guarded
    expression trees; degenerate constant columns give NULL on both
    engines."""
    d = load_table(spark, sf_dir, "documents").select(
        (F.length("text") / 5.0).alias("x"),
        F.size(F.split("text", " ")).cast("double").alias("y"),
    )
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    dm = F.col("sx") / n - F.col("sy") / n
    return m.select(
        n.cast("bigint").alias("n_docs"),
        F.round(
            cxy / F.when(F.sqrt(cxx * cyy) != 0, F.sqrt(cxx * cyy)), 4
        ).alias("pearson_r"),
        F.round(
            2 * cxy / F.when(cxx + cyy + n * dm * dm != 0, cxx + cyy + n * dm * dm),
            4,
        ).alias("lin_ccc"),
        F.round(dm, 4).alias("location_shift"),
    )


@register(
    "q_deming_regression",
    oracle=f"""
        WITH d AS (
            SELECT {_X_CHARS5} AS x, {_Y_WSTOK} AS y FROM documents
        ),
        m AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
            FROM d
        ),
        c AS (
            SELECT n,
                   sxy - sx * sy / n AS cxy,
                   sxx - sx * sx / n AS cxx,
                   syy - sy * sy / n AS cyy,
                   sx / n AS mx, sy / n AS my
            FROM m
        )
        SELECT CAST(n AS BIGINT) AS n_docs,
               round((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                       + 4 * cxy * cxy))
                     / nullif(2 * cxy, 0), 4) + 0.0 AS deming_slope,
               round(my - (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                            + 4 * cxy * cxy))
                          / nullif(2 * cxy, 0) * mx, 4) + 0.0
                   AS deming_intercept,
               round(cxy / nullif(cxx, 0), 4) + 0.0 AS ols_slope
        FROM c
    """,
    category="llm-text",
)
def q_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (errors-in-variables, λ=1) regression of whitespace
    token count on the chars/5 heuristic — when BOTH measurements
    carry error, OLS attenuates the slope toward zero; Deming's
    closed form β = (s_yy−s_xx+√((s_yy−s_xx)²+4s_xy²))/(2s_xy) is the
    orthogonal fit. OLS slope reported alongside: the gap between the
    two IS the attenuation bias. Completes the regression family
    (q_regression OLS, q_theil_sen robust, q_huber_irls M-estimate,
    q_iv_2sls instrumental).

    One combinable moment pass, 1-row closed form, identical guarded
    expression trees; a degenerate uncorrelated corpus (s_xy = 0)
    gives NULL identically."""
    d = load_table(spark, sf_dir, "documents").select(
        (F.length("text") / 5.0).alias("x"),
        F.size(F.split("text", " ")).cast("double").alias("y"),
    )
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    mx, my = F.col("sx") / n, F.col("sy") / n
    slope = (
        cyy - cxx + F.sqrt((cyy - cxx) * (cyy - cxx) + 4 * cxy * cxy)
    ) / F.when(2 * cxy != 0, 2 * cxy)
    return m.select(
        n.cast("bigint").alias("n_docs"),
        F.round(slope, 4).alias("deming_slope"),
        F.round(my - slope * mx, 4).alias("deming_intercept"),
        F.round(cxy / F.when(cxx != 0, cxx), 4).alias("ols_slope"),
    )


# ---------------------------------------------------------------------------
# Breslow–Day homogeneity of odds ratios (the CMH companion)


@register(
    "q_breslow_day",
    oracle="""
        WITH strata AS (
            SELECT r.r_name,
                   count(*) AS n,
                   CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                                  AND o.o_totalprice > 150000
                            THEN 1 ELSE 0 END) AS BIGINT) AS a,
                   CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                   CAST(sum(CASE WHEN o.o_totalprice > 150000
                            THEN 1 ELSE 0 END) AS BIGINT) AS c1
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation nt ON c.c_nationkey = nt.n_nationkey
            JOIN region r ON nt.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        ),
        psi AS (
            SELECT sum((a * 1.0 * (n - r1 - c1 + a)) / n)
                   / nullif(sum(((r1 - a) * 1.0 * (c1 - a)) / n), 0) AS p
            FROM strata
        ),
        ex AS (
            SELECT s.n, s.a, s.r1, s.c1, p.p,
                   CASE WHEN abs(1 - p.p) < 1e-12
                        THEN s.r1 * 1.0 * s.c1 / s.n
                        ELSE (
                          CASE WHEN (-((s.n - s.r1 - s.c1) + p.p * (s.r1 + s.c1))
                                     + sqrt(((s.n - s.r1 - s.c1)
                                             + p.p * (s.r1 + s.c1))
                                            * ((s.n - s.r1 - s.c1)
                                               + p.p * (s.r1 + s.c1))
                                            + 4 * (1 - p.p) * p.p
                                              * s.r1 * 1.0 * s.c1))
                                   / (2 * (1 - p.p))
                                   BETWEEN greatest(0, s.r1 + s.c1 - s.n)
                                       AND least(s.r1, s.c1)
                               THEN (-((s.n - s.r1 - s.c1) + p.p * (s.r1 + s.c1))
                                     + sqrt(((s.n - s.r1 - s.c1)
                                             + p.p * (s.r1 + s.c1))
                                            * ((s.n - s.r1 - s.c1)
                                               + p.p * (s.r1 + s.c1))
                                            + 4 * (1 - p.p) * p.p
                                              * s.r1 * 1.0 * s.c1))
                                    / (2 * (1 - p.p))
                               ELSE (-((s.n - s.r1 - s.c1) + p.p * (s.r1 + s.c1))
                                     - sqrt(((s.n - s.r1 - s.c1)
                                             + p.p * (s.r1 + s.c1))
                                            * ((s.n - s.r1 - s.c1)
                                               + p.p * (s.r1 + s.c1))
                                            + 4 * (1 - p.p) * p.p
                                              * s.r1 * 1.0 * s.c1))
                                    / (2 * (1 - p.p))
                          END)
                   END AS e
            FROM strata s, psi p
        )
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               round(max(p), 4) AS mh_odds_ratio,
               round(sum((a - e) * (a - e)
                         / nullif(1.0 / (1.0 / nullif(e, 0)
                                   + 1.0 / nullif(r1 - e, 0)
                                   + 1.0 / nullif(c1 - e, 0)
                                   + 1.0 / nullif(n - r1 - c1 + e, 0)), 0)),
                     4) AS bd_chi2,
               CAST(CASE WHEN sum((a - e) * (a - e)
                              / nullif(1.0 / (1.0 / nullif(e, 0)
                                        + 1.0 / nullif(r1 - e, 0)
                                        + 1.0 / nullif(c1 - e, 0)
                                        + 1.0 / nullif(n - r1 - c1 + e, 0)), 0))
                              > 9.4877
                    THEN 1 ELSE 0 END AS INT) AS reject_homogeneous_or
        FROM ex
    """,
    category="analytics",
)
def q_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow–Day test that the (priority × high-value) odds ratio is
    HOMOGENEOUS across the five regions — the precondition q_cmh_test
    quietly assumes when it pools: per stratum, the expected cell
    count under the common MH odds ratio ψ solves the quadratic
    E²(1−ψ) + E(n−r1−c1+ψ(r1+c1)) − ψ·r1·c1 = 0 (root selected inside
    the hypergeometric support — the identical branch on both engines
    since ψ is the same double), and BD = Σ(a−E)²/V(E) vs χ²₄.

    One conditional-agg pass to 5 region strata (exact int64 cells);
    ψ is a 1-row aggregate cross-joined back; the quadratic and
    variance are pure arithmetic. ψ=1 (A=0) falls back to the
    independence expectation; degenerate strata (empty margins) NULL
    their variance identically via nullif/F.when."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nt = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    rg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    exposed = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    outcome = F.col("o_totalprice") > 150000
    strata = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nt), c.c_nationkey == nt.n_nationkey)
        .join(F.broadcast(rg), nt.n_regionkey == rg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(exposed & outcome, 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(exposed, 1).otherwise(0)).cast("bigint").alias("r1"),
            F.sum(F.when(outcome, 1).otherwise(0)).cast("bigint").alias("c1"),
        )
    )
    n, a, r1, c1 = F.col("n"), F.col("a"), F.col("r1"), F.col("c1")
    psi = strata.agg(
        (
            F.sum((a * 1.0 * (n - r1 - c1 + a)) / n)
            / F.when(
                F.sum(((r1 - a) * 1.0 * (c1 - a)) / n) != 0,
                F.sum(((r1 - a) * 1.0 * (c1 - a)) / n),
            )
        ).alias("p")
    )
    p = F.col("p")
    bq = (n - r1 - c1) + p * (r1 + c1)
    disc = F.sqrt(bq * bq + 4 * (1 - p) * p * r1 * 1.0 * c1)
    e_plus = (-bq + disc) / (2 * (1 - p))
    e_minus = (-bq - disc) / (2 * (1 - p))
    lo_b = F.greatest(F.lit(0).cast("bigint"), r1 + c1 - n)
    hi_b = F.least(r1, c1)
    e = F.when(F.abs(1 - p) < 1e-12, r1 * 1.0 * c1 / n).otherwise(
        F.when(e_plus.between(lo_b, hi_b), e_plus).otherwise(e_minus)
    )
    ex = strata.crossJoin(F.broadcast(psi)).select(
        "n", "a", "r1", "c1", "p", e.alias("e")
    )
    ev = F.col("e")
    vinv = (
        1.0 / F.when(ev != 0, ev)
        + 1.0 / F.when(r1 - ev != 0, r1 - ev)
        + 1.0 / F.when(c1 - ev != 0, c1 - ev)
        + 1.0 / F.when(n - r1 - c1 + ev != 0, n - r1 - c1 + ev)
    )
    v = 1.0 / F.when(vinv != 0, vinv)
    bd = F.sum((a - ev) * (a - ev) / F.when(v != 0, v))
    return ex.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.round(F.max("p"), 4).alias("mh_odds_ratio"),
        F.round(bd, 4).alias("bd_chi2"),
        F.when(bd > 9.4877, 1).otherwise(0).cast("int").alias(
            "reject_homogeneous_or"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash permutation-count tuning sweep


_MH_P = 2147483647  # 2^31 - 1 (Mersenne prime), Carter–Wegman modulus
_MH_PERMS = [(2654435761 + 2 * i, 40503 * i + 17) for i in range(16)]

_CF_TOK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length(t) + 1), "
    "i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))), "
    "(acc, b) -> (acc * 31 + b) % 33554432)"
)


@register(
    "q_minhash_perm_sweep",
    oracle=f"""
        WITH hs AS (
            SELECT doc_id,
                   list_transform(list_distinct(string_split(text, ' ')),
                                  t -> {_CF_TOK}) AS h,
                   list_distinct(string_split(text, ' ')) AS toks
            FROM documents
        ),
        sigs AS (
            SELECT doc_id, toks,
                   {", ".join(
                       f"list_min(list_transform(h, x -> (x * {a} + {b}) % {_MH_P})) AS m{i}"
                       for i, (a, b) in enumerate(_MH_PERMS))}
            FROM hs
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a,
                   len(list_intersect(a.toks, b.toks)) * 1.0
                   / (len(a.toks) + len(b.toks)
                      - len(list_intersect(a.toks, b.toks))) AS exact_j,
                   {", ".join(
                       "(" + " + ".join(
                           f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
                           for i in range(p)) + f") * 1.0 / {p} AS est{p}"
                       for p in (4, 8, 16))}
            FROM sigs a JOIN sigs b ON b.doc_id = a.doc_id + 1
        )
        SELECT CAST(n_perms AS INT) AS n_perms,
               CAST(n_pairs AS BIGINT) AS n_pairs,
               round(rmse, 4) AS rmse,
               round(mean_err, 4) + 0.0 AS mean_err,
               round(mean_abs_err, 4) AS mean_abs_err
        FROM (
            {" UNION ALL ".join(f'''
            SELECT {p} AS n_perms, count(*) AS n_pairs,
                   sqrt(avg((est{p} - exact_j) * (est{p} - exact_j))) AS rmse,
                   avg(est{p} - exact_j) AS mean_err,
                   avg(abs(est{p} - exact_j)) AS mean_abs_err
            FROM pairs''' for p in (4, 8, 16))}
        )
    """,
    category="llm-dedup",
)
def q_minhash_perm_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash permutation-count tuning curve: Jaccard-estimate error
    (RMSE / bias / MAE vs the EXACT token-set Jaccard) at 4, 8 and 16
    Carter–Wegman permutations over doc_id-adjacent pairs — the
    how-many-perms-do-I-need answer that q_minhash_calibration gives
    for the production k=8 only, as a sweep (the sketch cousin of
    q_ivf_probe_sweep / q_cms_width_sweep / q_bloom_fpr_sweep).

    Token hashes fold ONCE per doc into a projected column (no-CSE-in-
    lambda discipline, operators/dedup.py); each permutation is O(1)
    arithmetic over that array; signatures are 16 ints per doc; pairs
    come from the doc_id+1 equi-join. Everything before the final
    3-row error aggregate is exact integer arithmetic, and the
    estimates/Jaccards are exact rationals — both engines agree
    bit-for-bit until the rounded error summary."""
    from builder_spark.operators.dedup import charfold_hash

    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " "))
    hs = d.select(
        "doc_id",
        toks.alias("toks"),
        F.transform(
            toks,
            lambda t: F.aggregate(
                F.transform(
                    F.sequence(F.lit(1), F.length(t)),
                    lambda i: F.ascii(F.substr(t, i, F.lit(1))).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: F.pmod(acc * F.lit(31) + x, F.lit(33554432)),
            ),
        ).alias("h"),
    )
    def perm_min(a: int, b: int):
        # closure factory, not default-arg capture: pyspark binds the
        # lambda by its PARAMETER COUNT, so extra defaulted params
        # would make it a 3-arg HOF lambda
        return F.array_min(
            F.transform("h", lambda x: F.pmod(x * a + b, F.lit(_MH_P)))
        )

    sigs = hs.select(
        "doc_id",
        "toks",
        *[perm_min(a, b).alias(f"m{i}") for i, (a, b) in enumerate(_MH_PERMS)],
    )
    a_s, b_s = sigs.alias("a"), sigs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    ests = {
        p: sum(
            F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
            for i in range(p)
        )
        * 1.0
        / p
        for p in (4, 8, 16)
    }
    pairs = a_s.join(b_s, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        (inter * 1.0 / union).alias("exact_j"),
        *[ests[p].alias(f"est{p}") for p in (4, 8, 16)],
    )
    outs = []
    for p in (4, 8, 16):
        err = F.col(f"est{p}") - F.col("exact_j")
        outs.append(
            pairs.agg(
                F.lit(p).cast("int").alias("n_perms"),
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
                F.round(F.avg(err), 4).alias("mean_err"),
                F.round(F.avg(F.abs(err)), 4).alias("mean_abs_err"),
            )
        )
    out = outs[0]
    for o2 in outs[1:]:
        out = out.unionByName(o2)
    return out


# ---------------------------------------------------------------------------
# Fisher exact test at scale (shared closed-form log-factorial)

#: ln(x!) for x = 0..9 — exact literals (math.lgamma(x+1))
_LNFACT_SMALL = [
    0.0,
    0.0,
    0.693147180559945,
    1.7917594692280554,
    3.178053830347945,
    4.787491742782047,
    6.579251212010102,
    8.525161361065415,
    10.604602902745249,
    12.801827480081467,
]


def _lnfact_sql(x: str) -> str:
    """ln(x!) as a pure-arithmetic SQL expression — exact literals for
    x ≤ 9, Stirling's series on z = x+1 beyond (abs error < 3e-11 at
    x = 10, shrinking as z⁻⁷). Both engines evaluate the identical
    formula, so no lgamma()-availability or libm-parity problem."""
    small = " ".join(
        f"WHEN {i} THEN {v!r}" for i, v in enumerate(_LNFACT_SMALL)
    )
    z = f"(({x}) + 1.0)"
    stirling = (
        f"(({z} - 0.5) * ln({z}) - {z} + 0.9189385332046727"
        f" + 1.0 / (12.0 * {z}) - 1.0 / (360.0 * {z} * {z} * {z})"
        f" + 1.0 / (1260.0 * {z} * {z} * {z} * {z} * {z}))"
    )
    return f"(CASE WHEN ({x}) <= 9 THEN CASE ({x}) {small} END ELSE {stirling} END)"


def _lnfact_col(x):
    """Spark twin of :func:`_lnfact_sql` — same branches, same
    literals, same operation order."""
    expr = None
    for i, v in enumerate(_LNFACT_SMALL):
        cond = x == i
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    z = x + 1.0
    stirling = (
        (z - 0.5) * F.log(z)
        - z
        + 0.9189385332046727
        + 1.0 / (12.0 * z)
        - 1.0 / (360.0 * z * z * z)
        + 1.0 / (1260.0 * z * z * z * z * z)
    )
    return F.when(x <= 9, expr).otherwise(stirling)


@register(
    "q_fisher_exact",
    oracle=f"""
        WITH strata AS (
            SELECT n.n_name,
                   count(*) AS n,
                   CAST(sum(CASE WHEN c.c_custkey % 2 = 0 AND c.c_acctbal > 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS a,
                   CAST(sum(CASE WHEN c.c_custkey % 2 = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                   CAST(sum(CASE WHEN c.c_acctbal > 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS c1
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        ),
        terms AS (
            SELECT n_name, n, a, r1, c1, unnest(range(a, least(r1, c1) + 1)) AS k
            FROM strata
        ),
        pmf AS (
            SELECT n_name, n, a, r1, c1,
                   exp({_lnfact_sql('r1')} - {_lnfact_sql('k')}
                       - {_lnfact_sql('r1 - k')}
                       + {_lnfact_sql('n - r1')} - {_lnfact_sql('c1 - k')}
                       - {_lnfact_sql('n - r1 - c1 + k')}
                       - {_lnfact_sql('n')} + {_lnfact_sql('c1')}
                       + {_lnfact_sql('n - c1')}) AS p
            FROM terms
        )
        SELECT n_name, CAST(max(n) AS BIGINT) AS n_cust,
               max(a) AS a_obs,
               round(max(r1) * 1.0 * max(c1) / max(n), 4) AS expected_a,
               round(sum(p), 4) AS p_upper,
               CAST(CASE WHEN sum(p) < 0.05 THEN 1 ELSE 0 END AS INT)
                   AS significant
        FROM pmf GROUP BY n_name
    """,
    category="analytics",
)
def q_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test PER NATION (one-sided upper tail) of
    customer-key parity × positive account balance — the exact
    small-sample test q_chisq_independence approximates and q_cmh_test
    pools: P(X ≥ a) = Σ_{{k=a}}^{{min(r1,c1)}} hypergeometric pmf(k). A
    parity split should never be significant; a low p flags fixture
    bias (the q_poisson_etest self-audit logic, exact-test edition).

    THE SCALE TRICK: no factorial table and no driver-side math — the
    log-pmf is nine ln(x!) evaluations through a shared closed form
    (exact literals to 9!, Stirling beyond, abs error < 3e-11 — see
    _lnfact_sql), so the tail sum is one EXPLODE of the per-stratum
    support range [a, min(r1,c1)] (linear in customers, an equi-grain
    flatMap — never quadratic) and one combinable aggregate. Identical
    arithmetic both engines; exp/ln ulp noise is ~1e-11 on an O(1)
    p-value, absorbed by round(,4)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    nt = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    exposed = F.col("c_custkey") % 2 == 0
    outcome = F.col("c_acctbal") > 0
    strata = (
        cust.join(F.broadcast(nt), cust.c_nationkey == nt.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(exposed & outcome, 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(exposed, 1).otherwise(0)).cast("bigint").alias("r1"),
            F.sum(F.when(outcome, 1).otherwise(0)).cast("bigint").alias("c1"),
        )
    )
    terms = strata.select(
        "n_name",
        "n",
        "a",
        "r1",
        "c1",
        F.explode(F.sequence(F.col("a"), F.least("r1", "c1"))).alias("k"),
    )
    n, a, r1, c1, k = (F.col(c) for c in ("n", "a", "r1", "c1", "k"))
    lnpmf = (
        _lnfact_col(r1)
        - _lnfact_col(k)
        - _lnfact_col(r1 - k)
        + _lnfact_col(n - r1)
        - _lnfact_col(c1 - k)
        - _lnfact_col(n - r1 - c1 + k)
        - _lnfact_col(n)
        + _lnfact_col(c1)
        + _lnfact_col(n - c1)
    )
    pmf = terms.select("n_name", "n", "a", "r1", "c1", F.exp(lnpmf).alias("p"))
    psum = F.sum("p")
    return pmf.groupBy("n_name").agg(
        F.max("n").cast("bigint").alias("n_cust"),
        F.max("a").alias("a_obs"),
        F.round(F.max("r1") * 1.0 * F.max("c1") / F.max("n"), 4).alias(
            "expected_a"
        ),
        F.round(psum, 4).alias("p_upper"),
        F.when(psum < 0.05, 1).otherwise(0).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# Ansari–Bradley rank dispersion test


@register(
    "q_ansari_bradley",
    oracle="""
        WITH x AS (
            SELECT o_totalprice AS price, o_orderkey AS okey,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS samp
            FROM orders
        ),
        rk AS (
            SELECT samp,
                   row_number() OVER (ORDER BY price, okey) AS r,
                   count(*) OVER () AS nn
            FROM x
        ),
        agg AS (
            SELECT CAST(sum(CASE WHEN samp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN samp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m,
                   CAST(max(nn) AS BIGINT) AS nn,
                   CAST(sum(CASE WHEN samp = 1
                            THEN least(r, nn + 1 - r) ELSE 0 END) AS BIGINT) AS ab
            FROM rk
        ),
        f AS (
            SELECT n, m, nn, ab,
                   CASE WHEN nn % 2 = 0 THEN n * 1.0 * (nn + 2) / 4
                        ELSE n * 1.0 * (nn + 1) * (nn + 1) / (4.0 * nn) END AS mu,
                   CASE WHEN nn % 2 = 0
                        THEN m * 1.0 * n * (nn + 2) * (nn - 2)
                             / (48.0 * (nn - 1))
                        ELSE m * 1.0 * n * (nn + 1)
                             * (3 + nn * 1.0 * nn) / (48.0 * nn * nn) END AS v
            FROM agg
        )
        SELECT n AS n_urgent, m AS n_other,
               ab AS ab_statistic,
               round((ab - mu) / nullif(sqrt(v), 0), 4) + 0.0 AS z_stat,
               CAST(CASE WHEN abs((ab - mu) / nullif(sqrt(v), 0)) > 1.96
                    THEN 1 ELSE 0 END AS INT) AS reject_equal_dispersion
        FROM f
    """,
    category="analytics",
)
def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari–Bradley rank test of equal DISPERSION (urgent/high
    priority order values vs the rest): scores a_r = min(r, N+1−r)
    concentrate small values at both extremes, so Σ_A a_r compares
    spreads where q_mann_whitney_u compares locations and q_cvm_test
    whole distributions — completing the rank-test triptych. Exact
    even/odd-N moment formulas, normal z against ±1.96.

    The pooled rank comes from ONE stitched pass at fact grain
    (with_totals exposes N — no count(*) window); the a-scores and
    moments are exact integer arithmetic with `* 1.0` widening before
    the 4-factor count products (mn(N+2)(N−2) tops int64 past ~sf1)."""
    from builder_spark.operators.partitioning import stitched_running

    x = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("okey"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("samp"),
    )
    rk = stitched_running(x, ["price", "okey"], rank_name="r", with_totals=True)
    nn_c = F.col("r_total")
    score = F.least(F.col("r"), nn_c + 1 - F.col("r"))
    agg = rk.agg(
        F.sum(F.when(F.col("samp") == 1, 1).otherwise(0)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("samp") == 0, 1).otherwise(0)).cast("bigint").alias("m"),
        F.max(nn_c).cast("bigint").alias("nn"),
        F.sum(F.when(F.col("samp") == 1, score).otherwise(0))
        .cast("bigint")
        .alias("ab"),
    )
    n, m, nn, ab = (F.col(c) for c in ("n", "m", "nn", "ab"))
    mu = F.when(nn % 2 == 0, n * 1.0 * (nn + 2) / 4).otherwise(
        n * 1.0 * (nn + 1) * (nn + 1) / (4.0 * nn)
    )
    v = F.when(
        nn % 2 == 0,
        m * 1.0 * n * (nn + 2) * (nn - 2) / (48.0 * (nn - 1)),
    ).otherwise(
        m * 1.0 * n * (nn + 1) * (3 + nn * 1.0 * nn) / (48.0 * nn * nn)
    )
    z = (ab - mu) / F.when(F.sqrt(v) != 0, F.sqrt(v))
    return agg.select(
        n.alias("n_urgent"),
        m.alias("n_other"),
        ab.alias("ab_statistic"),
        F.round(z, 4).alias("z_stat"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias(
            "reject_equal_dispersion"
        ),
    )


# ---------------------------------------------------------------------------
# exact sign test (paired halves, binomial tail via shared lnfact)


@register(
    "q_sign_test",
    oracle=f"""
        WITH dn AS (
            SELECT o_custkey,
                   date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                       AS day_n,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        mid AS (SELECT (min(day_n) + max(day_n)) // 2 AS md FROM dn),
        halves AS (
            SELECT n.n_name,
                   CAST(sum(CASE WHEN d.day_n < m.md THEN d.cents ELSE 0 END)
                        AS BIGINT) AS c1,
                   CAST(sum(CASE WHEN d.day_n >= m.md THEN d.cents ELSE 0 END)
                        AS BIGINT) AS c2
            FROM dn d
            JOIN customer c ON d.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            CROSS JOIN mid m
            GROUP BY n.n_name
        ),
        counts AS (
            SELECT CAST(sum(CASE WHEN c2 > c1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS pos,
                   CAST(sum(CASE WHEN c2 < c1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS neg
            FROM halves
        ),
        terms AS (
            SELECT pos, neg, pos + neg AS np,
                   unnest(range(0, least(pos, neg) + 1)) AS k
            FROM counts
        ),
        p AS (
            SELECT pos, neg, np,
                   sum(exp({_lnfact_sql('np')}
                           - {_lnfact_sql('k')}
                           - {_lnfact_sql('np - k')}
                           - np * 0.6931471805599453)) AS tail
            FROM terms GROUP BY pos, neg, np
        )
        SELECT CAST(np AS BIGINT) AS n_pairs, pos AS n_pos, neg AS n_neg,
               round(least(2 * tail, 1.0), 4) AS p_value,
               CAST(CASE WHEN least(2 * tail, 1.0) < 0.05 THEN 1 ELSE 0 END
                    AS INT) AS reject_no_change
        FROM p
    """,
    category="analytics",
)
def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sided sign test on the per-nation revenue halves
    (q_paired_ttest's pairing, assumption-free edition): S = wins of
    half 2 over half 1; p = 2·Σ_{k≤min(S,n−S)} C(n,k)/2ⁿ — the
    binomial tail computed EXACTLY through the same shared closed-form
    ln(x!) as q_fisher_exact (ln C(n,k) − n·ln2, ≤13 exp terms), so
    there is no normal approximation anywhere and no library CDF.

    Halves are exact int64 cents (sign comparisons exact); the tail
    explode is ≤ n/2+1 rows; both engines evaluate the identical
    arithmetic. Ties (c1 = c2) drop from n per the classic test."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01")).alias(
            "day_n"
        ),
        F.expr(_OC).alias("cents"),
    )
    mid = o.agg(F.expr("(min(day_n) + max(day_n)) div 2").alias("md"))
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nt = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    halves = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nt), c.c_nationkey == nt.n_nationkey)
        .crossJoin(F.broadcast(mid))
        .groupBy("n_name")
        .agg(
            F.sum(F.when(F.col("day_n") < F.col("md"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("day_n") >= F.col("md"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    counts = halves.agg(
        F.sum(F.when(F.col("c2") > F.col("c1"), 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("c2") < F.col("c1"), 1).otherwise(0))
        .cast("bigint")
        .alias("neg"),
    )
    terms = counts.select(
        "pos",
        "neg",
        (F.col("pos") + F.col("neg")).alias("np"),
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.least("pos", "neg"))
        ).alias("k"),
    )
    np_, k = F.col("np"), F.col("k")
    ln2 = 0.6931471805599453
    term = F.exp(
        _lnfact_col(np_) - _lnfact_col(k) - _lnfact_col(np_ - k) - np_ * ln2
    )
    p = terms.groupBy("pos", "neg").agg(
        F.max("np").alias("np"), F.sum(term).alias("tail")
    )
    pval = F.least(2 * F.col("tail"), F.lit(1.0))
    return p.select(
        F.col("np").cast("bigint").alias("n_pairs"),
        F.col("pos").alias("n_pos"),
        F.col("neg").alias("n_neg"),
        F.round(pval, 4).alias("p_value"),
        F.when(pval < 0.05, 1).otherwise(0).cast("int").alias("reject_no_change"),
    )


# ---------------------------------------------------------------------------
# one-sample KS uniformity test (day-of-month)


@register(
    "q_ks_uniform",
    oracle="""
        WITH d AS (
            SELECT day(CAST(o_orderdate AS DATE)) AS dom
            FROM orders WHERE day(CAST(o_orderdate AS DATE)) <= 28
        ),
        cells AS (SELECT dom, count(*) AS c FROM d GROUP BY dom),
        cum AS (
            SELECT dom, c,
                   sum(c) OVER (ORDER BY dom
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cc,
                   sum(c) OVER () AS n
            FROM cells
        )
        SELECT CAST(max(n) AS BIGINT) AS n_orders,
               round(max(greatest(abs(cc * 1.0 / n - dom / 28.0),
                                  abs(cc * 1.0 / n - (dom - 1) / 28.0))), 4)
                   AS d_stat,
               round(1.36 / sqrt(max(n)), 4) AS d_critical,
               CAST(CASE WHEN max(greatest(abs(cc * 1.0 / n - dom / 28.0),
                                           abs(cc * 1.0 / n
                                               - (dom - 1) / 28.0)))
                              > 1.36 / sqrt(max(n))
                    THEN 1 ELSE 0 END AS INT) AS reject_uniform
        FROM cum
    """,
    category="analytics",
)
def q_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov–Smirnov test of order-date
    day-of-month uniformity (days 1–28, so month length can't bias
    it): D = max over days of the two-sided gap between the empirical
    CDF and k/28, against the 1.36/√n 5% critical value — the
    one-sample counterpart of q_ks_test (two-sample) and the CDF-sup
    cousin of q_benford / q_price_digit_bias's χ² digit tests; a
    synthetic fixture's date generator should never reject.

    One combinable pass to 28 day cells; the cumulative CDF is a
    whitelisted 28-row bounded window; counts are exact integers so
    every gap is ONE exact division per side — bit-identical, no
    float discipline needed beyond the final round."""
    d = load_table(spark, sf_dir, "orders").select(
        F.dayofmonth(F.col("o_orderdate").cast("date")).alias("dom")
    ).filter(F.col("dom") <= 28)
    cells = d.groupBy("dom").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.orderBy("dom").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cells.select(
        "dom",
        F.sum("c").over(w_cum).alias("cc"),
        F.sum("c").over(w_all).alias("n"),
    )
    gap = F.greatest(
        F.abs(F.col("cc") * 1.0 / F.col("n") - F.col("dom") / 28.0),
        F.abs(F.col("cc") * 1.0 / F.col("n") - (F.col("dom") - 1) / 28.0),
    )
    dstat = F.max(gap)
    crit = 1.36 / F.sqrt(F.max("n"))
    return cum.agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.round(dstat, 4).alias("d_stat"),
        F.round(crit, 4).alias("d_critical"),
        F.when(dstat > crit, 1).otherwise(0).cast("int").alias("reject_uniform"),
    )


# ---------------------------------------------------------------------------
# Storey q-values (adaptive FDR) on the BH cell battery


@register(
    "q_storey_qvalues",
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
            SELECT *,
                   row_number() OVER (ORDER BY p, event_type, dow) AS i,
                   count(*) OVER () AS m,
                   sum(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) OVER () AS n_big
            FROM scored
        ),
        pies AS (
            SELECT *, least(1.0, n_big / (m * 0.5)) AS pi0 FROM ranked
        ),
        qv AS (
            SELECT *,
                   min(pi0 * m * p / i) OVER (ORDER BY i DESC
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS q
            FROM pies
        )
        SELECT event_type, CAST(dow AS INT) AS dow,
               CAST(i AS BIGINT) AS rank_i,
               round(pi0, 4) AS pi0,
               round(q, 4) AS q_value,
               CAST(CASE WHEN q < 0.05 THEN 1 ELSE 0 END AS INT) AS rejected
        FROM qv
    """,
    category="analytics",
)
def q_storey_qvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storey ADAPTIVE FDR q-values over the same 35 (event type ×
    weekday) cell battery q_bh_fdr and q_holm_bonferroni grade — the
    third multiple-testing correction, with the piece BH lacks: the
    null fraction π̂₀ = #{p>λ}/(m(1−λ)) at λ=½ estimated FROM the
    battery, and q_i = min_{j≥i} π̂₀·m·p_j/j (the descending-rank
    cumulative min). Same deliberately synthetic monotone pseudo-p as
    BH (exp(−χ²/2)) so all three corrections stay row-comparable.

    Same exactness story as q_bh_fdr: integer cells make every p one
    identical expression tree; all three windows run over the bounded
    35-row battery (whitelisted)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.weekday("ts").alias("dow")
    )
    # materialize the 35-cell battery ONCE — four consumers (margins,
    # total, the scored join) would otherwise re-plan the fact scan
    cells = materialize(
        ev.groupBy("event_type", "dow")
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
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        scored.withColumn(
            "i", F.row_number().over(Window.orderBy("p", "event_type", "dow"))
        )
        .withColumn("m", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "n_big",
            F.sum(F.when(F.col("p") > 0.5, 1).otherwise(0)).over(w_all),
        )
    )
    pi0 = F.least(F.lit(1.0), F.col("n_big") / (F.col("m") * 0.5))
    w_desc = Window.orderBy(F.col("i").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    qv = ranked.withColumn("pi0", pi0).withColumn(
        "q", F.min(F.col("pi0") * F.col("m") * F.col("p") / F.col("i")).over(w_desc)
    )
    return qv.select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        F.col("i").cast("bigint").alias("rank_i"),
        F.round("pi0", 4).alias("pi0"),
        F.round("q", 4).alias("q_value"),
        F.when(F.col("q") < 0.05, 1).otherwise(0).cast("int").alias("rejected"),
    )


# ---------------------------------------------------------------------------
# k-token prefix cache-reuse mass


@register(
    "q_prefix_cache_mass",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   len(string_split(text, ' ')) AS tl
            FROM documents
        ),
        total AS (SELECT CAST(sum(tl) AS BIGINT) AS total_tokens FROM toks),
        lv AS (
            SELECT k, md5(array_to_string(t[1:k], ' ')) AS pfx
            FROM toks, (VALUES (4), (8), (16)) v(k)
            WHERE tl >= k
        ),
        grp AS (
            SELECT k, pfx, CAST(count(*) AS BIGINT) AS c
            FROM lv GROUP BY k, pfx
        )
        SELECT CAST(g.k AS INT) AS k,
               CAST(sum(g.c) AS BIGINT) AS n_docs_eligible,
               CAST(count(*) AS BIGINT) AS n_prefix_groups,
               CAST(sum(CASE WHEN g.c >= 2 THEN g.c ELSE 0 END) AS BIGINT)
                   AS docs_sharing,
               CAST(sum((g.c - 1) * g.k) AS BIGINT) AS reusable_tokens,
               round(sum((g.c - 1) * g.k) * 1.0
                     / nullif(max(t.total_tokens), 0), 4) AS cache_savings_pct
        FROM grp g CROSS JOIN total t
        GROUP BY g.k
    """,
    category="llm-pipeline",
)
def q_prefix_cache_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV prefix-cache reuse estimate: at k ∈ {4, 8, 16} leading
    tokens, how many documents share an exact token prefix, and what
    fraction of the corpus' total tokens a shared-prefix cache would
    never recompute (Σ per group (size−1)·k over total tokens) — the
    serving-side number behind prefix caching, and a template-
    contamination signal at the token grain that q_boilerplate_prefix
    (80-char normalized prefixes per source) reads at the char grain.

    Documents never move: each contributes three md5 prefix keys (one
    row per eligible k — a bounded 3× explode, not a token explode);
    groups are key-grain aggregates; the savings ratio divides two
    exact int64 token counts. Scale-free md5 keys shuffle uniformly."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).alias("tl"),
    )
    total = toks.agg(F.sum("tl").cast("bigint").alias("total_tokens"))
    lv = (
        toks.select(
            "tl",
            F.explode(F.array(*[F.lit(k) for k in (4, 8, 16)])).alias("k"),
            "t",
        )
        .filter(F.col("tl") >= F.col("k"))
        .select(
            "k",
            F.md5(F.concat_ws(" ", F.slice(F.col("t"), 1, F.col("k")))).alias(
                "pfx"
            ),
        )
    )
    grp = lv.groupBy("k", "pfx").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return (
        grp.crossJoin(F.broadcast(total))
        .groupBy("k")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs_eligible"),
            F.count(F.lit(1)).cast("bigint").alias("n_prefix_groups"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("docs_sharing"),
            F.sum((F.col("c") - 1) * F.col("k")).cast("bigint").alias(
                "reusable_tokens"
            ),
            F.round(
                F.sum((F.col("c") - 1) * F.col("k"))
                * 1.0
                / F.when(F.max("total_tokens") != 0, F.max("total_tokens")),
                4,
            ).alias("cache_savings_pct"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "n_docs_eligible",
            "n_prefix_groups",
            "docs_sharing",
            "reusable_tokens",
            "cache_savings_pct",
        )
    )


# ---------------------------------------------------------------------------
# quadratic-weighted Cohen's kappa on ordinal quality quartiles


@register(
    "q_weighted_kappa",
    oracle="""
        WITH d AS (
            SELECT length(text) * 1.0 AS x,
                   len(string_split(text, ' ')) * 1.0 AS y
            FROM documents
        ),
        qx AS (
            SELECT quantile_cont(x, 0.25) AS q1, quantile_cont(x, 0.5) AS q2,
                   quantile_cont(x, 0.75) AS q3
            FROM d
        ),
        qy AS (
            SELECT quantile_cont(y, 0.25) AS q1, quantile_cont(y, 0.5) AS q2,
                   quantile_cont(y, 0.75) AS q3
            FROM d
        ),
        graded AS (
            SELECT CASE WHEN d.x <= qx.q1 THEN 0 WHEN d.x <= qx.q2 THEN 1
                        WHEN d.x <= qx.q3 THEN 2 ELSE 3 END AS rx,
                   CASE WHEN d.y <= qy.q1 THEN 0 WHEN d.y <= qy.q2 THEN 1
                        WHEN d.y <= qy.q3 THEN 2 ELSE 3 END AS ry
            FROM d, qx, qy
        ),
        cells AS (
            SELECT rx, ry, CAST(count(*) AS BIGINT) AS o
            FROM graded GROUP BY rx, ry
        ),
        m AS (
            SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN rx = ry THEN o ELSE 0 END) AS BIGINT)
                       AS agree,
                   sum((rx - ry) * (rx - ry) * o) AS wo
            FROM cells
        ),
        margins AS (
            SELECT r.rx, c.ry, r.nr, c.nc
            FROM (SELECT rx, sum(o) AS nr FROM cells GROUP BY rx) r
            CROSS JOIN (SELECT ry, sum(o) AS nc FROM cells GROUP BY ry) c
        ),
        we AS (
            SELECT sum((mg.rx - mg.ry) * (mg.rx - mg.ry)
                       * mg.nr * 1.0 * mg.nc) AS wexp
            FROM margins mg
        )
        SELECT m.n AS n_docs,
               round(m.agree * 1.0 / m.n, 4) AS agreement_rate,
               round(1 - m.wo * m.n
                         / nullif(we.wexp, 0), 4) + 0.0 AS kappa_weighted
        FROM m, we
    """,
    category="llm-pipeline",
)
def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUADRATIC-weighted Cohen's κ between two ordinal document
    quality raters — char-length quartile vs token-count quartile
    (exact interpolated quartile boundaries, both raters graded
    0–3): κ_w = 1 − ΣwO/ΣwE with w = (i−j)², so near-misses cost
    little and opposite-corner disagreements dominate — the ordinal
    upgrade of q_cohen_kappa (binary gates) and q_fleiss_kappa
    (multi-rater nominal).

    Quartile boundaries come from the stitched exact quantile
    (identical interpolation on both engines); graded docs collapse to
    a ≤16-cell confusion matrix in one pass (checkpointed once for its
    three consumers); κ_w is closed-form algebra over the cells and
    their margin cross product. A single-quartile degenerate corpus
    (ΣwE = 0) yields NULL identically."""
    from builder_spark.operators.quantiles import quantile_cont_stitched

    d = load_table(spark, sf_dir, "documents").select(
        (F.length("text") * 1.0).alias("x"),
        (F.size(F.split("text", " ")) * 1.0).alias("y"),
    )
    qx = quantile_cont_stitched(d, "x", {"q1": 0.25, "q2": 0.5, "q3": 0.75}).select(
        F.col("q1").alias("xq1"), F.col("q2").alias("xq2"), F.col("q3").alias("xq3")
    )
    qy = quantile_cont_stitched(d, "y", {"q1": 0.25, "q2": 0.5, "q3": 0.75}).select(
        F.col("q1").alias("yq1"), F.col("q2").alias("yq2"), F.col("q3").alias("yq3")
    )

    def grade(v, q1, q2, q3):
        return (
            F.when(v <= F.col(q1), 0)
            .when(v <= F.col(q2), 1)
            .when(v <= F.col(q3), 2)
            .otherwise(3)
        )

    graded = (
        d.crossJoin(F.broadcast(qx))
        .crossJoin(F.broadcast(qy))
        .select(
            grade(F.col("x"), "xq1", "xq2", "xq3").alias("rx"),
            grade(F.col("y"), "yq1", "yq2", "yq3").alias("ry"),
        )
    )
    # ≤16-cell confusion matrix, materialized once for its 3 consumers
    cells = materialize(
        graded.groupBy("rx", "ry")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    m = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.sum(F.when(F.col("rx") == F.col("ry"), F.col("o")).otherwise(0))
        .cast("bigint")
        .alias("agree"),
        F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry")) * F.col("o"))
        .alias("wo"),
    )
    rowm = cells.groupBy("rx").agg(F.sum("o").alias("nr"))
    colm = cells.groupBy("ry").agg(F.sum("o").alias("nc"))
    we = (
        rowm.crossJoin(colm)
        .agg(
            F.sum(
                (F.col("rx") - F.col("ry"))
                * (F.col("rx") - F.col("ry"))
                * F.col("nr")
                * 1.0
                * F.col("nc")
            ).alias("wexp")
        )
    )
    return (
        m.crossJoin(F.broadcast(we))
        .select(
            F.col("n").alias("n_docs"),
            F.round(F.col("agree") * 1.0 / F.col("n"), 4).alias("agreement_rate"),
            (
                F.round(
                    1
                    - F.col("wo") * F.col("n")
                    / F.when(F.col("wexp") != 0, F.col("wexp")),
                    4,
                )
                + F.lit(0.0)
            ).alias("kappa_weighted"),
        )
    )
