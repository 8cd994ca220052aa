"""Round-14 surface growth (registered LAST — rotation-load-bearing):
robust/diagnostic estimation (two-sided trimmed mean, Fligner–Killeen
scale test, Newey–West HAC errors, sharp regression discontinuity,
Baumgartner–Weiß–Schindler rank test), SPC (EWMA control chart),
time-series similarity (daily matrix profile), interval algebra
(bucketed interval-overlap join, gap+cap sessionization via
applyInPandas with a recursive-CTE oracle), graph link prediction
(Adamic–Adar), retrieval evaluation (expected reciprocal rank), and
systematic sampling off the stitched global rank.

Design rules (same as the rest of the graded surface):
- integer-exact cores wherever possible (cents, counts); floats only
  through one identical expression tree on both engines, then
  ``round(·, 4)``;
- SIGNED-ZERO discipline (SURVEY §2 trap 10): every rounded oracle
  float that can be mathematically ≤ 0 carries ``+ 0.0`` on BOTH
  engines;
- every denominator guarded on BOTH engines (F.when / nullif);
- widen-before-multiply (``* 1.0 *``) on any int64 product a 1000×
  corpus could overflow;
- scale-shaped plans: fact grain collapses to value/day/key grain in
  ONE combinable pass; global and per-group ranks ride the STITCHED
  machinery (never a single-partition window over fact grain);
  calendar-bounded day-table windows are whitelisted with their grain;
  pair algebra runs on constant-bounded tables only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.operators.partitioning import materialize, stitched_running
from builder_spark.operators.quantiles import quantile_cont_stitched
from builder_spark.queries.round12b import _pprobit
from builder_spark.registry import register

#: orders money in exact integer cents
_OC = "CAST(round(o_totalprice * 100) AS BIGINT)"

#: DuckDB list macros (same trees as functions.vectors dot_f64/l2_norm)
_DD_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_DD_NORM = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * x)))"


# ---------------------------------------------------------------------------
# two-sided trimmed mean (the robust-location sibling of
# q_winsorized_mean: tails are DROPPED, not clamped)


@register(
    "q_trimmed_mean",
    oracle=f"""
        WITH x AS (
            SELECT o_orderpriority AS prio, {_OC} AS cents,
                   o_orderkey AS okey
            FROM orders
        ),
        rk AS (
            SELECT prio, cents,
                   row_number() OVER (PARTITION BY prio
                                      ORDER BY cents, okey) AS r,
                   count(*) OVER (PARTITION BY prio) AS n
            FROM x
        )
        SELECT prio,
               CAST(max(n) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_kept,
               round(sum(cents) * 1.0 / count(*) / 100.0, 4) AS trimmed_mean
        FROM rk
        WHERE r > floor(0.1 * n) AND r <= n - floor(0.1 * n)
        GROUP BY prio
    """,
    category="aggregation",
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean of order value per priority — the
    robust location estimate that DROPS both tails (q_winsorized_mean
    clamps them; the two disagree exactly when the tails are skewed).
    Per-group fact-grain ranks ride the GROUPED stitch (one hash
    exchange + broadcast offsets, never a low-cardinality-partition
    window); the kept-band mean is an exact integer-cents sum divided
    once, so both engines round the same double."""
    x = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr(_OC).alias("cents"),
        F.col("o_orderkey").alias("okey"),
    )
    rk = stitched_running(
        x, ["cents", "okey"], rank_name="r", partition_cols=["prio"], with_totals=True
    )
    n = F.col("r_total")
    kept = rk.filter(
        (F.col("r") > F.floor(0.1 * n)) & (F.col("r") <= n - F.floor(0.1 * n))
    )
    return kept.groupBy("prio").agg(
        F.max(n).cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.round(F.sum("cents") * 1.0 / F.count(F.lit(1)) / 100.0, 4).alias(
            "trimmed_mean"
        ),
    )


# ---------------------------------------------------------------------------
# systematic sampling off the stitched global rank


@register(
    "q_systematic_sample",
    oracle="""
        WITH rk AS (
            SELECT doc_id, lang, source, n_chars,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS r
            FROM documents
        )
        SELECT doc_id, lang, source, n_chars,
               CAST(r AS BIGINT) AS sample_rank
        FROM rk WHERE r % 7 = 3
    """,
    category="llm-pipeline",
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic 1-in-7 sample of the corpus under the (n_chars,
    doc_id) total order, fixed offset 3 — the classic equal-interval
    design whose implicit stratification beats Bernoulli sampling on
    any monotone-correlated attribute (here: length). The global rank
    is the STITCHED distributed rank (one explicit hash exchange +
    broadcast offsets — never a single-partition row_number over the
    corpus); the modulus filter is embarrassingly parallel after it."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    rk = stitched_running(d, ["n_chars", "doc_id"], rank_name="r")
    return rk.filter(F.col("r") % 7 == 3).select(
        "doc_id", "lang", "source", "n_chars", F.col("r").alias("sample_rank")
    )


# ---------------------------------------------------------------------------
# EWMA control chart (λ = 0.25, 3σ limits) on daily purchase revenue


@register(
    "q_ewma_chart",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(round(sum(value) * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        scalars AS (
            SELECT avg(cents * 1.0) AS mu,
                   sqrt((sum(cents * 1.0 * cents)
                         - count(*) * avg(cents * 1.0) * avg(cents * 1.0))
                        / nullif(count(*) - 1, 0)) AS sd
            FROM daily
        ),
        idx AS (
            SELECT day, cents, row_number() OVER (ORDER BY day) AS t
            FROM daily
        ),
        acc AS (
            SELECT day, cents, t,
                   sum(cents / pow(0.75, t)) OVER (
                       ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS wsum
            FROM idx
        ),
        z AS (
            SELECT day, cents, t,
                   0.25 * pow(0.75, t) * wsum + pow(0.75, t) * s.mu AS ewma,
                   s.mu + 3 * s.sd * sqrt(0.25 / 1.75
                       * (1 - pow(0.75, 2 * t))) AS ucl,
                   s.mu - 3 * s.sd * sqrt(0.25 / 1.75
                       * (1 - pow(0.75, 2 * t))) AS lcl
            FROM acc, scalars s
        )
        SELECT day, cents, round(ewma, 4) AS ewma,
               round(ucl, 4) + 0.0 AS ucl, round(lcl, 4) + 0.0 AS lcl,
               CAST(CASE WHEN ewma > ucl OR ewma < lcl
                    THEN 1 ELSE 0 END AS INT) AS breach
        FROM z
    """,
    category="analytics",
)
def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (λ=0.25, 3σ) over daily purchase revenue —
    the small-shift-sensitive SPC chart (q_xbar_s_chart / q_p_chart
    catch big shifts; EWMA accumulates drift). The recurrence
    z_t = λ·x_t + (1−λ)·z_{t−1}, z_0 = μ, is linearized into ONE
    running sum via the power-weight identity z_t = λ·β^t·Σ x_i/β^i
    + β^t·μ (β = 0.75; exact at the 4dp grain while x_i/β^i stays in
    double range: t_max = (ln DBL_MAX − ln max x)/ln(1/β) ≈ 2,400
    days at cent scale — NOT the ~3,000 first documented, which
    ignored the x_i factor; past the boundary the rewrite degrades
    LOUDLY to inf/nan, never silently wrong, and shards per year —
    boundary pinned in tests/test_properties_stateful.py). Facts collapse to the day table in
    one combinable pass; the cumsum window runs on that bounded
    grain; time-varying limits are closed-form."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("cents")
    )
    nm1 = F.count(F.lit(1)) - 1
    scal = daily.agg(
        F.avg(F.col("cents") * 1.0).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("cents") * 1.0 * F.col("cents"))
                - F.count(F.lit(1)) * F.avg(F.col("cents") * 1.0) * F.avg(F.col("cents") * 1.0)
            )
            / F.when(nm1 != 0, nm1)
        ).alias("sd"),
    )
    w_ord = Window.orderBy("day")
    idx = daily.withColumn("t", F.row_number().over(w_ord))
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    beta_t = F.pow(F.lit(0.75), F.col("t"))
    acc = idx.withColumn(
        "wsum", F.sum(F.col("cents") / F.pow(F.lit(0.75), F.col("t"))).over(w_run)
    ).crossJoin(F.broadcast(scal))
    ewma = 0.25 * beta_t * F.col("wsum") + beta_t * F.col("mu")
    halfw = 3 * F.col("sd") * F.sqrt(
        0.25 / 1.75 * (1 - F.pow(F.lit(0.75), 2 * F.col("t")))
    )
    ucl = F.col("mu") + halfw
    lcl = F.col("mu") - halfw
    return acc.select(
        "day",
        "cents",
        F.round(ewma, 4).alias("ewma"),
        (F.round(ucl, 4) + F.lit(0.0)).alias("ucl"),
        (F.round(lcl, 4) + F.lit(0.0)).alias("lcl"),
        F.when((ewma > ucl) | (ewma < lcl), 1).otherwise(0).cast("int").alias("breach"),
    )


# ---------------------------------------------------------------------------
# Fligner–Killeen scale test (normal scores on ranks of |x − median_g|)


@register(
    "q_fligner_killeen",
    oracle=f"""
        WITH x AS (
            SELECT o_orderpriority AS prio, {_OC} AS cents,
                   o_orderkey AS okey
            FROM orders
        ),
        med AS (SELECT prio, median(cents) AS med FROM x GROUP BY prio),
        a AS (
            SELECT x.prio, abs(x.cents - med.med) AS av, x.okey
            FROM x JOIN med ON x.prio = med.prio
        ),
        rk AS (
            SELECT prio,
                   row_number() OVER (ORDER BY av, okey) * 1.0 AS r,
                   count(*) OVER () AS nn
            FROM a
        ),
        sc AS (
            SELECT prio,
                   {_pprobit("(1.0 + r / (nn + 1)) / 2.0")} AS s
            FROM rk
        ),
        g AS (
            SELECT prio, count(*) AS ng, sum(s) AS sg FROM sc GROUP BY prio
        ),
        tot AS (SELECT sum(ng) AS n, sum(sg) / sum(ng) AS abar FROM g),
        ss AS (SELECT sum(s * s) AS sg2 FROM sc),
        stat AS (
            SELECT max(t.n) AS n,
                   sum(g.ng * (g.sg / g.ng - t.abar)
                            * (g.sg / g.ng - t.abar))
                       / nullif((max(s2.sg2) - max(t.n) * max(t.abar)
                                 * max(t.abar))
                                / nullif(max(t.n) - 1, 0), 0) AS fk
            FROM g, tot t, ss s2
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               round(fk, 4) + 0.0 AS fk_stat,
               CAST(CASE WHEN fk > 9.4877 THEN 1 ELSE 0 END AS INT)
                   AS variances_differ
        FROM stat
    """,
    category="analytics",
)
def q_fligner_killeen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner–Killeen scale test across the five order priorities:
    normal scores Φ⁻¹((1 + R/(N+1))/2) on the pooled ranks of
    |x − median_g|, X² = Σ n_g(Ā_g − Ā)²/V against χ²₄ (9.4877) — the
    rank-based variance-homogeneity test that stays valid under
    non-normality (q_levene_test / q_brown_forsythe are its
    moment-based siblings; q_bartlett_test breaks without normality).

    Group medians come from the stitched exact quantile; |x − med|
    takes ONE pooled stitched rank under the (av, okey) total order
    (the q_van_der_waerden tie adaptation, stated in both engines);
    scores evaluate the shared Acklam probit; the statistic is
    closed-form algebra over 5 group rows. Score sums inherit the Σln
    accumulation precedent: round(·,4) holds at ~1e-12 relative."""
    x = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr(_OC).alias("cents"),
        F.col("o_orderkey").alias("okey"),
    )
    med = quantile_cont_stitched(x, "cents", {"med": 0.5}, ["prio"]).select(
        "prio", "med"
    )
    a = x.join(F.broadcast(med), "prio").select(
        "prio", F.abs(F.col("cents") - F.col("med")).alias("av"), "okey"
    )
    rk = stitched_running(a, ["av", "okey"], rank_name="r", with_totals=True)
    sc = rk.select(
        "prio",
        F.expr(_pprobit("(1.0 + (r * 1.0) / (r_total + 1)) / 2.0")).alias("s"),
    )
    # ONE pass over the scored stream: sum(s^2) rides the per-group
    # aggregate (sums over the 5 groups add to the global sum), and the
    # checkpoint moves from fact grain to the 5-row group table — the
    # r14 shape materialized every scored row to feed a separate global
    # sum(s^2) scan (r15)
    g = materialize(sc.groupBy("prio").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("s").alias("sg"),
        F.sum(F.col("s") * F.col("s")).alias("sg2g"),
    ))
    tot = g.agg(
        F.sum("ng").alias("n"),
        (F.sum("sg") / F.sum("ng")).alias("abar"),
        F.sum("sg2g").alias("sg2"),
    )
    joined = g.crossJoin(F.broadcast(tot))
    dev = F.col("sg") / F.col("ng") - F.col("abar")
    # N = 1 degenerates twice over: (n - 1) = 0 under the variance and
    # a 0/0 ratio above it — guard BOTH denominators (ANSI raise)
    var_s = (
        F.max("sg2") - F.max("n") * F.max("abar") * F.max("abar")
    ) / F.when(F.max("n") - 1 != 0, F.max("n") - 1)
    stat = joined.agg(
        F.max("n").alias("n"),
        (F.sum(F.col("ng") * dev * dev) / F.when(var_s != 0, var_s)).alias("fk"),
    )
    return stat.select(
        F.col("n").cast("bigint").alias("n_orders"),
        (F.round(F.col("fk"), 4) + F.lit(0.0)).alias("fk_stat"),
        F.when(F.col("fk") > 9.4877, 1).otherwise(0).cast("int").alias(
            "variances_differ"
        ),
    )


# ---------------------------------------------------------------------------
# Newey–West HAC standard error for the daily-revenue trend slope


@register(
    "q_newey_west",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   sum(o_totalprice) / 100.0 AS y
            FROM orders GROUP BY 1
        ),
        idx AS (
            SELECT y, row_number() OVER (ORDER BY day) * 1.0 AS t
            FROM daily
        ),
        mb AS (
            SELECT count(*) * 1.0 AS n, avg(t) AS tbar, avg(y) AS ybar
            FROM idx
        ),
        m AS (
            SELECT max(mb.n) AS n, max(mb.tbar) AS tbar,
                   max(mb.ybar) AS ybar,
                   sum((t - mb.tbar) * (t - mb.tbar)) AS sxx,
                   sum((t - mb.tbar) * (y - mb.ybar)) AS sxy
            FROM idx, mb
        ),
        r AS (
            SELECT idx.t AS t, idx.t - m.tbar AS xt,
                   (y - m.ybar) - (m.sxy / nullif(m.sxx, 0))
                       * (idx.t - m.tbar) AS e,
                   m.n, m.sxx, m.sxy
            FROM idx, m
        ),
        hac AS (
            SELECT sum((1.0 - (b.t - a.t) / 6.0)
                       * (CASE WHEN b.t = a.t THEN 1.0 ELSE 2.0 END)
                       * a.e * b.e * a.xt * b.xt) AS s_hac
            FROM r a JOIN r b
              ON b.t - a.t >= 0 AND b.t - a.t <= 5
        ),
        base AS (
            SELECT max(n) AS n, max(sxx) AS sxx, max(sxy) AS sxy,
                   sum(e * e) AS sse
            FROM r
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(sxy / nullif(sxx, 0), 4) + 0.0 AS slope,
               round(sqrt((sse / nullif(n - 2, 0)) / nullif(sxx, 0)), 4)
                   AS se_ols,
               round(sqrt(s_hac / nullif(sxx * sxx, 0)), 4) AS se_hac,
               round(sqrt(s_hac / nullif(sxx * sxx, 0))
                     / nullif(sqrt((sse / nullif(n - 2, 0))
                                   / nullif(sxx, 0)), 0), 4)
                   AS hac_ratio
        FROM base, hac
    """,
    category="analytics",
)
def q_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey–West HAC standard error (Bartlett kernel, L=5) for the
    OLS slope of daily order revenue on time — the autocorrelation-
    robust SE every time-series trend report should quote instead of
    the iid OLS one (q_durbin_watson DETECTS the autocorrelation; this
    CORRECTS for it). Facts collapse to the calendar-bounded day
    table; the lag products come from a banded self-join (day × 6
    offsets, never day²); everything else is closed-form algebra.
    The banded join keys on the centered time index (distinct by
    construction), so the pair table is exact."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        (F.sum("o_totalprice") / 100.0).alias("y")
    )
    idx = daily.withColumn(
        "t", F.row_number().over(Window.orderBy("day")) * 1.0
    ).drop("day")
    mb = idx.agg(
        (F.count(F.lit(1)) * 1.0).alias("n"),
        F.avg("t").alias("tbar"),
        F.avg("y").alias("ybar"),
    )
    c = idx.crossJoin(F.broadcast(mb))
    m = c.agg(
        F.max("n").alias("n"),
        F.max("tbar").alias("tbar"),
        F.max("ybar").alias("ybar"),
        F.sum((F.col("t") - F.col("tbar")) * (F.col("t") - F.col("tbar"))).alias("sxx"),
        F.sum((F.col("t") - F.col("tbar")) * (F.col("y") - F.col("ybar"))).alias("sxy"),
    )
    r = materialize(idx.crossJoin(F.broadcast(m)).select(
        "t",
        (F.col("t") - F.col("tbar")).alias("xt"),
        (
            (F.col("y") - F.col("ybar"))
            - (F.col("sxy") / F.when(F.col("sxx") != 0, F.col("sxx")))
            * (F.col("t") - F.col("tbar"))
        ).alias("e"),
        "n",
        "sxx",
        "sxy",
    ))
    a, b = r.alias("a"), r.alias("b")
    t_off = F.col("b.t") - F.col("a.t")
    # lag-0 pairs include every row, so the banded INNER join loses none
    hac = (
        a.join(b, (t_off >= 0) & (t_off <= 5))
        .agg(
            F.sum(
                (1.0 - t_off / 6.0)
                * F.when(t_off == 0, 1.0).otherwise(2.0)
                * F.col("a.e")
                * F.col("b.e")
                * F.col("a.xt")
                * F.col("b.xt")
            ).alias("s_hac")
        )
    )
    base = r.agg(
        F.max("n").alias("n"),
        F.max("sxx").alias("sxx"),
        F.max("sxy").alias("sxy"),
        F.sum(F.col("e") * F.col("e")).alias("sse"),
    )
    out = base.crossJoin(F.broadcast(hac))
    # n <= 2 / single-day degenerates: sxx = 0 and (n - 2) = 0 both
    # divide — guard every denominator (ANSI raise)
    sxx_g = F.when(F.col("sxx") != 0, F.col("sxx"))
    se_ols = F.sqrt((F.col("sse") / F.when(F.col("n") - 2 != 0, F.col("n") - 2)) / sxx_g)
    se_hac = F.sqrt(F.col("s_hac") / F.when(F.col("sxx") != 0, F.col("sxx") * F.col("sxx")))
    return out.select(
        F.col("n").cast("bigint").alias("n_days"),
        (F.round(F.col("sxy") / sxx_g, 4) + F.lit(0.0)).alias("slope"),
        F.round(se_ols, 4).alias("se_ols"),
        F.round(se_hac, 4).alias("se_hac"),
        F.round(se_hac / F.when(se_ols != 0, se_ols), 4).alias("hac_ratio"),
    )


# ---------------------------------------------------------------------------
# sharp regression discontinuity at a price cutoff


@register(
    "q_rdd_sharp",
    oracle="""
        WITH y AS (
            SELECT l_orderkey AS okey, avg(l_discount) AS disc
            FROM lineitem GROUP BY 1
        ),
        s AS (
            SELECT o.o_totalprice - 250000.0 AS d, y.disc,
                   CASE WHEN o.o_totalprice >= 250000.0 THEN 1 ELSE 0 END
                       AS side
            FROM orders o JOIN y ON y.okey = o.o_orderkey
            WHERE abs(o.o_totalprice - 250000.0) < 100000.0
        ),
        g AS (
            SELECT side, count(*) AS n, avg(d) AS xbar, avg(disc) AS ybar,
                   sum(d * d) - count(*) * avg(d) * avg(d) AS sxx,
                   sum(d * disc) - count(*) * avg(d) * avg(disc) AS sxy,
                   sum(disc * disc) - count(*) * avg(disc) * avg(disc)
                       AS syy
            FROM s GROUP BY side
        ),
        fit AS (
            SELECT side, n,
                   ybar - (sxy / nullif(sxx, 0)) * xbar AS a,
                   ((syy - (sxy / nullif(sxx, 0)) * sxy)
                    / nullif(n - 2, 0))
                   * (1.0 / n + xbar * xbar / nullif(sxx, 0)) AS var_a
            FROM g
        ),
        wide AS (
            SELECT max(CASE WHEN side = 0 THEN n END) AS n_left,
                   max(CASE WHEN side = 1 THEN n END) AS n_right,
                   max(CASE WHEN side = 1 THEN a END)
                       - max(CASE WHEN side = 0 THEN a END) AS jump,
                   sqrt(max(CASE WHEN side = 0 THEN var_a END)
                        + max(CASE WHEN side = 1 THEN var_a END)) AS se
            FROM fit
        )
        SELECT CAST(n_left AS BIGINT) AS n_left,
               CAST(n_right AS BIGINT) AS n_right,
               round(jump, 4) + 0.0 AS jump,
               round(se, 4) AS se,
               CAST(CASE WHEN abs(jump) > 1.96 * se THEN 1 ELSE 0 END
                    AS INT) AS significant
        FROM wide
    """,
    category="analytics",
)
def q_rdd_sharp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate: the jump in mean line
    discount at the 250k order-value cutoff, from two local linear
    fits inside a ±100k bandwidth (intercepts at the cutoff; classical
    OLS intercept SEs; the causal-inference design q_diff_in_diff and
    q_event_study don't cover — discontinuity in a RUNNING variable).
    Facts collapse to per-order outcome grain in one combinable pass;
    both side fits are closed-form moment algebra over 2 group rows."""
    li = load_table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("okey")
    ).agg(F.avg("l_discount").alias("disc"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    s = (
        o.join(li, o.o_orderkey == li.okey)
        .filter(F.abs(F.col("o_totalprice") - 250000.0) < 100000.0)
        .select(
            (F.col("o_totalprice") - 250000.0).alias("d"),
            "disc",
            F.when(F.col("o_totalprice") >= 250000.0, 1).otherwise(0).alias("side"),
        )
    )
    g = s.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("d").alias("xbar"),
        F.avg("disc").alias("ybar"),
        (F.sum(F.col("d") * F.col("d")) - F.count(F.lit(1)) * F.avg("d") * F.avg("d")).alias("sxx"),
        (F.sum(F.col("d") * F.col("disc")) - F.count(F.lit(1)) * F.avg("d") * F.avg("disc")).alias("sxy"),
        (F.sum(F.col("disc") * F.col("disc")) - F.count(F.lit(1)) * F.avg("disc") * F.avg("disc")).alias("syy"),
    )
    sxx_nz = F.when(F.col("sxx") != 0, F.col("sxx"))
    nm2 = F.when(F.col("n") - 2 != 0, F.col("n") - 2)
    fit = g.select(
        "side",
        "n",
        (F.col("ybar") - (F.col("sxy") / sxx_nz) * F.col("xbar")).alias("a"),
        (
            ((F.col("syy") - (F.col("sxy") / sxx_nz) * F.col("sxy")) / nm2)
            * (1.0 / F.col("n") + F.col("xbar") * F.col("xbar") / sxx_nz)
        ).alias("var_a"),
    )
    wide = fit.agg(
        F.max(F.when(F.col("side") == 0, F.col("n"))).alias("n_left"),
        F.max(F.when(F.col("side") == 1, F.col("n"))).alias("n_right"),
        (
            F.max(F.when(F.col("side") == 1, F.col("a")))
            - F.max(F.when(F.col("side") == 0, F.col("a")))
        ).alias("jump"),
        F.sqrt(
            F.max(F.when(F.col("side") == 0, F.col("var_a")))
            + F.max(F.when(F.col("side") == 1, F.col("var_a")))
        ).alias("se"),
    )
    return wide.select(
        F.col("n_left").cast("bigint").alias("n_left"),
        F.col("n_right").cast("bigint").alias("n_right"),
        (F.round(F.col("jump"), 4) + F.lit(0.0)).alias("jump"),
        F.round(F.col("se"), 4).alias("se"),
        F.when(F.abs(F.col("jump")) > 1.96 * F.col("se"), 1)
        .otherwise(0)
        .cast("int")
        .alias("significant"),
    )


# ---------------------------------------------------------------------------
# Baumgartner–Weiß–Schindler two-sample rank test


@register(
    "q_bws_test",
    oracle=f"""
        WITH s AS (
            SELECT c.c_mktsegment AS seg, {_OC} AS cents,
                   o.o_orderkey AS okey
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        rk AS (
            SELECT seg,
                   row_number() OVER (ORDER BY cents, okey) * 1.0 AS r,
                   row_number() OVER (PARTITION BY seg
                                      ORDER BY cents, okey) * 1.0 AS i,
                   count(*) OVER (PARTITION BY seg) * 1.0 AS ng,
                   count(*) OVER () * 1.0 AS nt
            FROM s
        ),
        terms AS (
            SELECT seg, ng, nt,
                   (r - (nt / ng) * i) * (r - (nt / ng) * i)
                   / ((i / (ng + 1)) * (1 - i / (ng + 1))
                      * ((nt - ng) * nt / ng)) AS term
            FROM rk
        ),
        g AS (
            SELECT seg, max(ng) AS ng, sum(term) / max(ng) AS b_g
            FROM terms GROUP BY seg
        )
        SELECT CAST(max(CASE WHEN seg = 'BUILDING' THEN ng END) AS BIGINT)
                   AS n_building,
               CAST(max(CASE WHEN seg = 'MACHINERY' THEN ng END) AS BIGINT)
                   AS n_machinery,
               round(avg(b_g), 4) AS bws_b,
               CAST(CASE WHEN avg(b_g) > 2.493 THEN 1 ELSE 0 END AS INT)
                   AS distributions_differ
        FROM g
    """,
    category="analytics",
)
def q_bws_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baumgartner–Weiß–Schindler B statistic comparing BUILDING vs
    MACHINERY order values — the rank test that weights the TAILS
    (where Mann–Whitney is least sensitive) by the rank variance, so
    it detects scale and shape differences q_mann_whitney_u misses;
    asymptotic 5% critical value 2.493. Both the pooled rank R_i and
    the within-sample index i ride the STITCHED machinery (one global
    + one grouped stitch under the same (cents, okey) total order —
    the q_van_der_waerden tie adaptation); the statistic is one
    combinable pass over the two samples, then 2-row algebra."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.expr(_OC).alias("cents"), F.col("o_orderkey").alias("okey")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(F.col("c_mktsegment").alias("seg"), "cents", "okey")
    )
    pooled = stitched_running(s, ["cents", "okey"], rank_name="_r", with_totals=True)
    both = stitched_running(
        pooled,
        ["cents", "okey"],
        rank_name="_i",
        partition_cols=["seg"],
        with_totals=True,
    ).select(
        "seg",
        (F.col("_r") * 1.0).alias("r"),
        (F.col("_i") * 1.0).alias("i"),
        (F.col("_i_total") * 1.0).alias("ng"),
        (F.col("_r_total") * 1.0).alias("nt"),
    )
    dev = F.col("r") - (F.col("nt") / F.col("ng")) * F.col("i")
    den = (
        (F.col("i") / (F.col("ng") + 1))
        * (1 - F.col("i") / (F.col("ng") + 1))
        * ((F.col("nt") - F.col("ng")) * F.col("nt") / F.col("ng"))
    )
    terms = both.select(
        "seg", "ng", (dev * dev / F.when(den != 0, den)).alias("term")
    )
    g = terms.groupBy("seg").agg(
        F.max("ng").alias("ng"), (F.sum("term") / F.max("ng")).alias("b_g")
    )
    return g.agg(
        F.max(F.when(F.col("seg") == "BUILDING", F.col("ng")))
        .cast("bigint")
        .alias("n_building"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("ng")))
        .cast("bigint")
        .alias("n_machinery"),
        F.round(F.avg("b_g"), 4).alias("bws_b"),
        F.when(F.avg("b_g") > 2.493, 1).otherwise(0).cast("int").alias(
            "distributions_differ"
        ),
    )


# ---------------------------------------------------------------------------
# bucketed interval-overlap join: user sessions x top-3 busiest days


@register(
    "q_interval_overlap_join",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             > 1800000000
                         OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sess AS (
            SELECT user_id, min(ts) AS ss, max(ts) AS se
            FROM (
                SELECT *, sum(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS sid
                FROM gaps
            )
            GROUP BY user_id, sid
        ),
        busy AS (
            SELECT day, n_events_day FROM (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       count(*) AS n_events_day,
                       row_number() OVER (
                           ORDER BY count(*) DESC,
                                    CAST(date_trunc('day', ts) AS DATE)
                       ) AS rn
                FROM events GROUP BY 1
            ) WHERE rn <= 3
        ),
        j AS (
            SELECT b.day, b.n_events_day,
                   least(epoch_us(s.se),
                         epoch_us(CAST(b.day AS TIMESTAMP)
                                  + INTERVAL 1 DAY))
                   - greatest(epoch_us(s.ss),
                              epoch_us(CAST(b.day AS TIMESTAMP))) AS ov_us
            FROM sess s JOIN busy b
              ON s.ss < CAST(b.day AS TIMESTAMP) + INTERVAL 1 DAY
             AND s.se >= CAST(b.day AS TIMESTAMP)
        )
        SELECT day, CAST(max(n_events_day) AS BIGINT) AS n_events_day,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(ov_us) AS BIGINT) AS total_overlap_us,
               CAST(max(ov_us) AS BIGINT) AS max_overlap_us
        FROM j GROUP BY day
    """,
    category="join",
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (any intersection, not point-in-period
    like q_temporal_join): every user session [start, end] against the
    top-3 busiest calendar days [d, d+1), with exact overlap duration.
    The scale shape is the GRID-BUCKETED interval join: each session
    explodes into the day buckets it covers (sessions are
    gap-bounded, so the fan-out is a small constant), then a plain
    equi-join on the day key — never the O(|A|·|B|) theta join the
    oracle states. Sessions come from the lag+cumsum rewrite (one
    shuffle on user_id); bucket coverage [date(ss) .. date(se)] is
    exactly the overlap predicate's match set, so the rewrite is
    lossless, including zero-length boundary touches (se == day
    start)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros("ts")
    new_session = F.when(
        (us - F.lag(us).over(w)).isNull() | ((us - F.lag(us).over(w)) > 1800 * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    cum = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        ev.withColumn("ns", new_session)
        .withColumn("sid", F.sum("ns").over(cum))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("ss"), F.max("ts").alias("se"))
    )
    busy = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events_day"))
        .orderBy(F.col("n_events_day").desc(), F.col("day").asc())
        .limit(3)
    )
    cov = sess.withColumn(
        "day", F.explode(F.sequence(F.col("ss").cast("date"), F.col("se").cast("date")))
    )
    day_start = F.unix_micros(F.col("day").cast("timestamp"))
    day_end = F.unix_micros(F.date_add(F.col("day"), 1).cast("timestamp"))
    ov = F.least(F.unix_micros("se"), day_end) - F.greatest(
        F.unix_micros("ss"), day_start
    )
    return (
        cov.join(F.broadcast(busy), "day")
        .select("day", "n_events_day", ov.alias("ov_us"))
        .groupBy("day")
        .agg(
            F.max("n_events_day").cast("bigint").alias("n_events_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("ov_us").cast("bigint").alias("total_overlap_us"),
            F.max("ov_us").cast("bigint").alias("max_overlap_us"),
        )
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction on the customer-part bipartite graph


@register(
    "q_adamic_adar",
    oracle="""
        WITH cp AS (
            SELECT o.o_custkey AS cust, l.l_partkey AS part,
                   CAST(round(sum(l.l_extendedprice) * 100) AS BIGINT)
                       AS cents
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2
        ),
        deg AS (SELECT cust, count(*) AS d FROM cp GROUP BY cust),
        pruned AS (
            SELECT cust, part FROM (
                SELECT cust, part,
                       row_number() OVER (PARTITION BY cust
                                          ORDER BY cents DESC, part) AS rn
                FROM cp
            ) WHERE rn <= 8
        ),
        p AS (
            SELECT pruned.cust, pruned.part, deg.d
            FROM pruned JOIN deg ON pruned.cust = deg.cust
            WHERE deg.d >= 2
        ),
        pairs AS (
            SELECT a.part AS part_a, b.part AS part_b,
                   count(*) AS n_common,
                   sum(1.0 / ln(a.d * 1.0)) AS aa
            FROM p a JOIN p b
              ON a.cust = b.cust AND a.part < b.part
            GROUP BY 1, 2
        )
        SELECT part_a, part_b, CAST(n_common AS BIGINT) AS n_common,
               round(aa, 4) AS aa_score
        FROM pairs
        ORDER BY round(aa, 4) DESC, part_a, part_b
        LIMIT 10
    """,
    category="analytics",
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the customer-part bipartite
    graph: score(part_a, part_b) = sum over common customers of
    1/ln(customer degree) - the co-purchase affinity that discounts
    promiscuous hubs (q_user_overlap_jaccard treats all co-buyers
    equally; AA is the standard link-prediction baseline). Pair
    generation is bounded BY CONSTRUCTION: each customer's basket is
    pruned to its top-8 parts by spend (per-customer window - the
    partition key's cardinality GROWS with the data, so no
    low-cardinality hazard) before the self-join, capping fan-out at
    C(8,2) = 28 pairs per customer; degrees are computed pre-prune on
    the (cust, part) rollup. Round-then-rank keeps the global top-10
    deterministic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .agg(F.round(F.sum("l_extendedprice") * 100).cast("long").alias("cents"))
    )
    deg = cp.groupBy("cust").agg(F.count(F.lit(1)).alias("d"))
    w = Window.partitionBy("cust").orderBy(F.col("cents").desc(), F.col("part").asc())
    pruned = (
        cp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select("cust", "part")
    )
    p = pruned.join(deg, "cust").filter(F.col("d") >= 2)
    a, b = p.alias("a"), p.alias("b")
    pairs = (
        a.join(b, (F.col("a.cust") == F.col("b.cust")) & (F.col("a.part") < F.col("b.part")))
        .groupBy(F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(1.0 / F.log(F.col("a.d") * 1.0)).alias("aa"),
        )
    )
    return (
        pairs.select(
            "part_a", "part_b", "n_common", F.round("aa", 4).alias("aa_score")
        )
        .orderBy(F.col("aa_score").desc(), "part_a", "part_b")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# gap + duration-cap sessionization (applyInPandas custom stateful op,
# exact recursive-CTE oracle)


def _capped_sessions_fn(pdf):
    """Per-user gap+cap session walk. Pure sequential state machine:
    a row opens a new session when it is first, its gap to the
    previous row exceeds 30 min, or it falls more than 2 h after the
    CURRENT session's anchor — the cap rule makes session identity
    recursive (each boundary depends on the previously chosen
    anchor), which is exactly what lag+cumsum cannot express and
    applyInPandas can."""
    import pandas as pd

    pdf = pdf.sort_values(["ts_us", "event_id"])
    uid = int(pdf["user_id"].iloc[0])
    rows = []
    sid, cnt = 0, 0
    sstart = prev = first = None
    for ts in pdf["ts_us"].tolist():
        if prev is None or ts - prev > 1_800_000_000 or ts - sstart > 7_200_000_000:
            if cnt:
                rows.append((uid, sid, cnt, first, prev))
            sid += 1
            sstart = first = ts
            cnt = 0
        cnt += 1
        prev = ts
    rows.append((uid, sid, cnt, first, prev))
    return pd.DataFrame(
        rows, columns=["user_id", "session_id", "n_events", "start_us", "end_us"]
    )


@register(
    "q_session_cap",
    oracle="""
        WITH RECURSIVE ev AS (
            SELECT user_id, epoch_us(ts) AS ts_us,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        walk AS (
            SELECT user_id, rn, ts_us, 1 AS sid, ts_us AS sstart
            FROM ev WHERE rn = 1
            UNION ALL
            SELECT e.user_id, e.rn, e.ts_us,
                   CASE WHEN e.ts_us - w.ts_us > 1800000000
                          OR e.ts_us - w.sstart > 7200000000
                        THEN w.sid + 1 ELSE w.sid END,
                   CASE WHEN e.ts_us - w.ts_us > 1800000000
                          OR e.ts_us - w.sstart > 7200000000
                        THEN e.ts_us ELSE w.sstart END
            FROM walk w JOIN ev e
              ON e.user_id = w.user_id AND e.rn = w.rn + 1
        )
        SELECT user_id, CAST(sid AS BIGINT) AS session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(min(ts_us) AS BIGINT) AS start_us,
               CAST(max(ts_us) AS BIGINT) AS end_us,
               CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us
        FROM walk GROUP BY 1, 2
    """,
    category="analytics",
)
def q_session_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH a 30-minute inactivity gap AND a 2-hour
    running duration cap. The cap makes the boundary recursive - each
    split depends on the previous session's anchor, so no lag+cumsum
    rewrite exists (q_win_session is the gap-only special case) - this
    is the canonical custom STATEFUL operator: one shuffle on user_id,
    then an Arrow-batched applyInPandas walk whose state is O(1) per
    user. The oracle states the same walk as a recursive CTE (depth =
    max events per user), exact to the microsecond - a full-value
    correctness gate for a Python-side operator, not rows-only."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    # pinned (user_id) exchange: applyInPandas' implicit groupBy
    # exchange is byte-tiny (1.8 MB at sf0.1) so AQE coalesced it to
    # ONE task — every user's Python walk ran serially (6 s wall,
    # 0.2 s JVM CPU). REPARTITION_BY_NUM satisfies the grouped-map
    # clustering requirement (no second exchange), is exempt from
    # coalescing, and scales with the cluster.
    n_pin = spark.sparkContext.defaultParallelism
    ev = ev.repartition(n_pin, F.col("user_id"))
    out = ev.groupBy("user_id").applyInPandas(
        _capped_sessions_fn,
        "user_id bigint, session_id bigint, n_events bigint, "
        "start_us bigint, end_us bigint",
    )
    return out.select(
        "user_id",
        "session_id",
        "n_events",
        "start_us",
        "end_us",
        (F.col("end_us") - F.col("start_us")).alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# expected reciprocal rank (graded cascade retrieval metric)


@register(
    "q_err_ranking",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_emb, label AS q_lab
            FROM embeddings WHERE vec_id < 5
        ),
        p AS (
            SELECT q.q_id, e.vec_id, q.q_lab, e.label,
                   round({_DD_DOT.format(a="q.q_emb", b="e.embedding")}
                         / ({_DD_NORM.format(v="q.q_emb")}
                            * {_DD_NORM.format(v="e.embedding")}), 4)
                       AS cos_r
            FROM q, embeddings e
            WHERE e.vec_id >= 5
        ),
        rk AS (
            SELECT q_id, q_lab, label, cos_r,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos_r DESC, vec_id) AS rank
            FROM p
        ),
        top AS (
            SELECT q_id, rank,
                   (pow(2, (CASE WHEN q_lab = label THEN 3 ELSE 0 END)
                           + (CASE WHEN cos_r >= 0.5 THEN 1 ELSE 0 END))
                    - 1) / 16.0 AS rr
            FROM rk WHERE rank <= 10
        ),
        pre AS (
            SELECT q_id, rank, rr,
                   coalesce(sum(ln(1 - rr)) OVER (
                       PARTITION BY q_id ORDER BY rank
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0.0) AS lp
            FROM top
        )
        SELECT q_id, round(sum(rr / rank * exp(lp)), 4) + 0.0 AS err10
        FROM pre GROUP BY q_id
    """,
    category="llm-similarity",
)
def q_err_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected reciprocal rank at 10 for five query vectors over the
    candidate corpus - the graded CASCADE metric (a reader scans down
    and stops with probability R_r at rank r, so ERR = sum of R_r/r *
    prod(1-R_i)) that q_ndcg_ann / q_mrr_retrieval don't cover:
    position discount there is static, here it depends on what ranked
    ABOVE. Relevance grades are deterministic (label match -> 3,
    cosine >= 0.5 -> +1; R = (2^g - 1)/16). The K x N scoring is a
    broadcast of K=5 queries against the candidates (zero
    candidate-side shuffle); round-then-rank pins the top-10; the
    prefix product runs as exp(running sum of ln(1-R)) over the
    10-row-per-query bounded frame."""
    from builder_spark.functions.vectors import cosine_sim

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_lab"),
    )
    c = e.filter(F.col("vec_id") >= 5)
    pairs = c.crossJoin(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        "q_lab",
        "label",
        F.round(cosine_sim("q_emb", "embedding"), 4).alias("cos_r"),
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.col("cos_r").desc(), F.col("vec_id").asc()
    )
    g = F.when(F.col("q_lab") == F.col("label"), 3).otherwise(0) + F.when(
        F.col("cos_r") >= 0.5, 1
    ).otherwise(0)
    top = (
        pairs.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 10)
        .select("q_id", "rank", ((F.pow(F.lit(2.0), g) - 1) / 16.0).alias("rr"))
    )
    w_pre = Window.partitionBy("q_id").orderBy("rank").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pre = top.withColumn(
        "lp", F.coalesce(F.sum(F.log(1 - F.col("rr"))).over(w_pre), F.lit(0.0))
    )
    return pre.groupBy("q_id").agg(
        (F.round(F.sum(F.col("rr") / F.col("rank") * F.exp(F.col("lp"))), 4)
         + F.lit(0.0)).alias("err10")
    )


# ---------------------------------------------------------------------------
# matrix profile over the daily revenue series (m = 7, exclusion 4)


@register(
    "q_matrix_profile_daily",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(round(sum(value) * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        idx AS (
            SELECT day, cents, row_number() OVER (ORDER BY day) AS t
            FROM daily
        ),
        s AS (
            SELECT i.t - o.o AS i, o.o AS o, i.cents
            FROM idx i, (SELECT unnest(range(7)) AS o) o
            WHERE i.t - o.o >= 1
        ),
        sub AS (
            SELECT i, avg(cents * 1.0) AS mu,
                   sum(cents * 1.0 * cents) AS ss
            FROM s GROUP BY i HAVING count(*) = 7
        ),
        sig AS (
            SELECT i, mu, sqrt(ss / 7.0 - mu * mu) AS sd
            FROM sub
        ),
        sxy AS (
            SELECT a.i AS i, b.i AS j,
                   sum(a.cents * 1.0 * b.cents) AS xy
            FROM s a JOIN s b ON a.o = b.o AND abs(a.i - b.i) >= 4
            GROUP BY 1, 2
        ),
        d AS (
            SELECT sxy.i, sxy.j,
                   sqrt(greatest(
                       14.0 * (1 - (sxy.xy / 7.0 - si.mu * sj.mu)
                                   / (si.sd * sj.sd)), 0.0)) AS dist
            FROM sxy
            JOIN sig si ON si.i = sxy.i AND si.sd > 0
            JOIN sig sj ON sj.i = sxy.j AND sj.sd > 0
        ),
        best AS (
            SELECT i, j, round(dist, 4) AS dist,
                   row_number() OVER (PARTITION BY i
                                      ORDER BY round(dist, 4), j) AS rn
            FROM d
        )
        SELECT b.i AS t_start, di.day AS start_day,
               b.j AS nn_start, dj.day AS nn_day,
               b.dist AS mp_dist
        FROM best b
        JOIN idx di ON di.t = b.i
        JOIN idx dj ON dj.t = b.j
        WHERE b.rn = 1
    """,
    category="analytics",
)
def q_matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile (m=7, trivial-match exclusion |i-j| >= 4) over
    the daily purchase-revenue series: for every week-long window, the
    z-normalized Euclidean distance to its nearest non-overlapping
    neighbor - the time-series-similarity primitive behind motif and
    discord discovery (a high profile value IS the anomaly
    q_seasonal_naive_error can't localize). dist = sqrt(2m(1-r)) via
    per-window moments and one aligned-offset pair join; everything
    runs on the calendar-bounded day table (subsequence and pair
    tables are |days| x 7 and <= |days|^2 rows), so the plan is
    constant-bounded at any fact scale. Constant windows (sd = 0) are
    excluded on both engines; round-then-rank pins the neighbor
    choice; greatest(., 0) guards the r > 1 float fringe."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("cents")
    )
    idx = daily.withColumn("t", F.row_number().over(Window.orderBy("day")))
    s = (
        idx.withColumn("o", F.explode(F.array(*[F.lit(i) for i in range(7)])))
        .select((F.col("t") - F.col("o")).alias("i"), "o", "cents")
        .filter(F.col("i") >= 1)
    )
    sub = (
        s.groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col("cents") * 1.0).alias("mu"),
            F.sum(F.col("cents") * 1.0 * F.col("cents")).alias("ss"),
        )
        .filter(F.col("n") == 7)
    )
    sig = sub.select(
        "i", "mu", F.sqrt(F.col("ss") / 7.0 - F.col("mu") * F.col("mu")).alias("sd")
    ).filter(F.col("sd") > 0)
    a, b = s.alias("a"), s.alias("b")
    sxy = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.abs(F.col("a.i") - F.col("b.i")) >= 4))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.cents") * 1.0 * F.col("b.cents")).alias("xy"))
    )
    si = sig.select(F.col("i"), F.col("mu").alias("mu_i"), F.col("sd").alias("sd_i"))
    sj = sig.select(
        F.col("i").alias("j"), F.col("mu").alias("mu_j"), F.col("sd").alias("sd_j")
    )
    d = (
        sxy.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            F.round(
                F.sqrt(
                    F.greatest(
                        14.0
                        * (
                            1
                            - (F.col("xy") / 7.0 - F.col("mu_i") * F.col("mu_j"))
                            / (F.col("sd_i") * F.col("sd_j"))
                        ),
                        F.lit(0.0),
                    )
                ),
                4,
            ).alias("dist"),
        )
    )
    w_best = Window.partitionBy("i").orderBy(F.col("dist").asc(), F.col("j").asc())
    best = d.withColumn("rn", F.row_number().over(w_best)).filter(F.col("rn") == 1)
    di = idx.select(F.col("t").alias("i"), F.col("day").alias("start_day"))
    dj = idx.select(F.col("t").alias("j"), F.col("day").alias("nn_day"))
    return (
        best.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            F.col("i").alias("t_start"),
            "start_day",
            F.col("j").alias("nn_start"),
            "nn_day",
            F.col("dist").alias("mp_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Dixon Q small-sample outlier test (per-region nation balances)


@register(
    "q_dixon_q_test",
    oracle="""
        WITH nav AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   round(avg(s.s_acctbal), 4) AS bal
            FROM supplier s
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            GROUP BY 1, 2
        ),
        m AS (
            SELECT region, count(*) AS n, max(bal) AS mx, min(bal) AS mn
            FROM nav GROUP BY region
        ),
        m2 AS (
            SELECT nav.region,
                   sum(CASE WHEN nav.bal = m.mx THEN 1 ELSE 0 END)
                       AS n_at_max,
                   max(CASE WHEN nav.bal < m.mx THEN nav.bal END) AS mx2
            FROM nav JOIN m ON nav.region = m.region
            GROUP BY nav.region
        )
        SELECT m.region, CAST(m.n AS BIGINT) AS n,
               round((m.mx - CASE WHEN m2.n_at_max >= 2 THEN m.mx
                             ELSE m2.mx2 END)
                     / nullif(m.mx - m.mn, 0), 4) + 0.0 AS q_high,
               CAST(CASE WHEN (m.mx - CASE WHEN m2.n_at_max >= 2 THEN m.mx
                               ELSE m2.mx2 END)
                              / nullif(m.mx - m.mn, 0)
                              > (CASE m.n WHEN 3 THEN 0.941
                                          WHEN 4 THEN 0.829
                                          ELSE 0.710 END)
                    THEN 1 ELSE 0 END AS INT) AS is_outlier
        FROM m JOIN m2 ON m.region = m2.region
    """,
    category="analytics",
)
def q_dixon_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q test for a single high outlier in SMALL samples (the
    n = 5 nations per region): Q = gap/range = (x_(n) − x_(n−1)) /
    (x_(n) − x_(1)) against the n=5, α=0.05 critical value 0.710 —
    the right outlier test when n is far too small for q_grubbs_max_z
    or q_esd_outliers. Tied maxima make the gap zero (the second
    order statistic INCLUDES ties), handled via the n_at_max branch
    on both engines. Facts collapse to the 25-row nation grain in one
    combinable pass; everything after is 5-row algebra — no windows
    over unbounded input anywhere."""
    s = load_table(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nav = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.round(F.avg("s_acctbal"), 4).alias("bal"))
    )
    m = nav.groupBy("region").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("bal").alias("mx"),
        F.min("bal").alias("mn"),
    )
    counts = nav.join(m.select("region", "mx"), "region").groupBy("region").agg(
        F.sum(F.when(F.col("bal") == F.col("mx"), 1).otherwise(0)).alias("n_at_max"),
        F.max(F.when(F.col("bal") < F.col("mx"), F.col("bal"))).alias("mx2"),
    )
    j = m.join(counts, "region")
    second = F.when(F.col("n_at_max") >= 2, F.col("mx")).otherwise(F.col("mx2"))
    rng = F.col("mx") - F.col("mn")
    q = (F.col("mx") - second) / F.when(rng != 0, rng)
    # Dixon's critical value depends on n (alpha = 0.05): 3 -> 0.941,
    # 4 -> 0.829, 5+ -> 0.710 — small fixtures can miss a nation
    crit = (
        F.when(F.col("n") == 3, 0.941)
        .when(F.col("n") == 4, 0.829)
        .otherwise(0.710)
    )
    return j.select(
        "region",
        F.col("n").cast("bigint").alias("n"),
        (F.round(q, 4) + F.lit(0.0)).alias("q_high"),
        F.when(q > crit, 1).otherwise(0).cast("int").alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# bigram-level lexical richness (Honoré R, Sichel S)


@register(
    "q_bigram_richness",
    oracle="""
        WITH tok AS (
            SELECT source, string_split(text, ' ') AS toks
            FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ),
        bg AS (
            SELECT source,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1]))
                       AS bigram
            FROM tok
        ),
        freq AS (
            SELECT source, bigram, count(*) AS c
            FROM bg GROUP BY source, bigram
        ),
        stats AS (
            SELECT source,
                   CAST(sum(c) AS BIGINT) AS n_bigrams,
                   CAST(count(*) AS BIGINT) AS v,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS v1,
                   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS v2
            FROM freq GROUP BY source
        )
        SELECT source, n_bigrams, v, v1, v2,
               round(100.0 * ln(n_bigrams)
                     / nullif(1.0 - v1 * 1.0 / v, 0), 4) AS honore_r,
               round(v2 * 1.0 / v, 4) AS sichel_s
        FROM stats
    """,
    category="llm-text",
)
def q_bigram_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical richness on the BIGRAM spectrum: Honoré's
    R = 100·ln(N)/(1 − V₁/V) (hapax-weighted richness, diverges as
    everything becomes unique) and Sichel's S = V₂/V (dis-legomena
    share, stable across text length) — the frequency-spectrum
    sibling of q_yules_k (which uses the full spectrum) and
    q_vocab_stats (type-token only). Bigrams because the fixture's
    31-word unigram vocabulary has a degenerate hapax count; the
    bigram spectrum is rich (V₁ ≈ 300/source). One explode + one
    combinable (source, bigram) count; the spectrum rollup is
    value-grain. V₁ = V (all hapax) nulls Honoré on both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    docs = d.select("source", toks.alias("toks")).filter(F.size("toks") >= 2)
    bg = docs.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                ),
            )
        ).alias("bigram"),
    )
    freq = bg.groupBy("source", "bigram").agg(F.count(F.lit(1)).alias("c"))
    stats = freq.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("v1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint").alias("v2"),
    )
    hon_den = 1.0 - F.col("v1") * 1.0 / F.col("v")
    return stats.select(
        "source",
        "n_bigrams",
        "v",
        "v1",
        "v2",
        F.round(
            100.0 * F.log(F.col("n_bigrams")) / F.when(hon_den != 0, hon_den), 4
        ).alias("honore_r"),
        F.round(F.col("v2") * 1.0 / F.col("v"), 4).alias("sichel_s"),
    )


# ---------------------------------------------------------------------------
# skip-gram training-pair extraction (window 2)


@register(
    "q_skipgram_pairs",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
        ),
        pos AS (
            SELECT doc_id, i AS p, toks[i] AS term
            FROM tok, unnest(range(1, len(toks) + 1)) AS r(i)
        ),
        pairs AS (
            SELECT a.term AS center, b.term AS context, count(*) AS n
            FROM pos a JOIN pos b
              ON a.doc_id = b.doc_id
             AND b.p <> a.p
             AND abs(b.p - a.p) <= 2
            GROUP BY 1, 2
        )
        SELECT center, context, CAST(n AS BIGINT) AS n_pairs
        FROM pairs
        ORDER BY n DESC, center, context
        LIMIT 20
    """,
    category="llm-pipeline",
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) training-pair extraction with a
    ±2 window — the word2vec-style pair generation step of an
    embedding-training pipeline (q_pmi_bigrams scores ADJACENT pairs;
    skip-grams cover the full window). The positional self-join keys
    on doc_id with a banded |Δpos| <= 2 residual, so fan-out is a
    fixed <= 4 pairs per token — linear in corpus size, never
    quadratic in document length; the pair count is one combinable
    agg and the global top-20 compiles to TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "term")
    )
    a, b = pos.alias("a"), pos.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.p") != F.col("a.p"))
            & (F.abs(F.col("b.p") - F.col("a.p")) <= 2),
        )
        .groupBy(F.col("a.term").alias("center"), F.col("b.term").alias("context"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    return pairs.orderBy(
        F.col("n_pairs").desc(), F.col("center").asc(), F.col("context").asc()
    ).limit(20)


# ---------------------------------------------------------------------------
# lexicon gate (content-safety style blocklist filter)


_BLOCKLIST = ["slow", "dup", "big", "leak"]


@register(
    "q_wordlist_gate",
    oracle=f"""
        WITH d AS (
            SELECT source,
                   len(list_intersect(list_distinct(string_split(text, ' ')),
                                      {_BLOCKLIST!r})) AS hits
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN hits >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_flagged,
               round(sum(CASE WHEN hits >= 2 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 4) AS flag_rate,
               round(avg(hits * 1.0), 4) AS avg_hits
        FROM d GROUP BY source
    """,
    category="llm-pipeline",
)
def q_wordlist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based content gate: flag documents whose DISTINCT
    token set hits >= 2 blocklist terms, reported per source — the
    safety/quality filter shape of a training-data pipeline (the
    q_gopher_gates / q_pii_scan sibling on a curated term list; the
    >= 2 threshold is the standard precision lever against single
    incidental hits). Blocklist membership is an array_intersect
    against a broadcast literal list — rides the scan, no shuffle
    before the per-source rollup; at a real blocklist's size (10k+
    terms) the same shape becomes a broadcast-join against the term
    table. One term ('leak') is absent from the fixture corpus to
    exercise the no-hit path."""
    d = load_table(spark, sf_dir, "documents")
    hits = F.size(
        F.array_intersect(
            F.array_distinct(F.split("text", " ")),
            F.array(*[F.lit(w) for w in _BLOCKLIST]),
        )
    )
    per_doc = d.select("source", hits.alias("hits"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("hits") >= 2, 1).otherwise(0)).cast("bigint").alias(
            "n_flagged"
        ),
        F.round(
            F.sum(F.when(F.col("hits") >= 2, 1).otherwise(0)) * 1.0
            / F.count(F.lit(1)),
            4,
        ).alias("flag_rate"),
        F.round(F.avg(F.col("hits") * 1.0), 4).alias("avg_hits"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition of the daily revenue series


@register(
    "q_haar_energy",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(round(sum(value) * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        l0 AS (
            SELECT t, x FROM (
                SELECT row_number() OVER (ORDER BY day) AS t,
                       cents * 1.0 AS x
                FROM daily
            ) WHERE t <= 16
        ),
        p1 AS (
            SELECT (t - 1) // 2 AS k,
                   sum(CASE WHEN t % 2 = 1 THEN x END) AS xo,
                   sum(CASE WHEN t % 2 = 0 THEN x END) AS xe
            FROM l0 GROUP BY 1 HAVING count(*) = 2
        ),
        l1 AS (SELECT k + 1 AS t, (xo + xe) / 2 AS x FROM p1),
        p2 AS (
            SELECT (t - 1) // 2 AS k,
                   sum(CASE WHEN t % 2 = 1 THEN x END) AS xo,
                   sum(CASE WHEN t % 2 = 0 THEN x END) AS xe
            FROM l1 GROUP BY 1 HAVING count(*) = 2
        ),
        l2 AS (SELECT k + 1 AS t, (xo + xe) / 2 AS x FROM p2),
        p3 AS (
            SELECT (t - 1) // 2 AS k,
                   sum(CASE WHEN t % 2 = 1 THEN x END) AS xo,
                   sum(CASE WHEN t % 2 = 0 THEN x END) AS xe
            FROM l2 GROUP BY 1 HAVING count(*) = 2
        ),
        l3 AS (SELECT k + 1 AS t, (xo + xe) / 2 AS x FROM p3),
        p4 AS (
            SELECT (t - 1) // 2 AS k,
                   sum(CASE WHEN t % 2 = 1 THEN x END) AS xo,
                   sum(CASE WHEN t % 2 = 0 THEN x END) AS xe
            FROM l3 GROUP BY 1 HAVING count(*) = 2
        ),
        l4 AS (SELECT k + 1 AS t, (xo + xe) / 2 AS x FROM p4)
        SELECT 1 AS level,
               round(sum((xo - xe) / 2 * ((xo - xe) / 2)), 4) AS energy
        FROM p1
        UNION ALL
        SELECT 2, round(sum((xo - xe) / 2 * ((xo - xe) / 2)), 4) FROM p2
        UNION ALL
        SELECT 3, round(sum((xo - xe) / 2 * ((xo - xe) / 2)), 4) FROM p3
        UNION ALL
        SELECT 4, round(sum((xo - xe) / 2 * ((xo - xe) / 2)), 4) FROM p4
        UNION ALL
        SELECT 0, round(sum(x * x), 4) FROM l4
    """,
    category="analytics",
)
def q_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition of the first 16 days of
    purchase revenue: four detail levels d_k = (x_odd − x_even)/2 on
    successively coarser dyadic averages, energy = Σd² per level plus
    the final approximation energy — the multiresolution spectrum
    that localizes WHERE series variance lives (day-to-day vs weekly
    vs fortnightly), which q_seasonal_strength's single-period model
    can't. All arithmetic is exact dyadic halving of integer cents;
    both engines run the identical unrolled 4-level ladder. Facts
    collapse to the day table; every level is a combinable
    8/4/2/1-row pair aggregation — only the t-index row_number needs
    the (whitelisted) day-table window."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("cents")
    )
    cur = (
        daily.withColumn("t", F.row_number().over(Window.orderBy("day")))
        .filter(F.col("t") <= 16)
        .select("t", (F.col("cents") * 1.0).alias("x"))
    )
    out = None
    for level in (1, 2, 3, 4):
        p = (
            cur.groupBy(F.floor((F.col("t") - 1) / 2).alias("k"))
            .agg(
                F.sum(F.when(F.col("t") % 2 == 1, F.col("x"))).alias("xo"),
                F.sum(F.when(F.col("t") % 2 == 0, F.col("x"))).alias("xe"),
                F.count(F.lit(1)).alias("c"),
            )
            .filter(F.col("c") == 2)
        )
        det = (F.col("xo") - F.col("xe")) / 2
        e_lvl = p.agg(
            F.lit(level).cast("int").alias("level"),
            F.round(F.sum(det * det), 4).alias("energy"),
        )
        out = e_lvl if out is None else out.unionByName(e_lvl)
        cur = p.select((F.col("k") + 1).alias("t"), ((F.col("xo") + F.col("xe")) / 2).alias("x"))
    approx = cur.agg(
        F.lit(0).cast("int").alias("level"),
        F.round(F.sum(F.col("x") * F.col("x")), 4).alias("energy"),
    )
    return out.unionByName(approx)


# ---------------------------------------------------------------------------
# maximal marginal relevance re-ranking (diversified top-K retrieval)


@register(
    "q_mmr_rerank",
    oracle=f"""
        WITH q AS (
            SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
        ),
        c AS (
            SELECT e.vec_id, e.embedding,
                   round({_DD_DOT.format(a="q.q_emb", b="e.embedding")}
                         / ({_DD_NORM.format(v="q.q_emb")}
                            * {_DD_NORM.format(v="e.embedding")}), 6)
                       AS rel
            FROM embeddings e, q WHERE e.vec_id >= 5
        ),
        s1 AS (
            SELECT vec_id, embedding, rel, round(rel, 4) AS score
            FROM c ORDER BY round(rel, 4) DESC, vec_id LIMIT 1
        ),
        s2 AS (
            SELECT c.vec_id, c.embedding, c.rel,
                   round(0.7 * c.rel - 0.3 * (
                       SELECT max(round({_DD_DOT.format(a="c.embedding", b="s.embedding")}
                           / ({_DD_NORM.format(v="c.embedding")}
                              * {_DD_NORM.format(v="s.embedding")}), 6))
                       FROM s1 s), 4) AS score
            FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
            ORDER BY score DESC, c.vec_id LIMIT 1
        ),
        s3 AS (
            SELECT c.vec_id, c.embedding, c.rel,
                   round(0.7 * c.rel - 0.3 * (
                       SELECT max(round({_DD_DOT.format(a="c.embedding", b="s.embedding")}
                           / ({_DD_NORM.format(v="c.embedding")}
                              * {_DD_NORM.format(v="s.embedding")}), 6))
                       FROM (SELECT embedding FROM s1
                             UNION ALL SELECT embedding FROM s2) s), 4) AS score
            FROM c WHERE c.vec_id NOT IN
                (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2)
            ORDER BY score DESC, c.vec_id LIMIT 1
        ),
        s4 AS (
            SELECT c.vec_id, c.embedding, c.rel,
                   round(0.7 * c.rel - 0.3 * (
                       SELECT max(round({_DD_DOT.format(a="c.embedding", b="s.embedding")}
                           / ({_DD_NORM.format(v="c.embedding")}
                              * {_DD_NORM.format(v="s.embedding")}), 6))
                       FROM (SELECT embedding FROM s1
                             UNION ALL SELECT embedding FROM s2
                             UNION ALL SELECT embedding FROM s3) s), 4) AS score
            FROM c WHERE c.vec_id NOT IN
                (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2
                 UNION ALL SELECT vec_id FROM s3)
            ORDER BY score DESC, c.vec_id LIMIT 1
        ),
        s5 AS (
            SELECT c.vec_id, c.embedding, c.rel,
                   round(0.7 * c.rel - 0.3 * (
                       SELECT max(round({_DD_DOT.format(a="c.embedding", b="s.embedding")}
                           / ({_DD_NORM.format(v="c.embedding")}
                              * {_DD_NORM.format(v="s.embedding")}), 6))
                       FROM (SELECT embedding FROM s1
                             UNION ALL SELECT embedding FROM s2
                             UNION ALL SELECT embedding FROM s3
                             UNION ALL SELECT embedding FROM s4) s), 4) AS score
            FROM c WHERE c.vec_id NOT IN
                (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2
                 UNION ALL SELECT vec_id FROM s3 UNION ALL SELECT vec_id FROM s4)
            ORDER BY score DESC, c.vec_id LIMIT 1
        )
        SELECT 1 AS rank, vec_id, round(rel, 4) + 0.0 AS relevance,
               round(score, 4) + 0.0 AS mmr_score FROM s1
        UNION ALL
        SELECT 2, vec_id, round(rel, 4) + 0.0, round(score, 4) + 0.0 FROM s2
        UNION ALL
        SELECT 3, vec_id, round(rel, 4) + 0.0, round(score, 4) + 0.0 FROM s3
        UNION ALL
        SELECT 4, vec_id, round(rel, 4) + 0.0, round(score, 4) + 0.0 FROM s4
        UNION ALL
        SELECT 5, vec_id, round(rel, 4) + 0.0, round(score, 4) + 0.0 FROM s5
    """,
    category="llm-similarity",
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal marginal relevance re-ranking: greedy top-5 for query
    vector 0 under score = 0.7·rel(c) − 0.3·max_{s∈selected}
    sim(c, s) — the diversity-aware re-ranker every RAG retrieval
    stack ends with (q_cosine_topk returns near-duplicates of the
    same neighborhood; MMR trades relevance against redundancy).
    Greedy selection is INHERENTLY sequential (each pick changes the
    next argmax), so the driver iterates K=5 bounded rounds: each is
    one distributed argmax over the candidates against the <= 5
    broadcast selected embeddings (a K·N plan, zero candidate-side
    shuffle; the collect is 1 row/round — bounded by design, the
    similarity.py K-queries precedent). Round-then-rank at 4dp with
    vec_id tie-break keeps the greedy path identical on both engines;
    the oracle unrolls the same five steps as CTEs."""
    from builder_spark.functions.vectors import cosine_sim

    e = load_table(spark, sf_dir, "embeddings")
    schema = "rank int, vec_id bigint, relevance double, mmr_score double"
    q_rows = e.filter(F.col("vec_id") == 0).select("embedding").collect()
    if not q_rows:
        return spark.createDataFrame([], schema)
    q_emb = F.array(*[F.lit(float(v)) for v in q_rows[0][0]])
    cand = materialize(e.filter(F.col("vec_id") >= 5).select(
        "vec_id",
        "embedding",
        F.round(cosine_sim(q_emb, F.col("embedding")), 6).alias("rel"),
    ).withColumn(
        # relevance reported at 4dp must round ENGINE-side: Python's
        # round() is half-even while F.round/DuckDB round are
        # half-away-from-zero — exactly-representable ties at the 5th
        # decimal (e.g. 0.156250) would diverge if re-rounded in the
        # driver loop. +0.0 is the module's signed-zero guard.
        "rel4", F.round(F.col("rel"), 4) + F.lit(0.0)
    ))
    picked: list[tuple[int, int, float, float]] = []
    sel_embs: list = []
    sel_ids: list[int] = []
    for rank in (1, 2, 3, 4, 5):
        pool = cand.filter(~F.col("vec_id").isin(sel_ids)) if sel_ids else cand
        if not sel_embs:
            score = F.round(F.col("rel"), 4)
        else:
            sims = [
                F.round(cosine_sim(F.col("embedding"), F.array(*[F.lit(float(v)) for v in emb])), 6)
                for emb in sel_embs
            ]
            maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            score = F.round(0.7 * F.col("rel") - 0.3 * maxsim, 4)
        top = (
            pool.withColumn("score", score)
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        r = top[0]
        picked.append((rank, int(r.vec_id), float(r.rel4), float(r.score) + 0.0))
        sel_ids.append(int(r.vec_id))
        sel_embs.append(list(r.embedding))
    return spark.createDataFrame(picked, schema)
